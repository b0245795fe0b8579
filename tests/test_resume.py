"""Lineage resume tests (FIXTURES.md §6.5): a re-run with the lineage table
skips the codec search and deterministically recreates identical encoded
streams — the StatsDB recreate guarantee (reference README:212-229)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from zopfli_spark import EngineConfig, encode_table
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.lineage import lineage_from_pages

CFG = EngineConfig(
    page_budget_values=20_000,
    group_budget_values=80_000,
    giant_doc_values=40_000,
    max_pages_per_group=16,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    return synth_tokens_df(spark, 500, seed=42).cache()


def _page_signature(pages):
    return (
        pages.orderBy("part_id", "page_id")
        .select(
            "part_id",
            "page_id",
            "codec",
            "checksum",
            "enc_bytes",
            F.crc32(F.col("payload")).alias("payload_crc"),
            F.crc32(F.col("header")).alias("header_crc"),
            "resumed",
        )
        .toPandas()
    )


def test_resume_reproduces_identical_bytes(spark, tokens_df):
    first = encode_table(tokens_df, CFG).cache()
    sig1 = _page_signature(first)
    assert (sig1["resumed"] == 0).all()

    lineage = lineage_from_pages(first, CFG.mode)
    second = encode_table(tokens_df, CFG, lineage=lineage).cache()
    sig2 = _page_signature(second)

    assert (sig2["resumed"] == 1).all(), "every group should hit the lineage"
    cols = ["part_id", "page_id", "codec", "checksum", "enc_bytes", "payload_crc", "header_crc"]
    assert sig1[cols].equals(sig2[cols]), "resumed run must be byte-identical"


def test_partial_lineage_mixes_paths(spark, tokens_df):
    """Simulates a killed run: lineage from HALF the groups; re-run resumes
    those and searches the rest — outputs identical either way."""
    first = encode_table(tokens_df, CFG).cache()
    some_groups = first.select("content_hash_group").distinct().limit(3)
    partial = lineage_from_pages(
        first.join(some_groups, "content_hash_group", "left_semi"), CFG.mode
    )
    second = encode_table(tokens_df, CFG, lineage=partial).cache()
    sig1 = _page_signature(first)
    sig2 = _page_signature(second)
    assert sig2["resumed"].sum() > 0
    assert (sig2["resumed"] == 0).sum() > 0
    cols = ["part_id", "page_id", "codec", "checksum", "enc_bytes", "payload_crc", "header_crc"]
    assert sig1[cols].equals(sig2[cols])


def test_stale_lineage_falls_back(spark, tokens_df):
    """Lineage rows whose plans don't cover the group are ignored safely."""
    first = encode_table(tokens_df, CFG)
    lineage = lineage_from_pages(first, CFG.mode).withColumn(
        "plan", F.lit('[{"page_id":0,"n_rows":1,"codec":"plain"}]')
    )
    second = encode_table(tokens_df, CFG, lineage=lineage)
    sig = _page_signature(second)
    assert (sig["resumed"] == 0).all()  # all plans stale → full search everywhere
    sig1 = _page_signature(first)
    cols = ["part_id", "page_id", "codec", "checksum", "enc_bytes", "payload_crc"]
    assert sig1[cols].equals(sig[cols])


def test_lineage_must_be_a_dataframe(spark, tokens_df):
    """Lineage has one delivery, the cogroup join of a lineage DataFrame: a
    driver-side {(content_key, mode): (content_hash, plan)} dict is refused
    up front instead of being silently ignored."""
    plans = {(1, CFG.mode): (2, '[{"page_id":0,"n_rows":1,"codec":"plain"}]')}
    with pytest.raises(TypeError, match="DataFrame"):
        encode_table(tokens_df, CFG, lineage=plans)


def test_foreign_geometry_lineage_is_ignored(spark):
    """Lineage recorded at a larger num_groups, applied to a smaller input
    with fewer groups: plan rows at ids outside this run's keyspace never
    leave the plan side, rows at keyspace ids the run has no doc at reach
    the cogroup with no input rows and emit nothing, and rows at shared ids
    carry other content, so they fail the strong-hash check. Nothing
    resumes, and the bytes equal a cold encode; with the input's own plans
    added, every group resumes."""
    from zopfli_spark.plans.planner import GROUP_COL, plan_groups

    # a low giant threshold puts long-tail groups in the recorded run; the
    # smaller input has no giant doc, so its long-tail ids [G, 2G) draw none
    cfg = EngineConfig(
        page_budget_values=20_000,
        group_budget_values=80_000,
        giant_doc_values=3_000,
        max_pages_per_group=16,
    )
    big = synth_tokens_df(spark, 500, seed=42).cache()
    small = big.filter(
        (F.col("doc_id") < "doc_000000000150") & (F.col("n_tok") < cfg.giant_doc_values)
    ).cache()
    _, g_big = plan_groups(big, cfg)
    _, g_small = plan_groups(small, cfg)
    assert g_small < g_big
    lineage = lineage_from_pages(encode_table(big, cfg), cfg.mode).cache()
    ids = {r["part_id"] for r in lineage.select("part_id").collect()}
    assert max(ids) >= g_big, "no long-tail group in the recorded lineage"
    assert {i for i in ids if i >= 2 * g_small}, "no id outside this run's keyspace"
    small_ids = {r[0] for r in plan_groups(small, cfg)[0].select(GROUP_COL).distinct().collect()}
    assert {i for i in ids if i < 2 * g_small} - small_ids, "no empty-left cogroup"

    cold_pages = encode_table(small, cfg).cache()
    cold = _page_signature(cold_pages)
    resumed = _page_signature(encode_table(small, cfg, lineage=lineage))
    assert (resumed["resumed"] == 0).all()
    cols = ["part_id", "page_id", "codec", "checksum", "enc_bytes", "payload_crc", "header_crc"]
    assert cold[cols].equals(resumed[cols])

    # beside the small run's own plans, the foreign rows at shared ids do
    # not shadow them: each group picks the plan whose hash matches
    own = lineage_from_pages(cold_pages, cfg.mode)
    mixed = _page_signature(encode_table(small, cfg, lineage=lineage.unionByName(own)))
    assert (mixed["resumed"] == 1).all()
    assert cold[cols].equals(mixed[cols])
