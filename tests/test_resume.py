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
