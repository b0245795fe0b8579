"""Persistence + plan-shape tests for the pages/lineage store."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, roundtrip_check
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.sources.store import (
    append_lineage,
    commit_snapshot,
    current_snapshot,
    encode_to_store,
    read_lineage,
    read_pages,
)

CFG = EngineConfig(
    page_budget_values=20_000,
    group_budget_values=80_000,
    giant_doc_values=40_000,
)


@pytest.fixture(scope="module")
def tokens_df(spark):
    return synth_tokens_df(spark, 400, seed=5).cache()


def test_roundtrip_through_disk(spark, tokens_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    pages = encode_table(tokens_df, CFG)
    commit_snapshot(pages, root)
    decoded = decode_table(read_pages(spark, root), CFG)
    assert roundtrip_check(tokens_df, decoded).count() == 0


def test_partition_pruning_on_pages(spark, tokens_df, tmp_path_factory):
    """Filtering on part_id must prune partitions at the source (Catalyst
    reads only matching directories), and projecting metadata must not read
    the payload column (column pruning into the parquet scan)."""
    root = str(tmp_path_factory.mktemp("store"))
    commit_snapshot(encode_table(tokens_df, CFG), root)
    pruned = read_pages(spark, root).filter(F.col("part_id") == 0)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part_id" in plan
    proj = read_pages(spark, root).select("codec", "enc_bytes")
    plan2 = proj._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan2.split("ReadSchema")[-1], "payload must be pruned"


def test_resume_from_disk_lineage(spark, tokens_df, tmp_path_factory):
    """Kill/rerun workflow: first run writes pages+lineage; second run reads
    lineage from disk and resumes every group byte-identically."""
    root = str(tmp_path_factory.mktemp("store"))
    m1 = encode_to_store(tokens_df, root, CFG, run_id="r1")
    assert m1.count() > 0
    lineage = read_lineage(spark, root)
    assert lineage is not None and lineage.count() > 0
    pages2 = encode_table(tokens_df, CFG, lineage=lineage)
    assert pages2.filter(F.col("resumed") == 0).count() == 0
    a = read_pages(spark, root).agg(F.sum(F.crc32("payload"))).collect()[0][0]
    b = pages2.agg(F.sum(F.crc32("payload"))).collect()[0][0]
    assert a == b


def test_lineage_latest_record_wins(spark, tokens_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    pages = encode_table(tokens_df, CFG).cache()
    append_lineage(pages, root, CFG)
    append_lineage(pages, root, CFG)  # duplicate append (re-run)
    lin = read_lineage(spark, root)
    dup = lin.groupBy("content_key", "mode").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_read_lineage_plan_is_one_exchange(spark, tokens_df, tmp_path_factory):
    """The live-lineage dedup is one aggregate: a partial dedup before the
    store's one exchange and no window over the whole table."""
    root = str(tmp_path_factory.mktemp("store"))
    append_lineage(encode_table(tokens_df, CFG), root, CFG)
    plan = read_lineage(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1 and "Window" not in plan


def test_failed_encode_leaves_store_readable(spark, tokens_df, tmp_path_factory):
    """An encode whose UDF raises must leave the committed snapshot as it
    was. With AQE off, such a failure during a Spark overwrite of pages/
    left no readable store (UNABLE_TO_INFER_SCHEMA on the next read)."""
    root = str(tmp_path_factory.mktemp("store"))
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        encode_to_store(tokens_df, root, CFG, run_id="ok")
        first = current_snapshot(root)
        bad = tokens_df.limit(50).unionByName(
            spark.createDataFrame([("bad-doc", None, 3, "web")], tokens_df.schema)
        )
        with pytest.raises(Exception, match="tokens column contains nulls"):
            encode_to_store(bad, root, CFG, run_id="bad")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    decoded = decode_table(read_pages(spark, root), CFG)
    assert roundtrip_check(tokens_df, decoded).count() == 0
    assert current_snapshot(root) == first
