"""Persistence + plan-shape tests for the pages/lineage store."""

from __future__ import annotations

import os

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
    remove_orphan_files,
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


def _page_files(root):
    pages = os.path.join(root, "pages")
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(pages)
        for f in fs
        if f.endswith(".parquet")
    }


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


def _legacy_store(spark, df, root):
    """A store as written before the snapshot layer: Spark's overwrite of
    the flat pages/ table, then the lineage of the pages read back."""
    pages_dir = os.path.join(root, "pages")
    (
        encode_table(df, CFG)
        .repartition(F.col("part_id"))
        .sortWithinPartitions("part_id", "page_id")
        .write.mode("overwrite")
        .option("parquet.block.size", str(1 << 30))
        .partitionBy("part_id")
        .parquet(pages_dir)
    )
    append_lineage(spark.read.parquet(pages_dir), root, CFG)


def test_legacy_store_reads_resumes_and_sweeps(spark, tokens_df, tmp_path_factory):
    """A legacy store decodes through read_pages; the first commit into it
    resumes every group from its lineage, and its overwrite leaves the old
    files to the orphan sweep, which then keeps only the new snapshot's."""
    root = str(tmp_path_factory.mktemp("legacy"))
    _legacy_store(spark, tokens_df, root)
    legacy_files = _page_files(root)
    assert not os.path.exists(os.path.join(root, "snapshots"))
    assert roundtrip_check(tokens_df, decode_table(read_pages(spark, root), CFG)).count() == 0
    assert remove_orphan_files(root, older_than_s=0.0) == []  # all listed

    encode_to_store(tokens_df, root, CFG, run_id="first-commit")
    snap = current_snapshot(root)
    assert snap["operation"] == "overwrite" and snap["parent_id"] is None
    pages = read_pages(spark, root)
    assert pages.filter(F.col("resumed") != 1).count() == 0
    assert not legacy_files & set(snap["files"])

    assert set(remove_orphan_files(root, older_than_s=0.0)) == legacy_files
    assert _page_files(root) == set(snap["files"])
    assert roundtrip_check(tokens_df, decode_table(read_pages(spark, root), CFG)).count() == 0


def test_stream_append_keeps_legacy_docs(spark, tmp_path_factory):
    """A micro-batch appended to a legacy store keeps the old docs: the
    legacy files are the first commit's parent."""
    from zopfli_spark.streaming.encode_stream import encode_stream

    root = str(tmp_path_factory.mktemp("legacy_stream"))
    src = str(tmp_path_factory.mktemp("legacy_src"))
    old = synth_tokens_df(spark, 60, seed=31).cache()
    new = synth_tokens_df(spark, 40, seed=32).select(
        F.concat(F.lit("n_"), "doc_id").alias("doc_id"), "tokens", "n_tok", "source"
    ).cache()
    _legacy_store(spark, old, root)
    legacy_files = _page_files(root)
    new.coalesce(1).write.parquet(src + "/b0")
    stream = spark.readStream.schema(new.schema).parquet(src + "/b0")
    encode_stream(stream, root, CFG, trigger_once=True,
                  checkpoint=str(tmp_path_factory.mktemp("legacy_ckpt"))).awaitTermination(300)
    snap = current_snapshot(root)
    assert snap["operation"] == "append" and legacy_files < set(snap["files"])
    decoded = decode_table(read_pages(spark, root), CFG)
    assert roundtrip_check(old.unionByName(new), decoded).count() == 0
