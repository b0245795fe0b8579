"""Persistence + plan-shape tests for the pages/lineage store."""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from zopfli_spark import EngineConfig, decode_table, encode_table, roundtrip_check
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.engine import METRICS_SCHEMA, PAGES_SCHEMA, metrics_rows, metrics_table
from zopfli_spark.lineage import LINEAGE_SCHEMA, lineage_from_pages
from zopfli_spark.sources import store
from zopfli_spark.sources.store import (
    _page_meta,
    _parquet_files,
    append_lineage,
    append_metrics,
    commit_snapshot,
    compact_lineage,
    compact_metrics,
    current_snapshot,
    encode_and_commit,
    encode_to_store,
    read_lineage,
    read_metrics,
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


def _meta(pages):
    """Page-metadata rows of a pages DataFrame, as a commit reads them."""
    return pages.select(*store._META_ARROW.names).toArrow().cast(store._META_ARROW)


def test_lineage_latest_record_wins(spark, tokens_df, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("store"))
    meta = _meta(encode_table(tokens_df, CFG))
    append_lineage(meta, root, CFG)
    append_lineage(meta, root, CFG)  # duplicate append (re-run)
    lin = read_lineage(spark, root)
    dup = lin.groupBy("content_key", "mode").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_read_lineage_plan_is_one_exchange(spark, tokens_df, tmp_path_factory):
    """The live-lineage dedup is one aggregate: a partial dedup before the
    store's one exchange and no window over the whole table."""
    root = str(tmp_path_factory.mktemp("store"))
    append_lineage(_meta(encode_table(tokens_df, CFG)), root, CFG)
    plan = read_lineage(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange ") == 1 and "Window" not in plan


def test_read_lineage_without_files_builds_no_read(tmp_path):
    """A store with no lineage file reads as None before any Spark work: a
    fresh root, and a root whose lineage/ holds only an append's in-flight
    temp file. (``spark`` is None, so a read attempt would raise.)"""
    root = str(tmp_path)
    assert read_lineage(None, root) is None
    path = os.path.join(root, "lineage")
    os.makedirs(path)
    store._write_tmp(path, pa.table({"content_key": pa.array([1], pa.int64())}))
    assert len(os.listdir(path)) == 1
    assert read_lineage(None, root) is None


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
        tables = {d: sorted(os.listdir(os.path.join(root, d))) for d in ("lineage", "metrics")}
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
    assert {d: sorted(os.listdir(os.path.join(root, d))) for d in tables} == tables


def _jobs(spark, tag: str, fn):
    """``fn()`` and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_encode_to_store_runs_two_spark_jobs(spark, tokens_df, tmp_path_factory):
    """A store encode runs the planner's Σ n_tok aggregate and the pages
    write, nothing else: lineage and metrics come from the commit's
    driver-side read of its files, and the returned metrics are local.
    (AQE off: with it on, every shuffle stage is a job of its own.)"""
    root = str(tmp_path_factory.mktemp("store"))
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for run in ("cold", "resume"):
            m, n = _jobs(spark, f"store-{run}", lambda: encode_to_store(tokens_df, root, CFG, run))
            rows, n_collect = _jobs(spark, f"collect-{run}", m.collect)
            assert (n, n_collect) == (2, 0), run
            assert rows and {r["run_id"] for r in rows} == {run}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_pages_write_adds_no_shuffle(spark, tokens_df, tmp_path_factory):
    """write_pages writes encode_table's partitions as they come: its job
    runs the encode's stages and no exchange of its own, cold (scan, then
    encode and write) and resumed (input scan, lineage scan, lineage dedup,
    then cogroup and write). One file per group either way. (AQE off, so
    the write is one job holding every stage.)"""
    root = str(tmp_path_factory.mktemp("store"))
    tracker = spark.sparkContext.statusTracker()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        encode_to_store(tokens_df, root, CFG)
        for run, lineage, stages in (
            ("cold", None, 2),
            ("resume", read_lineage(spark, root), 4),
        ):
            pages = encode_table(tokens_df, CFG, lineage=lineage)
            tag = f"pages-write-{run}"
            files, n = _jobs(spark, tag, lambda: store.write_pages(pages, root))
            (job,) = tracker.getJobIdsForGroup(tag)
            assert len(tracker.getJobInfo(job).stageIds) == stages, run
            assert len({os.path.dirname(f) for f in files}) == len(files) > 1, run
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_commit_refuses_pages_not_placed_by_group(spark, tokens_df, tmp_path_factory):
    """Pages whose groups span partitions would land as several files per
    group: the commit raises before any file moves, and the store keeps its
    snapshot, its page files and no staging dir."""
    root = str(tmp_path_factory.mktemp("store"))
    commit_snapshot(encode_table(tokens_df, CFG), root)
    before = current_snapshot(root)
    files = _parquet_files(os.path.join(root, "pages"), hidden=True)
    with pytest.raises(ValueError, match="not placed by group"):
        commit_snapshot(encode_table(tokens_df, CFG).repartition(3), root)
    assert current_snapshot(root) == before
    assert _parquet_files(os.path.join(root, "pages"), hidden=True) == files
    assert not [d for d in os.listdir(os.path.join(root, "pages")) if d.startswith("_")]


# The Spark SQL bodies lineage_from_pages and metrics_table had before the
# store derived both on the driver: the reference the Arrow derivation
# (lineage.lineage_rows, engine.metrics_rows) must equal row for row.


def _spark_lineage(pages, mode: int):
    per_page = pages.filter(F.col("page_id") >= 0).select(
        "content_key", "content_hash_group", "page_id", "n_rows", "n_values", "codec", "part_id"
    )
    return (
        per_page.groupBy("content_key", "content_hash_group", "part_id")
        .agg(
            F.sum("n_values").alias("n_values"),
            F.sum("n_rows").alias("n_rows"),
            F.to_json(
                F.array_sort(F.collect_list(F.struct("page_id", "n_rows", "codec")))
            ).alias("plan_struct"),
        )
        .select(
            "content_key",
            F.col("content_hash_group").alias("content_hash"),
            F.lit(mode).cast("long").alias("mode"),
            "n_values",
            F.col("n_rows").cast("int"),
            F.col("plan_struct").alias("plan"),
            F.col("part_id").cast("int"),
        )
    )


def _spark_metrics(pages, run_id: str):
    return (
        pages.groupBy("part_id", "codec")
        .agg(
            F.count("*").alias("pages"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
            F.sum("n_values").alias("n_values"),
            F.sum("enc_us").alias("enc_us"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ratio", F.col("raw_bytes") / F.col("enc_bytes"))
        .withColumn(
            "tokens_per_sec",
            F.col("n_values") / (F.greatest(F.col("enc_us"), F.lit(1)) / F.lit(1_000_000.0)),
        )
    )


def _rows(df_or_table, cols) -> list[tuple]:
    if isinstance(df_or_table, pa.Table):
        return sorted(zip(*(df_or_table[c].to_pylist() for c in cols)))
    return sorted(tuple(r) for r in df_or_table.select(*cols).collect())


GD_CFG = EngineConfig(
    page_budget_values=20_000,
    group_budget_values=120_000,
    giant_doc_values=60_000,
    max_pages_per_group=32,
    group_dict=True,
    cluster_docs=True,
)
LIN_COLS = ("content_key", "content_hash", "mode", "n_values", "n_rows", "plan", "part_id")
MET_COLS = (
    "part_id", "codec", "pages", "raw_bytes", "enc_bytes", "n_values", "enc_us", "run_id", "ratio",
    "tokens_per_sec",
)


def test_commit_lineage_and_metrics_equal_spark_reference(spark, tmp_path_factory):
    """The lineage and metrics rows each commit writes equal the Spark SQL
    reference over the commit's files exactly (plan strings byte for byte,
    doubles bit for bit), on a group_dict store (page_id -1 rows) whose
    overwrite and append leave two groups in one part_id; so do the
    applyInArrow wrappers over the whole snapshot."""
    root = str(tmp_path_factory.mktemp("store"))
    for i, (seed, append) in enumerate(((21, False), (22, True))):
        before = {d: set(os.listdir(os.path.join(root, d))) if i else set() for d in ("lineage", "metrics")}
        meta = encode_and_commit(synth_tokens_df(spark, 300, seed=seed), root, GD_CFG, append)
        append_metrics(metrics_rows(meta, f"r{i}"), root)
        added = (
            spark.read.schema(PAGES_SCHEMA)
            .option("basePath", os.path.join(root, "pages"))
            .parquet(*(os.path.join(root, f) for f in current_snapshot(root)["added"]))
        )
        (lin,), (met,) = (set(os.listdir(os.path.join(root, d))) - before[d] for d in before)
        got_lin = pq.read_table(os.path.join(root, "lineage", lin))
        got_met = pq.read_table(os.path.join(root, "metrics", met))
        assert _rows(got_lin, LIN_COLS) == _rows(_spark_lineage(added, GD_CFG.mode), LIN_COLS)
        assert _rows(got_met, MET_COLS) == _rows(_spark_metrics(added, f"r{i}"), MET_COLS)
    pages = read_pages(spark, root)
    assert pages.filter("page_id = -1").count() > 0, "no group-dictionary row"
    per_part = pages.filter("page_id >= 0").groupBy("part_id").agg(
        F.countDistinct("content_key").alias("n")
    )
    assert per_part.filter("n > 1").count() > 0, "no part_id holds two groups"
    assert _rows(lineage_from_pages(pages, GD_CFG.mode), LIN_COLS) == _rows(
        _spark_lineage(pages, GD_CFG.mode), LIN_COLS
    )
    assert _rows(metrics_table(pages, "all"), MET_COLS) == _rows(_spark_metrics(pages, "all"), MET_COLS)


def test_mixed_writer_lineage_and_metrics_read_and_compact(spark, tokens_df, tmp_path_factory):
    """lineage/ and metrics/ holding one file from the Spark writer the
    store used before and one from the driver-side writer read and compact
    as one table, and both writers store the same physical types."""
    root = str(tmp_path_factory.mktemp("store"))
    encode_to_store(tokens_df, root, CFG, run_id="driver")
    pages = read_pages(spark, root)
    _spark_lineage(pages, CFG.mode).coalesce(1).write.mode("append").parquet(
        os.path.join(root, "lineage")
    )
    _spark_metrics(pages, "spark").withColumn("appended_at", F.lit(float(time.time()))).coalesce(
        1
    ).write.mode("append").parquet(os.path.join(root, "metrics"))
    types = {
        "lineage": {"part_id": pa.int32(), "n_rows": pa.int32(), "mode": pa.int64()},
        "metrics": {"part_id": pa.int32(), "pages": pa.int64(), "appended_at": pa.float64()},
    }
    for d, want in types.items():
        files = _parquet_files(os.path.join(root, d))
        assert len(files) == 2
        for f in files:
            schema = pq.read_schema(f)
            assert {c: schema.field(c).type for c in want} == want, f
    n_groups = pages.filter("page_id >= 0").select("content_key", "part_id").distinct().count()
    lineage = read_lineage(spark, root)
    assert lineage.schema.simpleString() == spark.createDataFrame([], LINEAGE_SCHEMA).schema.simpleString()
    assert lineage.count() == n_groups
    metrics = read_metrics(spark, root)
    n_metrics = _spark_metrics(pages, "x").count()
    assert metrics.schema.simpleString() == (
        spark.createDataFrame([], METRICS_SCHEMA + ", appended_at double").schema.simpleString()
    )
    assert {r["run_id"] for r in metrics.collect()} == {"driver", "spark"}
    assert metrics.count() == 2 * n_metrics
    assert compact_lineage(root, spark) == n_groups
    assert compact_metrics(root, spark) == 2 * n_metrics
    assert compact_metrics(root, spark, keep_runs=1) == n_metrics


def test_failed_driver_write_leaves_no_visible_file(spark, tokens_df, tmp_path_factory, monkeypatch):
    """A lineage or metrics write that fails part-way leaves no file any
    reader lists: the table is written under a hidden temp name and renamed
    into place only once whole."""
    root = str(tmp_path_factory.mktemp("store"))
    encode_to_store(tokens_df, root, CFG, run_id="ok")
    before = {d: sorted(os.listdir(os.path.join(root, d))) for d in ("lineage", "metrics")}
    n_lineage = read_lineage(spark, root).count()
    meta = _page_meta(root, current_snapshot(root)["files"])

    def torn_write(table, where, **kw):
        with open(where, "wb") as fh:
            fh.write(b"PAR1 torn")
        raise OSError("disk full")

    monkeypatch.setattr(store.pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        append_lineage(meta, root, CFG)
    with pytest.raises(OSError, match="disk full"):
        append_metrics(metrics_rows(meta, "torn"), root)
    monkeypatch.undo()
    assert {d: sorted(os.listdir(os.path.join(root, d))) for d in before} == before
    assert read_lineage(spark, root).count() == n_lineage
    assert {r["run_id"] for r in read_metrics(spark, root).collect()} == {"ok"}


def test_perfbench_store_funcs_are_called(spark, tokens_df, tmp_path_factory, monkeypatch):
    """perfbench's traced run wraps the store functions named in its
    STORE_FUNCS by module attribute, so each must exist in the store module
    and a resumed encode_to_store must call each through it: a rename or an
    inlined call leaves its span silently empty."""
    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench"))
    sys.modules.pop("layers", None)
    from layers import STORE_FUNCS

    root = str(tmp_path_factory.mktemp("store"))
    encode_to_store(tokens_df, root, CFG, run_id="cold")
    calls = dict.fromkeys(STORE_FUNCS, 0)
    for name in STORE_FUNCS:
        fn = getattr(store, name)
        assert callable(fn), name

        def counted(*a, _fn=fn, _name=name, **kw):
            calls[_name] += 1
            return _fn(*a, **kw)

        monkeypatch.setattr(store, name, counted)
    encode_to_store(tokens_df, root, CFG, run_id="resume")
    assert {"write_pages", "append_lineage", "maybe_compact_lineage", "append_metrics"} <= set(
        STORE_FUNCS
    )
    assert all(calls[f] >= 1 for f in STORE_FUNCS), calls
