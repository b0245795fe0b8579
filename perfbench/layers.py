"""The traced run: per-layer numbers of one workload.

Two parts, both separate from the timed runs:

* Spark-side: the planner's group sizes; a shuffle floor (``plan_groups``
  plus the same repartition, counted) and an Arrow floor (that plan through
  a no-op ``applyInArrow``) next to the real ``encode_table``; kernel
  seconds, straggler and codec counts read from the pages output;
  ``decode_table``; lineage replay; and, on ``store-resume``, wall-clock
  spans around the store functions ``encode_to_store`` calls.
* Spark-free, in-process: the grouped input (``plan_groups`` output) is
  dumped once, and every group is encoded by ``engine._encode_group`` (the
  function the encode UDF calls), once to warm up, once untraced, then with
  timing wrappers around the module functions below; then replayed from its
  lineage plan and decoded page by page. Spans use process CPU time, so the self times of one
  group's spans add up to that group's CPU.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from zopfli_spark import decode_table, encode_table
from zopfli_spark import engine
from zopfli_spark.codecs.kernels import CODEC_NAMES, GroupDict
from zopfli_spark.lineage import lineage_from_pages
from zopfli_spark.operators import pagecodec
from zopfli_spark.plans.planner import GROUP_COL, plan_groups
from zopfli_spark.sources import store

from session import spark_descendants, worker_peak_rss_mb
from tracing import Tracer
from workloads import Input, Timer, check

CODECS = sorted(set(CODEC_NAMES.values()) | {"dict_rle"})

STORE_FUNCS = ("read_lineage", "write_pages", "append_lineage", "maybe_compact_lineage", "append_metrics")


def _n_first(args, kwargs):
    return len(args[0])


def _n_second(args, kwargs):
    return int(args[1])


_E, _PC, _K, _M = (
    "zopfli_spark.engine",
    "zopfli_spark.operators.pagecodec",
    "zopfli_spark.codecs.kernels",
    "zopfli_spark.model",
)

# (namespace that calls it, attribute, span name, work count)
KERNEL_TARGETS = [
    (_E, "train_group_dict", "engine.train_group_dict", None),
    (_E, "split_by_cost", "pages.split_by_cost", None),
    (_E, "refine_boundaries", "squeeze.refine_boundaries", None),
    (_E, "merge_pass", "squeeze.merge_pass", None),
    (_E, "encode_page", "pagecodec.encode_page", None),
    (_PC, "decode_page", "pagecodec.decode_page", None),
    (_PC, "encode_best", "kernels.encode_best", _n_first),
    (_K, "encode_best", "kernels.encode_best", _n_first),
    (_PC, "encode_forced", "kernels.encode_forced", _n_first),
    (_PC, "decode_blob", "kernels.decode_blob", _n_second),
    (_K, "decode_blob", "kernels.decode_blob", _n_second),
    (_K, "encode_group_huffman", "kernels.encode_group_huffman", None),
    (_K, "package_merge", "model.package_merge", None),
    (_M, "package_merge", "model.package_merge", None),
]


def _store_targets():
    return [
        ("zopfli_spark.sources.store", f, f"store.{f}", None) for f in STORE_FUNCS
    ]


def spark_side(spark, inp: Input, cfg, cores: int, workload: str, work: str) -> tuple[dict, dict]:
    """Spark-side layer metrics, and the lineage plans of every group
    ({content_key: (content_hash, plan)}) for the in-process replay."""
    m: dict[str, float] = {}
    grouped, num_groups = plan_groups(inp.df, cfg, total_values=inp.tokens)
    sizes = [int(r[1]) for r in grouped.groupBy(GROUP_COL).agg(F.sum("n_tok")).collect()]
    m["planner.groups"] = len(sizes)
    m["planner.group_values_max_over_mean"] = max(sizes) / statistics.mean(sizes)

    # the same explicit repartition encode_table applies before its UDF
    shuffled = grouped.repartition(max(1, 2 * num_groups), F.col(GROUP_COL))
    with Timer() as t:
        n = shuffled.count()
    check(n == inp.docs, "shuffle floor lost rows")
    m["encode_table.shuffle_floor_s"] = t.s

    def noop(tbl):
        return pa.table({"rows": pa.array([tbl.num_rows], pa.int64())})

    with Timer() as t:
        n = shuffled.groupBy(GROUP_COL).applyInArrow(noop, schema="rows long").agg(
            F.sum("rows")
        ).collect()[0][0]
    check(n == inp.docs, "arrow floor lost rows")
    m["encode_table.arrow_floor_s"] = t.s

    with Timer() as t:
        pages = encode_table(inp.df, cfg, total_values=inp.tokens).cache()
        parts = pages.groupBy("part_id").agg(
            F.sum("enc_us").alias("us"), F.sum("enc_cpu_us").alias("cpu_us")
        ).collect()
    m["encode_table.wall_s"] = t.s
    steal = t.steal
    kernel_wall = sum(int(r["us"]) for r in parts) / 1e6
    m["encode_table.kernel_cpu_s"] = sum(int(r["cpu_us"]) for r in parts) / 1e6
    m["encode_table.kernel_wall_s"] = kernel_wall
    m["encode_table.straggler_s"] = max(int(r["us"]) for r in parts) / 1e6
    m["encode_table.ideal_s"] = max(kernel_wall / cores, m["encode_table.straggler_s"])
    m["encode_table.overhead_ratio"] = m["encode_table.wall_s"] / m["encode_table.ideal_s"]
    m["host.worker_peak_rss_mb"] = worker_peak_rss_mb(spark_descendants())

    codec = F.regexp_replace("codec", "@.*$", "")
    per_codec = {
        r["c"]: (int(r["n"]), int(r["b"]))
        for r in pages.groupBy(codec.alias("c")).agg(
            F.count("*").alias("n"), F.sum("enc_bytes").alias("b")
        ).collect()
    }
    check(set(per_codec) <= set(CODECS), f"unknown codecs {set(per_codec) - set(CODECS)}")
    for c in CODECS:
        n_pages, n_bytes = per_codec.get(c, (0, 0))
        m[f"kernels.codec_pages.{c}"] = n_pages
        m[f"kernels.codec_bytes.{c}"] = n_bytes
    m["_enc_bytes"] = sum(b for _, b in per_codec.values())

    with Timer() as t:
        dec = decode_table(pages, cfg).agg(F.sum("n_tok")).collect()[0][0]
    check(int(dec) == inp.tokens, "traced decode lost tokens")
    m["decode_table.wall_s"] = t.s
    steal += t.steal
    m["decode_table.pages"] = pages.filter(F.col("page_id") >= 0).count()

    if workload == "store-resume":
        # uncache first: the store's encode has the same plan and would be
        # served from the cache
        pages.unpersist()
        plans, steal_store = _store_side(spark, inp, cfg, work, m)
        steal += steal_store
    else:
        lineage = lineage_from_pages(pages, cfg.mode).cache()
        m["lineage.rows"] = lineage.count()
        pages.unpersist()
        with Timer() as t:
            replay = encode_table(inp.df, cfg, lineage=lineage, total_values=inp.tokens)
            m["lineage.hit_ratio"] = _hit_ratio(replay)
        steal += t.steal
        plans = _plans(lineage)
        lineage.unpersist()
        for f in STORE_FUNCS:
            m[f"store.{f}.cold_s"] = m[f"store.{f}.resume_s"] = 0.0
        m["store.pages_disk_bytes"] = m["store.files"] = 0
    m["host.steal_jiffies"] = steal
    return m, plans


def _hit_ratio(pages) -> float:
    per_group = pages.groupBy("part_id").agg(F.min("resumed").alias("r")).collect()
    return sum(1 for r in per_group if r["r"] == 1) / len(per_group)


def _plans(lineage) -> dict:
    return {
        int(r["content_key"]): (int(r["content_hash"]), r["plan"])
        for r in lineage.select("content_key", "content_hash", "plan").collect()
    }


def _store_side(spark, inp: Input, cfg, work: str, m: dict) -> tuple[dict, int]:
    root = os.path.join(work, "store-traced")
    tracer = Tracer(clock=time.perf_counter)
    with tracer.installed(_store_targets()):
        with Timer() as cold, tracer.span("store.cold"):
            store.encode_to_store(inp.df, root, cfg, run_id="cold")
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(os.path.join(root, "pages"))
            for f in fs
            if f.endswith(".parquet")
        ]
        m["store.pages_disk_bytes"] = sum(sizes)
        m["store.files"] = sum(
            1 for _, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
        )
        with Timer() as res, tracer.span("store.resume"):
            store.encode_to_store(inp.df, root, cfg, run_id="resume")
    for phase in ("cold", "resume"):
        spans = tracer.summary(f"store.{phase}")
        for f in STORE_FUNCS:
            m[f"store.{f}.{phase}_s"] = spans.get(f"store.{f}", {}).get("total_s", 0.0)
    m["lineage.hit_ratio"] = _hit_ratio(store.read_pages(spark, root))
    lineage = store.read_lineage(spark, root)
    m["lineage.rows"] = lineage.count()
    return _plans(lineage), cold.steal + res.steal


def _decode_group(out: pa.Table) -> int:
    """Decode one group's pages in order, as decode_table's UDF does."""
    gd, n = None, 0
    for hdr, payload, checksum in zip(
        out.column("header").to_pylist(),
        out.column("payload").to_pylist(),
        out.column("checksum").to_pylist(),
    ):
        if not hdr:
            gd = GroupDict(payload)
            continue
        n += len(pagecodec.decode_page(hdr, payload, checksum, split_rows=False, group_dict=gd)[3])
    return n


def _enc_bytes(out: pa.Table) -> int:
    return sum(out.column("enc_bytes").to_pylist())


def in_process(spark, inp: Input, cfg, plans: dict, work: str, trace_path: str) -> dict:
    """Spark-free per-group encode, replay and decode under the tracer."""
    path = os.path.join(work, "grouped.parquet")
    grouped, _ = plan_groups(inp.df, cfg, total_values=inp.tokens)
    grouped.write.mode("overwrite").parquet(path)
    tbl = pq.read_table(path)
    gcol = tbl.column(GROUP_COL).to_numpy()
    groups = [tbl.filter(pa.array(gcol == g)) for g in np.unique(gcol)]
    groups.sort(key=lambda g: g.num_rows)

    tracer = Tracer()
    untraced = enc_bytes = decoded = 0
    for g in groups:
        # an untimed first pass over the group: the first encode of new data
        # pays allocation and cache costs the two compared passes would not
        engine._encode_group(g, cfg)
        t0 = time.process_time()
        engine._encode_group(g, cfg)
        untraced += time.process_time() - t0
        with tracer.installed(KERNEL_TARGETS):
            with tracer.span("engine.group"):
                out = engine._encode_group(g, cfg)
            key = int(out.column("content_key")[0].as_py())
            h, plan = plans[key]
            plan_tbl = pa.table({"content_hash": pa.array([h], pa.int64()), "plan": [plan]})
            with tracer.span("engine.group_resume"):
                again = engine._encode_group(g, cfg, plan_tbl=plan_tbl)
            with tracer.span("decode.group"):
                decoded += _decode_group(out)
        check(_enc_bytes(again) == _enc_bytes(out), "in-process replay bytes differ")
        check(set(again.column("resumed").to_pylist()) == {1}, "in-process replay searched")
        enc_bytes += _enc_bytes(out)
    check(decoded == inp.tokens, "in-process decode lost tokens")
    tracer.dump(trace_path)

    enc = tracer.summary("engine.group")
    res = tracer.summary("engine.group_resume")
    dec = tracer.summary("decode.group")

    def get(s, name, key):
        return s.get(name, {}).get(key, 0)

    group_cpu = get(enc, "engine.group", "total_s")
    m = {
        "_enc_bytes": enc_bytes,
        "engine.group_cpu_s": group_cpu,
        "engine.group_self_s": get(enc, "engine.group", "self_s"),
        "engine.accounted_frac": sum(s["self_s"] for s in enc.values()) / group_cpu,
        "trace.group_cpu_untraced_s": untraced,
        "trace.overhead_frac": group_cpu / untraced - 1.0,
        "engine.train_group_dict.self_s": get(enc, "engine.train_group_dict", "self_s"),
        "kernels.encode_group_huffman.self_s": get(enc, "kernels.encode_group_huffman", "self_s"),
    }
    for name in (
        "pages.split_by_cost", "squeeze.refine_boundaries", "squeeze.merge_pass",
        "model.package_merge", "pagecodec.encode_page", "kernels.encode_best",
    ):
        m[f"{name}.calls"] = get(enc, name, "calls")
        m[f"{name}.self_s"] = get(enc, name, "self_s")
    m["kernels.encode_best.values_per_cpu_s"] = get(enc, "kernels.encode_best", "outer_n") / max(
        get(enc, "kernels.encode_best", "outer_s"), 1e-9
    )
    m["kernels.encode_forced.calls"] = get(res, "kernels.encode_forced", "calls")
    m["kernels.encode_forced.self_s"] = get(res, "kernels.encode_forced", "self_s")
    m["pagecodec.decode_page.calls"] = get(dec, "pagecodec.decode_page", "calls")
    m["pagecodec.decode_page.self_s"] = get(dec, "pagecodec.decode_page", "self_s")
    m["kernels.decode_blob.values_per_cpu_s"] = get(dec, "kernels.decode_blob", "outer_n") / max(
        get(dec, "kernels.decode_blob", "outer_s"), 1e-9
    )
    return m
