"""spark-submit entry point — the CLI analog of the reference's ~30-flag
``main`` (reference src/zopfli/zopfli_bin.c:679-921), reduced to the flags
that exist in a Spark engine.

Deployment (north rule):

    python -m zopfli_spark.cli package-zip          # build zopfli_spark.zip
    spark-submit --py-files zopfli_spark.zip \
        cli.py encode --input <tokens parquet> --output <store root> \
        [--page-budget N] [--group-budget N] [--iterations N] [--seed N]

Subcommands: encode, decode, verify, datagen, gc, package-zip.

``encode`` commits each run as a new snapshot of the store and keeps the
earlier ones (time travel) until ``gc --keep-snapshots`` expires them.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("zopfli_spark")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.master:
        b = b.master(args.master)
    return b.getOrCreate()


def _config(args):
    from .config import EngineConfig

    kw = dict(
        page_budget_values=args.page_budget,
        group_budget_values=args.group_budget,
        giant_doc_values=args.giant_budget or args.group_budget // 2,
        zlib_level=args.zlib_level,
        iterations=args.iterations,
        seed=args.seed,
        hints_additional_split=getattr(args, "aas", False),
        mode_grid=getattr(args, "all", False),
    )
    if args.no_huffman:
        kw["try_huffman"] = False
    if args.plane_strategy:
        kw["plane_strategy"] = args.plane_strategy
    if args.codecs:
        kw["codec_allowlist"] = tuple(args.codecs.split(","))
    if args.recompress_passes is not None:
        kw["recompress_passes"] = args.recompress_passes
    # the speed/size dial (the reference's whole product is this dial):
    # profile presets compose with explicit flags (flags win)
    if args.profile == "throughput":
        return EngineConfig.throughput(**kw)
    if args.profile == "ratio":
        return EngineConfig.ratio(**kw)
    return EngineConfig(**kw)


def cmd_encode(args) -> int:
    from .sources.store import encode_to_store, read_pages

    spark = _spark(args)
    df = spark.read.parquet(args.input)
    hints = spark.read.parquet(args.split_hints) if args.split_hints else None
    # (encode_table sizes the encode exchange to one partition per group
    # itself — no conf juggling or extra input scan needed here)
    t0 = time.time()
    m = encode_to_store(
        df, args.output, _config(args), run_id=args.run_id, split_hints=hints
    )
    rows = m.collect()
    if args.export_hints:
        # predefined-splits out-side (--cbs in/out contract): chosen page
        # boundaries exported as a hints table for later runs
        from .lineage import split_hints_from_pages

        split_hints_from_pages(read_pages(spark, args.output)).write.mode(
            "overwrite"
        ).parquet(args.export_hints)
    wall = time.time() - t0
    out = {
        "run_id": args.run_id,
        "wall_sec": round(wall, 3),
        "partitions": len({r["part_id"] for r in rows}),
        "raw_bytes": sum(r["raw_bytes"] for r in rows),
        "enc_bytes": sum(r["enc_bytes"] for r in rows),
    }
    out["ratio"] = round(out["raw_bytes"] / max(out["enc_bytes"], 1), 4)
    print(json.dumps(out))
    return 0


def cmd_decode(args) -> int:
    from .engine import decode_table
    from .sources.store import read_pages, store_partition_count

    spark = _spark(args)
    decoded = decode_table(
        read_pages(spark, args.input),
        _config(args),
        input_partitions=store_partition_count(args.input),
    )
    decoded.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"rows": spark.read.parquet(args.output).count()}))
    return 0


def cmd_verify(args) -> int:
    from .engine import decode_table, roundtrip_check
    from .sources.store import read_pages, store_partition_count

    spark = _spark(args)
    original = spark.read.parquet(args.input)
    decoded = decode_table(
        read_pages(spark, args.store),
        _config(args),
        input_partitions=store_partition_count(args.store),
    )
    bad = roundtrip_check(original, decoded).count()
    print(json.dumps({"mismatches": bad, "ok": bad == 0}))
    return 0 if bad == 0 else 1


def cmd_datagen(args) -> int:
    from .datagen import synth_tokens_df

    spark = _spark(args)
    synth_tokens_df(spark, args.n_docs, seed=args.seed).write.mode(
        "overwrite"
    ).parquet(args.output)
    print(json.dumps({"docs": args.n_docs, "path": args.output}))
    return 0


def cmd_gc(args) -> int:
    """Table maintenance: snapshot expiry, age-gated orphan removal, lineage
    compaction — the lifecycle surface an always-on deployment schedules
    (Iceberg expire_snapshots / remove_orphan_files + the StatsDB's
    one-record-per-key bound, reference src/zopfli/deflate.c:1164-1272)."""
    from .sources.store import (
        compact_lineage,
        compact_metrics,
        expire_snapshots,
        remove_orphan_files,
    )

    out: dict = {"root": args.store}
    if args.keep_snapshots is not None:
        out["expire"] = expire_snapshots(args.store, keep_last=args.keep_snapshots)
    if args.remove_orphans:
        out["orphans_removed"] = remove_orphan_files(
            args.store, older_than_s=args.orphan_age_hours * 3600.0
        )
    if args.compact_lineage:
        # lineage/metrics compaction need a SparkSession — started lazily
        # so pure-filesystem maintenance never pays JVM startup
        out["lineage_rows"] = compact_lineage(args.store, _spark(args))
    if args.compact_metrics:
        out["metrics_rows"] = compact_metrics(
            args.store, _spark(args), keep_runs=args.keep_runs
        )
    print(json.dumps(out))
    return 0


def cmd_package_zip(args) -> int:
    from .deploy import package_zip_path

    print(package_zip_path())
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="zopfli_spark")
    p.add_argument("--master", default=None, help="spark master (default: from spark-submit)")
    p.add_argument("--shuffle-partitions", type=int, default=256)
    p.add_argument("--page-budget", type=int, default=1 << 20)
    p.add_argument("--group-budget", type=int, default=1 << 22)
    p.add_argument("--giant-budget", type=int, default=0)
    p.add_argument("--zlib-level", type=int, default=6)
    p.add_argument("--iterations", type=int, default=5)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--run-id", default="cli")
    p.add_argument("--profile", choices=("default", "throughput", "ratio"),
                   default="default",
                   help="speed/size preset: 'throughput' skips entropy search, "
                        "'ratio' is the slow-but-smaller zopfli end")
    p.add_argument("--no-huffman", action="store_true",
                   help="disable the canonical-Huffman candidate (CPU dial)")
    p.add_argument("--plane-strategy", choices=("rle", "default", "both"),
                   default=None, help="PLANE_ZLIB per-plane DEFLATE strategy")
    p.add_argument("--codecs", default=None,
                   help="comma-separated codec allow-list (PLAIN always kept)")
    p.add_argument("--recompress-passes", type=int, default=None,
                   help="--pass analog: re-encode worst pages at full effort")
    sub = p.add_subparsers(dest="cmd", required=True)

    enc = sub.add_parser("encode", help="encode a tokens parquet into a page store")
    enc.add_argument("--input", required=True)
    enc.add_argument("--output", required=True)
    enc.add_argument("--split-hints", default=None,
                     help="parquet of predefined split points (--cbsfile analog)")
    enc.add_argument("--export-hints", default=None,
                     help="write chosen boundaries as a hints parquet (in-out contract)")
    enc.add_argument("--aas", action="store_true",
                     help="additionally cost-split within hinted segments (--aas analog)")
    enc.add_argument("--all", action="store_true",
                     help="mode-grid search: retry alternate split strategies on "
                          "ambiguous groups, keep smallest (--all analog; ~2.4x CPU)")

    dec = sub.add_parser("decode", help="decode a page store back to tokens parquet")
    dec.add_argument("--input", required=True, help="store root")
    dec.add_argument("--output", required=True)

    ver = sub.add_parser("verify", help="bit-identical round-trip check")
    ver.add_argument("--input", required=True, help="original tokens parquet")
    ver.add_argument("--store", required=True, help="encoded store root")

    gen = sub.add_parser("datagen", help="write the synthetic tokens fixture")
    gen.add_argument("--n-docs", type=int, required=True)
    gen.add_argument("--output", required=True)

    gc = sub.add_parser("gc", help="store maintenance: expire snapshots, "
                                   "remove aged orphan files, compact lineage")
    gc.add_argument("--store", required=True, help="store root")
    gc.add_argument("--keep-snapshots", type=int, default=None,
                    help="expire all but the newest N snapshots")
    gc.add_argument("--remove-orphans", action="store_true",
                    help="delete page files no manifest lists (age-gated)")
    gc.add_argument("--orphan-age-hours", type=float, default=24.0,
                    help="only remove orphan files untouched this long")
    gc.add_argument("--compact-lineage", action="store_true",
                    help="rewrite lineage to one row per live (key, mode)")
    gc.add_argument("--compact-metrics", action="store_true",
                    help="dedup + rewrite the metrics log into few files")
    gc.add_argument("--keep-runs", type=int, default=None,
                    help="with --compact-metrics: retain only the N most "
                         "recent run_ids (by append timestamp)")

    sub.add_parser("package-zip", help="print path of a --py-files zip")

    args = p.parse_args(argv)
    return {
        "encode": cmd_encode,
        "decode": cmd_decode,
        "verify": cmd_verify,
        "datagen": cmd_datagen,
        "gc": cmd_gc,
        "package-zip": cmd_package_zip,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
