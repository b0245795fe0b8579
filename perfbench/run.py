#!/usr/bin/env python3
"""tokenpress benchmark: three workloads on local[<cores>] from one driver.

Run from the root of a checkout:

    python3 perfbench/run.py --workload {tput,ratio,store-resume} \\
        --seed N --seconds S --trace {0,1} [--r7 | --smoke] [--corrupt]

``--trace 0`` times the workload and reports the end-to-end metrics of
``BENCHMARK.json``; ``--trace 1`` is the separate traced run that reports
the per-layer metrics. ``--r7`` runs the r7 bench input (22,000 docs with
the long tail), whose seed-42 bytes are checked against the r7 record;
``--smoke`` runs a tiny input at a small geometry for the benchmark's own
tests; ``--corrupt`` flips one payload byte before the first decode, which
must count as a failed step.

Diagnostics go to stderr and to ``.perfbench_work/records/``; the last line
of stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (each metric a ``{"value", "unit"}`` pair).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: set-up is timed this many times per run; the median is reported
SETUP_REPS = 3
#: timed steps of one cycle; the resume and the decodes work on the pages
#: of the cycle's encode. A decode is short and varies most from one step
#: to the next, so a cycle takes two.
CYCLE = ("encode", "resume", "decode", "decode")
#: a step starts if its last wall fits in what is left of --seconds, or
#: while a metric has fewer than MIN_SAMPLES samples (then never after
#: GRACE times --seconds, plus 30 s)
MIN_SAMPLES = 2
GRACE = 2


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    size = p.add_mutually_exclusive_group()
    size.add_argument("--r7", action="store_true")
    size.add_argument("--smoke", action="store_true")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


def _metric_units(trace: int) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Run:
    """Attempt bookkeeping: a failed step is recorded, never retried."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def attempt(self, what: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 — every failure is counted and reported
            self.failures.append(f"{what}: {e!r}"[:500])
            _log(f"FAILED {what}\n{traceback.format_exc()}")
            return None


def _setup(spark, W, args, cfg, docs, work) -> tuple:
    """Build the input SETUP_REPS times, then warm up on the last build (the
    timed steps run on it). Returns the input, the workload's steps, the
    warm-up's pages, the warm-up seconds and the build seconds."""
    builds = []
    for _ in range(1 if args.smoke else SETUP_REPS):
        t0 = time.perf_counter()
        inp = W.make_input(spark, os.path.join(work, "input.parquet"), args.seed, docs, args.r7)
        builds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    steps = W.steps_for(spark, args.workload, inp, cfg, work)
    warm = W.warm_up(steps)
    warm_s = time.perf_counter() - t0
    _log(f"warm-up {warm_s:.2f} s, input builds {[round(b, 2) for b in builds]} s, "
         f"{inp.docs} docs, {inp.tokens} tokens")
    return inp, steps, warm, warm_s, builds


def timed(W, args, inp, steps, warm, run: Run, rec: dict) -> dict:
    """One untimed round-trip check on the warm-up's pages, then the timed
    window, which cycles through CYCLE. Every step is checked; each metric
    is the median over all of its samples in the window."""
    bad = run.attempt("roundtrip_check", W.roundtrip_rows, steps, inp, warm)
    steps.release(warm)
    if bad:
        run.failures.append(f"roundtrip_check: {bad} rows differ")
    expect = {}
    golden = W.golden_bytes(args.workload, args.seed, inp)
    if golden is not None:
        expect["enc_bytes"] = golden
    samples = {"encode": [], "decode": [], "resume": []}
    log, raw_enc, pages, n, corrupted = [], None, None, 0, False
    walls: dict[str, float] = {}  # the last wall of each kind of step
    t_loop = time.perf_counter()

    def fits(kind: str) -> bool:
        elapsed = time.perf_counter() - t_loop
        if elapsed + walls.get(kind, 0.0) <= args.seconds:
            return True
        short = min(map(len, samples.values())) < MIN_SAMPLES
        return short and elapsed < GRACE * args.seconds + 30

    while fits(kind := CYCLE[n % len(CYCLE)]):
        n += 1
        t0 = time.perf_counter()
        if kind == "encode":
            steps.release(pages)
            pages = None
            out = run.attempt(f"step {n - 1} encode", steps.encode, expect)
            t = out and out[1]
            if out is not None:
                pages, _, tot = out
                expect.update(W.expected_bytes(tot))
                raw_enc = raw_enc or (tot["raw_bytes"], tot["enc_bytes"])
        elif pages is None:
            continue  # nothing to decode or resume: the encode before failed
        elif kind == "decode":
            t = run.attempt(f"step {n - 1} decode", steps.decode, pages, args.corrupt and not corrupted)
            corrupted = True
        else:
            t = run.attempt(f"step {n - 1} resume", steps.resume, pages, expect)
        walls[kind] = time.perf_counter() - t0
        if t is not None:
            samples[kind].append(t.s)
            log.append({"step": kind, "s": t.s, "steal_jiffies": t.steal})
            _log(f"step {n - 1}: {kind} {t.s:.3f} s, steal {t.steal}")
    steps.release(pages)
    rec.update(steps=log, samples={k: len(v) for k, v in samples.items()})
    empty = [k for k, v in samples.items() if not v]
    if empty:
        raise SystemExit(f"every timed {'/'.join(empty)} step failed")
    med = statistics.median
    return {
        f"{k}_tok_per_s": med(inp.tokens / s for s in samples[k]) for k in samples
    } | {"compression_ratio": raw_enc[0] / raw_enc[1]}


def traced(spark, W, args, cfg, inp, work, run: Run, rec: dict) -> dict:
    import layers
    from session import host_cores

    m = run.attempt(
        "spark-side layers", layers.spark_side, spark, inp, cfg, host_cores(), args.workload, work
    )
    if m is None:
        raise SystemExit("the Spark-side traced pass failed")
    m, plans = m
    os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"), exist_ok=True)
    trace_path = os.path.join(
        ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
    )
    local = run.attempt("in-process layers", layers.in_process, spark, inp, cfg, plans, work, trace_path)
    if local is None:
        raise SystemExit("the in-process traced pass failed")
    golden = W.golden_bytes(args.workload, args.seed, inp)
    for what, b in (("spark-side", m.pop("_enc_bytes")), ("in-process", local.pop("_enc_bytes"))):
        if golden is not None and b != golden:
            run.failures.append(f"{what} traced encode: {b} enc bytes, golden is {golden}")
    m.update(local)
    rec["trace_file"] = os.path.relpath(trace_path, ROOT)
    return m


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import zopfli_spark  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the engine from {ROOT}: {e!r}")
        return 2
    import session
    import workloads as W

    if args.workload not in W.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {W.WORKLOADS}")
        return 2
    units = _metric_units(args.trace)
    docs = W.R7_DOCS if args.r7 else W.SMOKE_DOCS if args.smoke else W.N_DOCS
    cfg = W.engine_config(args.workload, args.smoke)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    session.point_scratch_at(work)
    cores = session.host_cores()
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "docs": docs, "r7": args.r7, "smoke": args.smoke, "host": session.host_info(),
    }
    run = Run()
    t0 = time.perf_counter()
    spark = session.start_spark(work, cores)
    jvm_s = time.perf_counter() - t0
    try:
        inp, steps, warm, warm_s, builds = _setup(spark, W, args, cfg, docs, work)
        rec.update(input_docs=inp.docs, tokens=inp.tokens, jvm_s=jvm_s, warm_up_s=warm_s, input_build_s=builds)
        if args.trace:
            steps.release(warm)
            metrics = traced(spark, W, args, cfg, inp, work, run, rec)
        else:
            metrics = timed(W, args, inp, steps, warm, run, rec)
        metrics["setup_s"] = jvm_s + warm_s + statistics.median(builds)
    finally:
        session.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    missing = set(units) - set(metrics)
    if missing:
        _log(f"metrics not produced: {sorted(missing)}")
        return 3
    failed = len(run.failures)
    attempted = max(run.attempted, failed)
    rec.update(attempted=attempted, failed=failed, failures=run.failures, metrics=metrics)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(base, "records", name), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    print(json.dumps({"record": rec}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
