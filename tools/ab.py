#!/usr/bin/env python3
"""A/B the benchmark: a git ref against the working tree, in alternating pairs.

Usage (from the root of the repository):

    python3 tools/ab.py REF --workload tput --seed 4242 --seconds 12 \\
        --pairs 10 [--trace 0] [--json out.json]

``REF`` is exported with ``git archive`` into a temporary directory, which
is removed on exit, on error and on SIGTERM/SIGINT; the other side is the
working tree as it is on disk. Each pair runs ``perfbench/run.py`` once per
side, one run at a time, and the side that goes first alternates from pair
to pair. Every run starts in a new process group, which is killed once the
run has ended, so no Spark JVM or Python worker outlives it.

Prints, per metric, the median and IQR of each side, the change of the
medians and the pairs the working tree won (by the metric's ``better``
direction in BENCHMARK.json). Exits 1 if any run fails, reports
``failed > 0``, or reports a ``compression_ratio`` that differs from
another run's.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _export(ref: str, dest: str) -> str:
    """Write the tree of ``ref`` into ``dest``; returns the full commit id."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    archive = os.path.join(dest, "ref.tar")
    subprocess.run(["git", "archive", "-o", archive, sha], cwd=ROOT, check=True)
    tree = os.path.join(dest, "tree")
    with tarfile.open(archive) as tf:
        tf.extractall(tree, filter="data")
    os.unlink(archive)
    return sha


def _run(root: str, args) -> dict:
    """One perfbench run from ``root``; returns its last stdout JSON line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    proc = subprocess.Popen(
        cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        out, err = proc.communicate()
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        print("\n".join(err.splitlines()[-20:]), file=sys.stderr)
        return {"correct": False, "failed": 1, "metrics": {}, "exit": proc.returncode}
    return json.loads(lines[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(runs: dict[str, list[dict]]) -> int:
    """Print the per-metric table; returns the exit status."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bad = [f"{side} run {i}" for side, rs in runs.items() for i, r in enumerate(rs) if r.get("failed", 1) != 0]
    ratios = {
        r["metrics"]["compression_ratio"]["value"]
        for rs in runs.values() for r in rs if "compression_ratio" in r["metrics"]
    }
    names = sorted(set().union(*(r["metrics"] for rs in runs.values() for r in rs)))
    print(f"{'metric':<44} {'ref median (IQR)':>24} {'tree median (IQR)':>24} {'change':>8} {'tree wins':>10}")
    for name in names:
        a = [r["metrics"][name]["value"] for r in runs["ref"] if name in r["metrics"]]
        b = [r["metrics"][name]["value"] for r in runs["tree"] if name in r["metrics"]]
        if not a or not b:
            continue
        qa, qb = _quartiles(a), _quartiles(b)
        sign = 1 if better.get(name, "higher") == "higher" else -1
        wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        change = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
        print(
            f"{name:<44} {qa[1]:>12.6g} ({qa[2] - qa[0]:>9.3g}) {qb[1]:>12.6g} ({qb[2] - qb[0]:>9.3g})"
            f" {change:>+8.1%} {wins:>4}/{min(len(a), len(b))}"
        )
    if bad:
        print(f"FAILED: {', '.join(bad)}")
    if len(ratios) > 1:
        print(f"FAILED: compression_ratio differs between runs: {sorted(ratios)}")
    return 1 if bad or len(ratios) > 1 else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("ref")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--json", help="also write every run's result here")
    args = p.parse_args(argv)

    def _terminate(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _terminate)
    tmp = tempfile.mkdtemp(prefix="ab-")
    try:
        sha = _export(args.ref, tmp)
        roots = {"ref": os.path.join(tmp, "tree"), "tree": ROOT}
        runs: dict[str, list[dict]] = {"ref": [], "tree": []}
        for i in range(args.pairs):
            for side in ("ref", "tree") if i % 2 == 0 else ("tree", "ref"):
                r = _run(roots[side], args)
                runs[side].append(r)
                e = r["metrics"].get("encode_tok_per_s", {}).get("value")
                print(f"[ab] pair {i + 1}/{args.pairs} {side}: failed={r.get('failed')} encode_tok_per_s={e}",
                      file=sys.stderr, flush=True)
        print(f"{args.workload} seed {args.seed}, {args.pairs} pairs: ref {args.ref} ({sha[:10]}) vs working tree")
        if args.json:
            with open(args.json, "w") as fh:
                json.dump({"ref": sha, "args": vars(args), "runs": runs}, fh, indent=1)
        return report(runs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
