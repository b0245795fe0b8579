"""CLI surface tests: datagen → encode (with hint export) → re-encode with
hints → decode → verify, all through zopfli_spark.cli.main (the
spark-submit entry path, reference zopfli_bin.c:679-921 analog)."""

from __future__ import annotations

import json
import os

import pytest

from zopfli_spark.cli import main


def _run(capsys, args):
    rc = main(args)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return rc, json.loads(out)


COMMON = ["--shuffle-partitions", "8", "--page-budget", "20000", "--group-budget", "80000"]


def test_cli_end_to_end(spark, tmp_path, capsys):
    tok = str(tmp_path / "tok")
    store = str(tmp_path / "store")
    store2 = str(tmp_path / "store2")
    hints = str(tmp_path / "hints")
    out = str(tmp_path / "decoded")

    rc, r = _run(capsys, COMMON + ["datagen", "--n-docs", "120", "--output", tok])
    assert rc == 0 and r["docs"] == 120

    rc, enc1 = _run(
        capsys,
        COMMON + ["encode", "--input", tok, "--output", store, "--export-hints", hints],
    )
    assert rc == 0 and enc1["ratio"] > 1.0 and enc1["enc_bytes"] > 0

    rc, r = _run(capsys, COMMON + ["verify", "--input", tok, "--store", store])
    assert rc == 0 and r["ok"] is True and r["mismatches"] == 0

    # hinted re-encode reproduces a valid store (geometry pinned, bytes valid)
    rc, enc2 = _run(
        capsys,
        COMMON + ["encode", "--input", tok, "--output", store2, "--split-hints", hints],
    )
    assert rc == 0 and enc2["raw_bytes"] == enc1["raw_bytes"]
    rc, r = _run(capsys, COMMON + ["verify", "--input", tok, "--store", store2])
    assert rc == 0 and r["ok"] is True

    rc, r = _run(capsys, COMMON + ["decode", "--input", store, "--output", out])
    assert rc == 0 and r["rows"] == 120


def test_cli_verify_fails_on_wrong_input(spark, tmp_path, capsys):
    tok = str(tmp_path / "tok")
    other = str(tmp_path / "other")
    store = str(tmp_path / "store")
    _run(capsys, COMMON + ["datagen", "--n-docs", "50", "--output", tok])
    _run(capsys, COMMON + ["--seed", "7", "datagen", "--n-docs", "50", "--output", other])
    _run(capsys, COMMON + ["encode", "--input", tok, "--output", store])
    rc, r = _run(capsys, COMMON + ["verify", "--input", other, "--store", store])
    assert rc == 1 and r["ok"] is False and r["mismatches"] > 0


def test_cli_gc(spark, tmp_path, capsys):
    """gc subcommand: lineage compaction keeps resume rows flat; snapshot
    expiry and age-gated orphan removal run through the CLI surface."""
    tok = str(tmp_path / "tok")
    store = str(tmp_path / "store")
    _run(capsys, COMMON + ["datagen", "--n-docs", "100", "--output", tok])
    for i in range(3):
        _run(capsys, COMMON + ["--run-id", f"r{i}",
                               "encode", "--input", tok, "--output", store])
    rc, r = _run(capsys, COMMON + ["gc", "--store", store, "--compact-lineage",
                                   "--remove-orphans"])
    assert rc == 0
    assert r["lineage_rows"] > 0
    assert r["orphans_removed"] == []  # every page file is still listed
    from zopfli_spark.sources.store import current_snapshot, read_lineage

    assert read_lineage(spark, store).count() == r["lineage_rows"]
    # each encode committed a snapshot; keep the newest, sweep the rest
    rc, r = _run(capsys, COMMON + ["gc", "--store", store, "--keep-snapshots", "1",
                                   "--remove-orphans", "--orphan-age-hours", "0"])
    assert rc == 0 and len(r["expire"]["removed_snapshots"]) == 2
    on_disk = {
        os.path.relpath(os.path.join(d, f), store)
        for d, _, fs in os.walk(os.path.join(store, "pages"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == set(current_snapshot(store)["files"])
    rc, v = _run(capsys, COMMON + ["verify", "--input", tok, "--store", store])
    assert rc == 0 and v["ok"] is True
    # re-encode after compaction still resumes (ratio unchanged, fast path)
    rc, enc = _run(capsys, COMMON + ["encode", "--input", tok, "--output", store])
    assert rc == 0 and enc["ratio"] > 1.0
