"""deploy.forget_zip_finders: a reused Python worker must not re-read its
zipped packages on every task, and forgetting the finders must not break
imports from those zips."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from zopfli_spark.deploy import forget_zip_finders

PKG = "zs_zipfinder_probe"


@pytest.fixture
def zipped_pkg(tmp_path):
    """A package with two sub-packages in a zip, first on ``sys.path``;
    sys.path, the finder cache and sys.modules are restored afterwards."""
    zpath = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        for sub in ("alpha", "beta"):
            zf.writestr(f"{PKG}/{sub}/__init__.py", "")
            zf.writestr(f"{PKG}/{sub}/mod.py", f"def name():\n    return {sub!r}\n")
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    sys.path.insert(0, zpath)
    try:
        yield zpath
    finally:
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        zipimport._zip_directory_cache.pop(zpath, None)


def _zip_finders() -> dict:
    return {
        k: f
        for k, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    }


def test_forget_zip_finders_drops_only_zip_finders(zipped_pkg, monkeypatch):
    mod = importlib.import_module(f"{PKG}.alpha.mod")
    assert mod.name() == "alpha"
    assert isinstance(mod.__spec__.loader, zipimport.zipimporter)
    # the archive itself plus one finder per imported (sub-)package
    zip_finders = _zip_finders()
    cached = [k for k in zip_finders if k.startswith(zipped_pkg)]
    assert len(cached) >= 3, cached
    others = {
        k: f for k, f in sys.path_importer_cache.items() if k not in zip_finders
    }

    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    # what a task start costs with the finders cached: every one re-reads
    importlib.invalidate_caches()
    assert reads.count(zipped_pkg) >= 3

    forget_zip_finders()
    assert _zip_finders() == {}
    for k, f in others.items():
        assert sys.path_importer_cache.get(k) is f, k

    reads.clear()
    importlib.invalidate_caches()
    # a submodule not imported yet still imports from the same zip, via a
    # finder rebuilt from the directory cache, not from a re-read
    beta = importlib.import_module(f"{PKG}.beta.mod")
    assert beta.name() == "beta"
    assert mod.name() == "alpha"
    assert reads == []


# One Spark process on local[1], so every Python task reuses one worker.
# Before each engine step a "dirty" task imports a module that does not
# exist, which scans the whole path and caches a finder for every zip on it
# (pyspark.zip at least); a probe task right after the step counts the zip
# finders left on the worker, and must find none. Both are pickled by value
# (they are defined in __main__), so the probe imports nothing new and adds
# no finder of its own.
_ENGINE_UDFS_CODE = r'''
import json, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
sys.path.insert(0, %(repo)r)
from zopfli_spark import EngineConfig, decode_table, encode_table
from zopfli_spark.datagen import synth_tokens_df
from zopfli_spark.functions.multimodal import extract_features, synth_media_df
from zopfli_spark.lineage import lineage_from_pages


def count_zip_finders(batches, dirty=False):
    import zipimport

    import pyarrow as pa

    for _ in batches:
        pass
    if dirty:
        try:
            import zs_no_such_module  # noqa: F401
        except ImportError:
            pass
    n = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    yield pa.RecordBatch.from_pydict({"n": [n]})


def zip_finders(dirty=False):
    udf = lambda it: count_zip_finders(it, dirty)
    return spark.range(1, numPartitions=1).mapInArrow(udf, "n long").collect()[0].n


cfg = EngineConfig(page_budget_values=20_000, group_budget_values=80_000,
                   giant_doc_values=40_000)
dirty, seen = {}, {}


def step(name, run):
    dirty[name] = zip_finders(dirty=True)
    out = run()
    seen[name] = zip_finders()
    return out


tokens = step("datagen", lambda: synth_tokens_df(spark, 200, seed=7).localCheckpoint())
pages = step("encode", lambda: encode_table(tokens, cfg).localCheckpoint())
step("decode", lambda: decode_table(pages).collect())
lineage = lineage_from_pages(pages, cfg.mode).localCheckpoint()
step("resume", lambda: encode_table(tokens, cfg, lineage=lineage).localCheckpoint())
step("multimodal", lambda: extract_features(synth_media_df(spark, 4, seed=3)).collect())
print("SEEN:" + json.dumps({"dirty": dirty, "seen": seen}))
spark.stop()
'''


def test_engine_udfs_leave_no_zip_finder_on_reused_worker():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "-c", _ENGINE_UDFS_CODE % {"repo": repo}],
        capture_output=True,
        text=True,
        timeout=400,
    )
    lines = [l for l in p.stdout.splitlines() if l.startswith("SEEN:")]
    assert lines, p.stderr[-1500:]
    out = json.loads(lines[-1][5:])
    dirty, seen = out["dirty"], out["seen"]
    # before each step the worker holds zip finders, so a step that does not
    # forget them shows up below
    assert min(dirty.values()) > 0, dirty
    assert seen == dict.fromkeys(dirty, 0), seen
