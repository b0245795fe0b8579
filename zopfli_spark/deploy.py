"""Self-shipping: make the package importable on executor Python workers.

The production path is ``spark-submit --py-files zopfli_spark.zip`` (north
rule). For interactive sessions and notebooks this helper zips the installed
package once and registers it via ``SparkContext.addPyFile`` so pandas-UDF
closures resolve ``zopfli_spark`` on every worker regardless of cwd.

:func:`forget_zip_finders` is the worker-side half: every engine UDF calls
it when its body finishes, so the next task on a reused Python worker does
not re-read the zipped packages on its import path."""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_shipped: set[str] = set()


def package_zip_path() -> str:
    """Build (once per content version) a zip of the zopfli_spark package.

    The zip name embeds a digest of the package SOURCE BYTES, not an mtime:
    an mtime check goes stale the moment another checkout (a worktree, an
    older release) rebuilds the shared temp file with a newer timestamp —
    executors would then silently import the wrong code."""
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    h = hashlib.blake2b(digest_size=8)
    for full in sources:
        h.update(os.path.relpath(full, pkg_dir).encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(
        tempfile.gettempdir(), f"zopfli_spark_pkg_{h.hexdigest()}.zip"
    )
    if not os.path.exists(out):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in sources:
                rel = os.path.join("zopfli_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession | None = None) -> None:
    """Idempotently ship the package to executors for this app."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped:
        return
    try:
        spark.sparkContext.addPyFile(package_zip_path())
    except Exception:
        pass  # e.g. file already registered by spark-submit --py-files
    _shipped.add(app_id)


def forget_zip_finders() -> None:
    """Drop every cached ``zipimport.zipimporter`` from
    ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` before every task on a
    reused Python worker (``worker_util.setup_spark_files``), and
    ``zipimporter.invalidate_caches`` re-reads its archive's whole central
    directory. A worker caches one finder per zip on the path and one per
    sub-package imported from it (pyspark.zip, the spark-core jar, py4j,
    this package's zip), so every task paid 180-360 ms of re-reads (4-CPU
    host) before its UDF started. With the finders forgotten there is
    nothing to re-read.

    Safe because modules already loaded keep their loader
    (``__spec__.loader``), and a later import that needs a zip finder
    builds a new one from ``zipimport._zip_directory_cache`` without
    reading the file. Invariant this relies on: no zip on the worker's
    path changes in place under the same path while the worker lives.
    Spark's userFiles are added once per app and path, and the package
    zip is named by a digest of its contents (:func:`package_zip_path`)."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
