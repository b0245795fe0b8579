"""Spark session sized to the host, host facts, and process bookkeeping.

One driver process runs ``local[<cores>]``. The driver heap is a quarter of
host memory, capped at 4 GiB: the benchmark input is ~20 MB of tokens (the
``--r7`` input ~120 MB), and the Python workers, which hold the per-group
search state, need the rest.
AQE stays off so the encode plan keeps its single exchange and the
one-group-per-task partitioning ``encode_table`` asks for. Every scratch
path Spark, Java and Python write to points into the run's work directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_jiffies() -> int:
    """Cumulative hypervisor steal time of this guest, from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def host_info() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": host_cores(),
        "mem_total_mb": host_mem_mb(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def point_scratch_at(work: str) -> None:
    """Route temp files of this process and its children into ``work``
    (must run before the JVM starts: children copy the environment)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the launcher included: temp files into ``work``, and no
    # hsperfdata file, which HotSpot writes to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp


def start_spark(work: str, cores: int):
    from pyspark.sql import SparkSession

    heap_mb = max(1024, min(4096, host_mem_mb() // 4))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def spark_descendants() -> list[int]:
    """PIDs below the JVM: the Python daemon and its forked workers."""
    root = _jvm_pid()
    if root is None:
        return []
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def worker_peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) over the given live processes."""
    peak_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
                        break
        except OSError:
            continue
    return peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process below it."""
    from pyspark import SparkContext

    workers = spark_descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers were the JVM's children: poll until they are gone
    deadline = time.monotonic() + 20
    for pid in workers:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                if time.monotonic() > deadline + 10:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie awaiting reaping."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
