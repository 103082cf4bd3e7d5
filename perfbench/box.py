"""Run environment sized to the machine, Spark session lifecycle, memory and
process accounting.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
generated data, Spark local dirs, temp files, event logs and span dumps.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Box:
    root: str  # checkout root (holds the package, tools/ and tests/)
    work: str  # gitignored scratch tree for this benchmark
    cpus: int
    mem_total_gb: float
    heap_gb: int


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_environment(root: str) -> Box:
    """Export the environment every Spark process must inherit.

    The JVM and its Python workers take their environment from this process
    when the first session starts, so this runs before any Spark import
    reaches the gateway. ``PYTHONPATH`` must name the checkout: workers
    unpickle ``mapInPandas`` functions by module path, and editing only
    ``sys.path`` leaves them with ``ModuleNotFoundError``.
    """
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem = _mem_total_gb()
    # 0.3 of RAM, 2..8 GB: the package default (48g) exceeds most boxes, and
    # the datasets here are < 100 MB in memory
    heap = max(2, min(8, int(mem * 0.3)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{heap}g",
            "SPARK_LOCAL_DIRS": local,
            "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "TZ": "UTC",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        }
    )
    os.environ.pop("SPARK_GRAFT_UI", None)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    if root not in sys.path:
        sys.path.insert(0, root)
    return Box(root, work, cpus, mem, heap)


_EVENTLOG_PROPS = ("spark.eventLog.enabled", "spark.eventLog.compress", "spark.eventLog.dir")


def start_session(eventlog_dir: str | None = None):
    """``session.get_spark`` with the event log switched on or off.

    A stopped context leaves its JVM running, and a new ``SparkConf`` reads
    ``spark.*`` JVM system properties, so the event log is toggled there.
    Spark 4 compresses event logs with zstd by default, and the reader here
    has no zstd codec, hence ``compress=false``.
    """
    from pyspark import SparkContext

    from arrow_parquet_logs_spark.session import get_spark

    jvm = SparkContext._jvm
    if eventlog_dir is not None:
        if jvm is None:
            raise RuntimeError("the traced session must not be the first one")
        os.makedirs(eventlog_dir, exist_ok=True)
        for k, v in zip(_EVENTLOG_PROPS, ("true", "false", "file://" + eventlog_dir)):
            jvm.System.setProperty(k, v)
    elif jvm is not None:
        for k in _EVENTLOG_PROPS:
            jvm.System.clearProperty(k)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the gateway JVM and wait for it; it exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children(timeout)


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except FileNotFoundError:
            pass
    return out


def process_tree(pid: int | None = None) -> list[int]:
    """``pid`` and all its descendants (default: this process)."""
    todo, seen = [pid or os.getpid()], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def reap_children(timeout: float) -> None:
    """Terminate and wait for any descendant still alive."""
    me = os.getpid()
    for sig, wait in ((signal.SIGTERM, min(10.0, timeout)), (signal.SIGKILL, timeout)):
        kids = [p for p in process_tree() if p != me]
        if not kids:
            return
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            for p in _children(me):
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            if not [p for p in process_tree() if p != me]:
                return
            time.sleep(0.1)


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (JVM, Python workers)."""
    total_kb = 0
    for p in process_tree():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            pass
    return total_kb / 1024


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
