"""Host pinning, the Spark session, and process-tree memory sampling.

Everything the benchmark writes lives under one work directory inside the
checkout: Spark's local dirs, the JVM and Python temp dirs, the staged
archives, the table roots the table_writes entries create, and the
caches some entries keep under fixed ``/tmp`` paths (redirected here by
:func:`redirect_fixed_tmp_paths`).
"""

from __future__ import annotations

import os
import platform
import shutil
import sys
import tempfile
import threading
from pathlib import Path

from entries import BENCH_DIR, REPO_ROOT


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_environment(work: Path) -> dict:
    """Set every host knob before the JVM starts; returns what was set."""
    if work.exists():
        shutil.rmtree(work)
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "archive"):
        d.mkdir(parents=True)
    ram_gib = host_ram_bytes() / 2**30
    settings = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        # well below host RAM: the session's own default (48g) assumes a
        # 128 GiB host
        "SPARK_DRIVER_MEM": f"{max(1, min(4, int(ram_gib // 4)))}g",
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SKR_ARCHIVE_DIR": str(work / "archive"),
        "TMPDIR": str(tmp),
        # Python workers import the package and the endpoint module from
        # any working directory
        "PYTHONPATH": os.pathsep.join(
            [str(REPO_ROOT), str(BENCH_DIR)]
            + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    tempfile.tempdir = str(tmp)
    for p in (str(REPO_ROOT), str(BENCH_DIR)):
        if p not in sys.path:
            sys.path.insert(0, p)
    return settings


def redirect_fixed_tmp_paths(work: Path) -> None:
    """Some entries keep caches and oracle exports under fixed ``/tmp/skr_*``
    paths. Rebase those paths into the work directory by wrapping the two
    helpers that create them (both are looked up at call time)."""
    from s3_kinesis_replay_spark.operators import similarity

    root = work / "fixed-tmp"

    def rebase(path: str) -> str:
        return str(root / path[len("/tmp/"):]) if path.startswith("/tmp/") else path

    build, publish = similarity.atomic_cached_build, similarity.publish_index_pointer
    similarity.atomic_cached_build = lambda cache_root, key, fn, marker: build(
        rebase(cache_root), key, fn, marker
    )
    similarity.publish_index_pointer = lambda index, pointer: publish(
        index, rebase(pointer)
    )
    return rebase


def start_spark(work: Path, app: str, event_log: Path | None = None):
    from s3_kinesis_replay_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # initial heap = maximum heap, so the heap does not grow in steps
        # whose timing varies from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{os.environ['SPARK_DRIVER_MEM']}"
        ),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=app, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_record(spark) -> dict:
    import duckdb
    import pyarrow

    return {
        "nproc": host_cpus(),
        "ram_gib": round(host_ram_bytes() / 2**30, 2),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Combined resident memory of ``root`` (the driver Python), its
    children (the JVM) and their descendants (the Python workers). The
    workers fork from one daemon and share its pages, so they count by PSS
    (shared pages split between sharers); the driver and the JVM count by
    RSS, which is cheap to read for a large heap."""
    kids, total, stack = _children(), 0, [(root, 0)]
    while stack:
        pid, depth = stack.pop()
        stack.extend((k, depth + 1) for k in kids.get(pid, ()))
        try:
            total += _rss(pid) if depth < 2 else _pss(pid)
        except (OSError, IndexError, ValueError):
            pass
    return total


class MemorySampler:
    """Samples the process tree's memory while ``active``; keeps the peak."""

    def __init__(self, period_s: float = 0.2):
        self.peak = 0
        self.active = False
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self._period):
            if self.active:
                self.peak = max(self.peak, tree_memory_bytes(os.getpid()))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

