#!/usr/bin/env python
"""Per-task launch cost of a Python task, with and without the worker
entry module ``pyspark_graft_worker`` (see its docstring).

Each variant runs in its own subprocess and SparkSession from
``session.get_spark``. The "without" variant sets
``spark.python.worker.module=pyspark.worker``, which is PySpark's default.
After a warm-up that starts the daemon and every worker, each session
times 20 jobs of each kind and reports the median:

1. a 1-task Python job: ``parallelize([0], 1).map(...).collect()``;
2. a 1-task JVM job: ``range(0, 1, 1, 1).collect()``, no Python worker;
3. inside the Python task, one ``importlib.invalidate_caches()`` call,
   the call PySpark makes at the start of every task, and the number of
   zipimporters it refreshes.

The gap between (1) and (2) is what a Python task costs beyond a JVM
task. Run with
  python tools/scale_python_task_launch.py [local-master]
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

RUNS = 20
VARIANTS = {"with": {}, "without": {"spark.python.worker.module": "pyspark.worker"}}


def probe_task(_):
    import importlib
    import zipimport

    n_zip = sum(
        isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
    )
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    return (time.perf_counter() - t0) * 1e3, n_zip, os.getpid()


def timed_ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def child(variant: str, master: str) -> dict:
    from s3_kinesis_replay_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **VARIANTS[variant]}
    spark = get_spark(app_name=f"launch-{variant}", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).map(probe_task).collect()  # start every worker

    py_ms, jvm_ms, inv_ms, pids = [], [], [], set()
    n_zip = 0
    for _ in range(RUNS):
        out = []
        py_ms.append(
            timed_ms(lambda: out.extend(sc.parallelize([0], 1).map(probe_task).collect()))
        )
        jvm_ms.append(timed_ms(lambda: spark.range(0, 1, 1, 1).collect()))
        inv, n_zip, pid = out[0]
        inv_ms.append(inv)
        pids.add(pid)
    module = spark.conf.get("spark.python.worker.module")
    spark.stop()
    med = statistics.median
    return {
        "variant": variant,
        "worker_module": module,
        "python_task_job_ms": round(med(py_ms), 1),
        "jvm_task_job_ms": round(med(jvm_ms), 1),
        "invalidate_caches_ms": round(med(inv_ms), 2),
        "zipimporters": n_zip,
        "worker_pids": len(pids),
        "runs": RUNS,
    }


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--child":
        print(json.dumps(child(sys.argv[2], sys.argv[3])), flush=True)
        return
    master = sys.argv[1] if len(sys.argv) > 1 else None
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', os.cpu_count())}]"
    for variant in VARIANTS:
        out = subprocess.run(
            [sys.executable, __file__, "--child", variant, master],
            check=True,
            capture_output=True,
            text=True,
            cwd=REPO,
        ).stdout
        rec = json.loads(out.strip().splitlines()[-1])
        print(
            f"{variant:>8} module: {rec['worker_module']:<21}"
            f" 1-task Python job {rec['python_task_job_ms']:7.1f} ms"
            f"  1-task JVM job {rec['jvm_task_job_ms']:6.1f} ms"
            f"  invalidate_caches() {rec['invalidate_caches_ms']:7.2f} ms"
            f" over {rec['zipimporters']} zipimporters"
            f"  ({rec['runs']} runs, {rec['worker_pids']} worker pids, {master})"
        )


if __name__ == "__main__":
    main()
