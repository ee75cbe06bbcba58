"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100 TB design point (SURVEY.md §4):

* AQE on — runtime join-strategy switching, skew-join splitting, and
  post-shuffle partition coalescing replace hand-tuned partition counts.
* Arrow on — every pandas/NumPy exchange (Pandas UDFs, ``applyInPandas``,
  ``toPandas``) moves columnar batches instead of pickled rows.
* UTC session timezone — fixtures are wall-clock-naive; pinning UTC keeps
  timestamp semantics identical to the DuckDB oracle.
* RocksDB state store — streaming state (dedup, windows, custom state)
  spills off-heap and scales past executor memory.
* Python workers start through ``pyspark_graft_worker`` (top level, beside
  this package). On Python 3.10 and 3.11 every task's
  ``importlib.invalidate_caches()`` re-read pyspark.zip and the spark-core
  jar, about 200 ms per task; the module re-reads an archive only when it
  changed. On other Python versions it runs ``pyspark.worker`` unpatched.
  Executors need the module beside the package, as they need the package.

On a real cluster only ``master`` changes; everything else holds.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# pyspark/daemon.py ignores worker modules whose name does not start with
# "pyspark"; the daemon imports it from the workers' PYTHONPATH
WORKER_MODULE = "pyspark_graft_worker"
WORKER_MODULE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "s3-kinesis-replay-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local test mode: ``local[$SPARK_GRAFT_CPUS]`` single-JVM. The configs
    below are cluster-safe; none are local-mode hacks.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p
        for p in (conf.get("spark.executorEnv.PYTHONPATH"), WORKER_MODULE_DIR)
        if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Catalyst / AQE ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for all Python exchanges ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- deterministic timestamp semantics (match DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- parquet scan: vectorized + pushdown (defaults, pinned) ---
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # nanosecond parquet timestamps (events.ts): Spark has no ns type —
        # read as long, catalog converts ns→µs with integer division
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- streaming state store: RocksDB scales past heap ---
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # local driver has the full 128 GiB box; harmless on a cluster
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.worker.module", WORKER_MODULE)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
