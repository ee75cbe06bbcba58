#!/usr/bin/env python
"""Processes the driver JVM starts per local-filesystem operation, read
from JFR, with Hadoop's stock local filesystem and checkpoint manager and
with the in-process ones ``session.get_spark`` selects (see its
docstring).

Each variant runs in its own subprocess and SparkSession from
``session.get_spark``, with a JFR recording of ``jdk.ProcessStart`` only,
started through ``spark.driver.extraJavaOptions``. The "stock" variant
sets ``spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem``
and the FileContext-based checkpoint manager, which is what Spark's
``CheckpointFileManager.create`` returns for a ``file:`` path when no
manager class is set. After one warm-up of each, every operation runs
``RUNS`` times:

1. checkpoint commit: one trigger of an ``availableNow`` drain of a text
   source, one small file per trigger, into the noop sink (the offset,
   source and commit logs of one micro-batch);
2. parquet write: ``range(1000)`` in 4 partitions to a new directory;
3. 7-way ``partitionBy`` parquet write: the same rows, ``id % 7`` as the
   partition column (up to 28 files in 7 directories);
4. manifest commit: ``table_format.snapshot_write`` appending 1,000 rows
   to a table (data files plus manifest).

The JVM's clock brackets each operation; a process start counts for the
operation whose bracket holds its start time. The report gives, per
operation and variant, process starts per operation by command name and
the median milliseconds per operation. Run with
  python tools/scale_local_fs_forks.py [local-master]
"""

from __future__ import annotations

import collections
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

RUNS = 10
TRIGGERS = RUNS + 1  # the first trigger is the warm-up
VARIANTS = {
    "stock": {
        "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager"
        ),
    },
    "in-process": {},
}
JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
  </event>
</configuration>
"""


def run_variant(name: str, master: str, work: Path) -> dict:
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format
    from s3_kinesis_replay_spark.session import get_spark

    jfc = work / "process_start.jfc"
    jfc.write_text(JFC)
    conf = dict(VARIANTS[name])
    conf.update(
        {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:StartFlightRecording=name=forks,settings={jfc}"
            ),
        }
    )
    spark = get_spark(app_name=f"local-fs-forks-{name}", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    brackets: dict[str, list[tuple[int, int]]] = collections.defaultdict(list)

    def timed(op: str, fn, warm: bool = False) -> None:
        t0 = jvm.System.currentTimeMillis()
        fn()
        t1 = jvm.System.currentTimeMillis()
        if not warm:
            brackets[op].append((t0, t1))

    # 1. checkpoint commits: bracket each trigger between progress events
    src = work / "text-src"
    src.mkdir()
    for i in range(TRIGGERS):
        (src / f"f{i:03d}.txt").write_text(f"line {i}\n")
    q = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(work / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    for p in q.recentProgress[1:]:
        end = jvm.java.time.Instant.parse(p["timestamp"]).toEpochMilli()
        brackets["checkpoint commit"].append((end, end + p["durationMs"]["triggerExecution"]))

    df = spark.range(0, 1000, 1, 4)
    parted = df.withColumn("p", F.col("id") % 7)
    table = str(work / "table")
    table_format.snapshot_write(spark, df, table, mode="overwrite")
    ops = {
        "parquet write": lambda i: df.write.parquet(str(work / f"plain-{i}")),
        "7-way partitionBy write": lambda i: parted.write.partitionBy("p").parquet(
            str(work / f"parted-{i}")
        ),
        "manifest commit": lambda i: table_format.snapshot_write(spark, df, table),
    }
    for op, fn in ops.items():
        timed(op, lambda: fn("warm"), warm=True)
        for i in range(RUNS):
            timed(op, lambda: fn(i))

    snap = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().takeSnapshot()
    dump = work / "forks.jfr"
    snap.dump(jvm.java.io.File(str(dump)).toPath())
    snap.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(
        jvm.java.io.File(str(dump)).toPath()
    )
    starts = []
    for e in events:
        if e.getEventType().getName() == "jdk.ProcessStart":
            command = os.path.basename(e.getString("command").split()[0])
            starts.append((e.getStartTime().toEpochMilli(), command))
    spark.stop()

    report = {}
    for op, spans in brackets.items():
        counts = collections.Counter(
            cmd for t, cmd in starts if any(t0 <= t <= t1 for t0, t1 in spans)
        )
        report[op] = {
            "ops": len(spans),
            "ms_per_op": round(statistics.median(t1 - t0 for t0, t1 in spans), 1),
            "starts_per_op": round(sum(counts.values()) / len(spans), 1),
            "by_command": {
                c: round(n / len(spans), 1) for c, n in sorted(counts.items())
            },
        }
    return report


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--variant":
        name, master = sys.argv[2], sys.argv[3]
        work = Path(tempfile.mkdtemp(prefix="local-fs-forks-"))
        try:
            print(json.dumps(run_variant(name, master, work)))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0
    master = sys.argv[1] if len(sys.argv) > 1 else "local[4]"
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    ))
    env.setdefault("SPARK_DRIVER_MEM", "2g")
    out = {}
    for name in VARIANTS:
        t0 = time.time()
        res = subprocess.run(
            [sys.executable, __file__, "--variant", name, master],
            env=env, capture_output=True, text=True,
        )
        if res.returncode:
            sys.stderr.write(res.stderr[-4000:])
            return res.returncode
        out[name] = json.loads(res.stdout.strip().splitlines()[-1])
        print(f"# {name}: {time.time() - t0:.0f} s", file=sys.stderr)
    print(f"{'operation':<26}{'variant':<12}{'ms/op':>8}{'starts/op':>11}  by command")
    for op in out["stock"]:
        for name in VARIANTS:
            r = out[name][op]
            cmds = ", ".join(f"{c} {n}" for c, n in r["by_command"].items()) or "-"
            print(f"{op:<26}{name:<12}{r['ms_per_op']:>8}{r['starts_per_op']:>11}  {cmds}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
