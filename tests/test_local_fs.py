"""The in-process local filesystem and checkpoint manager that
``session.get_spark`` binds (``jvm/spark-graft-localfs.jar``): same mode
bits and ``.crc`` siblings as Hadoop's own local filesystem, Spark's
FileSystem-based checkpoint manager for ``file:`` checkpoints and Spark's
default for every other scheme, and a jar that its committed source
rebuilds byte for byte.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from s3_kinesis_replay_spark.session import (
    CHECKPOINT_MANAGER_CLASS,
    LOCAL_FS_CLASS,
    LOCAL_FS_JAR,
)

REPO = Path(__file__).resolve().parent.parent
CKPT_PKG = "org.apache.spark.sql.execution.streaming.checkpointing."


def _jvm_fs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    graft = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    return jvm, graft, stock


def _mode(path: Path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_file_scheme_resolves_to_nio_local_fs(spark):
    _, graft, _ = _jvm_fs(spark)
    assert graft.getClass().getName() == LOCAL_FS_CLASS
    assert (
        graft.getRaw().getClass().getName()
        == "org.sparkgraft.localfs.NioRawLocalFileSystem"
    )


def test_mode_bits_match_stock_raw_local_fs(spark, tmp_path):
    jvm, graft, stock = _jvm_fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = {}
    for name, fs in (("graft", graft.getRaw()), ("stock", stock)):
        root = tmp_path / name

        def P(rel: str, root=root):
            return jvm.org.apache.hadoop.fs.Path(str(root / rel))

        fs.mkdirs(P("a/b/c"))
        fs.mkdirs(P("d"), perm("750"))
        fs.create(P("a/b/c/f")).close()
        fs.create(P("g")).close()
        fs.setPermission(P("g"), perm("600"))
        fs.mkdirs(P("s"))
        # sticky bit: no POSIX permission set, taken by Hadoop's own path
        fs.setPermission(P("s"), perm("1777"))
        modes[name] = {
            rel: _mode(root / rel)
            for rel in ("a", "a/b", "a/b/c", "d", "a/b/c/f", "g", "s")
        }
    assert modes["graft"] == modes["stock"]
    assert modes["graft"]["g"] == 0o600
    assert modes["graft"]["s"] & stat.S_ISVTX


def test_set_permission_on_missing_path_names_it(spark, tmp_path):
    jvm, graft, _ = _jvm_fs(spark)
    missing = str(tmp_path / "no-such-file")
    with pytest.raises(Py4JJavaError) as e:
        graft.getRaw().setPermission(
            jvm.org.apache.hadoop.fs.Path(missing),
            jvm.org.apache.hadoop.fs.permission.FsPermission("644"),
        )
    err = e.value.java_exception
    assert jvm.java.lang.Class.forName("java.io.IOException").isInstance(err)
    assert missing in err.getMessage()


def test_partitioned_parquet_write_keeps_crc_and_reads_back(spark, tmp_path):
    from pyspark.sql import functions as F

    df = spark.range(0, 700, 1, 4).withColumn("p", (F.col("id") % 7).cast("int"))
    out = tmp_path / "parted"
    df.write.partitionBy("p").parquet(str(out))
    parts = sorted(d for d in os.listdir(out) if d.startswith("p="))
    assert parts == [f"p={i}" for i in range(7)]
    for d in parts:
        names = os.listdir(out / d)
        data = [n for n in names if n.startswith("part-")]
        assert data and all(f".{n}.crc" in names for n in data)
    back = spark.read.parquet(str(out)).select("id", "p")
    assert sorted(back.collect()) == sorted(df.collect())


def _create(spark, path: str, conf=None):
    jvm = spark._jvm
    conf = conf or spark._jsparkSession.sessionState().newHadoopConf()
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), conf
    )


@pytest.mark.parametrize("form", ["bare", "file"])
def test_local_checkpoint_uses_filesystem_manager(spark, tmp_path, form):
    path = str(tmp_path / "ckpt")
    m = _create(spark, path if form == "bare" else f"file:{path}")
    assert m.getClass().getName() == CHECKPOINT_MANAGER_CLASS
    assert m.delegate().getClass().getName() == CKPT_PKG + "FileSystemBasedCheckpointFileManager"


def test_other_scheme_keeps_spark_default_manager(spark, tmp_path):
    """A scheme bound only in this conf (Hadoop's LocalFs serves any URI)
    gets the class Spark's ``create`` returns with the manager key unset:
    the FileContext-based manager, not the FileSystem-based one."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    conf.set("fs.AbstractFileSystem.graftlocal.impl", "org.apache.hadoop.fs.local.LocalFs")
    conf.set("fs.graftlocal.impl", "org.apache.hadoop.fs.LocalFileSystem")
    path = f"graftlocal://{tmp_path}/ckpt"
    ours = _create(spark, path, conf)
    assert ours.getClass().getName() == CHECKPOINT_MANAGER_CLASS

    unset = jvm.org.apache.hadoop.conf.Configuration(conf)
    unset.unset("spark.sql.streaming.checkpointFileManagerClass")
    stock = _create(spark, path, unset)
    assert stock.getClass().getName() == CKPT_PKG + "FileContextBasedCheckpointFileManager"
    assert ours.delegate().getClass().getName() == stock.getClass().getName()


def _load_build_tool():
    spec = importlib.util.spec_from_file_location(
        "build_local_fs_jar", REPO / "tools" / "build_local_fs_jar.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_jar_matches_committed_source(tmp_path):
    build = _load_build_tool()
    assert Path(LOCAL_FS_JAR) == build.JAR
    classes = build.compile_classes(tmp_path)
    with zipfile.ZipFile(LOCAL_FS_JAR) as z:
        jar = {n: z.read(n) for n in z.namelist()}
    assert sorted(jar) == sorted(classes)
    for name, data in classes.items():
        assert jar[name] == data, f"{name} differs from the committed source"


def test_jvm_started_elsewhere_keeps_stock_classes(tmp_path):
    """A JVM launched by a session built without ``get_spark`` has no jar
    on its class path; ``get_spark`` then binds neither class, so
    checkpoints and files still work with Spark's and Hadoop's own."""
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        from pyspark.sql import SparkSession
        plain = SparkSession.builder.master("local[1]").getOrCreate()
        from s3_kinesis_replay_spark.session import get_spark
        spark = get_spark(master="local[1]")
        jvm = spark._jvm
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing
        m = cfm.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(sys.argv[2]), conf
        )
        fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
        print(m.getClass().getSimpleName(), fs.getClass().getName())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEM", "1g")
    proc = subprocess.run(
        [sys.executable, "-c", script, str(REPO), str(tmp_path / "ckpt")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    manager, fs_class = proc.stdout.split()
    assert manager == "FileContextBasedCheckpointFileManager"
    assert fs_class != LOCAL_FS_CLASS
