"""The Python worker entry module ``pyspark_graft_worker``: an archive on
the import path is re-read only when it changed, and the engine's sessions
actually start their workers through the module.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest

from s3_kinesis_replay_spark.session import WORKER_MODULE, WORKER_MODULE_DIR

REPO = Path(__file__).resolve().parent.parent
PATCHED = "_invalidate_caches"
EAGER_ZIPIMPORT = (3, 10) <= sys.version_info[:2] < (3, 12)


def run_python(script: str, *args: str, cwd: Path) -> str:
    """Run ``script`` in a fresh interpreter, so the global zipimport state
    and the JVM of the session under test stay out of this process."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), str(REPO), *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc.stdout


@pytest.mark.skipif(not EAGER_ZIPIMPORT, reason="patch applies to Python 3.10/3.11")
def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path):
    out = run_python(
        """
        import importlib, sys, zipfile, zipimport
        from pathlib import Path

        sys.path.insert(0, sys.argv[1])
        import pyspark_graft_worker

        pyspark_graft_worker.install()

        tmp = Path(sys.argv[2])
        archive = str(tmp / "mods.zip")

        def write_zip(names):
            with zipfile.ZipFile(archive, "w") as z:
                z.writestr("zpkg/__init__.py", "")
                for n in names:
                    z.writestr(f"zpkg/{n}.py", f"NAME = {n!r}\\n")

        write_zip(["first"])
        sys.path.insert(0, archive)
        import zpkg.first  # importers for the archive and for zpkg/ inside it

        assert zipimport.zipimporter.invalidate_caches.__qualname__ == sys.argv[3]
        importlib.invalidate_caches()  # first sight: read once, stamped

        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [], reads

        write_zip(["first", "second"])
        importlib.invalidate_caches()
        assert reads == [archive], reads  # once for both importers
        import zpkg.second
        assert zpkg.second.NAME == "second"

        # directory finders are still invalidated
        plain = tmp / "plain"
        plain.mkdir()
        sys.path.insert(0, str(plain))
        try:
            import late_module  # noqa: F401
        except ImportError:
            pass
        (plain / "late_module.py").write_text("NAME = 'late'\\n")
        importlib.invalidate_caches()
        import late_module
        assert late_module.NAME == "late"
        print("ok")
        """,
        str(tmp_path),
        PATCHED,
        cwd=tmp_path,
    )
    assert out.strip() == "ok"


@pytest.mark.parametrize("version", [(3, 9, 18), (3, 12, 0), (3, 13, 1)])
def test_no_patch_outside_eager_python_versions(monkeypatch, version):
    import zipimport

    import pyspark_graft_worker

    before = zipimport.zipimporter.invalidate_caches
    # restored at teardown even if install() wrongly patched it
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", before)
    monkeypatch.setattr(sys, "version_info", version)
    pyspark_graft_worker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_configured_worker_module_is_honoured_by_the_daemon(spark):
    # pyspark/daemon.py silently falls back to pyspark.worker for any
    # module name that does not start with "pyspark"
    module = spark.conf.get("spark.python.worker.module")
    assert module == WORKER_MODULE
    assert module.startswith("pyspark")
    assert (Path(WORKER_MODULE_DIR) / f"{module}.py").is_file()
    assert WORKER_MODULE_DIR in spark.conf.get("spark.executorEnv.PYTHONPATH").split(
        os.pathsep
    )


def test_workers_run_the_patched_invalidate_caches(spark, tmp_path):
    shipped = tmp_path / "graft_shipped.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("graft_shipped_mod.py", "NAME = 'shipped'\n")
    spark.sparkContext.addPyFile(str(shipped))

    def report(batches):
        import sys
        import zipimport

        import graft_shipped_mod
        import pyarrow as pa

        for _ in batches:
            pass
        fn = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict(
            {
                "patched": [fn.__qualname__ == PATCHED],
                "eager": [(3, 10) <= sys.version_info[:2] < (3, 12)],
                "loaded": [WORKER_MODULE in sys.modules],
                "shipped": [graft_shipped_mod.NAME],
            }
        )

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInArrow(
            report, "patched boolean, eager boolean, loaded boolean, shipped string"
        )
        .collect()
    )
    assert len(rows) == 4
    assert all(r.loaded and r.patched == r.eager for r in rows), rows
    assert {r.shipped for r in rows} == {"shipped"}


def test_non_daemon_workers_run_pyspark_worker_through_the_module(tmp_path):
    # spark.python.use.daemon=false runs ``python -m <worker module>``;
    # the cwd is foreign, so the module is found via get_spark's PYTHONPATH
    out = run_python(
        """
        import json, sys

        sys.path.insert(0, sys.argv[1])
        from s3_kinesis_replay_spark.session import get_spark

        spark = get_spark(
            app_name="skr-no-daemon",
            master="local[1]",
            extra_conf={
                "spark.python.use.daemon": "false",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")

        def probe(x):
            import zipimport

            main = sys.modules["__main__"]
            return (
                x * 2,
                getattr(main.__spec__, "name", None),
                zipimport.zipimporter.invalidate_caches.__qualname__,
            )

        print(json.dumps(spark.sparkContext.parallelize([1, 2], 1).map(probe).collect()))
        spark.stop()
        """,
        cwd=tmp_path,
    )
    rows = json.loads(out.strip().splitlines()[-1])
    assert [r[0] for r in rows] == [2, 4]
    for _, main_name, fn in rows:
        assert main_name == "pyspark.worker"
        assert fn == (PATCHED if EAGER_ZIPIMPORT else "zipimporter.invalidate_caches")
