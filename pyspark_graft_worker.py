"""Python worker entry module for the engine's Spark sessions.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). On Python 3.10 and 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read
its archive's central directory at once. A reused worker holds 14-16 of
them over ``pyspark.zip`` and the spark-core jar, so each task paid
150-205 ms before it ran any code (4-core host, ``local[4]``).

This module makes that call re-read an archive only when its
``(st_mtime_ns, st_size)`` changed since the last read, and then runs
``pyspark.worker`` unchanged. Directory finders are invalidated as before,
and a zip shipped with ``addPyFile`` is read on first sight and whenever it
changes. Python 3.12 made the re-read lazy, and zipimporter had no
``invalidate_caches`` before 3.10, so there the module patches nothing.

``session.get_spark`` selects it with ``spark.python.worker.module``.
``pyspark/daemon.py`` honours only module names that start with
``pyspark``, which is why this file sits at top level beside the package.
"""

from __future__ import annotations

import os
import sys
import zipimport

# the method being replaced; zipimporter has none before Python 3.10
_reread = getattr(zipimport.zipimporter, "invalidate_caches", None)
# archive path -> (st_mtime_ns, st_size) taken just before its last re-read
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    # stat before reading: a change that lands during the read leaves a
    # stale stamp, so the next call reads again
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    if stamp is not None and _read_stamps.get(self.archive) == stamp:
        # unchanged since this or another importer of the archive read it
        self._files = zipimport._zip_directory_cache.get(self.archive, {})
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` where it re-reads eagerly."""
    if (3, 10) <= sys.version_info[:2] < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main(infile, outfile) -> None:
    """What ``pyspark.daemon`` calls in each forked worker, once per task."""
    install()
    worker_main(infile, outfile)


if __name__ == "__main__":
    # spark.python.use.daemon=false: Spark runs ``python -m <module>``
    import runpy

    install()
    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    # imported by the daemon before it forks, so workers share the import
    from pyspark.worker import main as worker_main
