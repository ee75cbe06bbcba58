#!/usr/bin/env python
"""Rebuild ``s3_kinesis_replay_spark/jvm/spark-graft-localfs.jar`` from the
Java source beside it.

The classes are compiled with ``javac --release 17`` against the installed
pyspark's ``hadoop-client-api`` and ``spark-sql`` jars; nothing is
downloaded. The jar is written with sorted, stored (uncompressed) entries
and a fixed timestamp, so the same source and javac give the same bytes.
``session.get_spark`` puts the jar on the class path; nothing is compiled
when a session starts. Run with
  python tools/build_local_fs_jar.py
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
JVM_DIR = REPO / "s3_kinesis_replay_spark" / "jvm"
SRC_DIR = JVM_DIR / "src"
JAR = JVM_DIR / "spark-graft-localfs.jar"
ZIP_TIME = (1980, 1, 1, 0, 0, 0)


def compile_classpath() -> str:
    import pyspark

    jars = Path(pyspark.__file__).parent / "jars"
    found = []
    for pattern in ("hadoop-client-api-*.jar", "spark-sql_*.jar"):
        hits = sorted(jars.glob(pattern))
        if not hits:
            raise FileNotFoundError(f"no {pattern} under {jars}")
        found.append(str(hits[0]))
    return ":".join(found)


def compile_classes(out_dir: Path) -> dict[str, bytes]:
    """Compile every source under ``SRC_DIR`` into ``out_dir``; return the
    class files as {jar entry name: bytes}."""
    sources = sorted(str(p) for p in SRC_DIR.rglob("*.java"))
    subprocess.run(
        ["javac", "--release", "17", "-encoding", "UTF-8",
         "-cp", compile_classpath(), "-d", str(out_dir), *sources],
        check=True,
    )
    return {
        p.relative_to(out_dir).as_posix(): p.read_bytes()
        for p in sorted(out_dir.rglob("*.class"))
    }


def write_jar(classes: dict[str, bytes], jar: Path) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for name in sorted(classes):
            z.writestr(zipfile.ZipInfo(name, ZIP_TIME), classes[name])


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(Path(tmp))
    write_jar(classes, JAR)
    print(f"{JAR.relative_to(REPO)}: {len(classes)} classes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
