"""S3-style archive staging, listing, and reading (SURVEY §2.A2–A6).

The reference replays Firehose archives: gzipped newline-delimited JSON
objects under time-encoded key paths (``prefix/YYYY/MM/DD/HH/...``), with
key-prefix/range filtering as the only source predicate. Here:

* ``stage_archive`` derives that layout deterministically from the
  ``events`` fixture (FIXTURES.md "Streaming-archive derivation"):
  sort by event_id, chunk into fixed-size files, path each chunk by its
  min-ts as ``dt=YYYY-MM-DD/hr=HH/part-<chunk>.json.gz``. Chunking is
  ``event_id div chunk_rows`` so a SQL oracle can re-derive file-level
  facts from the parquet alone.
* Readers use Spark's file source: partition-dir pruning (``dt=`` is a
  real partition column), ``pathGlobFilter`` for key-range filtering,
  transparent gzip by extension, and ``maxFilesPerTrigger`` pacing for
  the streaming replay driver.

Serialization is lossless: doubles via ``repr`` (shortest round-trip),
timestamps as ISO-8601 microseconds — re-read values are bit-identical.

At 100 TB the stager is irrelevant (archives already exist); readers
scale because listing/pruning is pushed to the file index and each file
is one input split (gzip is non-splittable — replay parallelism = file
count, matching the reference's object-level parallelism).
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
from pathlib import Path

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
DEFAULT_CHUNK_ROWS = 500


def _archive_root(sf_dir: str, chunk_rows: int, gz: bool) -> Path:
    key = hashlib.sha256(f"{sf_dir}|{chunk_rows}|{gz}|v1".encode()).hexdigest()[:16]
    return Path(os.environ.get("SKR_ARCHIVE_DIR", "/tmp/skr_archive")) / key


def _stage_atomic(root: Path, write) -> str:
    """Idempotent + ATOMIC staging shared by every stager (review r8 —
    the previous check-marker-then-write-in-place pattern let a
    concurrent stager truncate files a reader had already been handed):
    build the ENTIRE tree in a sibling temp dir via ``write(tmp_dir)``
    (the ``_STAGED`` marker written last, inside the temp tree), then
    ``os.rename`` into place. Concurrent stagers race benignly — the
    first rename wins, losers verify the winner's marker and discard;
    readers can only ever observe a complete tree."""
    import shutil
    import tempfile

    marker = root / "_STAGED"
    if marker.exists():
        return str(root)
    root.parent.mkdir(parents=True, exist_ok=True)
    tmp = Path(
        tempfile.mkdtemp(prefix=root.name + ".build-", dir=root.parent)
    )
    try:
        write(tmp)
        (tmp / "_STAGED").touch()
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, root)
    except OSError:
        if not marker.exists():
            raise
        shutil.rmtree(tmp, ignore_errors=True)
    return str(root)


def _write_ndjson_chunks(
    out_dir_for_chunk, rows, chunk_rows: int, id_key: str, to_obj, gz: bool
) -> None:
    """Deterministic chunked-NDJSON writer shared by the stagers: sort by
    ``id_key``, chunk by ``id div chunk_rows``, gzip with mtime=0 so the
    bytes are stable across stagings."""
    rows.sort(key=lambda r: r[id_key])
    for start in range(0, len(rows), chunk_rows):
        chunk = rows[start : start + chunk_rows]
        chunk_id = chunk[0][id_key] // chunk_rows
        d = out_dir_for_chunk(chunk)
        d.mkdir(parents=True, exist_ok=True)
        name = f"part-{chunk_id:05d}.json" + (".gz" if gz else "")
        lines = [json.dumps(to_obj(r), separators=(",", ":")) for r in chunk]
        payload = ("\n".join(lines) + "\n").encode()
        target = d / name
        if gz:
            with open(target, "wb") as f:
                f.write(gzip.compress(payload, mtime=0))
        else:
            target.write_bytes(payload)


def stage_archive(
    sf_dir: str, chunk_rows: int = DEFAULT_CHUNK_ROWS, gz: bool = True
) -> str:
    """Deterministically derive the events archive; idempotent + atomic."""
    root = _archive_root(sf_dir, chunk_rows, gz)

    def write(tmp: Path) -> None:
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        rows = tbl.to_pylist()

        def chunk_dir(chunk):
            min_ts = min(r["ts"] for r in chunk)
            return (
                tmp
                / f"dt={min_ts.strftime('%Y-%m-%d')}"
                / f"hr={min_ts.strftime('%H')}"
            )

        def to_obj(r):
            # microsecond ISO timestamps; repr doubles → lossless
            return {
                "event_id": r["event_id"],
                "ts": r["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f"),
                "user_id": r["user_id"],
                "event_type": r["event_type"],
                "value": r["value"],
                "props": r["props"],
            }

        _write_ndjson_chunks(chunk_dir, rows, chunk_rows, "event_id", to_obj, gz)

    return _stage_atomic(root, write)


def read_archive(
    spark: SparkSession,
    root: str,
    glob: str | None = None,
    with_partitions: bool = False,
) -> DataFrame:
    """Batch-read an archive (A2/A4/A5). ``glob`` applies pathGlobFilter
    (the reference's key-prefix/range predicate); partition dirs dt=/hr=
    become prunable columns when requested."""
    reader = (
        spark.read.schema(EVENT_SCHEMA)
        .option("timestampFormat", TS_FMT)
        .option("recursiveFileLookup", "false")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.json(f"{root}")
    if not with_partitions:
        df = df.select(*[f.name for f in EVENT_SCHEMA.fields])
    return df


def stream_archive(
    spark: SparkSession,
    root: str,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
    dt_start: str | None = None,
    dt_end: str | None = None,
) -> DataFrame:
    """Streaming replay source (A6/A9): incrementally consume archive files
    in key order, paced by maxFilesPerTrigger.

    ``glob`` (leaf-file pathGlobFilter) and ``dt_start``/``dt_end``
    (inclusive bounds on the ``dt=`` partition dir) are the reference
    CLI's key-prefix/key-range predicates: both prune at the FILE INDEX.
    pathGlobFilter is applied by the source's listing; the dt range is
    turned into a brace-glob source path over exactly the in-range dt=
    dirs (review r8: a post-source .where() cannot reach
    FileStreamSource's listing, so every excluded file still consumed a
    maxFilesPerTrigger slot — with a 100 TB archive and a one-hour
    window the query would grind through the whole archive emitting
    empty micro-batches). Excluded objects are now never listed, never
    tracked, never opened. A residual dt predicate stays on the stream
    as defense in depth (it also covers an empty window)."""
    reader = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("timestampFormat", TS_FMT)
        .option("latestFirst", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    path = root
    if dt_start is not None or dt_end is not None:
        # list through the session's Hadoop FileSystem, so a URI root
        # (file:, s3a:, any bound scheme) resolves as Spark resolves it
        hroot = spark._jvm.org.apache.hadoop.fs.Path(root)
        fs = hroot.getFileSystem(
            spark._jsparkSession.sessionState().newHadoopConf()
        )
        dts = sorted(
            st.getPath().getName()[3:]
            for st in fs.listStatus(hroot)
            if st.isDirectory() and st.getPath().getName().startswith("dt=")
        )
        sel = [
            d
            for d in dts
            if (dt_start is None or d >= dt_start)
            and (dt_end is None or d <= dt_end)
        ]
        if sel:
            # Hadoop brace glob over the in-range partition dirs; basePath
            # keeps dt=/hr= parsing as partition columns
            path = f"{root}/{{{','.join('dt=' + d for d in sel)}}}"
            reader = reader.option("basePath", root)
    df = reader.json(path)
    # residual predicate (and the only filter when the window is empty)
    if dt_start is not None:
        df = df.where(F.col("dt") >= dt_start)
    if dt_end is not None:
        df = df.where(F.col("dt") <= dt_end)
    return df.select(*[f.name for f in EVENT_SCHEMA.fields])


def stage_csv_table(sf_dir: str, name: str = "part") -> str:
    """Stage a fixture table as headered CSV (A3); deterministic, atomic,
    RFC-4180-quoted (review r8: raw str() writing shifted any cell that
    contained a comma/quote/newline and rendered NULL as 'None')."""
    import csv

    root = Path(os.environ.get("SKR_ARCHIVE_DIR", "/tmp/skr_archive")) / (
        "csv_" + hashlib.sha256(f"{sf_dir}|{name}|v1".encode()).hexdigest()[:16]
    )

    def write(tmp: Path) -> None:
        tbl = pq.read_table(f"{sf_dir}/{name}.parquet")
        rows = tbl.to_pylist()
        cols = tbl.column_names
        with open(tmp / f"{name}.csv", "w", newline="") as f:
            wr = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
            wr.writerow(cols)
            for r in rows:
                wr.writerow(
                    [
                        ""
                        if r[c] is None
                        else (repr(r[c]) if isinstance(r[c], float) else r[c])
                        for c in cols
                    ]
                )

    return _stage_atomic(root, write)


DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

DOC_CHUNK_ROWS = 100


def stage_doc_archive(sf_dir: str, chunk_rows: int = DOC_CHUNK_ROWS) -> str:
    """Deterministically derive a gzipped-NDJSON crawl archive from the
    ``documents`` fixture — the document-corpus twin of ``stage_archive``:
    sort by doc_id, chunk ``doc_id div chunk_rows``, one ``part-N.json.gz``
    per chunk. This is the shape a crawl delivery (Firehose to S3) leaves
    behind, and the input p18's replay-to-training-pipeline composite
    streams from. Idempotent + atomic; gzip mtime=0 for stable bytes."""
    root = Path(os.environ.get("SKR_ARCHIVE_DIR", "/tmp/skr_archive")) / (
        "docs_" + hashlib.sha256(f"{sf_dir}|{chunk_rows}|v1".encode()).hexdigest()[:16]
    )

    def write(tmp: Path) -> None:
        tbl = pq.read_table(f"{sf_dir}/documents.parquet")
        _write_ndjson_chunks(
            lambda chunk: tmp,
            tbl.to_pylist(),
            chunk_rows,
            "doc_id",
            lambda r: {
                k: r[k] for k in ("doc_id", "text", "lang", "source", "n_chars")
            },
            gz=True,
        )

    return _stage_atomic(root, write)


def pace_per_trigger(
    root: str, target_batches: int = 5, floor: int = 1
) -> int:
    """maxFilesPerTrigger draining a staged archive in ~``target_batches``
    micro-batches at ANY scale factor — ONE pacing policy (review r8:
    two divergent inline copies existed, and one's floor of 2 collapsed
    tiny archives into the single-batch run it claimed to prevent).
    Counts ``part-*`` files recursively (events archives nest dt=/hr=)."""
    n_files = sum(
        1
        for _dir, _sub, files in os.walk(root)
        for f in files
        if f.startswith("part-")
    )
    return max(floor, -(-n_files // target_batches))


def stream_doc_archive(
    spark: SparkSession, root: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming source over a staged document archive (paced like
    ``stream_archive``); when ``max_files_per_trigger`` is None it is
    sized to the archive (~4 micro-batches at any SF) so the replay is
    never a degenerate single-batch run."""
    if max_files_per_trigger is None:
        max_files_per_trigger = pace_per_trigger(root, target_batches=4)
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("latestFirst", "false")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(root)
        .select(*[f.name for f in DOC_SCHEMA.fields])
    )
