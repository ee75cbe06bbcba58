"""Kinesis-style publish sink (SURVEY §2.A7, H8) — the reference's output.

The reference publishes ``(partition_key, data)`` records to AWS Kinesis
via PutRecords: ≤500 records and ≤5 MiB per call, ≤1 MiB per record,
retrying failed entries with backoff, at-least-once overall, ordered per
partition key within a shard.

Spark-first shape: ``writeStream.foreachBatch`` — each micro-batch is

1. tagged: every payload becomes the envelope ``"{batch_id}:{seq}|{data}"``;
2. sorted by ``(partition_key, seq)``, nulls first, into Arrow batches of
   ``(k, payload)``: on the distributed path by repartitioning so ONE task
   owns each partition key (single writer per key, mirroring Kinesis shard
   order — SURVEY §2.H8), on the driver path by one collect sorted in
   Arrow;
3. fed to :func:`publish_arrow`, the one publisher both paths share: it
   rejects a null key or a null envelope, builds the client only once
   there is a record, and chunks into PutRecords-shaped calls by count
   AND bytes;
4. published with bounded retries on partial failures (:func:`publish_batch`).

Delivery contract (at-least-once, ordered per key): for every partition
key, keeping the LAST copy of each ``batch_id:seq`` tag in arrival order
yields every record exactly once, in ascending ``seq``. A partly failed
call resends, for each key with a failed record, that key's records from
its first failure onward, so extra copies are exact duplicates carrying
the same tag — a downstream consumer can dedup on it. A micro-batch
replayed after checkpoint recovery re-sends the same tags.

The client is injected (boto3 kinesis, moto in tests, the in-memory
``CapturingClient`` or the directory-backed ``FileKinesisClient``) — the
sink logic is cloud-agnostic.

At scale: publish parallelism = number of post-repartition partitions;
no driver-side data movement on the distributed path; the 5 MiB/500-record
limits bound memory per call, and backpressure comes from micro-batch
pacing (A9).
"""

from __future__ import annotations

import base64
import itertools
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

MAX_RECORDS_PER_CALL = 500
MAX_BYTES_PER_CALL = 5 * 1024 * 1024
MAX_BYTES_PER_RECORD = 1024 * 1024


@dataclass
class PutRecordsBatcher:
    """Pure chunking logic: fold records into PutRecords-shaped calls.

    Records are (partition_key: str, data: bytes). Order-preserving.
    """

    max_records: int = MAX_RECORDS_PER_CALL
    max_bytes: int = MAX_BYTES_PER_CALL

    def batches(self, records):
        batch, size = [], 0
        for key, data in records:
            if key is None:
                raise ValueError(
                    "null partition key: both the JSON key path and the "
                    "fallback column were null for a record — Kinesis "
                    "PutRecords requires a non-empty PartitionKey"
                )
            rec_size = len(data) + len(key.encode())
            # a record must fit this instance's call budget, not only the
            # 1 MiB service limit
            if rec_size > min(MAX_BYTES_PER_RECORD, self.max_bytes):
                raise ValueError(
                    f"record for key {key!r} exceeds the per-call budget: "
                    f"{rec_size} > {min(MAX_BYTES_PER_RECORD, self.max_bytes)}"
                )
            if batch and (
                len(batch) >= self.max_records or size + rec_size > self.max_bytes
            ):
                yield batch
                batch, size = [], 0
            batch.append({"PartitionKey": key, "Data": data})
            size += rec_size
        if batch:
            yield batch


@dataclass
class CapturingClient:
    """In-memory PutRecords endpoint with injectable partial failures —
    used by tests to assert batching, retry, and per-key ordering."""

    # fail every Nth record, on odd-numbered calls only (0 = never): the
    # even-call success lets retry tests observe recovery, not exhaustion
    fail_every: int = 0
    calls: list = field(default_factory=list)
    records: list = field(default_factory=list)  # flattened successful puts
    _call_count: int = 0

    def put_records(self, StreamName: str, Records: list):
        self._call_count += 1
        results, failed = [], 0
        for i, rec in enumerate(Records):
            if self.fail_every and (i + 1) % self.fail_every == 0 and self._call_count % 2 == 1:
                results.append(
                    {"ErrorCode": "ProvisionedThroughputExceededException"}
                )
                failed += 1
            else:
                self.records.append((rec["PartitionKey"], rec["Data"]))
                results.append({"SequenceNumber": str(len(self.records))})
        self.calls.append(len(Records))
        return {"FailedRecordCount": failed, "Records": results}


class FileKinesisClient:
    """PutRecords endpoint backed by a directory: one JSON file per call,
    named ``<arrival-ns>-<worker>-<uuid>``. Arrival time is the shard-side
    sequence: tasks for the same key run serially (single writer per key,
    and micro-batch N commits before N+1 starts), so per-key order is
    reconstructable by sorting files on arrival. Executor workers build
    it through ``file_client_factory``."""

    def __init__(self, root: str) -> None:
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def put_records(self, StreamName: str, Records: list) -> dict:
        payload = [
            {
                "PartitionKey": r["PartitionKey"],
                "Data": base64.b64encode(r["Data"]).decode(),
            }
            for r in Records
        ]
        name = f"{time.time_ns():020d}-{os.getpid()}-{uuid.uuid4().hex[:8]}.json"
        tmp = self.root / (name + ".tmp")
        tmp.write_text(json.dumps({"stream": StreamName, "records": payload}))
        tmp.rename(self.root / name)  # atomic publish
        return {
            "FailedRecordCount": 0,
            "Records": [{"SequenceNumber": str(i)} for i in range(len(Records))],
        }


def file_client_factory(root: str) -> FileKinesisClient:
    return FileKinesisClient(root)


def read_captured(root: str) -> list[tuple[str, bytes, tuple[int, int]]]:
    """All captured (key, data, (arrival_ns, worker)) in arrival order."""
    out = []
    for f in sorted(Path(root).glob("*.json")):
        arrival, pid, _ = f.name.split("-", 2)
        doc = json.loads(f.read_text())
        for r in doc["records"]:
            out.append(
                (
                    r["PartitionKey"],
                    base64.b64decode(r["Data"]),
                    (int(arrival), int(pid)),
                )
            )
    return out


def publish_batch(
    client,
    stream_name: str,
    records,
    max_retries: int = 5,
    backoff_s: float = 0.05,
) -> int:
    """PutRecords with partial-failure retry; returns records published
    (each input record counted once, however often it was sent).

    When a call partly fails, each key with a failed record has its
    records resent from its first failure onward, in order, with
    exponential backoff — so a key never lands a later record for good
    before an earlier one (the module's delivery contract).
    """
    published = 0
    for batch in PutRecordsBatcher().batches(records):
        pending = batch
        for attempt in range(max_retries + 1):
            resp = client.put_records(StreamName=stream_name, Records=pending)
            if resp.get("FailedRecordCount", 0) == 0:
                pending = []
                break
            failed_keys = set()
            retry = []
            for rec, res in zip(pending, resp["Records"]):
                if "ErrorCode" in res:
                    failed_keys.add(rec["PartitionKey"])
                if rec["PartitionKey"] in failed_keys:
                    retry.append(rec)
            pending = retry
            if attempt < max_retries:  # no pointless sleep before raising
                time.sleep(backoff_s * (2**attempt))
        if pending:
            raise RuntimeError(
                f"{len(pending)} records still failing after {max_retries} retries"
            )
        published += len(batch)
    return published


def publish_arrow(client_factory, stream_name: str, batches) -> int:
    """The one publisher behind both ``foreachBatch`` paths.

    ``batches`` are Arrow record batches with columns ``k`` (partition
    key) and ``payload`` (the tagged envelope), already sorted by
    ``(k, seq)``. A null payload means a null seq or data. The client is
    built only once a record exists: ``num_writers`` can exceed the
    number of distinct keys, and building a real client has side effects.
    Returns the number of records published."""

    def records():
        for b in batches:
            # to_numpy hands out the str/None objects directly; to_pylist
            # builds an Arrow scalar per value and is several times slower
            ks = b.column("k").to_numpy(zero_copy_only=False)
            for k, p in zip(ks, b.column("payload").to_numpy(zero_copy_only=False)):
                if p is None:
                    raise ValueError(
                        f"null seq/data for partition key {k!r}: the "
                        "idempotency envelope requires non-null seq and data"
                    )
                yield k, p.encode()

    it = records()
    first = next(it, None)
    if first is None:
        return 0
    return publish_batch(client_factory(), stream_name, itertools.chain([first], it))


def _parse_factory_spec(spec: str) -> tuple[str, str]:
    if spec.count(":") != 1 or spec.startswith(":") or spec.endswith(":"):
        raise ValueError(
            f"client factory spec {spec!r} must be 'module:callable' "
            "(exactly one colon separating an importable module path "
            "from an attribute name)"
        )
    mod_name, fn_name = spec.split(":", 1)
    return mod_name, fn_name


def resolve_client_factory(spec, arg: str = ""):
    """Normalize a client factory: a callable passes through (called with
    ``arg`` when one is given); a ``"module:callable"`` string becomes a
    zero-arg factory that resolves the import LAZILY — inside whatever
    process calls it. Executor tasks therefore build their own client from
    the import path (only strings cross the pickle boundary), the same
    shape a boto3 deployment uses (factory reads env credentials in the
    worker)."""
    if callable(spec):
        return (lambda: spec(arg)) if arg else spec
    mod_name, fn_name = _parse_factory_spec(spec)

    def factory():
        import importlib

        fn = getattr(importlib.import_module(mod_name), fn_name)
        return fn(arg) if arg else fn()

    return factory


def validate_client_factory(spec: str) -> None:
    """Driver-side fail-fast for a ``module:callable`` spec: import the
    module and resolve the attribute WITHOUT calling it — constructing a
    real client here would produce an unwanted extra side-effectful
    client (network connection, consumer registration) before any
    publishing happens."""
    import importlib

    mod_name, fn_name = _parse_factory_spec(spec)
    fn = getattr(importlib.import_module(mod_name), fn_name, None)
    if not callable(fn):
        raise ValueError(
            f"client factory {spec!r} does not resolve to a callable"
        )


def kinesis_foreach_batch(
    client_factory,
    stream_name: str,
    key_col: str = "partition_key",
    data_col: str = "data",
    seq_col: str = "seq",
    num_writers: int = 8,
    distributed: bool = True,
    client_arg: str = "",
):
    """Build the foreachBatch function for writeStream (A7 + H8).

    Each writer publishes its keys' records in (key, seq) order; the
    idempotency tag (batch_id:seq) rides in the payload envelope.

    ``client_factory`` is a callable or an importable ``"module:callable"``
    path (resolved per-process via ``resolve_client_factory``; the path
    form is REQUIRED for distributed publishing with clients that can't
    be pickled — boto3, file-backed endpoints).

    ``distributed=True`` publishes from executor tasks (the factory runs
    inside each Python worker). ``distributed=False`` publishes from the
    driver over one collect sorted in Arrow — the testable path for
    in-process mock clients (moto/CapturingClient state lives in the
    driver process). Both feed the same sorted ``(k, payload)`` Arrow
    batches to :func:`publish_arrow`.
    """
    client_factory = resolve_client_factory(client_factory, client_arg)

    def fn(batch_df: DataFrame, batch_id: int):
        tagged = batch_df.select(
            F.col(key_col).cast("string").alias("k"),
            F.col(seq_col).cast("long").alias("s"),
            F.concat(
                F.lit(f"{batch_id}:"),
                F.col(seq_col).cast("string"),
                F.lit("|"),
                F.col(data_col).cast("string"),
            ).alias("payload"),
        )
        if distributed:
            # Only (k, payload) cross into Python; `s` orders the
            # partition in the JVM, and a partition's Arrow batches
            # arrive in that order.
            parts = (
                tagged.repartition(num_writers, "k")
                .sortWithinPartitions("k", "s")
                .select("k", "payload")
            )

            def publish_partition(batches):
                import pyarrow as pa

                n = publish_arrow(client_factory, stream_name, batches)
                yield pa.RecordBatch.from_pydict(
                    {"published": pa.array([n], type=pa.int64())}
                )

            # the noop sink forces every partition without collecting
            (
                parts.mapInArrow(publish_partition, "published long")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        else:
            # One collect, sorted locally: a global orderBy range-
            # partitions, and its sampling pass re-reads every file of
            # the micro-batch. Nulls first matches Spark's ascending sort.
            table = tagged.toArrow().sort_by(
                [("k", "ascending"), ("s", "ascending")], null_placement="at_start"
            )
            publish_arrow(
                client_factory, stream_name, table.select(["k", "payload"]).to_batches()
            )

    return fn
