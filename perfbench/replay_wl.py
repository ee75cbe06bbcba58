"""The replay workload: a generated Firehose-style archive drained through
``streaming.replay`` into the file-backed endpoint, on both publish paths,
with every delivered record checked against the sink's contract."""

from __future__ import annotations

import gzip
import json
import shutil
from datetime import datetime, timedelta, timezone
from pathlib import Path

import numpy as np

N_RECORDS = 100_000
RECORDS_PER_FILE = 500
N_KEYS = 1_000
ZIPF_S = 1.1
MISSING_KEY_SHARE = 0.02
FILES_PER_TRIGGER = 10
NUM_WRITERS = 8
# the warm-up drains: six micro-batches per path. The first drain in a
# session runs its first batches several times slower; after six, batch
# times have settled, and the timed drains spread less from run to run
# (5.0% against 12.2% for three warm-up batches)
WARMUP_RECORDS = 6 * FILES_PER_TRIGGER * RECORDS_PER_FILE
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


def generate_archive(root: Path, seed: int, n_records: int = N_RECORDS) -> list[dict]:
    """Write ``n_records`` EVENT_SCHEMA records as gzip NDJSON files of
    RECORDS_PER_FILE under ``dt=/hr=`` directories; returns the records.

    ``props`` is ``{"k": <key>}`` with keys Zipf-skewed over N_KEYS (key
    ``i`` has rank ``i``, so every seed puts the same hot keys on the same
    writers), and about MISSING_KEY_SHARE of records carry no ``k``."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
    keys = rng.choice(N_KEYS, size=n_records, p=weights / weights.sum()).tolist()
    missing = (rng.random(n_records) < MISSING_KEY_SHARE).tolist()
    user_ids = rng.integers(0, 15_000, n_records).tolist()
    types = rng.integers(0, len(EVENT_TYPES), n_records).tolist()
    values = np.round(rng.uniform(0.01, 490.0, n_records), 2).tolist()
    offsets_us = np.cumsum(rng.integers(1, 50_000_000, n_records)).tolist()
    records = []
    for i in range(n_records):
        ts = T0 + timedelta(microseconds=offsets_us[i])
        records.append(
            {
                "event_id": i,
                "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                "user_id": user_ids[i],
                "event_type": EVENT_TYPES[types[i]],
                "value": values[i],
                "props": '{"x": 1}' if missing[i] else f'{{"k": {keys[i]}}}',
                # what the sink must deliver: the partition key, and ts as
                # to_json renders it (millisecond precision)
                "_key": str(user_ids[i]) if missing[i] else str(keys[i]),
                "_ts_ms": ts.replace(microsecond=ts.microsecond // 1000 * 1000),
            }
        )
    fields = ("event_id", "ts", "user_id", "event_type", "value", "props")
    for start in range(0, n_records, RECORDS_PER_FILE):
        chunk = records[start : start + RECORDS_PER_FILE]
        ts = chunk[0]["ts"]
        d = root / f"dt={ts[:10]}" / f"hr={ts[11:13]}"
        d.mkdir(parents=True, exist_ok=True)
        body = "".join(
            json.dumps({f: r[f] for f in fields}, separators=(",", ":")) + "\n"
            for r in chunk
        )
        (d / f"part-{start // RECORDS_PER_FILE:05d}.json.gz").write_bytes(
            gzip.compress(body.encode(), mtime=0)
        )
    return records


def drain(spark, archive: Path, capture: Path, checkpoint: Path, distributed: bool,
          tracer=None):
    """One availableNow drain of ``archive``; returns the finished query."""
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    for d in (capture, checkpoint):
        shutil.rmtree(d, ignore_errors=True)
    capture.mkdir(parents=True)
    cfg = ReplayConfig(
        archive_root=str(archive),
        stream_name="perfbench",
        checkpoint_dir=str(checkpoint),
        max_files_per_trigger=FILES_PER_TRIGGER,
        num_writers=NUM_WRITERS,
    )
    q = run_replay(
        spark,
        cfg,
        "endpoint:file_endpoint",
        distributed=distributed,
        client_arg=str(capture),
    )
    if tracer is not None and tracer.enabled:
        with tracer.span("replay.await"):
            q.awaitTermination()
    else:
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"replay drain failed: {q.exception()}")
    return q


def read_capture(capture: Path) -> tuple[list[list[tuple[str, bytes]]], list[tuple]]:
    """Per-process record streams in arrival order, and all call rows
    ``(writer, n_records, start_ns, end_ns)``."""
    streams, calls = [], []
    for f in sorted(capture.glob("records-*.tsv")):
        streams.append(
            [tuple(line.split(b"\t", 1)) for line in f.read_bytes().splitlines()]
        )
    for f in sorted(capture.glob("calls-*.tsv")):
        for line in f.read_text().splitlines():
            w, n, t0, t1 = line.split("\t")
            calls.append((w, int(n), int(t0), int(t1)))
    return streams, calls


def _parse_ts(rendered):
    try:
        got = datetime.fromisoformat(rendered.replace("Z", "+00:00"))
    except (AttributeError, ValueError):
        return None
    return got if got.tzinfo else got.replace(tzinfo=timezone.utc)


def check_delivery(streams, records: list[dict]) -> dict:
    """Check the captured output against the sink's contract.

    Each record is a ``batch_id:seq|json`` envelope keyed by
    ``props.k`` (or ``str(user_id)`` when ``k`` is missing). Every
    generated event must arrive exactly once with the same field values,
    and ``seq`` must ascend within each ``(batch_id, partition_key)`` in
    arrival order. Returns counts; ``bad`` is the number of records that
    break the contract (missing ones included)."""
    seen = np.zeros(len(records), dtype=np.int32)
    inversions = mismatched = 0
    for stream in streams:
        last: dict[tuple[str, str], int] = {}
        for key_b, data in stream:
            key = key_b.decode()
            env, body = data.decode().split("|", 1)
            batch_id, seq_s = env.split(":")
            seq = int(seq_s)
            prev = last.get((batch_id, key))
            if prev is not None and seq <= prev:
                inversions += 1
            last[(batch_id, key)] = seq
            if not 0 <= seq < len(records):
                mismatched += 1
                continue
            seen[seq] += 1
            rec, got = records[seq], json.loads(body)
            if (
                key != rec["_key"]
                or got.get("event_id") != rec["event_id"]
                or got.get("user_id") != rec["user_id"]
                or got.get("event_type") != rec["event_type"]
                or got.get("value") != rec["value"]
                or got.get("props") != rec["props"]
                or _parse_ts(got.get("ts")) != rec["_ts_ms"]
            ):
                mismatched += 1
    missing = int((seen == 0).sum())
    dup = int((seen > 1).sum())
    bad = missing + dup + inversions + mismatched
    return {
        "delivered": int(seen.sum()),
        "missing": missing,
        "duplicated": dup,
        "inversions": inversions,
        "mismatched": mismatched,
        "bad": min(bad, len(records)),
    }


def progress_rows(query) -> list[dict]:
    rows = []
    for p in query.recentProgress:
        rows.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return rows


def drain_stats(progress: list[dict], calls: list[tuple], num_writers: int) -> dict:
    """Per-drain figures read from the query progress and the endpoint."""
    dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in progress)
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    per_writer: dict[str, int] = {}
    for w, n, _, _ in calls:
        per_writer[w] = per_writer.get(w, 0) + n
    sent = sum(n for _, n, _, _ in calls)
    writers = num_writers if "driver" not in per_writer else 1
    observed = {"n_records": 0, "n_key_fallback": 0}
    for p in progress:
        om = (p.get("observedMetrics") or {}).get("replay_metrics") or {}
        for k in observed:
            observed[k] += int(om.get(k) or 0)
    return {
        "batches": len(batches),
        "trigger_ms": [p["durationMs"]["triggerExecution"] for p in batches],
        "input_rows": sum(p.get("numInputRows", 0) for p in progress),
        "latest_offset_ms": dur("latestOffset"),
        "get_batch_ms": dur("getBatch"),
        "query_planning_ms": dur("queryPlanning"),
        "wal_commit_ms": dur("walCommit"),
        "commit_offsets_ms": dur("commitOffsets"),
        "add_batch_ms": dur("addBatch"),
        "put_calls": len(calls),
        "records_sent": sent,
        "put_busy_ms": sum(t1 - t0 for _, _, t0, t1 in calls) / 1e6,
        "writer_skew": (max(per_writer.values()) / (sent / writers)) if sent else 0.0,
        "observed_records": observed["n_records"],
        "key_fallbacks": observed["n_key_fallback"],
    }
