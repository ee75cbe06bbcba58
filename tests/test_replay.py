"""Replay subsystem tests (SURVEY §2.A6/A7/A9/A10, H8) — the reference's
core behavior: archive → paced stream → batched publish, at-least-once,
per-key ordered, checkpoint-resumable.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.sources.archive import (
    stage_archive,
    stream_archive,
)
from s3_kinesis_replay_spark.streaming.kinesis_sink import (
    CapturingClient,
    PutRecordsBatcher,
    publish_batch,
)
from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay


# ---------------------------------------------------------------- batcher
def test_batcher_record_limit():
    b = PutRecordsBatcher(max_records=500)
    recs = [(f"k{i}", b"x" * 10) for i in range(1201)]
    batches = list(b.batches(recs))
    assert [len(x) for x in batches] == [500, 500, 201]


def test_batcher_byte_limit():
    b = PutRecordsBatcher(max_bytes=1000)
    recs = [("k", b"x" * 300) for _ in range(7)]  # 302 bytes each w/ key
    batches = list(b.batches(recs))
    assert all(
        sum(len(r["Data"]) + len(r["PartitionKey"]) for r in batch) <= 1000
        for batch in batches
    )
    assert sum(len(x) for x in batches) == 7


def test_batcher_oversized_record_rejected():
    b = PutRecordsBatcher()
    with pytest.raises(ValueError, match="per-call budget"):
        list(b.batches([("k", b"x" * (1024 * 1024 + 1))]))
    # an INSTANCE-configured smaller budget must also reject (review r8:
    # only the 1 MiB service constant was checked)
    small = PutRecordsBatcher(max_bytes=1024)
    with pytest.raises(ValueError, match="per-call budget"):
        list(small.batches([("k", b"x" * 2048)]))


def _assert_delivery_contract(sent, delivered):
    """The sink's at-least-once, per-key-ordered contract: every delivered
    record is an exact copy of a sent one, and keeping the LAST copy of
    each ``batch_id:seq`` tag in arrival order gives every sent record
    once, in ascending seq per key."""
    assert set(delivered) <= set(sent)
    last = {}
    for pos, (key, data) in enumerate(delivered):
        last[(key, data.split(b"|", 1)[0])] = pos
    kept = [delivered[pos] for pos in sorted(last.values())]
    assert sorted(kept) == sorted(sent)
    per_key: dict = {}
    for key, data in kept:
        per_key.setdefault(key, []).append(int(data.split(b"|", 1)[0].split(b":")[1]))
    for key, seqs in per_key.items():
        assert seqs == sorted(seqs), f"key {key} out of order: {seqs}"


def test_publish_retries_partial_failures():
    client = CapturingClient(fail_every=3)  # every 3rd record fails on odd calls
    # 100 records on 5 keys, sorted by (key, seq)
    sent = [
        (f"k{k}", f"0:{i}|payload-{i}".encode())
        for k in range(5)
        for i in range(k, 100, 5)
    ]
    n = publish_batch(client, "s", sent)
    assert n == 100
    assert len(client.calls) > 1  # retries happened
    _assert_delivery_contract(sent, client.records)


def test_driver_mode_partial_failures_keep_per_key_order(spark):
    from s3_kinesis_replay_spark.streaming.kinesis_sink import (
        kinesis_foreach_batch,
    )

    rows = [(f"k{i % 5}", i, f"d{i}") for i in range(100)]
    batch = spark.createDataFrame(rows, "partition_key string, seq long, data string")
    client = CapturingClient(fail_every=3)
    fn = kinesis_foreach_batch(lambda: client, "s", distributed=False)
    fn(batch, 7)
    assert len(client.calls) > 1  # retries happened
    _assert_delivery_contract(
        [(k, f"7:{s}|{d}".encode()) for k, s, d in rows], client.records
    )


def test_driver_mode_null_key_clear_error(spark):
    """ADVICE r7: a null partition key (JSON path AND fallback both null)
    must surface as a clear ValueError from the batcher — not a TypeError
    from Python sorting None against str in the driver-mode sink."""
    from s3_kinesis_replay_spark.streaming.kinesis_sink import (
        kinesis_foreach_batch,
    )

    client = CapturingClient()
    fn = kinesis_foreach_batch(
        lambda: client, "s", distributed=False
    )
    batch = spark.createDataFrame(
        [("a", 1, "x"), (None, 2, "y"), ("b", 3, "z")],
        "partition_key string, seq long, data string",
    )
    with pytest.raises(ValueError, match="null partition key"):
        fn(batch, 0)


def test_batcher_null_key_rejected():
    b = PutRecordsBatcher()
    with pytest.raises(ValueError, match="null partition key"):
        list(b.batches([(None, b"v")]))


def test_driver_mode_null_seq_edges(spark):
    """VERDICT r16 item 8: a null `seq` crosses Arrow→pandas as float NaN
    — NaN inside a sort tuple is an untotal order, so before r17 sorted()
    could emit an arbitrary, run-varying order and then crash with a bare
    AttributeError on the NULLed payload envelope. Pin both halves: the
    sort key treats NaN/None seq deterministically (NULLS FIRST within
    key), and the null-enveloped record surfaces the same clear
    ValueError contract as a null partition key."""
    from s3_kinesis_replay_spark.streaming.kinesis_sink import (
        kinesis_foreach_batch,
    )

    batch = spark.createDataFrame(
        [
            ("b", 2, "b2"),
            ("a", None, "a-null"),
            ("b", 1, "b1"),
            ("a", 1, "a1"),
        ],
        "partition_key string, seq long, data string",
    )
    client = CapturingClient()
    fn = kinesis_foreach_batch(lambda: client, "s", distributed=False)
    with pytest.raises(ValueError, match="null seq/data"):
        fn(batch, 0)
    # the null-seq row sorted NULLS FIRST within key 'a' — nothing was
    # published before the generator hit it (deterministic, not NaN-order)
    assert client.records == []

    # without nulls the same frame publishes fully, in (key, seq) order
    clean = batch.filter("seq IS NOT NULL")
    client2 = CapturingClient()
    fn2 = kinesis_foreach_batch(lambda: client2, "s", distributed=False)
    fn2(clean, 0)
    assert [
        (k, d.decode().split("|", 1)[1]) for k, d in client2.records
    ] == [("a", "a1"), ("b", "b1"), ("b", "b2")]


def test_distributed_multi_arrow_batch_per_partition_order(spark, tmp_path):
    """VERDICT r16 item 7: the mapInArrow publisher receives a partition
    as MULTIPLE Arrow record batches once rows exceed
    arrow.maxRecordsPerBatch — per-key publish order must still follow
    the in-partition (k, s) sort across batch boundaries."""
    import json

    from s3_kinesis_replay_spark.streaming.kinesis_sink import (
        kinesis_foreach_batch,
        read_captured,
    )

    capture_dir = str(tmp_path / "captured")
    n = 4000  # >> 100 rows/Arrow batch -> many batches per partition
    batch = spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias(
            "partition_key"
        ),
        F.col("id").alias("seq"),
        F.col("id").cast("string").alias("data"),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        fn = kinesis_foreach_batch(
            "s3_kinesis_replay_spark.streaming.kinesis_sink:"
            "file_client_factory",
            "s",
            distributed=True,
            client_arg=capture_dir,
        )
        fn(batch, 0)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    captured = read_captured(capture_dir)
    assert len(captured) == n
    by_key: dict = {}
    for pos, (key, data, order) in enumerate(captured):
        seq = int(data.decode().split("|", 1)[1])
        by_key.setdefault(key, []).append((order, pos, seq))
    assert len(by_key) == 7
    for key, entries in by_key.items():
        seqs = [s for _, _, s in sorted(entries, key=lambda x: (x[0], x[1]))]
        assert seqs == sorted(seqs), f"key {key} out of order"


def test_publish_gives_up_after_max_retries():
    class AlwaysFail:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": len(Records),
                "Records": [{"ErrorCode": "boom"}] * len(Records),
            }

    with pytest.raises(RuntimeError, match="still failing"):
        publish_batch(AlwaysFail(), "s", [("k", b"v")], max_retries=2, backoff_s=0.0)


# ---------------------------------------------------------------- pipeline
@pytest.fixture(scope="module")
def archive_root(sf_dir):
    return stage_archive(sf_dir, gz=True)


def test_paced_streaming_source_batches(spark, archive_root, tmp_path):
    """A6+A9: maxFilesPerTrigger paces the replay; AvailableNow drains."""
    stream = stream_archive(spark, archive_root, max_files_per_trigger=5)
    q = (
        stream.writeStream.format("memory")
        .queryName("paced_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    progress = q.recentProgress
    n_rows = spark.sql("SELECT COUNT(*) n FROM paced_replay").collect()[0]["n"]
    assert n_rows > 0
    # every micro-batch consumed ≤ 5 files (≤ 5 * 500 rows)
    assert all(p["numInputRows"] <= 5 * 500 for p in progress)
    assert len(progress) >= 2  # pacing actually split the replay


def test_replay_end_to_end_order_and_content(spark, sf_dir, archive_root, tmp_path):
    """A7+H8: full replay publishes every event once, ordered per key."""
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=archive_root,
        stream_name="replay-target",
        checkpoint_dir=str(tmp_path / "ckpt"),
        sanitize_rules=[(r'"props":"[^"]*"', '"props":"<redacted>"')],
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    q.awaitTermination(600)

    n_expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert len(client.records) == n_expected

    # batching limits respected
    assert all(c <= 500 for c in client.calls)

    # per-key ordering: seq strictly increasing within each partition key
    per_key_seqs: dict[str, list[int]] = {}
    for key, data in client.records:
        tag, body = data.decode().split("|", 1)  # "batchid:seq|{json}"
        batch_id, seq = (int(x) for x in tag.split(":"))
        # the sanitize rule can leave the body invalid JSON: read event_id
        event_id = body.split('"event_id":')[1].split(",")[0]
        assert data.startswith(f"{batch_id}:{event_id}|".encode())
        per_key_seqs.setdefault(key, []).append(seq)
    for key, seqs in per_key_seqs.items():
        assert seqs == sorted(seqs), f"out-of-order publish for key {key}"

    # sanitize rule applied to every payload
    body = client.records[0][1].decode().split("|", 1)[1]
    assert '"props":"<redacted>"' in body


def test_replay_checkpoint_resume_no_loss(spark, sf_dir, archive_root, tmp_path):
    """A10: stop mid-replay, restart from checkpoint → complete, no loss,
    no unbounded duplication (at-least-once)."""
    client = CapturingClient()
    ckpt = str(tmp_path / "ckpt_resume")
    cfg = ReplayConfig(
        archive_root=archive_root,
        stream_name="resume-target",
        checkpoint_dir=ckpt,
        max_files_per_trigger=2,
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    # let a few micro-batches commit, then kill mid-flight
    import time

    deadline = time.time() + 120
    while time.time() < deadline and len(client.records) == 0:
        time.sleep(0.5)
    q.stop()
    first_run = len(client.records)

    q2 = run_replay(spark, cfg, lambda: client, distributed=False)
    q2.awaitTermination(600)
    # both runs committed through Spark's FileSystem-based manager
    # (session default for file: checkpoints)
    for query in (q, q2):
        manager = query._jsq.streamingQuery().offsetLog().fileManager()
        assert manager.delegate().getClass().getSimpleName() == (
            "FileSystemBasedCheckpointFileManager"
        )

    n_expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # every event delivered at least once…
    delivered = {
        int(d.decode().split("|", 1)[1].split('"event_id":')[1].split(",")[0])
        for _, d in client.records
    }
    assert len(delivered) == n_expected
    # …and duplication bounded by one replayed micro-batch
    assert len(client.records) <= n_expected + 2 * 500
    assert first_run < n_expected  # the kill really was mid-replay


def test_a7c_moto_kinesis_roundtrip(spark, sf_dir, tmp_path):
    """Full AWS-API integration: replay into a moto-mocked Kinesis stream
    through real boto3 PutRecords calls; shard contents must equal the
    input set with per-key arrival order matching seq order."""
    import json

    import boto3
    from moto import mock_aws

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    root = stage_archive(sf_dir, gz=True)
    with mock_aws():
        client = boto3.client("kinesis", region_name="us-east-1")
        client.create_stream(StreamName="skr-moto", ShardCount=4)
        cfg = ReplayConfig(
            archive_root=root,
            stream_name="skr-moto",
            checkpoint_dir=str(tmp_path / "ckpt_moto"),
            max_files_per_trigger=8,
        )
        q = run_replay(spark, cfg, lambda: client, distributed=False)
        q.awaitTermination(600)

        got = []  # (key, event_id) in per-shard arrival order
        shards = client.describe_stream(StreamName="skr-moto")["StreamDescription"][
            "Shards"
        ]
        per_shard_orders = []
        for sh in shards:
            it = client.get_shard_iterator(
                StreamName="skr-moto",
                ShardId=sh["ShardId"],
                ShardIteratorType="TRIM_HORIZON",
            )["ShardIterator"]
            shard_rows = []
            while True:
                resp = client.get_records(ShardIterator=it, Limit=10000)
                for rec in resp["Records"]:
                    body = rec["Data"].decode().split("|", 1)[1]
                    shard_rows.append(
                        (rec["PartitionKey"], json.loads(body)["event_id"])
                    )
                it = resp["NextShardIterator"]
                if not resp["Records"]:
                    break
            per_shard_orders.append(shard_rows)
            got.extend(shard_rows)

        want = sorted(
            r["event_id"]
            for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        )
        assert sorted(e for _, e in got) == want  # exact set through AWS API

        # Kinesis ordering contract: within a shard, a key's records arrive
        # in publish order = seq order
        for shard_rows in per_shard_orders:
            by_key: dict = {}
            for key, eid in shard_rows:
                by_key.setdefault(key, []).append(eid)
            for key, eids in by_key.items():
                assert eids == sorted(eids), f"key {key} out of order in shard"


def test_continuous_trigger_replay(spark, sf_dir, tmp_path):
    """A9 continuous mode: available_now=False runs an unbounded
    micro-batch (processing-time) trigger; replay catches up with the
    archive, keeps running, and stops cleanly on demand — the reference's
    long-running tail -f mode, vs. the drain-and-exit AvailableNow path."""
    import time

    root = stage_archive(sf_dir, gz=True)
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-continuous",
        checkpoint_dir=str(tmp_path / "ckpt_continuous"),
        max_files_per_trigger=5,
        available_now=False,
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    deadline = time.time() + 300
    while len(client.records) < expected and time.time() < deadline:
        time.sleep(0.5)
    try:
        assert len(client.records) == expected
        assert q.isActive  # continuous mode keeps the query alive after catch-up
    finally:
        q.stop()
        q.awaitTermination(60)
    assert not q.isActive


def test_cli_replay_drain_and_key_range(tmp_path):
    """Reference-parity CLI: a drain replay publishes every archived
    message; a dt= key-range bound replays only that partition's files
    (pruned at the file index, the reference's key-range predicate)."""
    from s3_kinesis_replay_spark.cli import build_parser, run_replay_cmd

    runs = iter(range(100))

    def run(extra):
        # unique checkpoint per invocation — a reused checkpoint sees no new
        # files and silently publishes 0, making assertions vacuous
        args = build_parser().parse_args(
            ["replay", "--from-sf-dir", "/root/testdata/sf0.001",
             "--stream", "cli-t", "--max-files-per-trigger", "50",
             "--checkpoint", str(tmp_path / f"ck{next(runs)}")] + extra
        )
        return run_replay_cmd(args)

    full = run([])
    assert full["published"] == 1000 and full["mode"] == "drain"
    bounded = run(["--dt-start", "2024-01-01", "--dt-end", "2024-01-01"])
    assert 0 < bounded["published"] < full["published"]
    empty = run(["--dt-start", "1990-01-01", "--dt-end", "1990-01-02"])
    assert empty["published"] == 0


FACTORY_PATH = "s3_kinesis_replay_spark.streaming.kinesis_sink:file_client_factory"


def _assert_per_key_order_and_exact_set(spark, sf_dir, capture_dir):
    """Shared assertions for executor-published captures: exact event-id
    set (no loss/dupes on a clean run) and ascending seq per key."""
    import json as _json

    from s3_kinesis_replay_spark.streaming.kinesis_sink import read_captured

    captured = read_captured(capture_dir)
    # payload envelope is "batchid:seq|{json}"
    got = []
    for key, data, order in captured:
        tag, body = data.decode().split("|", 1)
        batch_id, seq = (int(x) for x in tag.split(":"))
        eid = _json.loads(body)["event_id"]
        assert data.startswith(f"{batch_id}:{eid}|".encode())
        got.append((key, seq, eid, order))
    want_ids = sorted(
        r["event_id"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    )
    assert sorted(g[2] for g in got) == want_ids
    by_key: dict = {}
    for pos, (key, seq, _eid, order) in enumerate(got):
        by_key.setdefault(key, []).append((order, pos, seq))
    for key, entries in by_key.items():
        seqs = [s for _, _, s in sorted(entries, key=lambda x: (x[0], x[1]))]
        assert seqs == sorted(seqs), f"key {key} out of order"
    return captured


def test_distributed_foreach_batch_worker_clients(spark, sf_dir, tmp_path):
    """VERDICT r3 item 5: the foreachBatch DISTRIBUTED branch end-to-end —
    client factory given as an importable module:callable path, resolved
    and constructed inside executor Python workers (pids differ from the
    driver), exact delivery + per-key order."""
    import os

    from s3_kinesis_replay_spark.sources.archive import stage_archive

    root = stage_archive(sf_dir, gz=True)
    capture_dir = str(tmp_path / "captured")
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-dist",
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=8,
        num_writers=8,
    )
    q = run_replay(
        spark, cfg, FACTORY_PATH, distributed=True, client_arg=capture_dir
    )
    q.awaitTermination(600)

    captured = _assert_per_key_order_and_exact_set(spark, sf_dir, capture_dir)
    publisher_pids = {worker for _, _, (_, worker) in captured}
    assert os.getpid() not in publisher_pids, (
        "records were published from the driver process — not executor-side"
    )


def test_cli_distributed_factory_sink(spark, sf_dir, tmp_path):
    """CLI --sink factory --distributed: a working --distributed
    configuration (closes the dead-surface ADVICE item)."""
    from s3_kinesis_replay_spark.cli import build_parser, run_replay_cmd

    capture_dir = str(tmp_path / "cli_captured")
    args = build_parser().parse_args(
        ["replay", "--from-sf-dir", sf_dir, "--stream", "cli-dist",
         "--max-files-per-trigger", "50",
         "--checkpoint", str(tmp_path / "ckpt_cli"),
         "--sink", "factory", "--client-factory", FACTORY_PATH,
         "--client-arg", capture_dir, "--distributed"]
    )
    out = run_replay_cmd(args)
    assert out["client_factory"] == FACTORY_PATH and out["distributed"] is True
    _assert_per_key_order_and_exact_set(spark, sf_dir, capture_dir)


def test_cli_distributed_requires_factory_sink():
    from s3_kinesis_replay_spark.cli import build_parser, run_replay_cmd

    args = build_parser().parse_args(
        ["replay", "--from-sf-dir", "/root/testdata/sf0.001",
         "--stream", "x", "--distributed"]
    )
    with pytest.raises(SystemExit, match="factory"):
        run_replay_cmd(args)


def test_cli_factory_sink_requires_factory_path():
    from s3_kinesis_replay_spark.cli import build_parser, run_replay_cmd

    args = build_parser().parse_args(
        ["replay", "--from-sf-dir", "/root/testdata/sf0.001",
         "--stream", "x", "--sink", "factory"]
    )
    with pytest.raises(SystemExit, match="client-factory"):
        run_replay_cmd(args)


def test_validate_client_factory_resolves_without_calling():
    """Driver-side fail-fast must resolve the import WITHOUT constructing
    a client (a real factory may open connections as a side effect)."""
    from s3_kinesis_replay_spark.streaming import kinesis_sink as ks

    calls = []
    ks._probe_factory = lambda: calls.append(1)  # noqa: attach for the test
    try:
        ks.validate_client_factory(
            "s3_kinesis_replay_spark.streaming.kinesis_sink:_probe_factory"
        )
        assert calls == []  # resolved, never called
    finally:
        del ks._probe_factory


@pytest.mark.parametrize("bad", ["nocolon", ":noattr", "nomod:", "mod:attr:extra"])
def test_client_factory_malformed_specs_raise(bad):
    from s3_kinesis_replay_spark.streaming.kinesis_sink import (
        resolve_client_factory,
        validate_client_factory,
    )

    with pytest.raises(ValueError):
        validate_client_factory(bad)
    with pytest.raises(ValueError):
        resolve_client_factory(bad)


def test_cli_query_subcommand(spark, sf_dir, capsys, tmp_path):
    """The whole registry is CLI-reachable: `query` prints JSONL rows,
    --output writes parquet, --explain prints a plan, unknown names fail
    with suggestions, and `list-queries` enumerates the contract."""
    import json as _json

    from s3_kinesis_replay_spark.cli import build_parser, list_queries_cmd, run_query_cmd

    args = build_parser().parse_args(
        ["query", "f3_global_topk", "--sf-dir", sf_dir, "--limit", "3"]
    )
    assert run_query_cmd(args) == 0
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l]
    assert len(lines) == 3 and _json.loads(lines[0])

    out = str(tmp_path / "q_out")
    args = build_parser().parse_args(
        ["query", "f3_global_topk", "--sf-dir", sf_dir, "--output", out]
    )
    assert run_query_cmd(args) == 0
    assert spark.read.parquet(out).count() > 0

    args = build_parser().parse_args(
        ["query", "f3_global_topk", "--sf-dir", sf_dir, "--explain"]
    )
    assert run_query_cmd(args) == 0
    assert "TakeOrdered" in capsys.readouterr().out

    import pytest as _pytest

    args = build_parser().parse_args(["query", "nope_xyz"])
    with _pytest.raises(SystemExit):
        run_query_cmd(args)

    args = build_parser().parse_args(["list-queries", "--survey-id", "I5"])
    assert list_queries_cmd(args) == 0
    rows = [_json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {r["name"] for r in rows} >= {"i5_topk_cosine", "i5b_batch_topk"}


def test_cli_sql_adhoc(spark, sf_dir, capsys, tmp_path):
    """The `sql` subcommand runs arbitrary Spark SQL over the fixture
    views — the ad-hoc surface a switching user needs beyond the declared
    registry entries. Covers JSONL print, @file input, and --explain."""
    import json as _json

    from s3_kinesis_replay_spark.cli import build_parser, run_sql_cmd

    args = build_parser().parse_args(
        [
            "sql",
            "SELECT r_name, COUNT(*) AS n FROM region GROUP BY r_name",
            "--sf-dir",
            sf_dir,
            "--limit",
            "10",
        ]
    )
    assert run_sql_cmd(args) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert len(lines) == 5
    assert all(_json.loads(l)["n"] == "1" for l in lines)

    f = tmp_path / "q.sql"
    f.write_text("SELECT COUNT(*) AS n FROM nation")
    args = build_parser().parse_args(["sql", f"@{f}", "--sf-dir", sf_dir])
    assert run_sql_cmd(args) == 0
    out = capsys.readouterr().out
    assert '"n": "25"' in out

    args = build_parser().parse_args(
        ["sql", "SELECT 1 AS one", "--sf-dir", sf_dir, "--explain"]
    )
    assert run_sql_cmd(args) == 0
    assert "Project" in capsys.readouterr().out


def test_cli_table_verbs_round_trip(spark, capsys, tmp_path):
    """VERDICT r12 item 1, CLI half: the `table` subcommand drives a
    manifest table end-to-end — history, latest/VERSION/TIMESTAMP reads,
    metadata fold, vacuum — and `sql --snapshot-table` queries it with a
    time-travel clause, all without importing operator modules."""
    import json as _json

    from s3_kinesis_replay_spark.cli import (
        build_parser,
        run_sql_cmd,
        run_table_cmd,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "id long, val double"
        ),
        root,
        "overwrite",
    )
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10, 25)], "id long, val double"
        ),
        root,
        "append",
    )
    ts1 = tf._read_manifest(root, 1)["committed_at"]

    def run(argv):
        args = build_parser().parse_args(argv)
        rc = run_sql_cmd(args) if argv[0] == "sql" else run_table_cmd(args)
        assert rc == 0
        return [
            _json.loads(l)
            for l in capsys.readouterr().out.splitlines()
            if l.startswith("{")
        ]

    hist = run(["table", "history", "--root", root])
    assert [h["version"] for h in hist] == ["1", "2"]
    assert [h["operation"] for h in hist] == ["overwrite", "append"]

    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 25
    assert (
        len(
            run(
                ["table", "read", "--root", root, "--version", "1",
                 "--limit", "100"]
            )
        )
        == 10
    )
    # TIMESTAMP AS OF v1's commit instant resolves to v1 (epoch form)
    assert (
        len(
            run(
                ["table", "read", "--root", root, "--as-of", repr(ts1),
                 "--limit", "100"]
            )
        )
        == 10
    )

    # SQL surface: snapshot view + VERSION AS OF through the CLI
    rows = run(
        [
            "sql",
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_v1, "
            "(SELECT COUNT(*) FROM snap) AS n_latest "
            "FROM snap VERSION AS OF 1",
            "--snapshot-table",
            f"snap={root}",
        ]
    )
    assert rows == [{"n_v1": "10", "n_latest": "25"}]

    # row-level verbs: position delete-where, then atomic update
    out = run(["table", "delete-where", "--root", root, "--where", "id >= 20"])
    assert out[0]["verb"] == "delete-where" and int(out[0]["version"]) == 3
    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 20
    out = run(
        ["table", "update", "--root", root, "--where", "id < 3",
         "--set", "val=val + 100"]
    )
    assert int(out[0]["version"]) == 4
    rows = run(["table", "read", "--root", root, "--limit", "100"])
    vals = {int(r["id"]): float(r["val"]) for r in rows}
    assert vals[0] == 100.0 and vals[2] == 102.0 and vals[5] == 5.0

    # maintenance verbs: fold, then vacuum reaps
    out = run(["table", "fold", "--root", root])
    assert out[0]["verb"] == "fold" and int(out[0]["version"]) == 5
    out = run(
        ["table", "vacuum", "--root", root, "--keep-last", "1",
         "--min-age-s", "0"]
    )
    assert out[0]["dropped_versions"] == [1, 2, 3, 4]
    # post-vacuum: latest still reads clean
    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 20

    # r13 verbs: tag → fat-finger → restore --to TAG → cluster, and
    # read-by-tag / tags / drop-tag, all without operator imports
    out = run(["table", "tag", "--root", root, "--name", "gold"])
    assert out[0]["version"] == 5
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(99, 9.9)], "id long, val double"),
        root,
        "overwrite",
    )  # v6: the mistake
    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 1
    out = run(["table", "restore", "--root", root, "--to", "gold"])
    assert out[0]["version"] == 7
    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 20
    assert (
        len(run(["table", "read", "--root", root, "--version", "gold",
                 "--limit", "100"])) == 20
    )
    out = run(["table", "tags", "--root", root])
    assert out[0]["tags"] == {"gold": 5}
    out = run(
        ["table", "cluster", "--root", root, "--by", "id",
         "--target-files", "2"]
    )
    assert out[0]["version"] == 8
    assert len(run(["table", "read", "--root", root, "--limit", "100"])) == 20
    # SQL surface resolves VERSION AS OF 'tag' (quoted spec = named ref)
    rows = run(
        [
            "sql",
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_tagged "
            "FROM snap VERSION AS OF 'gold'",
            "--snapshot-table",
            f"snap={root}",
        ]
    )
    assert rows == [{"n_tagged": "20"}]
    run(["table", "drop-tag", "--root", root, "--name", "gold"])
    assert run(["table", "tags", "--root", root])[0]["tags"] == {}

    # constraint verbs: set (validates existing data), list, drop
    out = run(
        ["table", "set-constraint", "--root", root, "--name", "id_ok",
         "--expr", "id >= 0"]
    )
    assert out[0]["verb"] == "set-constraint"
    out = run(["table", "constraints", "--root", root])
    assert out[0]["constraints"] == {"id_ok": "id >= 0"}
    run(["table", "drop-constraint", "--root", root, "--name", "id_ok"])
    assert run(["table", "constraints", "--root", root])[0][
        "constraints"
    ] == {}

    # branch verbs: fork → staged write (operator) → audit read → publish
    out = run(["table", "branch", "--root", root, "--name", "stage"])
    assert out[0]["name"] == "stage"
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(77, 7.7)], "id long, val double"),
        root,
        "append",
        branch="stage",
    )
    n_main = len(run(["table", "read", "--root", root, "--limit", "100"]))
    rows = run(
        ["table", "read", "--root", root, "--branch", "stage",
         "--limit", "100"]
    )
    assert len(rows) == n_main + 1  # staged row on the branch only
    out = run(["table", "branches", "--root", root])
    assert "stage" in out[0]["branches"]
    run(["table", "publish", "--root", root, "--name", "stage"])
    assert (
        len(run(["table", "read", "--root", root, "--limit", "100"]))
        == n_main + 1
    )
    run(["table", "drop-branch", "--root", root, "--name", "stage"])
    assert run(["table", "branches", "--root", root])[0]["branches"] == {}


def test_replay_observe_metrics(spark, sf_dir):
    """The in-stream observe() metrics must account for every published
    record and byte across micro-batches, and count partition-key-path
    fallbacks (fixture props always carry '$.k'? — some do not, so the
    fallback counter is exercised either way against the batch truth)."""
    import tempfile

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
    from s3_kinesis_replay_spark.streaming.replay import (
        ReplayConfig,
        replay_metrics,
        run_replay,
    )

    root = stage_archive(sf_dir, gz=True)
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-observe",
        checkpoint_dir=tempfile.mkdtemp(prefix="skr_ckpt_"),
        max_files_per_trigger=5,
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    q.awaitTermination(600)
    m = replay_metrics(q)

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_fallback_expected = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.get_json_object("props", "$.k").isNull())
        .count()
    )
    assert m["n_records"] == n_events == len(client.records)
    # captured payloads carry the "batchId:seq|" idempotency envelope the
    # sink prepends; the observed metric measures the data body only
    body_bytes = sum(len(d) - d.index(b"|") - 1 for _, d in client.records)
    assert m["payload_bytes"] == body_bytes
    assert m["n_key_fallback"] == n_fallback_expected


def test_replay_metrics_listener_matches_recent_progress(spark, sf_dir):
    """ADVICE r7: recentProgress caps at 100 events, so long continuous
    replays undercount via replay_metrics. The listener accumulates every
    progress event as it arrives; for a short drain (where recentProgress
    IS exact) the two must agree — pinning that the listener wiring sees
    the same observedMetrics the ring buffer does."""
    import tempfile
    import time

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
    from s3_kinesis_replay_spark.streaming.replay import (
        ReplayConfig,
        ReplayMetricsListener,
        replay_metrics,
        run_replay,
    )

    root = stage_archive(sf_dir, gz=True)
    client = CapturingClient()
    listener = ReplayMetricsListener()
    spark.streams.addListener(listener)
    try:
        cfg = ReplayConfig(
            archive_root=root,
            stream_name="skr-listener",
            checkpoint_dir=tempfile.mkdtemp(prefix="skr_ckpt_"),
            max_files_per_trigger=5,
        )
        q = run_replay(spark, cfg, lambda: client, distributed=False)
        q.awaitTermination(600)
        ring = replay_metrics(q)
        # listener events are delivered asynchronously; wait for parity
        deadline = time.time() + 30
        while (
            time.time() < deadline
            and listener.totals["n_records"] < ring["n_records"]
        ):
            time.sleep(0.5)
        assert listener.totals == ring
        assert listener.totals["n_records"] == len(client.records) > 0
    finally:
        spark.streams.removeListener(listener)


def test_replay_continuous_trigger_interval(spark, sf_dir):
    """Continuous mode with a processingTime interval: batches fire on
    the configured cadence (the rate-limit half the reference CLI maps
    to a trigger interval) and the query stops cleanly mid-stream."""
    import tempfile
    import time

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    root = stage_archive(sf_dir, gz=True)
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-cont",
        checkpoint_dir=tempfile.mkdtemp(prefix="skr_ckpt_"),
        max_files_per_trigger=2,
        available_now=False,
        trigger_interval="1 seconds",
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(q.recentProgress) < 2:
            time.sleep(0.5)
        assert len(q.recentProgress) >= 2, "no batches fired in continuous mode"
    finally:
        q.stop()
    assert client.records, "continuous replay published nothing"


def test_stream_dt_range_prunes_at_listing(spark, sf_dir, archive_root, tmp_path):
    """Review r8: dt bounds must restrict the FileStreamSource's listing
    (brace-glob source path), not just filter rows — excluded files must
    not consume maxFilesPerTrigger slots. Pinned by micro-batch count:
    with 1 file per trigger, the number of batches must track the
    IN-WINDOW file count, not the whole archive's."""
    import glob as _glob

    all_files = _glob.glob(f"{archive_root}/dt=*/hr=*/part-*")
    dts = sorted({p.split("dt=")[1].split("/")[0] for p in all_files})
    assert len(dts) >= 3, "fixture archive spans too few days for this test"
    window = dts[0]  # one-day window
    window_files = [p for p in all_files if f"dt={window}" in p]
    assert len(window_files) < len(all_files)

    stream = stream_archive(
        spark, archive_root, max_files_per_trigger=1,
        dt_start=window, dt_end=window,
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dt_pruned_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n_batches = len([p for p in q.recentProgress])
    rows = spark.sql("SELECT COUNT(*) n FROM dt_pruned_replay").collect()[0]["n"]
    expected_rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
        * len(window_files)
        // len(all_files)
    )
    assert rows == expected_rows  # uniform 500-row chunks
    # listing-level pruning: ~1 batch per in-window file (+1 empty final),
    # NOT one per archive file
    assert n_batches <= len(window_files) + 2, (
        f"{n_batches} batches for {len(window_files)} in-window files "
        f"({len(all_files)} total) — listing not pruned"
    )
    # empty window drains cleanly to zero rows
    s2 = stream_archive(
        spark, archive_root, max_files_per_trigger=1,
        dt_start="1990-01-01", dt_end="1990-01-02",
    )
    q2 = (
        s2.writeStream.format("memory")
        .queryName("dt_empty_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    assert spark.sql("SELECT COUNT(*) n FROM dt_empty_replay").collect()[0]["n"] == 0


def test_stream_dt_window_on_uri_roots(spark, archive_root, tmp_path):
    """The dt window lists the archive through the session's Hadoop
    FileSystem: a ``file://`` root and a root on a scheme bound only in
    the session conf (``graftlocal``, a Hadoop mount table linking
    ``graftlocal://mt/archive`` to the archive on local disk) replay the
    same rows as the plain-path root. A ``pathlib`` listing raised
    ``FileNotFoundError`` on both."""
    import glob as _glob

    dts = sorted(
        {p.split("dt=")[1].split("/")[0]
         for p in _glob.glob(f"{archive_root}/dt=*")}
    )
    lo, hi = dts[0], dts[1]
    binds = {
        "fs.graftlocal.impl":
            "org.apache.hadoop.fs.viewfs.ViewFileSystemOverloadScheme",
        "fs.viewfs.mounttable.mt.link./archive": f"file://{archive_root}",
    }
    for k, v in binds.items():
        spark.conf.set(k, v)
    try:
        got = {}
        for form, root in {
            "plain": archive_root,
            "file": f"file://{archive_root}",
            "graftlocal": "graftlocal://mt/archive",
        }.items():
            q = (
                stream_archive(spark, root, dt_start=lo, dt_end=hi)
                .writeStream.format("memory")
                .queryName(f"dt_uri_{form}")
                .option("checkpointLocation", str(tmp_path / form))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
            got[form] = sorted(
                tuple(r) for r in spark.table(f"dt_uri_{form}").collect()
            )
    finally:
        for k in binds:
            spark.conf.unset(k)
    assert got["plain"]
    assert got["file"] == got["plain"]
    assert got["graftlocal"] == got["plain"]


def test_stage_atomicity_failed_build_leaves_nothing(tmp_path, monkeypatch):
    """Review r8: staging builds in a temp tree and renames atomically —
    a failed build must leave NO root (a reader can never observe a
    truncated file), and a later successful staging must proceed."""
    import pyarrow.parquet as _pq
    import pytest as _pytest

    from s3_kinesis_replay_spark.sources import archive as arch

    monkeypatch.setenv("SKR_ARCHIVE_DIR", str(tmp_path / "arch"))
    sf = "/root/testdata/sf0.001"
    root = arch._archive_root(sf, 500, True)
    orig = _pq.read_table
    calls = {"n": 0}

    def failing(path, *a, **k):
        calls["n"] += 1
        raise RuntimeError("injected staging failure")

    monkeypatch.setattr(arch.pq, "read_table", failing)
    with _pytest.raises(RuntimeError, match="injected"):
        arch.stage_archive(sf)
    assert not root.exists(), "failed build left a (possibly partial) root"
    assert not list((tmp_path / "arch").glob("*.build-*")), "temp leaked"
    monkeypatch.setattr(arch.pq, "read_table", orig)
    staged = arch.stage_archive(sf)
    assert (Path(staged) / "_STAGED").exists()


def test_archive_schema_drift_tolerance(spark, tmp_path):
    """Firehose archives evolve: later objects may carry extra fields or
    drop optional ones. With the explicit reader schema, extra JSON keys
    are ignored and missing ones read as NULL — replay never crashes on
    drift and never silently reorders columns."""
    import gzip as gz
    import json as js

    from s3_kinesis_replay_spark.sources.archive import read_archive

    root = tmp_path / "drift"
    root.mkdir()
    old = {"event_id": 1, "ts": "2024-01-01T00:00:00.000000", "user_id": 7,
           "event_type": "view", "value": 1.5, "props": "{}"}
    new = dict(old, event_id=2, schema_version=2, extra_field="surprise")
    missing = {"event_id": 3, "ts": "2024-01-01T00:00:01.000000",
               "user_id": 8, "event_type": "view"}  # value/props absent
    for i, rec in enumerate([old, new, missing]):
        (root / f"part-{i:05d}.json.gz").write_bytes(
            gz.compress((js.dumps(rec) + "\n").encode(), mtime=0)
        )
    rows = {r["event_id"]: r for r in read_archive(spark, str(root)).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["event_type"] == "view"  # extra keys ignored, row intact
    assert rows[3]["value"] is None and rows[3]["props"] is None


def test_archive_corrupt_member_handling(spark, tmp_path):
    """A truncated gzip object aborts the batch by default (fail-fast —
    at-least-once replay can safely retry); with
    spark.sql.files.ignoreCorruptFiles the remaining objects replay and
    the corrupt one is skipped — the documented degraded-mode switch."""
    import gzip as gz
    import json as js

    from s3_kinesis_replay_spark.sources.archive import read_archive

    root = tmp_path / "corrupt"
    root.mkdir()
    recs = [
        {"event_id": i, "ts": "2024-01-01T00:00:00.000000", "user_id": 1,
         "event_type": "view", "value": 0.0, "props": "{}"}
        for i in range(4)
    ]
    for i, rec in enumerate(recs[:3]):
        (root / f"part-{i:05d}.json.gz").write_bytes(
            gz.compress((js.dumps(rec) + "\n").encode(), mtime=0)
        )
    good = gz.compress((js.dumps(recs[3]) + "\n").encode(), mtime=0)
    (root / "part-00003.json.gz").write_bytes(good[: len(good) // 2])  # truncated

    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception):
        read_archive(spark, str(root)).count()

    old = spark.conf.get("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        ids = {r["event_id"] for r in read_archive(spark, str(root)).collect()}
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", old)
    assert ids == {0, 1, 2}
