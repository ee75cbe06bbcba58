"""Streaming analytics SEM checks (SURVEY §2.H, §2.C10/C11).

Each test drains a real Structured Streaming query (AvailableNow over the
staged archive) and asserts the result equals the declared batch analog —
the other half of the SEM contract whose batch side the oracle checks.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.oracle import canon_rows
from s3_kinesis_replay_spark.registry import all_queries
from s3_kinesis_replay_spark.sources.archive import stage_archive, stream_archive

QUERIES = all_queries()


def ev_max_ts(spark, sf_dir):
    from s3_kinesis_replay_spark.catalog import table

    return table(spark, "events", sf_dir).agg(F.max("ts")).collect()[0][0]


@pytest.fixture(scope="module")
def archive_root(sf_dir):
    return stage_archive(sf_dir, gz=True)


def _drain(spark, stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.table(name)


def _drain_append(spark, stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    return spark.table(name)


def _assert_same(batch_df, stream_out):
    b_cols, b_rows = list(batch_df.columns), [tuple(r) for r in batch_df.collect()]
    s_cols, s_rows = list(stream_out.columns), [tuple(r) for r in stream_out.collect()]
    assert sorted(b_cols) == sorted(s_cols)
    assert canon_rows(b_cols, b_rows) == canon_rows(s_cols, s_rows)


def test_h1_tumbling_stream_equals_batch(spark, sf_dir, archive_root, tmp_path):
    stream = stream_archive(spark, archive_root, max_files_per_trigger=6)
    agg = (
        stream.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    out = _drain(spark, agg, tmp_path, "h1_stream")
    _assert_same(QUERIES["h1b_tumbling_window_batch"].fn(spark, sf_dir), out)


def test_h4_watermark_drops_nothing_within_bound(spark, sf_dir, archive_root, tmp_path):
    """H4+H7: fixture disorder is bounded, so a generous watermark drops no
    rows in append mode and the final state equals the batch aggregate."""
    stream = stream_archive(spark, archive_root, max_files_per_trigger=6)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    out = _drain_append(spark, agg, tmp_path, "h4_stream")
    # append mode emits a window only once the watermark passes its end;
    # the final watermark is max(ts) - delay, so the batch comparison set
    # is the finalized-window subset. Counts must MATCH there (no drops:
    # fixture disorder ≪ 2h delay).
    max_ts = ev_max_ts(spark, sf_dir)
    batch = QUERIES["h1b_tumbling_window_batch"].fn(spark, sf_dir).filter(
        F.col("window_start") + F.expr("INTERVAL 10 MINUTES")
        <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    )
    _assert_same(batch, out)


def test_h3_session_window_stream_equals_batch(spark, sf_dir, archive_root, tmp_path):
    stream = stream_archive(spark, archive_root, max_files_per_trigger=6)
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    out = _drain_append(spark, agg, tmp_path, "h3_stream")
    max_ts = ev_max_ts(spark, sf_dir)
    batch = QUERIES["h3b_session_window_batch"].fn(spark, sf_dir).filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 1 DAY")
    )
    out_final = out.filter(
        F.col("session_end") <= F.lit(max_ts) - F.expr("INTERVAL 1 DAY")
    )
    _assert_same(batch, out_final)


def test_h5_streaming_dedup(spark, sf_dir, archive_root, tmp_path):
    """H5: duplicated stream (2× union at source) deduped on event_id."""
    s1 = stream_archive(spark, archive_root, max_files_per_trigger=6)
    s2 = stream_archive(spark, archive_root, max_files_per_trigger=6)
    dedup = s1.unionAll(s2).withWatermark("ts", "2 days").dropDuplicates(["event_id"])
    out = _drain_append(spark, dedup, tmp_path, "h5_stream")
    n_expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_expected
    assert out.select("event_id").distinct().count() == n_expected


def test_c10_stream_static_join(spark, sf_dir, archive_root, tmp_path):
    """C10: streaming events enriched with the static customer dim equals
    the batch join of the same data."""
    from s3_kinesis_replay_spark.catalog import table

    cust = table(spark, "customer", sf_dir)
    stream = stream_archive(spark, archive_root, max_files_per_trigger=6)
    joined = stream.join(
        cust, stream.user_id == cust.c_custkey, "inner"
    ).select("event_id", "user_id", "c_name", "c_mktsegment")
    out = _drain_append(spark, joined, tmp_path, "c10_stream")

    ev = table(spark, "events", sf_dir)
    batch = ev.join(cust, ev.user_id == cust.c_custkey, "inner").select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )
    _assert_same(batch, out)


def test_c11_stream_stream_join(spark, sf_dir, archive_root, tmp_path):
    """C11: purchases joined to views of the same user within the preceding
    hour, both sides watermarked — equals the batch time-band self-join."""
    from s3_kinesis_replay_spark.catalog import table

    s = stream_archive(spark, archive_root, max_files_per_trigger=6)
    purchases = (
        s.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    s2 = stream_archive(spark, archive_root, max_files_per_trigger=6)
    views = (
        s2.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 day")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "inner",
    ).select("p_id", "v_id")
    out = _drain_append(spark, joined, tmp_path, "c11_stream")

    ev = table(spark, "events", sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    batch = p.join(
        v,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    ).select("p_id", "v_id")
    _assert_same(batch, out)


def test_h6_stateful_running_count(spark, sf_dir, archive_root, tmp_path):
    """H6: custom per-user stateful counter via applyInPandasWithState
    equals the batch row_number analog for each user's final count."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = stream_archive(spark, archive_root, max_files_per_trigger=1000)

    def count_fn(key, pdf_iter, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdf_iter:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    counted = stream.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id BIGINT, n_events BIGINT",
        stateStructType="n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("h6_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_h6_stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    out = spark.table("h6_stream")
    # updates accumulate across micro-batches; the LAST update per user is final
    final = (
        out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    _assert_same(batch, final)


def test_h6b_transform_with_state(spark, sf_dir, archive_root, tmp_path):
    """H6 via Spark 4's transformWithStateInPandas (the successor API to
    applyInPandasWithState): per-user ValueState counter, final counts
    equal the batch aggregate."""
    # The TWS Python worker <-> JVM state-server protocol serializes via
    # protobuf (pyspark.sql.streaming.proto imports google.protobuf at
    # call time). This environment has NO `protobuf` wheel anywhere on
    # disk (verified: `find / -name 'protobuf*' -path '*site-packages*'`
    # yields only pyspark's .proto resources and jedi/typeshed stubs) and
    # no network/pip, so it cannot be vendored or installed — the skip is
    # environmental, not a coverage choice; the H6 semantics themselves
    # are covered un-skipped by test_h6_stateful_running_count via
    # applyInPandasWithState (no protobuf dependency).
    pytest.importorskip(
        "google.protobuf.descriptor",
        reason="no protobuf wheel in the sandbox and no way to install "
        "one (pip/network unavailable); TWS state-server protocol "
        "requires it — H6 covered via applyInPandasWithState instead",
    )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.count = handle.getValueState("count", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            total = self.count.get()[0] if self.count.exists() else 0
            for pdf in rows:
                total += len(pdf)
            self.count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

        def close(self) -> None:
            pass

    stream = stream_archive(spark, archive_root, max_files_per_trigger=1000)
    counted = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType="user_id BIGINT, n_events BIGINT",
        outputMode="Update",
        timeMode="None",
    )
    q = (
        counted.writeStream.format("memory")
        .queryName("h6b_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_h6b"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    out = spark.table("h6b_stream")
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    _assert_same(batch, final)


def test_c2c_streaming_merge_kill_resume(spark, sf_dir, tmp_path):
    """C2c: kill the merge stream mid-fold DETERMINISTICALLY (injected
    failure after batch 1's write+publish but before its stream commit —
    review r8: the old poll-then-stop raced a fast drain), resume from
    the checkpoint — the resumed stream RE-EXECUTES batch 1, exercising
    the already-published short-circuit for real, and the final snapshot
    must equal the uninterrupted batch argmax."""
    import os

    from s3_kinesis_replay_spark.streaming.merge_sink import (
        merge_foreach_batch,
        snapshot_live,
    )

    root = stage_archive(sf_dir, gz=True)
    snap_root = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    inner = merge_foreach_batch(snap_root)

    def failing(batch_df, batch_id):
        inner(batch_df, batch_id)  # write + publish COMPLETE...
        if batch_id == 1:
            raise RuntimeError("injected kill")  # ...then die pre-commit

    q = (
        stream_archive(spark, root, max_files_per_trigger=2)
        .writeStream.foreachBatch(failing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(600)
    except Exception:
        pass  # run 1 dies on the injected failure; checkpoint survives

    def published_batch_id() -> int:
        # superseded snapshot dirs are reaped after publish, so progress
        # is read off the pointer's target, not a dir count
        return int(
            os.path.basename(
                os.path.realpath(os.path.join(snap_root, "current"))
            ).split("-")[1]
        )

    assert published_batch_id() == 1, "batch 1 should have applied+published"

    q2 = (
        stream_archive(spark, root, max_files_per_trigger=2)
        .writeStream.foreachBatch(inner)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(600)
    assert published_batch_id() > 1, "resume applied no further batches"
    # both runs committed through Spark's FileSystem-based manager
    # (session default for file: checkpoints)
    for query in (q, q2):
        manager = query._jsq.streamingQuery().offsetLog().fileManager()
        assert manager.delegate().getClass().getSimpleName() == (
            "FileSystemBasedCheckpointFileManager"
        )
    # reaping held: current + one grace generation (+ one straggler)
    assert (
        len([d for d in os.listdir(snap_root) if d.startswith("batch-")])
        <= 3
    )

    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    expected = {
        (r["user_id"], r["event_id"], r["event_type"])
        for r in e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
        .select("user_id", "m.event_id", "m.event_type")
        .collect()
        if r["event_type"] != "error"
    }
    got = {
        (r["user_id"], r["event_id"], r["last_type"])
        for r in snapshot_live(spark, snap_root).collect()
    }
    assert got == expected


def test_c2c_merge_stale_change_cannot_resurrect_tombstone(spark):
    """The tombstone-retention property: after a key's newest event is
    the tombstone, merging an OLDER change for that key must not bring
    it back to the live view (the CDC resurrection bug the design
    guards against)."""
    from datetime import datetime

    from s3_kinesis_replay_spark.streaming.merge_sink import merge_batch

    t0, t1 = datetime(2024, 1, 1), datetime(2024, 1, 2)
    target = spark.createDataFrame(
        [(7, t1, 100, "error", 0.0)],
        "user_id bigint, ts timestamp, event_id bigint, "
        "last_type string, last_value double",
    )
    stale = spark.createDataFrame(
        [(7, t0, 50, "click", 1.5)],
        "user_id bigint, ts timestamp, event_id bigint, "
        "last_type string, last_value double",
    )
    out = merge_batch(target, stale).collect()
    assert len(out) == 1 and out[0]["last_type"] == "error"
    assert out[0]["event_id"] == 100


def test_c2c_batch_reexecution_short_circuits(spark, tmp_path):
    """Review r8: re-executing a batch that completed (write + pointer
    publish) but whose stream commit was lost must NO-OP — the naive
    re-merge would overwrite the very directory being read (Spark
    refuses) or destroy the only snapshot copy."""
    import os

    from s3_kinesis_replay_spark.streaming.merge_sink import (
        merge_foreach_batch,
    )

    root = str(tmp_path / "snap")
    fn = merge_foreach_batch(root)
    batch = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "click", 1.0)],
        "user_id bigint, ts string, event_id bigint, "
        "event_type string, value double",
    ).select(
        "user_id", F.col("ts").cast("timestamp"), "event_id",
        "event_type", "value",
    )
    fn(batch, 0)
    before = sorted(os.listdir(os.path.realpath(os.path.join(root, "current"))))
    snap1 = spark.read.parquet(os.path.realpath(os.path.join(root, "current"))).collect()
    fn(batch, 0)  # crash-recovery re-execution of the same batch id
    after = sorted(os.listdir(os.path.realpath(os.path.join(root, "current"))))
    snap2 = spark.read.parquet(os.path.realpath(os.path.join(root, "current"))).collect()
    assert before == after and snap1 == snap2
    # a LATER batch against the published snapshot still applies
    batch2 = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", 20, "purchase", 2.0)],
        "user_id bigint, ts string, event_id bigint, "
        "event_type string, value double",
    ).select(
        "user_id", F.col("ts").cast("timestamp"), "event_id",
        "event_type", "value",
    )
    fn(batch2, 1)
    rows = spark.read.parquet(
        os.path.realpath(os.path.join(root, "current"))
    ).collect()
    assert len(rows) == 1 and rows[0]["event_id"] == 20


def test_c2c_merge_fold_is_batch_boundary_invariant(spark):
    """Property pin for the c2c contract: folding merge_batch over ANY
    partition of the event log — including shuffled, out-of-order
    batches and duplicated batches (at-least-once) — must converge to
    the per-key argmax snapshot. Seeded random splits instead of
    hypothesis: each example costs several Spark jobs."""
    import random
    from datetime import datetime, timedelta

    from s3_kinesis_replay_spark.streaming.merge_sink import merge_batch

    rng = random.Random(1234)
    base = datetime(2024, 1, 1)
    events = [
        (
            uid,
            base + timedelta(hours=rng.randint(0, 500)),
            eid,
            rng.choice(["click", "view", "error"]),
            float(rng.randint(0, 100)),
        )
        for eid, uid in enumerate(rng.choices(range(8), k=40))
    ]
    schema = (
        "user_id bigint, ts timestamp, event_id bigint, "
        "last_type string, last_value double"
    )
    expected = {}
    for uid, ts, eid, typ, val in events:
        cur = expected.get(uid)
        if cur is None or (ts, eid) > (cur[0], cur[1]):
            expected[uid] = (ts, eid, typ, val)
    want = {(u, *v) for u, v in expected.items()}

    for trial in range(4):
        order = events[:]
        rng.shuffle(order)
        # random batch boundaries; duplicate one batch to model
        # at-least-once redelivery
        cuts = sorted(rng.sample(range(1, len(order)), rng.randint(1, 6)))
        batches = [
            order[a:b] for a, b in zip([0] + cuts, cuts + [len(order)])
        ]
        if trial % 2:
            batches.append(batches[rng.randrange(len(batches))])
        snap = spark.createDataFrame([], schema)
        for b in batches:
            # per-batch latest per key (MERGE's one-row-per-key contract)
            latest = {}
            for uid, ts, eid, typ, val in b:
                cur = latest.get(uid)
                if cur is None or (ts, eid) > (cur[0], cur[1]):
                    latest[uid] = (ts, eid, typ, val)
            changes = spark.createDataFrame(
                [(u, *v) for u, v in latest.items()], schema
            )
            snap = merge_batch(snap, changes).localCheckpoint(eager=True)
        got = {
            (r["user_id"], r["ts"], r["event_id"], r["last_type"], r["last_value"])
            for r in snap.collect()
        }
        assert got == want, f"trial {trial}: fold diverged"


def test_c2c_tombstone_compaction_preserves_live_view(spark):
    """Compacting tombstones older than the watermark must leave the
    live view identical, actually remove the old tombstone rows, and
    keep tombstones INSIDE the late-data horizon (still needed to
    outrank stragglers)."""
    from datetime import datetime

    from s3_kinesis_replay_spark.streaming.merge_sink import (
        compact_tombstones,
    )

    t0, t1, t2 = (
        datetime(2024, 1, 1),
        datetime(2024, 1, 5),
        datetime(2024, 1, 9),
    )
    schema = (
        "user_id bigint, ts timestamp, event_id bigint, "
        "last_type string, last_value double"
    )
    snap = spark.createDataFrame(
        [
            (1, t0, 10, "error", 0.0),   # old tombstone: compactable
            (2, t2, 20, "error", 0.0),   # recent tombstone: must stay
            (3, t0, 30, "click", 1.0),   # old live row: must stay
            # AT-watermark tombstone must stay (review r8: the watermark
            # only excludes ts < w stragglers — an equal-ts change can
            # still arrive and must lose to this row's guard)
            (4, t1, 40, "error", 0.0),
            (5, t0, 50, None, 1.0),      # NULL type is never a tombstone
        ],
        schema,
    )
    out = compact_tombstones(snap, t1)
    rows = {r["user_id"]: r["last_type"] for r in out.collect()}
    assert rows == {2: "error", 3: "click", 4: "error", 5: None}
    live_before = {r["user_id"] for r in snap.filter(F.col("last_type") != "error").collect()}
    live_after = {r["user_id"] for r in out.filter(F.col("last_type") != "error").collect()}
    assert live_before == live_after == {3}


def test_d4c_streaming_sketch_union_equals_single_pass(spark, sf_dir):
    """The streamed per-batch sketch union must give the IDENTICAL
    estimate a single-pass whole-log sketch gives (the merge algebra is
    exact, not approximately-similar), the flag must hold, and the run
    must really have produced multiple batch artifacts."""
    import glob

    from s3_kinesis_replay_spark.registry import all_queries

    import os
    import tempfile

    run_glob = os.path.join(tempfile.gettempdir(), "skr_shll_run_*")
    pre = set(glob.glob(run_glob))
    rows = {
        r["event_type"]: r
        for r in all_queries()["d4c_streaming_hll_merge"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert all(r["est_in_tol"] for r in rows.values())
    single = {
        r["event_type"]: r["est"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
        )
        .collect()
    }
    for et, r in rows.items():
        assert r["est_users"] == single[et], (
            f"{et}: union-of-batch-sketches {r['est_users']} != "
            f"single-pass {single[et]}"
        )
    # the drain really was multi-batch — count batch artifacts only in
    # THIS run's sketch root (review r8: a global glob counted stale
    # dirs from earlier runs, passing vacuously; the run prefix is
    # distinct from the skr_shll_oracle pointer dir and the glob honors
    # TMPDIR like the mkdtemp that created the root)
    new_roots = set(glob.glob(run_glob)) - pre
    assert len(new_roots) == 1, new_roots
    batch_dirs = glob.glob(f"{new_roots.pop()}/batch-*")
    assert len(batch_dirs) >= 2


def test_p18_replay_pipeline_bites_and_deterministic(spark, sf_dir, duck):
    """The p18 composite's stages must actually drop documents (not a
    vacuous pipeline) and re-running the whole stream+batch composite
    must give identical shards."""
    from s3_kinesis_replay_spark.registry import all_queries

    from s3_kinesis_replay_spark.plans.audit import audit_plan

    fn = all_queries()["p18_replay_training_pipeline"].fn
    df1 = fn(spark, sf_dir)
    # the survivors localCheckpoint must actually truncate lineage (one
    # materialized-RDD scan feeding the multi-consumer batch tier) and the
    # batch tier must run under AQE like every other join-heavy plan
    feats = audit_plan(df1)
    assert feats["rdd_scans"] >= 1, "survivors localCheckpoint missing"
    assert feats["aqe"]
    out1 = {
        (r["source"], r["shard_id"]): (r["n_docs"], r["shard_tokens"])
        for r in df1.collect()
    }
    assert len(out1) > 0
    n_new_ids = duck.execute(
        "SELECT COUNT(*) FROM documents WHERE doc_id % 3 = 0"
    ).fetchone()[0]
    total_docs = sum(n for n, _ in out1.values())
    # snapshot anti-join caps survivors at the %3==0 slice; near-dup +
    # contamination + sqrt-damped sampling must then drop strictly more
    assert 0 < total_docs < n_new_ids
    out2 = {
        (r["source"], r["shard_id"]): (r["n_docs"], r["shard_tokens"])
        for r in fn(spark, sf_dir).collect()
    }
    assert out1 == out2


def test_await_drained_stops_and_raises_on_timeout():
    """ADVICE r8: awaitTermination(t) returning False (still running)
    must STOP the query and raise, not let the caller read a partial
    result while the stream keeps writing."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.queries.streaming_live import _await_drained

    class FakeQuery:
        def __init__(self, finished):
            self.finished = finished
            self.stopped = False

        def awaitTermination(self, timeout=None):
            return self.finished

        def stop(self):
            self.stopped = True

    ok = FakeQuery(True)
    assert _await_drained(ok) is ok and not ok.stopped

    hung = FakeQuery(False)
    with _pytest.raises(TimeoutError, match="did not drain"):
        _await_drained(hung, timeout=1)
    assert hung.stopped


def test_d8d_streaming_mg_merge_multibatch_and_bounded(spark, sf_dir):
    """The streamed MG merge must have produced MULTIPLE per-batch
    counter artifacts (genuinely multi-batch), the two-sided bound flag
    must hold on every reported row, and every estimated count must obey
    the Misra-Gries never-overcount rule against an exact recount."""
    import glob
    import os
    import tempfile

    from s3_kinesis_replay_spark.registry import all_queries

    run_glob = os.path.join(tempfile.gettempdir(), "skr_smg_run_*")
    pre = set(glob.glob(run_glob))
    rows = (
        all_queries()["d8d_streaming_heavy_hitters"].fn(spark, sf_dir).collect()
    )
    assert rows and all(r["in_bounds"] for r in rows)
    exact = {
        (r["lang"], r["tok"]): r["n"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("lang", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in rows:
        assert r["est_n"] <= exact[(r["lang"], r["tok"])]
    new_roots = set(glob.glob(run_glob)) - pre
    assert len(new_roots) == 1, new_roots
    batch_dirs = glob.glob(f"{new_roots.pop()}/batch-*")
    assert len(batch_dirs) >= 2


def test_p19_maintenance_file_discipline(spark, sf_dir):
    """The maintenance chain must actually transform the layout: the
    landing zone holds MORE fragments than the compacted table, every
    compacted file respects the row cap, the z-ordered table has its
    declared file count, and the summary row matches the source."""
    import glob
    import tempfile

    from s3_kinesis_replay_spark.registry import all_queries

    pre = set(glob.glob(tempfile.gettempdir() + "/skr_p19_*"))
    row = (
        all_queries()["p19_lakehouse_maintenance"].fn(spark, sf_dir).collect()[0]
    )
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert row["n_rows"] == n_src
    assert row["audit_ok"]
    assert row["n_inserts"] >= 0 and row["n_updates"] > 0

    new_roots = set(glob.glob(tempfile.gettempdir() + "/skr_p19_*")) - pre
    assert len(new_roots) == 1
    work = new_roots.pop()
    landing = glob.glob(f"{work}/landing/*.parquet")
    compacted = glob.glob(f"{work}/compacted/day=*/*.parquet")
    zfiles = glob.glob(f"{work}/zorder/*.parquet")
    n_days = len(glob.glob(f"{work}/compacted/day=*"))
    import math

    # bin-pack bound: at most one tail file per day partition beyond the
    # row-cap-implied count (at tiny sf the day count dominates — the
    # landing-vs-compacted collapse is only demonstrable when landing
    # fragments exceed the day count, so gate that comparison)
    assert len(compacted) <= n_days + math.ceil(n_src / 4000), (
        len(compacted), n_days, n_src,
    )
    if len(landing) > n_days + math.ceil(n_src / 4000):
        assert len(landing) > len(compacted), (len(landing), len(compacted))
    assert len(zfiles) == 8
    import pyarrow.parquet as pq

    for f in compacted:
        assert pq.ParquetFile(f).metadata.num_rows <= 4000


def test_h9b_append_ohlc_emits_exactly_closed_windows(spark, sf_dir):
    """h9b (watermarked append OHLC): the emitted candle set is exactly
    the batch candles whose window closed under the final watermark
    (max ts − 2 h) — no open-window rows, identical OHLC values, and the
    withheld tail is the complete-mode extra state h9 carries."""
    import datetime

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.queries.streaming_batch import (
        _h9_plan,
        h9b_streaming_ohlc_append,
    )

    got = h9b_streaming_ohlc_append(spark, sf_dir).collect()
    ev = table(spark, "events", sf_dir)
    wm = ev.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(hours=2)
    batch = {
        (r["window_start"], r["event_type"]): r
        for r in _h9_plan(ev).collect()
    }
    closed = {
        k
        for k in batch
        if k[0] + datetime.timedelta(hours=1) <= wm
    }
    assert {(r["window_start"], r["event_type"]) for r in got} == closed
    assert 0 < len(got) < len(batch)  # something emitted, something withheld
    for r in got:
        b = batch[(r["window_start"], r["event_type"])]
        assert (r["open"], r["high"], r["low"], r["close"], r["n"]) == (
            b["open"], b["high"], b["low"], b["close"], b["n"],
        )


def test_d16b_streaming_cm_identical_to_batch_sketch(spark, sf_dir):
    """CM linearity end-to-end: the streaming entry's merged estimates
    are BIT-IDENTICAL to the batch entry's (same seeds, same d x w) —
    micro-batch boundaries leave no trace — and every top-5 row carries
    the one-sided CM guarantee flag."""
    from s3_kinesis_replay_spark.queries.aggregates import d16_countmin_topk
    from s3_kinesis_replay_spark.queries.streaming_live import (
        d16b_streaming_countmin,
    )

    srows = {
        (r["lang"], r["tok"]): r for r in d16b_streaming_countmin(spark, sf_dir).collect()
    }
    brows = {
        (r["lang"], r["tok"]): r for r in d16_countmin_topk(spark, sf_dir).collect()
    }
    assert srows.keys() == brows.keys() and len(srows) > 0
    for k, s in srows.items():
        b = brows[k]
        assert (s["est_n"], s["exact_n"], s["n_total"]) == (
            b["est_n"], b["exact_n"], b["n_total"],
        )
        assert s["in_bounds"] is True


def test_d7c_streaming_quantiles_in_bounds(spark, sf_dir):
    """d7c: drain-end merged quantiles sit inside the exact ±2% rank
    window for every event_type (the N/(2m) bound at 5x slack holds for
    ANY micro-batch split), and n matches the non-null source count."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.queries.streaming_live import (
        d7c_streaming_quantile_merge,
    )

    rows = d7c_streaming_quantile_merge(spark, sf_dir).collect()
    assert len(rows) > 0
    ev = table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    n_by_type = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        assert r["in_bounds"] is True, r
        assert r["n"] == n_by_type[r["event_type"]]
        assert r["est_p25"] <= r["est_p50"] <= r["est_p75"]


def test_a15c_version_history_is_ingest_history(spark, sf_dir, tmp_path):
    """Streaming snapshot ingest: versions grow monotonically with the
    drain, every version is time-travel-readable with cumulative row
    counts, every consecutive pair is a valid CDC window whose deltas
    sum to the final table, and a replayed (retried) batch commits
    nothing (idempotence tag)."""
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators.table_format import (
        _read_manifest,
        _schema_of,
        commit_append_files,
        snapshot_changes,
        snapshot_read,
        snapshot_write,
        versions,
    )
    from s3_kinesis_replay_spark.catalog import table

    # deterministic mini-ingest (the entry itself runs the live stream;
    # here the history/idempotence algebra is pinned batch-by-batch)
    tbl = str(tmp_path / "ing")
    ev = table(spark, "events", sf_dir).select("event_id", "event_type")
    batches = [ev.filter(F.col("event_id") % 3 == j) for j in range(3)]
    for j, b in enumerate(batches):
        # the a15c sink's commit-with-tag sequence
        part = f"batch-{j}"
        out_dir = os.path.join(tbl, "data", part)
        b.write.mode("overwrite").parquet(out_dir)
        files = [
            os.path.join("data", part, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
        commit_append_files(tbl, files, f"append:b{j}", _schema_of(b))

    assert versions(tbl) == [1, 2, 3]
    counts = [snapshot_read(spark, tbl, v).count() for v in (1, 2, 3)]
    assert counts[0] < counts[1] < counts[2] == ev.count()
    # every consecutive pair is a CDC window; deltas partition the table
    deltas = [
        snapshot_changes(spark, tbl, v, v + 1).count() for v in (1, 2)
    ]
    assert counts[0] + sum(deltas) == counts[2]
    # idempotent retry: batch 1's tag already committed -> sink skips
    tagged = [
        v
        for v in versions(tbl)
        if _read_manifest(tbl, v)["operation"] == "append:b1"
    ]
    assert tagged == [2]


def test_snapshot_table_stream_source_semantics(spark, tmp_path):
    """r13 streaming source over manifest tables: (a) a full drain emits
    every version's rows exactly once; (b) a RESTART on the same
    checkpoint emits only commits that landed since (exactly-once over
    the offset log — nothing re-read); (c) a non-append commit fails
    loudly mid-stream; (d) skip_changes=true skips the rewrite but
    still streams later appends; (e) add-column evolution NULL-fills
    pre-evolution files read through the evolved schema."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.range(0, 300).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    tf.snapshot_write(spark, df.filter("a < 100"), root, mode="overwrite")
    tf.snapshot_write(
        spark, df.filter("a >= 100 AND a < 200"), root, mode="append"
    )

    def drain(**opts):
        r = spark.readStream.format("snapshot_table").option("root", root)
        for k, v in opts.items():
            r = r.option(k, v)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180), "stream did not drain"

    # (a) initial drain: genesis overwrite + one append
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert set(got.columns) == {"a", "b"}

    # (b) restart: only the new commit's rows arrive (exactly-once)
    tf.snapshot_write(spark, df.filter("a >= 200"), root, mode="append")
    drain()
    assert spark.read.parquet(out).count() == 300
    assert spark.read.parquet(out).select("a").distinct().count() == 300

    # (c) a non-append commit refuses loudly
    tf.snapshot_compact(spark, root)
    tf.snapshot_write(
        spark,
        spark.range(300, 310).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("b")
        ),
        root,
        mode="append",
    )
    with pytest.raises(Exception, match="non-append commit"):
        drain()

    # (d) skip_changes: the compact is skipped, the append streams
    drain(skip_changes="true")
    assert spark.read.parquet(out).count() == 310

    # (e) evolution: new column, fresh stream from genesis NULL-fills
    tf.snapshot_write(
        spark,
        spark.range(310, 320).select(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            F.lit("tagged").alias("c"),
        ),
        root,
        mode="append",
    )
    out2, ckpt2 = str(tmp_path / "out2"), str(tmp_path / "ckpt2")
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("skip_changes", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got2 = spark.read.parquet(out2)
    assert set(got2.columns) == {"a", "b", "c"}
    # fresh-from-genesis walks v1-v3 (their manifests survive the
    # compact), skips the compact itself, then streams both appends:
    # 300 + 10 pre-evolution rows NULL-fill c, 10 evolved rows carry it
    assert got2.count() == 320
    assert got2.filter(F.col("c").isNull()).count() == 310
    assert got2.filter(F.col("c") == "tagged").count() == 10


def test_snapshot_table_stream_source_refusals(spark, tmp_path):
    """Source construction refusals: missing root option, empty table,
    and a schema-less legacy lineage (no recorded schema to stream)."""
    import json
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    empty = str(tmp_path / "none")
    os.makedirs(empty)
    with pytest.raises(Exception, match="nothing to stream|no snapshots"):
        spark.readStream.format("snapshot_table").option(
            "root", empty
        ).load()

    # legacy schema-less lineage: strip the recorded schema by hand
    root = str(tmp_path / "legacy")
    tf.snapshot_write(
        spark,
        spark.range(5).select(F.col("id").alias("a")),
        root,
        mode="overwrite",
    )
    mp = tf._manifest_path(root, 1)
    m = json.load(open(mp))
    m.pop("schema")
    json.dump(m, open(mp, "w"))
    with pytest.raises(Exception, match="no recorded schema"):
        spark.readStream.format("snapshot_table").option("root", root).load()


def test_snapshot_stream_source_emits_legacy_inline_files(spark, tmp_path):
    """Review r13: a legacy flat manifest (inline 'files' entries, no
    segments) must emit its full content as the initial snapshot — the
    segments-only walk silently emitted zero rows for that form."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "legacy")
    tf.snapshot_write(
        spark,
        spark.range(0, 40).select(F.col("id").alias("a")),
        root,
        mode="overwrite",
    )
    # rewrite v1 into the legacy FLAT form: inline files, no segments
    m = tf._read_manifest(root, 1)
    files = [e["path"] for e in tf._entries(m, root)]
    flat = {
        "version": 1,
        "operation": "overwrite",
        "committed_at": m["committed_at"],
        "files": files,
        "schema": m["schema"],
    }
    json.dump(flat, open(tf._manifest_path(root, 1), "w"))
    for seg in glob.glob(os.path.join(root, "segments", "*")):
        os.remove(seg)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    assert spark.read.parquet(out).count() == 40


def test_snapshot_stream_source_refuses_initial_delete_state(spark, tmp_path):
    """ADVICE r13: a non-append INITIAL snapshot whose manifest carries
    MOR delete state must refuse — raw file emission cannot apply
    delete/pos-delete files, so it would re-emit deleted and replaced
    rows. A compaction (folds deletes into data files) unblocks the
    same start point."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 20).select(F.col("id").alias("a")),
        root,
        mode="overwrite",
    )  # v1
    tf.snapshot_delete(
        spark,
        root,
        spark.range(0, 5).select(F.col("id").alias("a")),
        "a",
    )  # v2: delete state in the manifest

    def run(start, out, ckpt):
        return (
            spark.readStream.format("snapshot_table")
            .option("root", root)
            .option("starting_version", str(start))
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )

    # initial snapshot = v2 (op delete, carries delete files): refused
    q = run(1, "out1", "ck1")
    with pytest.raises(Exception, match="merge-on-read delete state"):
        q.awaitTermination(180)

    # compact folds the deletes; the same start point now streams the
    # TRUE content (15 rows, deleted keys absent)
    tf.snapshot_compact(spark, root)  # v3
    q = run(2, "out2", "ck2")
    assert q.awaitTermination(180)
    got = spark.read.parquet(str(tmp_path / "out2"))
    assert sorted(r["a"] for r in got.collect()) == list(range(5, 20))


def test_snapshot_stream_source_skips_metadata_only_commits(spark, tmp_path):
    """r14: set_constraint / add_column / fold commits change no visible
    rows — the stream must pass through them silently (no refusal, no
    emission), then keep streaming later appends; a row-set-changing
    commit (compact) still refuses."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "tbl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    df = spark.range(0, 100).select(F.col("id").alias("a"))
    tf.snapshot_write(spark, df.filter("a < 50"), root, mode="overwrite")  # v1
    tf.snapshot_set_constraint(spark, root, "a_ok", "a >= 0")  # v2 meta
    tf.snapshot_add_column(spark, root, "c", "string")  # v3 meta
    tf.snapshot_write(
        spark,
        spark.range(50, 100).select(
            F.col("id").alias("a"), F.lit("x").alias("c")
        ),
        root,
        mode="append",
    )  # v4
    tf.snapshot_fold_metadata(root)  # v5 meta

    def drain():
        q = (
            spark.readStream.format("snapshot_table")
            .option("root", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        return q.awaitTermination(180)

    assert drain()
    got = spark.read.parquet(out)
    assert got.count() == 100
    assert got.filter("c = 'x'").count() == 50  # evolved rows carry c
    assert got.filter("c IS NULL").count() == 50  # pre-evolution NULL-fill

    # a genuine rewrite still refuses
    tf.snapshot_compact(spark, root)  # v6
    tf.snapshot_write(
        spark,
        spark.range(100, 110).select(
            F.col("id").alias("a"), F.lit("y").alias("c")
        ),
        root,
        mode="append",
    )  # v7
    with pytest.raises(Exception, match="non-append commit"):
        drain()


@pytest.mark.parametrize(
    "opt", ["max_versions_per_batch", "max_bytes_per_batch"]
)
def test_snapshot_stream_pacing_no_duplicates(spark, tmp_path, opt):
    """r14 pacing fix: Spark asks latestOffset BEFORE revealing the
    stream position (and never guards against a regressing offset), so
    the r13 window tracker — keyed on batch START — regressed after the
    first batch and Spark re-planned already-emitted versions:
    DUPLICATE rows in the sink. The tracker now advances on batch END
    and latestOffset clamps monotone. Contract: first batch of a fresh
    process uncapped; every later batch covers exactly one commit under
    cap=1 (versions or bytes); zero duplicates ever."""
    import time
    import uuid as _uuid

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "tbl")
    df = spark.range(0, 400).select(F.col("id").alias("a"))
    tf.snapshot_write(spark, df.filter("a < 100"), root, mode="overwrite")
    name = "pace_" + _uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option(opt, "1")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 100:
            time.sleep(0.3)
        assert spark.table(name).count() == 100, "first batch did not drain"
        for lo in (100, 200, 300):
            tf.snapshot_write(
                spark,
                df.filter(f"a >= {lo} and a < {lo + 100}"),
                root,
                mode="append",
            )
        while time.time() < deadline and spark.table(name).count() < 400:
            time.sleep(0.3)
        n = spark.table(name).count()
        dups = (
            spark.table(name).groupBy("a").count().filter("count > 1").count()
        )
    finally:
        q.stop()
    assert n == 400, f"expected 400 rows, got {n}"
    assert dups == 0, f"{dups} duplicated keys — offset window regressed"
    batches = [
        p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
    ]
    # paced: after the first batch, one commit (100 rows) per batch
    assert all(b == 100 for b in batches[1:]), batches
    assert len(batches) >= 4, batches


def test_snapshot_changes_stream_source(spark, tmp_path):
    """r14 streaming CDC ('snapshot_changes' format): append → insert
    events; delete_where → delete preimages (only the addressed files
    read); snapshot_delete → delete preimages with prior-delete
    visibility applied per file; update_where → update_preimage +
    update_postimage; metadata commits skipped; merge classifies at
    plan time (r15) and overwrite refuses. Events must equal the batch
    snapshot_row_changes over the same range."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")

    def ids(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("a"), (F.col("id") * 10).alias("val")
        )

    tf.snapshot_write(spark, ids(0, 10), root, "overwrite")  # v1
    tf.snapshot_write(spark, ids(10, 15), root, "append")  # v2
    tf.snapshot_delete(
        spark, root, spark.range(0, 2).select(F.col("id").alias("a")), "a"
    )  # v3
    tf.snapshot_set_constraint(spark, root, "ok", "a >= 0")  # v4 (meta)
    tf.snapshot_update_where(spark, root, "a >= 12", {"val": "val + 1000"})  # v5
    # second equality delete: key 3 AND re-check scoping (key 12's old
    # copy was pos-deleted at v5; its updated copy is seq-5 data which
    # the new delete at seq 6 DOES suppress)
    tf.snapshot_delete(
        spark, root, spark.range(3, 4).select(F.col("id").alias("a")), "a"
    )  # v6

    def drain(start):
        out = str(tmp_path / f"out{start}")
        q = (
            spark.readStream.format("snapshot_changes")
            .option("root", root)
            .option("starting_version", str(start))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck{start}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return spark.read.parquet(out)

    got = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in drain(1).collect()
    }
    want = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 1, 6).collect()
    }
    assert got == want
    # spot semantics: v3 deletes, v5 update pre/post, v6 delete of 3
    assert {(0, 0, "delete", 3), (1, 10, "delete", 3)} <= got
    assert {(12, 120, "update_preimage", 5), (12, 1120, "update_postimage", 5)} <= got
    assert (3, 30, "delete", 6) in got

    # merge now STREAMS (r15): key 5 has a visible preimage → update;
    # key 50 is new → insert; equality with the batch API holds
    tf.snapshot_merge(
        spark,
        root,
        spark.createDataFrame([(5, -5), (50, -50)], "a long, val long"),
        "a",
    )  # v7
    got7 = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in drain(6).collect()
    }
    want7 = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 6, 7).collect()
    }
    assert got7 == want7
    assert {
        (5, 50, "update_preimage", 7),
        (5, -5, "update_postimage", 7),
        (50, -50, "insert", 7),
    } <= got7

    # overwrite still refuses: file provenance cannot name changed rows
    tf.snapshot_write(spark, ids(0, 3), root, "overwrite")  # v8
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "7")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "outm"))
        .option("checkpointLocation", str(tmp_path / "ckm"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="provenance"):
        q.awaitTermination(180)


def test_changes_source_merge_classification(spark, tmp_path):
    """r15 (VERDICT r14 item 2): streaming CDC across MERGE commits via
    plan-time key classification. Pins: matched keys spanning multiple
    prior files; a key DELETED earlier classifies INSERT (no visible
    preimage); a key whose only visible copy is a prior merge/update
    postimage classifies UPDATE against that copy; full equality with
    the batch snapshot_row_changes across the chain; merge planning is
    stats-pruned (disjoint prior files produce no eq_pre partitions)."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")

    def one_file(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("a"), (F.col("id") * 10).alias("val"))
            .coalesce(1)
        )

    def src(pairs):
        return spark.createDataFrame(pairs, "a long, val long")

    tf.snapshot_write(spark, one_file(0, 100), root, "overwrite")  # v1
    tf.snapshot_write(spark, one_file(100, 200), root, "append")  # v2
    tf.snapshot_delete(
        spark, root, spark.range(10, 13).select(F.col("id").alias("a")), "a"
    )  # v3: keys 10-12 now invisible
    tf.snapshot_update_where(
        spark, root, "a = 20", {"val": "val + 1000"}
    )  # v4: key 20's visible copy is now the seq-4 postimage (val 1200)
    # v5 merge: 10 was deleted → INSERT; 20 matches its UPDATED copy;
    # 150 matches in the SECOND file; 500 is brand new → INSERT
    tf.snapshot_merge(
        spark, root, src([(10, -10), (20, -20), (150, -150), (500, -500)]), "a"
    )  # v5
    # v6 merge: 10 and 500 were inserted at v5 → both now match → UPDATE
    tf.snapshot_merge(spark, root, src([(10, -11), (500, -501)]), "a")  # v6

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    key = lambda r: (r["a"], r["val"], r["_change_type"], r["_commit_version"])
    got = sorted(key(r) for r in spark.read.parquet(out).collect())
    want = sorted(
        key(r) for r in tf.snapshot_row_changes(spark, root, 1, 6).collect()
    )
    assert got == want
    gs = set(got)
    assert (10, -10, "insert", 5) in gs  # deleted key → insert, not update
    assert (20, 1200, "update_preimage", 5) in gs  # vs the UPDATED copy
    assert (20, -20, "update_postimage", 5) in gs
    assert (150, 1500, "update_preimage", 5) in gs  # second file matched
    assert (500, -500, "insert", 5) in gs
    assert {(10, -11, "update_postimage", 6), (500, -501, "update_postimage", 6)} <= gs
    assert (10, -10, "update_preimage", 6) in gs  # v5's insert is the preimage

    # stats-pruned merge planning: a fresh table with two disjoint
    # files; merge keys overlap only the second → one eq_pre partition
    root2 = str(tmp_path / "tbl2")
    tf.snapshot_write(spark, one_file(0, 100), root2, "overwrite")  # v1
    tf.snapshot_write(spark, one_file(1000, 1100), root2, "append")  # v2
    tf.snapshot_merge(
        spark, root2, src([(1000, -1), (1001, -2), (2000, -3)]), "a"
    )  # v3
    reader = SnapshotChangesStreamReader(None, {"root": root2})
    parts = reader.partitions({"version": 2}, {"version": 3})
    eq = [p for p in parts if p.kind == "eq_pre"]
    post = [p for p in parts if p.kind == "post_split"]
    assert len(eq) == 1, [p.rel_path for p in parts]
    # r16: verdicts ship as sorted uint64 HASH-SET sidecars (one file
    # per commit, path in the partition), not inline value tuples
    import numpy as np

    assert post and all(p.match_path for p in post)
    shipped = np.fromfile(post[0].match_path, dtype="<u8")
    want_h = tf._kidx_hash_set([1000, 1001])
    assert shipped.tolist() == want_h.tolist()


def test_changes_source_stats_skip_and_correctness(spark, tmp_path):
    """r14 review: equality-delete preimage planning skips data files
    whose manifest key-column stats are disjoint from the delete keys'
    range (reader-level check on partitions()), and the emitted events
    are unchanged by the skip."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")

    def one_file(lo, hi):
        return (
            spark.range(lo, hi)
            .select(F.col("id").alias("a"), (F.col("id") * 10).alias("val"))
            .coalesce(1)
        )

    tf.snapshot_write(spark, one_file(0, 100), root, "overwrite")  # v1
    tf.snapshot_write(spark, one_file(1000, 1100), root, "append")  # v2
    tf.snapshot_delete(
        spark,
        root,
        spark.range(1000, 1005).select(F.col("id").alias("a")),
        "a",
    )  # v3: keys live only in the second file

    reader = SnapshotChangesStreamReader(None, {"root": root})
    parts = reader.partitions({"version": 2}, {"version": 3})
    eq = [p for p in parts if p.kind == "eq_pre"]
    # the v1 file (a in [0, 99]) is stats-disjoint from keys 1000-1004
    assert len(eq) == 1, [p.rel_path for p in parts]

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r["a"], r["val"], r["_change_type"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(a, a * 10, "delete") for a in range(1000, 1005)}


def test_streaming_starting_timestamp(spark, tmp_path):
    """r15 (VERDICT r14 item 5): both streaming sources accept
    `starting_timestamp` — resolved to the newest version strictly
    BEFORE the timestamp (Delta's startingTimestamp rule: the commit
    at/after it streams); mutually exclusive with starting_version;
    ISO and epoch spellings both parse."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        SnapshotTableStreamReader,
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    register_changes_source(spark)
    root = str(tmp_path / "tbl")

    def ids(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("a"), (F.col("id") * 10).alias("val")
        )

    tf.snapshot_write(spark, ids(0, 5), root, "overwrite")  # v1
    tf.snapshot_write(spark, ids(5, 8), root, "append")  # v2
    tf.snapshot_write(spark, ids(8, 10), root, "append")  # v3
    at = {v: tf._read_manifest(root, v)["committed_at"] for v in (1, 2, 3)}
    mid12 = (at[1] + at[2]) / 2

    # table stream from the v1/v2 midpoint → v2 and v3 rows only
    def drain(fmt, opts, out):
        b = spark.readStream.format(fmt).option("root", root)
        for k, v in opts.items():
            b = b.option(k, v)
        q = (
            b.load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / out))
            .option("checkpointLocation", str(tmp_path / (out + "_ck")))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return spark.read.parquet(str(tmp_path / out))

    got = sorted(
        r["a"]
        for r in drain(
            "snapshot_table", {"starting_timestamp": str(mid12)}, "o1"
        ).collect()
    )
    assert got == list(range(5, 10))
    # ISO spelling, CDC source: same cut, insert events for v2+v3
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(mid12, timezone.utc).isoformat()
    got2 = sorted(
        (r["a"], r["_change_type"], r["_commit_version"])
        for r in drain(
            "snapshot_changes", {"starting_timestamp": iso}, "o2"
        ).collect()
    )
    assert got2 == [(a, "insert", 2 if a < 8 else 3) for a in range(5, 10)]
    # a timestamp after every commit → nothing streams (empty cut)
    reader = SnapshotTableStreamReader(
        None, {"root": root, "starting_timestamp": str(at[3] + 10)}
    )
    assert reader.starting == 3
    # mutual exclusion refuses
    with pytest.raises(ValueError, match="mutually exclusive"):
        SnapshotTableStreamReader(
            None,
            {
                "root": root,
                "starting_version": "1",
                "starting_timestamp": str(mid12),
            },
        )


def test_kidx_file_skipping(spark, tmp_path):
    """r15 (VERDICT r14 item 7): per-file key-hash indexes prune delete/CDC
    preimage candidates that min/max stats cannot — files whose key
    RANGES overlap (interleaved keys) but whose key SETS are disjoint.
    Pins: the streaming planner's eq_pre partition count drops to the
    one file actually holding the keys; batch and stream events are
    unchanged by the skip; files written before the first delete (no
    bloom) stay candidates."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")

    def one_file(lo, hi, step):
        # interleaved keys: every file spans ~the whole key range, so
        # min/max overlap and only the bloom can tell files apart
        return (
            spark.range(lo, hi)
            .select(
                (F.col("id") * step).alias("k"),
                (F.col("id") * 10).alias("val"),
            )
            .coalesce(1)
        )

    tf.snapshot_write(spark, one_file(0, 100, 7), root, "overwrite")  # v1
    # establish the row identity so later writes get blooms
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(-1,)], "k long"), "k"
    )  # v2 (no-op delete)
    tf.snapshot_write(spark, one_file(0, 100, 11), root, "append")  # v3
    tf.snapshot_write(spark, one_file(0, 100, 13), root, "append")  # v4
    # delete keys that live ONLY in the v3 file (multiples of 11 that
    # are not multiples of 7 or 13 within range)
    dead = [11 * i for i in (1, 2, 3, 4, 5) if (11 * i) % 7 and (11 * i) % 13]
    tf.snapshot_delete(
        spark,
        root,
        spark.createDataFrame([(k,) for k in dead], "k long"),
        "k",
    )  # v5

    m = tf._read_manifest(root, tf.latest_version(root))
    ents = tf._entries(m, root)
    with_bloom = [e for e in ents if e.get("kidx")]
    assert len(with_bloom) == 2  # v3+v4 files indexed; v1 pre-identity not

    reader = SnapshotChangesStreamReader(None, {"root": root})
    parts = reader.partitions({"version": 4}, {"version": 5})
    eq = sorted(p.rel_path for p in parts if p.kind == "eq_pre")
    # ranges overlap everywhere, so min/max keeps all 3 candidates; the
    # index drops the v4 file (disjoint key set) but NOT the index-less
    # v1 file (conservative) — 2 partitions, not 3
    assert len(eq) == 2, eq

    got = {
        (r["k"], r["_change_type"])
        for r in tf.snapshot_row_changes(spark, root, 4, 5).collect()
    }
    assert got == {(k, "delete") for k in dead}

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "4")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got_s = {
        (r["k"], r["_change_type"])
        for r in spark.read.parquet(out).collect()
    }
    assert got_s == got


def test_stream_refuses_rename_history_in_range(spark, tmp_path):
    """review r15: both sources refuse AT INIT when the consumed range
    (> starting) contains rename/drop history — per-file projection is
    by name, and with paced batches the pre-rename NULL-filled rows
    would reach the sink BEFORE the rename commit's mid-stream refusal.
    Starting at/after the compact that cleared the mapping is fine."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
    )
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        SnapshotTableStreamReader,
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("a")
        ),
        root,
        "overwrite",
    )  # v1
    tf.snapshot_rename_column(spark, root, "a", "b")  # v2
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(5, 50)], "k long, b long"),
        root,
        "append",
    )  # v3
    for cls in (SnapshotTableStreamReader, SnapshotChangesStreamReader):
        with _pytest.raises(ValueError, match="rename/drop history"):
            cls(None, {"root": root})
        with _pytest.raises(ValueError, match="rename/drop history"):
            cls(None, {"root": root, "starting_version": "1"})
    tf.snapshot_compact(spark, root)  # v4: mapping cleared
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(6, 60)], "k long, b long"),
        root,
        "append",
    )  # v5
    # starting at/after the compact is allowed and streams v5's rows
    for cls in (SnapshotTableStreamReader, SnapshotChangesStreamReader):
        with _pytest.raises(ValueError, match="rename/drop history"):
            cls(None, {"root": root, "starting_version": "1"})
        assert cls(None, {"root": root, "starting_version": "4"}).starting == 4
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("starting_version", "4")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        (r["k"], r["b"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == [(6, 60)]


def test_changes_source_from_genesis_default(spark, tmp_path):
    """r14 review: the source's DEFAULT starting_version=0 must work —
    the empty predecessor makes the genesis overwrite pure inserts
    (the r14 draft crashed reading manifest v0)."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 20).select(F.col("id").alias("a")),
        root,
        "overwrite",
    )  # v1
    tf.snapshot_delete(
        spark, root, spark.range(0, 3).select(F.col("id").alias("a")), "a"
    )  # v2
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .load()  # no starting_version: default 0 = genesis
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = {
        (r["a"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(a, "insert", 1) for a in range(20)} | {
        (a, "delete", 2) for a in range(3)
    }


def test_changes_source_checkpoint_restart_exactly_once(spark, tmp_path):
    """r14: a CDC stream restarted on the same checkpoint emits ONLY
    commits that landed since — no re-emission of consumed versions
    (the offset-log exactly-once claim, CDC form)."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    root = str(tmp_path / "tbl")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    tf.snapshot_write(
        spark,
        spark.range(0, 50).select(F.col("id").alias("a")),
        root,
        "overwrite",
    )  # v1

    def drain():
        q = (
            spark.readStream.format("snapshot_changes")
            .option("root", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        return spark.read.parquet(out)

    assert drain().count() == 50  # genesis inserts
    tf.snapshot_delete(
        spark, root, spark.range(0, 5).select(F.col("id").alias("a")), "a"
    )  # v2
    got = drain()
    assert got.count() == 55  # +5 delete events, nothing re-emitted
    assert got.filter("_change_type = 'insert'").count() == 50
    assert got.filter("_change_type = 'delete'").count() == 5
    # idle restart: nothing new, nothing re-emitted
    assert drain().count() == 55
