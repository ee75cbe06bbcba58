"""Live Structured-Streaming registry rows (SURVEY §2.A6–A10, C10/C11,
H4/H7/H8) — each fn runs a REAL stream to completion and returns its
result, so the driver's oracle compare covers the streaming path itself
(check mode SEM: stream drained with Trigger.AvailableNow must equal the
stated batch SQL).

Mechanics shared by every entry:

* the archive is the deterministic events staging (sources/archive.py):
  gzipped NDJSON chunks of 500 rows under dt=/hr= dirs, so oracles can
  re-derive file-level facts from the parquet fixture alone;
* each run gets a fresh checkpoint dir and a unique memory-sink name
  (memory sink is test-scale-only; the production path is foreachBatch →
  Kinesis or a parquet sink — both checked here too);
* pacing (maxFilesPerTrigger) makes multi-micro-batch execution real —
  these are not single-batch degenerate runs.

At 100 TB: the same topology holds — file-source listing scales with the
partition index (dt= pruning), state lives in RocksDB, and the sink
parallelism is the post-repartition partition count (single-writer-per-
key). Only the memory sink is test-local.
"""

from __future__ import annotations

import json
import tempfile
import uuid

from pyspark.sql import functions as F

from s3_kinesis_replay_spark.registry import register
from s3_kinesis_replay_spark.queries.helpers import DEC, fdec, in_tol, sdec, t
from s3_kinesis_replay_spark.sources.archive import stage_archive, stream_archive
from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _pace_per_trigger(root: str, target_batches: int = 5) -> int:
    """Pacing for the fold-style streaming composites (c2c, d4c), whose
    results are batch-boundary-invariant by construction: more batches
    only add per-batch overhead (34 batches at sf0.1 measured 20 s for
    c2c / 9.7 s for d4c where ~5 measure 4.6 / 2.9 s). Delegates to the
    ONE policy in sources/archive.py (review r8: two inline copies had
    drifted); floor 6 keeps the sf0.01 correctness runs multi-batch."""
    from s3_kinesis_replay_spark.sources.archive import pace_per_trigger

    return pace_per_trigger(root, target_batches=target_batches, floor=6)


def _await_drained(q, timeout: int = 600):
    """Block until the streaming query terminates, FAILING LOUDLY on
    timeout (ADVICE r8): ``awaitTermination(t)`` returns False when the
    query is still running, and ignoring that meant a slow host could
    read a partial snapshot/sketch set while the stream kept writing —
    and leak the query. Stop it, then raise."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query did not drain within {timeout}s (stopped)"
        )
    return q


def _drain(spark, stream_df, mode="append", name=None):
    """Run a streaming DF to completion (AvailableNow) into a memory sink."""
    name = name or ("skr_live_" + uuid.uuid4().hex[:12])
    ckpt = tempfile.mkdtemp(prefix="skr_ckpt_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    return spark.table(name)


def _run_capture_replay(spark, sf_dir):
    """Replay the staged archive through the Kinesis-shaped sink into an
    in-memory capturing endpoint; returns the captured (key, payload) list
    in arrival order."""
    root = stage_archive(sf_dir, gz=True)
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-replay",
        checkpoint_dir=tempfile.mkdtemp(prefix="skr_ckpt_"),
        max_files_per_trigger=5,
    )
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    _await_drained(q)
    return client


def _records_to_rows(client):
    """Parse captured sink records back to (partition_key, event_id, arrival)."""
    rows = []
    for arrival, (key, payload) in enumerate(client.records):
        tag, body = payload.decode().split("|", 1)
        rows.append((key, json.loads(body)["event_id"], arrival))
    return rows


@register(
    "a6_streaming_source",
    "A6",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events",
    check="SEM",
    note="paced incremental file-source replay (4 micro-batches) drained "
    "to completion == batch read of the same archive",
)
def a6_streaming_source(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    return _drain(spark, stream_archive(spark, root, max_files_per_trigger=6))


@register(
    "a7_kinesis_sink",
    "A7",
    """
    SELECT COALESCE(json_extract_string(props, '$.k'),
                    CAST(user_id AS VARCHAR)) AS partition_key,
           event_id
    FROM events
    """,
    check="SEM",
    note="full replay pipeline into the PutRecords-shaped sink (≤500 rec / "
    "≤5 MiB batching, retry path); captured stream contents == input set",
)
def a7_kinesis_sink(spark, sf_dir):
    client = _run_capture_replay(spark, sf_dir)
    rows = [(k, e) for k, e, _ in _records_to_rows(client)]
    return spark.createDataFrame(rows, "partition_key STRING, event_id BIGINT")


@register(
    "a9_replay_pacing",
    "A9",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CEIL(COUNT(DISTINCT event_id // 500) / 4.0) AS BIGINT)
               AS n_batches
    FROM events
    """,
    check="SEM",
    note="rate-limited replay: ≤4 files per micro-batch; the oracle "
    "re-derives the exact batch count from the deterministic chunking rule",
)
def a9_replay_pacing(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    stream = stream_archive(spark, root, max_files_per_trigger=4)
    counts: list[int] = []

    def count_batch(batch_df, batch_id):
        n = batch_df.count()
        if n:
            counts.append(n)

    q = (
        stream.writeStream.foreachBatch(count_batch)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    return spark.createDataFrame(
        [(sum(counts), len(counts))], "n_rows BIGINT, n_batches BIGINT"
    )


@register(
    "a10_checkpoint_resume",
    "A10",
    "SELECT event_id, user_id, event_type FROM events",
    check="SEM",
    note="kill mid-replay (injected failure in micro-batch 2), restart from "
    "the same checkpoint: at-least-once capture, exactly-once after "
    "idempotency-key dedup — final set == full input",
)
def a10_checkpoint_resume(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    ckpt = tempfile.mkdtemp(prefix="skr_ckpt_")
    captured: list[tuple[int, int, str]] = []

    def make_sink(fail_at_batch):
        def sink(batch_df, batch_id):
            rows = [
                (r["event_id"], r["user_id"], r["event_type"])
                for r in batch_df.collect()
            ]
            captured.extend(rows)  # appended BEFORE the crash → duplicates
            if batch_id == fail_at_batch:
                raise RuntimeError("injected mid-replay failure")

        return sink

    def run(fail_at_batch):
        stream = stream_archive(spark, root, max_files_per_trigger=5)
        q = (
            stream.writeStream.foreachBatch(make_sink(fail_at_batch))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_drained(q)
        except TimeoutError:
            raise  # a genuinely hung stream must fail loudly (ADVICE r9)
        except Exception:
            pass  # run 1 dies on the injected failure; checkpoint survives

    run(fail_at_batch=2)  # batches 0,1 commit; batch 2 crashes after capture
    run(fail_at_batch=-1)  # resume: reprocesses batch 2 (dupes), drains rest
    assert len(captured) > 0
    # idempotent consumer: dedup on the record key (at-least-once → exact set)
    dedup = {r[0]: r for r in captured}
    return spark.createDataFrame(
        sorted(dedup.values()), "event_id BIGINT, user_id BIGINT, event_type STRING"
    )


# Fixed pointer the d4c oracle reads: the drain's union-merged per-type
# estimates export behind it (d4b pattern).
_SHLL_ORACLE_PTR = "/tmp/skr_shll_oracle/current"


@register(
    "d4c_streaming_hll_merge",
    "D4",
    f"""
    WITH est AS (
      SELECT event_type, est_users
      FROM read_parquet('{_SHLL_ORACLE_PTR}/est/*.parquet')
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    )
    SELECT x.event_type, CAST(e.est_users AS BIGINT) AS est_users,
           x.exact_users, x.n_events, TRUE AS est_in_tol
    FROM exact x JOIN est e ON e.event_type = x.event_type
    ORDER BY x.event_type
    """,
    check="SEM",
    note="STREAMING mergeable-sketch composite — d4b's 'per-shard "
    "sketches persist and merge across days' claim with real streaming "
    "code: each replay micro-batch writes its per-event_type HLL sketch "
    "binaries (one partial-agg pass, sketch bytes only) to a per-batch "
    "parquet artifact, and the drain-end estimate UNION-MERGES the "
    "stored sketches (hll_union_agg) without ever rescanning events — "
    "batch boundaries are irrelevant because sketch union is "
    "commutative/associative, which is exactly the algebraic property "
    "that makes the 100 TB per-day rollup work. Oracle (d4b flag "
    "pattern): merged estimates export behind the pointer, DuckDB "
    "recomputes the exact distincts over the whole log and hard-codes "
    "est_in_tol=TRUE against Spark's computed ±5% flag.",
)
def d4c_streaming_hll_merge(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.operators.similarity import (
        export_behind_pointer,
    )

    root = stage_archive(sf_dir, gz=True)
    per_trigger = _pace_per_trigger(root)
    # "run_" infix: the oracle pointer lives at /tmp/skr_shll_oracle and
    # tests glob for this run's root — the prefixes must not collide
    sketch_root = tempfile.mkdtemp(prefix="skr_shll_run_")

    def sink(batch_df, batch_id: int):
        (
            batch_df.groupBy("event_type")
            .agg(
                F.hll_sketch_agg("user_id").alias("sk"),
                F.count("*").alias("n_events"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(sketch_root, f"batch-{batch_id}"))
        )

    q = (
        stream_archive(spark, root, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    sketches = spark.read.parquet(os.path.join(sketch_root, "batch-*"))
    merged = sketches.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.sum("n_events").alias("n_events"),
    )
    exact = (
        t(spark, "events", sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    out = (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "est_users",
            "exact_users",
            "n_events",
            in_tol(F.col("est_users"), F.col("exact_users")).alias(
                "est_in_tol"
            ),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )
    export_behind_pointer(
        _SHLL_ORACLE_PTR,
        lambda export: out.select("event_type", "est_users")
        .write.mode("overwrite")
        .parquet(os.path.join(export, "est")),
    )
    return out


@register(
    "c10_stream_static_join",
    "C10",
    """
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    check="SEM",
    note="streaming events enriched with the static customer dim "
    "(broadcast-able at scale) == batch join of the same data",
)
def c10_stream_static_join(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    cust = t(spark, "customer", sf_dir)
    stream = stream_archive(spark, root, max_files_per_trigger=50)
    joined = stream.join(cust, stream.user_id == cust.c_custkey, "inner").select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )
    return _drain(spark, joined)


@register(
    "c11_stream_stream_join",
    "C11",
    """
    SELECT p.event_id AS p_id, v.event_id AS v_id
    FROM events p JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
    """,
    check="SEM",
    note="watermarked stream-stream join: purchases matched to the same "
    "user's views in the preceding hour; time bounds let Spark evict state",
)
def c11_stream_stream_join(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    # no pacing: state-heavy join drains in one batch; pacing semantics are
    # covered by a6/a9/a10 (34 tiny batches of RocksDB join state would
    # dominate wall-clock at sf0.1 for zero extra coverage)
    purchases = (
        stream_archive(spark, root)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 day")
    )
    views = (
        stream_archive(spark, root)
        .filter(F.col("event_type") == "view")
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
    return _drain(spark, joined)


@register(
    "h4_watermark_late_drop",
    "H4",
    f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS total_value
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes'
           <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL '2 hours'
               FROM events)
    """,
    check="SEM",
    note="append-mode windowed agg behind a 2h watermark: only finalized "
    "windows emit (end <= final watermark); fixture disorder << delay so "
    "no row is dropped from those windows",
)
def h4_watermark_late_drop(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    stream = stream_archive(spark, root, max_files_per_trigger=50)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count("*").alias("n"), fdec(F.sum(sdec("value"))).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return _drain(spark, agg, mode="append")


@register(
    "h7_output_mode_complete",
    "H7",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS total_value
    FROM events GROUP BY event_type
    """,
    check="SEM",
    note="complete-mode streaming agg: final emitted state == batch agg",
)
def h7_output_mode_complete(spark, sf_dir):
    root = stage_archive(sf_dir, gz=True)
    stream = stream_archive(spark, root, max_files_per_trigger=50)
    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"), fdec(F.sum(sdec("value"))).alias("total_value")
    )
    return _drain(spark, agg, mode="complete")


@register(
    "h8_ordered_emission",
    "H8",
    """
    SELECT COALESCE(json_extract_string(props, '$.k'),
                    CAST(user_id AS VARCHAR)) AS partition_key,
           string_agg(event_id, ',' ORDER BY event_id) AS seqs
    FROM events GROUP BY 1
    """,
    check="SEM",
    note="per-partition-key arrival order at the sink must equal seq order "
    "(Kinesis shard-ordering semantics): batches sorted by (key, seq), "
    "micro-batches consumed in key order — sequences compare ORDERED as "
    "','-joined strings (driver canonicalizer cannot hash lists)",
)
def h8_ordered_emission(spark, sf_dir):
    client = _run_capture_replay(spark, sf_dir)
    rows = _records_to_rows(client)
    df = spark.createDataFrame(
        rows, "partition_key STRING, event_id BIGINT, arrival BIGINT"
    )
    # collect each key's event_ids in ARRIVAL order — equality with the
    # oracle's seq-ordered list IS the ordering assertion
    return (
        df.groupBy("partition_key")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("arrival", "event_id"))
            ).alias("pairs")
        )
        .select(
            "partition_key",
            F.array_join(
                F.transform(
                    F.col("pairs"), lambda p: p.event_id.cast("string")
                ),
                ",",
            ).alias("seqs"),
        )
    )


def _p18_oracle() -> str:
    """Batch-equivalent SQL for the p18 streaming composite, assembled
    from the SAME cross-engine building blocks its stages reuse
    (t8 normalization chain, i3f exact-Jaccard, p7/p17 gram join, p11
    targets, p2 packing) so each sub-semantics is already driver-proven
    in isolation."""
    from s3_kinesis_replay_spark.queries.llm_ops import _DUCK_SHINGLES
    from s3_kinesis_replay_spark.queries.pipeline_ops import (
        _DUCK_GRAMS5,
        _SHARD_TOKENS,
        _VAL_LT,
        _bucket_sql,
    )

    return f"""
    WITH norm AS (
      SELECT doc_id, source, text,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
      FROM documents
    ),
    snap AS (SELECT DISTINCT h FROM norm WHERE doc_id % 3 <> 0),
    inb AS (
      SELECT doc_id, source, text, h FROM (
        SELECT doc_id, source, text, h,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM norm
      ) WHERE rn = 1
    ),
    survivors AS (
      SELECT i.doc_id, i.source, i.text
      FROM inb i ANTI JOIN snap s ON i.h = s.h
    ),
    nd AS (
      SELECT DISTINCT b.doc_id
      FROM (SELECT doc_id, {_DUCK_SHINGLES} ss FROM survivors) b
      JOIN (SELECT doc_id, {_DUCK_SHINGLES} ss
            FROM documents WHERE doc_id % 3 <> 0) s ON TRUE
      WHERE CAST(len(list_intersect(b.ss, s.ss)) AS DOUBLE)
            / len(list_distinct(list_concat(b.ss, s.ss))) >= 0.8
    ),
    ev_g AS (
      SELECT DISTINCT unnest({_DUCK_GRAMS5}) AS g
      FROM documents WHERE {_bucket_sql("doc_id")} >= {_VAL_LT}
    ),
    cont AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, unnest({_DUCK_GRAMS5}) AS g FROM survivors) t
      JOIN ev_g ON t.g = ev_g.g
    ),
    clean AS (
      SELECT doc_id, source, text FROM survivors
      WHERE doc_id NOT IN (SELECT doc_id FROM nd)
        AND doc_id NOT IN (SELECT doc_id FROM cont)
    ),
    s AS (
      SELECT source, COUNT(*) AS n,
             CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS fs
      FROM clean GROUP BY source
    ),
    tt AS (SELECT *, SUM(fs) OVER () AS sw, SUM(n) OVER () AS total FROM s),
    targets AS (
      SELECT source, CAST((total * fs) // sw AS BIGINT) AS target_n FROM tt
    ),
    sampled AS (
      SELECT c.doc_id, c.source, c.text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (
                 PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || '#s42'), doc_id) AS rn
        FROM clean
      ) c JOIN targets t ON c.source = t.source
      WHERE c.rn <= t.target_n
    ),
    packed AS (
      SELECT source,
             CAST((cum_tokens - tokens) // {_SHARD_TOKENS} AS BIGINT)
               AS shard_id,
             tokens
      FROM (
        SELECT source, tokens,
               SUM(tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM (SELECT source, doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
              FROM sampled)
      )
    )
    SELECT source, shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS shard_tokens
    FROM packed GROUP BY source, shard_id
    """


@register(
    "c2c_streaming_merge",
    "C2",
    """
    WITH latest AS (
      SELECT user_id, event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           event_type AS last_type,
           ROUND(CAST(value AS DOUBLE), 6) AS last_value,
           CAST(event_id AS BIGINT) AS last_event_id
    FROM latest
    WHERE rn = 1 AND event_type <> 'error'
    """,
    check="SEM",
    note="STREAMING MERGE composite (VERDICT r7 item 7) — c2b's CDC "
    "upsert inside the A6/A10 replay machinery: the paced event replay "
    "foreachBatch-merges each micro-batch's latest-event-per-user into "
    "a persisted parquet snapshot behind an atomic pointer "
    "(streaming/merge_sink.py). Idempotent WITHOUT a transaction log: "
    "changes apply only when strictly newer by (ts, event_id), so "
    "checkpoint-recovery batch re-execution and at-least-once "
    "duplication are no-ops (kill/resume pinned in tests/"
    "test_streaming.py). Deletes are retained TOMBSTONES ('error' "
    "events) filtered at read time — physical deletion would let a "
    "stale out-of-order change resurrect the key (the CDC resurrection "
    "bug; same discipline as Kafka log compaction). Oracle: the folded "
    "snapshot must equal the batch argmax per user over the whole log "
    "— the declared CDC contract.",
)
def c2c_streaming_merge(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.streaming.merge_sink import (
        run_streaming_merge,
        snapshot_live,
    )

    root = stage_archive(sf_dir, gz=True)
    per_trigger = _pace_per_trigger(root)
    snap_root = tempfile.mkdtemp(prefix="skr_merge_snap_")
    q = run_streaming_merge(
        spark,
        stream_archive(spark, root, max_files_per_trigger=per_trigger),
        snap_root,
        tempfile.mkdtemp(prefix="skr_ckpt_"),
    )
    _await_drained(q)
    assert os.path.exists(os.path.join(snap_root, "current"))
    return snapshot_live(spark, snap_root).select(
        "user_id",
        "last_type",
        F.round("last_value", 6).alias("last_value"),
        F.col("event_id").alias("last_event_id"),
    )


@register(
    "p18_replay_training_pipeline",
    "A6",
    _p18_oracle(),
    check="SEM",
    note="END-TO-END replay -> LLM-training-pipeline composite (VERDICT "
    "r6 item 4) — the reference's replay soul feeding the north-star "
    "pipeline in ONE declared entry. A staged gzip crawl archive of the "
    "documents corpus streams in paced micro-batches (real AvailableNow "
    "run, ~4 triggers at any SF) with the sanitize/normalize digest "
    "chain (t8's RE2-safe chain — r1's regex-rewrite stage shape) "
    "computed IN-STREAM; the drained batch then runs the incremental "
    "tiers against the persisted two-thirds snapshot (doc_id%3<>0): "
    "in-batch min-id exact dedup + digest anti-join (i1c), MinHash-LSH "
    "near-dup vs the snapshot's banded signatures (i3f production "
    "path), bloom-routed eval-set 5-gram decontamination with exact "
    "confirm (p14->p7, no false negatives so the oracle's direct join "
    "defines the same answer), sqrt-damped per-source mixture sample "
    "(p11), token-budget shard packing (p2). At 100 TB: the stream "
    "pays O(batch), the snapshot side is persisted digests/signatures "
    "(never corpus text), the bloom bit table broadcasts at any corpus "
    "size, and every shuffle moves digests/positions/grams — documents "
    "shuffle only at the final bounded sample.",
)
def p18_replay_training_pipeline(spark, sf_dir):
    from pyspark.sql import Window as W

    import os

    from s3_kinesis_replay_spark.operators.bloom import bloom_bits, bloom_screen
    from s3_kinesis_replay_spark.operators.dedup import (
        minhash_lsh_incremental_pairs,
        word_shingles,
    )
    from s3_kinesis_replay_spark.queries.pipeline_ops import (
        _SHARD_TOKENS,
        _VAL_LT,
        _bucket_col,
    )
    from s3_kinesis_replay_spark.sources.archive import (
        stage_doc_archive,
        stream_doc_archive,
    )

    # --- replay tier: paced stream over the staged crawl archive, with
    # the sanitize/normalize digest computed in-stream (map-only codegen).
    # The stream lands in a PARQUET staging sink — executor-side files,
    # never a driver collect (the memory sink the H entries use is
    # test-scale-only); the batch tier then reads the staged files, the
    # same stream->stage->batch handoff a 100 TB crawl would use.
    root = stage_doc_archive(sf_dir)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    sink_dir = tempfile.mkdtemp(prefix="skr_p18_sink_")
    _await_drained(
        stream_doc_archive(spark, root)
        .select("doc_id", "source", "text", F.md5(norm).alias("h"))
        .writeStream.format("parquet")
        .option("path", f"{sink_dir}/crawl")
        .option("checkpointLocation", f"{sink_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    crawl = spark.read.parquet(f"{sink_dir}/crawl")

    docs = t(spark, "documents", sf_dir)
    snap_docs = docs.filter(F.col("doc_id") % 3 != 0)

    # --- persisted snapshot artifacts (the PRODUCTION incremental tier):
    # the existing corpus's digest set, banded LSH signatures, and the
    # eval set's bloom bit table are built ONCE per corpus fingerprint
    # (atomic install, a8/i13b cache discipline) and only READ here — a
    # daily batch pays O(batch), the corpus text never recomputes. The
    # bloom bits round-trip through parquet, so the screen's (bits_hex, k)
    # sentinel validation runs on the stored-bits path every time.
    def _build_snapshot(tmp: str) -> None:
        from s3_kinesis_replay_spark.operators.dedup import (
            banded_signatures,
            minhash_signatures,
        )

        banded_signatures(
            minhash_signatures(
                snap_docs.select("doc_id", "text"), keep_shingle_hashes=True
            )
        ).write.parquet(f"{tmp}/banded")
        snap_docs.select(F.md5(norm).alias("h")).distinct().write.parquet(
            f"{tmp}/digests"
        )
        ev_grams = (
            docs.select(
                _bucket_col("doc_id"), F.split(F.lower("text"), " ").alias("toks")
            )
            .filter(F.col("bucket") >= _VAL_LT)
            .select(F.explode(word_shingles(F.col("toks"), k=5)).alias("g"))
            .distinct()
        )
        ev_grams.write.parquet(f"{tmp}/eval_grams")
        bloom_bits(spark.read.parquet(f"{tmp}/eval_grams")).write.parquet(
            f"{tmp}/bloom_bits"
        )

    from s3_kinesis_replay_spark.operators.similarity import (
        atomic_cached_build,
        data_fingerprint,
    )

    fp = data_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    snap_dir = atomic_cached_build(
        "/tmp/skr_p18_snapshot",
        f"{fp}-v1",
        _build_snapshot,
        os.path.join("bloom_bits", "_SUCCESS"),  # written LAST
    )

    # --- incremental exact dedup (i1c shape): in-batch min-id per digest,
    # then digest anti-join against the persisted snapshot digest set
    snap_h = spark.read.parquet(f"{snap_dir}/digests")
    inb = (
        crawl.withColumn(
            "rn", F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # localCheckpoint: survivors (the bounded new-docs batch) feeds FOUR
    # downstream consumers (LSH batch side, gram explode, the two
    # anti-joins in clean) — truncate lineage once instead of re-running
    # the drain+dedup per consumer, and break the self-join attribute
    # conflict the nd_ids anti-join would otherwise hit
    survivors = (
        inb.join(snap_h, "h", "left_anti")
        .select("doc_id", "source", "text")
        .localCheckpoint()
    )

    # --- incremental near-dup (i3f production path): batch signatures
    # band-join the STORED snapshot signatures; exact-Jaccard verified
    nd_ids = (
        minhash_lsh_incremental_pairs(
            snap_docs.select("doc_id", "text"),  # unused: snapshot_banded wins
            survivors.select("doc_id", "text"),
            threshold=0.8,
            snapshot_banded=spark.read.parquet(f"{snap_dir}/banded"),
        )
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
    )

    # --- eval-set decontamination (p14 STORED bits -> p7 exact confirm
    # against the STORED eval gram set — the corpus never re-explodes)
    ev_g = spark.read.parquet(f"{snap_dir}/eval_grams")
    sv_g = survivors.select(
        "doc_id", F.split(F.lower("text"), " ").alias("toks")
    ).select("doc_id", F.explode(word_shingles(F.col("toks"), k=5)).alias("g"))
    stored_bits = spark.read.parquet(f"{snap_dir}/bloom_bits")
    flagged = bloom_screen(sv_g, stored_bits).filter(F.col("bloom_hit"))
    cont_ids = flagged.join(ev_g, "g", "left_semi").select("doc_id").distinct()

    clean = survivors.join(nd_ids, "doc_id", "left_anti").join(
        cont_ids, "doc_id", "left_anti"
    )

    # --- mixture sample (p11): sqrt-damped per-source targets, md5-rank
    per_src = clean.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w_all = W.partitionBy()
    fs = F.floor(F.sqrt(F.col("n_docs"))).cast("bigint")
    targets = (
        per_src.select("source", "n_docs", fs.alias("fs"))
        .select(
            "source",
            "fs",
            F.sum("fs").over(w_all).alias("sw"),
            F.sum("n_docs").over(w_all).alias("total"),
        )
        .select(
            "source", F.expr("DIV(total * fs, sw)").cast("bigint").alias("target_n")
        )
    )
    rank_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#s42")))
    w_src = W.partitionBy("source").orderBy(rank_key, "doc_id")
    sampled = (
        clean.select(
            "doc_id",
            "source",
            "text",
            F.row_number().over(w_src).cast("bigint").alias("rn"),
        )
        .join(F.broadcast(targets), "source")
        .filter(F.col("rn") <= F.col("target_n"))
    )

    # --- shard packing (p2): token-budget shards per source
    tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w_pack = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    packed = (
        sampled.select("source", "doc_id", tokens.alias("tokens"))
        .withColumn("cum_tokens", F.sum("tokens").over(w_pack))
        .select(
            "source",
            "tokens",
            F.expr(f"(cum_tokens - tokens) div {_SHARD_TOKENS}").alias("shard_id"),
        )
    )
    return packed.groupBy("source", "shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tokens").alias("shard_tokens"),
    )


_SMG_ORACLE_PTR = "/tmp/skr_smg_oracle/current"


def _smg_oracle():
    from s3_kinesis_replay_spark.queries.aggregates import (
        mg_top5_oracle_sql,
    )

    return mg_top5_oracle_sql(_SMG_ORACLE_PTR)


@register(
    "d8d_streaming_heavy_hitters",
    "D8",
    _smg_oracle(),
    check="SEM",
    note="STREAMING heavy hitters — d4c's streaming-sketch pattern for "
    "the frequency trio member: the crawl archive streams in paced "
    "micro-batches, each batch writes its per-lang Misra-Gries counter "
    "set (operators/freq_sketch.py::mg_partial_summaries — at most m "
    "counters per lang per batch, the batch IS the shard) to a "
    "per-batch parquet artifact, and the drain-end merge counter-sums "
    "+ re-compresses the STORED artifacts without rescanning any text "
    "(mg_merge; Agarwal et al. PODS 2012 — merging preserves est <= "
    "exact <= est + N/(m+1) over the combined stream). Batch "
    "boundaries are irrelevant because the merge is commutative/"
    "associative — the algebra that turns per-day counter artifacts "
    "into corpus heavy hitters at 100 TB. Oracle (d8c pattern): merged "
    "estimates export behind the pointer, DuckDB recomputes the exact "
    "top-5 per lang, Spark computes the two-sided MG bound flag the "
    "oracle hard-codes TRUE.",
)
def d8d_streaming_heavy_hitters(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.operators.freq_sketch import (
        mg_merge,
        mg_partial_summaries,
    )
    from s3_kinesis_replay_spark.queries.aggregates import mg_top5_report
    from s3_kinesis_replay_spark.sources.archive import (
        pace_per_trigger,
        stage_doc_archive,
        stream_doc_archive,
    )

    M = 16
    root = stage_doc_archive(sf_dir)
    # ~4 micro-batches at any sf (the d4c pacing lesson: 17 batches at
    # sf0.1 cost 8.3 s of pure per-batch overhead where 4 cost ~3 s);
    # floor 2 keeps the sf0.01 correctness runs genuinely multi-batch
    per_trigger = pace_per_trigger(root, target_batches=4, floor=2)
    art_root = tempfile.mkdtemp(prefix="skr_smg_run_")

    def sink(batch_df, batch_id: int):
        toks = batch_df.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        (
            mg_partial_summaries(
                toks, "lang", "tok", shard_col=F.lit(0), m=M
            )
            .write.mode("overwrite")
            .parquet(os.path.join(art_root, f"batch-{batch_id}"))
        )

    q = (
        stream_doc_archive(spark, root, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    partials = spark.read.parquet(os.path.join(art_root, "batch-*"))
    est = (
        mg_merge(partials, m=M, item_type="string")
        .select(
            F.col("g").alias("lang"), F.col("it").alias("tok"), "est"
        )
        .localCheckpoint(eager=True)
    )
    # shared verification block (review r9): exact top-5 + two-sided MG
    # bound flag + export, ONE definition with the batch entry d8c
    return mg_top5_report(spark, sf_dir, est, M, _SMG_ORACLE_PTR)


_SCM_ORACLE_PTR = "/tmp/skr_scm_oracle/current"


def _scm_oracle():
    from s3_kinesis_replay_spark.queries.aggregates import (
        mg_top5_oracle_sql,
    )

    return mg_top5_oracle_sql(_SCM_ORACLE_PTR)


@register(
    "d16b_streaming_countmin",
    "D8",
    _scm_oracle(),
    check="SEM",
    note="STREAMING Count-Min — completes the streaming tier of the "
    "mergeable-sketch quartet (d4c HLL, d7b quantiles, d8d MG, now CM; "
    "VERDICT r10 item 5): each paced micro-batch of the crawl archive "
    "builds its SPARSE per-lang d x w counter cells (operators/"
    "freq_sketch.py::cm_partial_cells — pure codegen + native hash "
    "aggregate, <= d*distinct cells per batch whatever the text "
    "volume) and persists them as a per-batch parquet artifact; the "
    "drain-end merge is ONE groupBy counter-SUM over the stored "
    "artifacts (cm_merge — CM linearity, Cormode & Muthukrishnan "
    "2005), no raw text rescanned, and the merged sketch is "
    "BIT-IDENTICAL to a single-pass batch build (pinned in tests "
    "against d16). Batch boundaries are irrelevant because counter "
    "addition is commutative/associative — per-day CM artifacts roll "
    "up to corpus frequency estimates at 100 TB the same way. Oracle "
    "(d8c pattern): merged estimates export behind the pointer, DuckDB "
    "recomputes the exact top-5 per lang, Spark computes the one-sided "
    "CM bound flag (est >= exact, overcount <= N/64) the oracle "
    "hard-codes TRUE.",
)
def d16b_streaming_countmin(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.operators.freq_sketch import (
        cm_estimate,
        cm_merge,
        cm_partial_cells,
    )
    from s3_kinesis_replay_spark.queries.aggregates import (
        doc_tokens,
        sketch_top5_report,
    )
    from s3_kinesis_replay_spark.sources.archive import (
        pace_per_trigger,
        stage_doc_archive,
        stream_doc_archive,
    )

    D, W_CM = 4, 1024
    root = stage_doc_archive(sf_dir)
    per_trigger = pace_per_trigger(root, target_batches=4, floor=2)
    art_root = tempfile.mkdtemp(prefix="skr_scm_run_")

    def sink(batch_df, batch_id: int):
        toks = batch_df.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        (
            cm_partial_cells(
                toks, "lang", "tok", shard_col=F.lit(0), d=D, w=W_CM
            )
            .write.mode("overwrite")
            .parquet(os.path.join(art_root, f"batch-{batch_id}"))
        )

    q = (
        stream_doc_archive(spark, root, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    merged = cm_merge(spark.read.parquet(os.path.join(art_root, "batch-*")))
    est = cm_estimate(
        merged,
        doc_tokens(spark, sf_dir).select("lang", "tok").distinct(),
        group_col="lang",
        item_col="tok",
        d=D,
        w=W_CM,
        broadcast_sketch=True,  # langs are a handful — bounded broadcast
    ).localCheckpoint(eager=True)
    return sketch_top5_report(
        spark,
        sf_dir,
        est,
        _SCM_ORACLE_PTR,
        lambda est_n, exact_n, n_total: (est_n >= exact_n)
        & (est_n - exact_n <= F.floor(n_total / F.lit(64))),
    )


_SQSK_ORACLE_PTR = "/tmp/skr_sqsk_oracle/current"


@register(
    "d7c_streaming_quantile_merge",
    "D7",
    f"""
    WITH est AS (SELECT event_type, est_p25, est_p50, est_p75
                 FROM read_parquet('{_SQSK_ORACLE_PTR}/est/*.parquet')),
    exact AS (SELECT event_type,
                     ROUND(quantile_cont(value, 0.25), 6) AS p25_exact,
                     ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
                     ROUND(quantile_cont(value, 0.75), 6) AS p75_exact,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events WHERE value IS NOT NULL GROUP BY event_type)
    SELECT x.event_type, e.est_p25, e.est_p50, e.est_p75,
           x.p25_exact, x.p50_exact, x.p75_exact, x.n,
           TRUE AS in_bounds
    FROM exact x JOIN est e ON e.event_type = x.event_type
    ORDER BY x.event_type
    """,
    check="SEM",
    note="STREAMING quantiles — the LAST member of the sketch quartet's "
    "streaming tier (d4c HLL, d8d MG, d16b CM, now d7b's equi-rank "
    "quantile summaries): each paced micro-batch of the event archive "
    "writes its per-(event_type, shard) weighted summary points "
    "(operators/quantile_sketch.py::quantile_partials — m points per "
    "shard whatever the batch size) as a parquet artifact; the "
    "drain-end quantile_merge walks the concatenated weighted points "
    "WITHOUT rescanning any event. The micro-batch acts as one more "
    "implicit shard, which the bound absorbs unchanged (rank error <= "
    "Σ n_i/(2m) = N/(2m) for ANY split — the property that makes "
    "per-day summary artifacts roll up to corpus quantiles at 100 TB). "
    "Oracle (d7b pattern): merged estimates export behind the pointer, "
    "DuckDB recomputes exact quantile_cont per event_type, Spark "
    "computes in_bounds = every estimate inside the exact (q-2%, "
    "q+2%) rank window (5x slack on the declared 0.4%) while the "
    "oracle hard-codes TRUE.",
)
def d7c_streaming_quantile_merge(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.operators.quantile_sketch import (
        quantile_merge,
        quantile_partials,
    )
    from s3_kinesis_replay_spark.operators.similarity import (
        export_behind_pointer,
    )

    M = 128
    root = stage_archive(sf_dir, gz=True)
    per_trigger = _pace_per_trigger(root)
    art_root = tempfile.mkdtemp(prefix="skr_sqsk_run_")

    def sink(batch_df, batch_id: int):
        (
            quantile_partials(
                batch_df.filter(F.col("value").isNotNull()),
                group_col="event_type",
                value_col="value",
                shard_col=F.pmod(F.xxhash64("event_id"), F.lit(4)),
                m=M,
            )
            .write.mode("overwrite")
            .parquet(os.path.join(art_root, f"batch-{batch_id}"))
        )

    q = (
        stream_archive(spark, root, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    est = quantile_merge(
        spark.read.parquet(os.path.join(art_root, "batch-*")),
        "event_type",
        qs=(0.25, 0.5, 0.75),
    ).localCheckpoint(eager=True)

    # exact + rank windows, ONE percentile aggregate for all 9 fractions
    # (the d7b discipline — 9 separate aggs re-walk the group each time)
    fracs = [0.25, 0.5, 0.75, 0.23, 0.27, 0.48, 0.52, 0.73, 0.77]
    ev = t(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    exact = (
        ev.groupBy("event_type")
        .agg(
            F.percentile(
                "value", F.array(*[F.lit(x) for x in fracs])
            ).alias("_ps"),
            F.count("*").alias("n"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("_ps")[0], 6).alias("p25_exact"),
            F.round(F.col("_ps")[1], 6).alias("p50_exact"),
            F.round(F.col("_ps")[2], 6).alias("p75_exact"),
            F.col("_ps")[3].alias("_lo25"),
            F.col("_ps")[4].alias("_hi25"),
            F.col("_ps")[5].alias("_lo50"),
            F.col("_ps")[6].alias("_hi50"),
            F.col("_ps")[7].alias("_lo75"),
            F.col("_ps")[8].alias("_hi75"),
        )
    )
    in_bounds = (
        F.col("est_p25").between(F.col("_lo25"), F.col("_hi25"))
        & F.col("est_p50").between(F.col("_lo50"), F.col("_hi50"))
        & F.col("est_p75").between(F.col("_lo75"), F.col("_hi75"))
    )
    out = (
        exact.join(F.broadcast(est), "event_type")
        .select(
            "event_type",
            "est_p25",
            "est_p50",
            "est_p75",
            "p25_exact",
            "p50_exact",
            "p75_exact",
            "n",
            in_bounds.alias("in_bounds"),
        )
        .orderBy("event_type")
    )
    export_behind_pointer(
        _SQSK_ORACLE_PTR,
        lambda export: est.write.mode("overwrite").parquet(
            os.path.join(export, "est")
        ),
    )
    return out


@register(
    "p19_lakehouse_maintenance",
    "A6",
    """
    WITH new_state AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ),
    old_state AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id < 5000) WHERE rn = 1
    ),
    diff AS (
      SELECT CASE WHEN o.user_id IS NULL THEN 'insert'
                  WHEN n.user_id IS NULL THEN 'delete'
                  ELSE 'update' END AS op
      FROM old_state o FULL OUTER JOIN new_state n ON n.user_id = o.user_id
      WHERE o.user_id IS NULL OR n.user_id IS NULL
         OR o.event_id IS DISTINCT FROM n.event_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_rows,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
             AS n_users,
           TRUE AS audit_ok,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM diff
            WHERE op = 'insert') AS n_inserts,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM diff
            WHERE op = 'update') AS n_updates
    """,
    check="SEM",
    note="LAKEHOUSE MAINTENANCE composite — the operational twin of "
    "p18's training composite, proving the round-9 layer composes over "
    "the replay soul: the gz archive stream-replays into a RAW LANDING "
    "parquet sink (paced micro-batches -> naturally many small files), "
    "which is then COMPACTED (a12's repartitionByRange + "
    "maxRecordsPerFile bin-pack, day-partitioned), Z-ORDER rewritten "
    "on (time, user) (a11's codegen Morton codes -> balanced file "
    "pruning for time-or-user predicates), AUDITED (v1's constraint "
    "style: event-time window, event_id uniqueness, user completeness "
    "— computed over the MAINTAINED table, so a maintenance step that "
    "drops/duplicates/corrupts rows flips audit_ok or the counts), and "
    "DIFFED against the id<5000 previous snapshot (c2d's CDC "
    "extraction). The oracle recomputes counts and the change feed "
    "from the source events and hard-codes audit_ok=TRUE. File "
    "discipline (landing fragments > compacted files >= z files, "
    "per-file row caps) is pinned in tests/test_streaming.py.",
)
def p19_lakehouse_maintenance(spark, sf_dir):
    import math
    import os

    from s3_kinesis_replay_spark.operators.layout import zorder_write

    root = stage_archive(sf_dir, gz=True)
    work = tempfile.mkdtemp(prefix="skr_p19_")

    # 1) replay -> raw landing (the Firehose-shaped small-file mess)
    _await_drained(
        stream_archive(spark, root, max_files_per_trigger=_pace_per_trigger(root))
        .writeStream.format("parquet")
        .option("path", f"{work}/landing")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    landing = spark.read.parquet(f"{work}/landing")

    # 2) compact: day-partitioned, ~4000 rows per file
    target = 4000
    n = landing.count()
    (
        landing.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .repartitionByRange(
            max(1, math.ceil(n / target)), "day", "event_id"
        )
        .sortWithinPartitions("day", "event_id")
        .write.option("maxRecordsPerFile", target)
        .partitionBy("day")
        .mode("overwrite")
        .parquet(f"{work}/compacted")
    )

    # 3) z-order maintenance rewrite on (event time, user)
    compacted = spark.read.parquet(f"{work}/compacted").drop("day")
    zorder_write(
        compacted,
        f"{work}/zorder",
        dims=[F.unix_timestamp("ts"), F.col("user_id")],
        n_files=8,
        bits=10,
    )
    maintained = spark.read.parquet(f"{work}/zorder")

    # 4) audit the MAINTAINED table (not the source): window, PK, nulls
    audit = maintained.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        (
            (F.count("*") == F.countDistinct("event_id"))
            & (F.sum(F.col("user_id").isNull().cast("int")) == 0)
            & (
                F.sum(
                    (
                        F.col("ts").isNull()
                        | (F.col("ts") < "2024-01-01 00:00:00")
                        | (F.col("ts") >= "2024-02-01 00:00:00")
                    ).cast("int")
                )
                == 0
            )
        ).alias("audit_ok"),
    )

    # 5) CDC vs the id<5000 previous snapshot (c2d shape, key grain)
    def state(df):
        key = F.struct("ts", "event_id")
        return df.groupBy("user_id").agg(
            F.max_by("event_id", key).alias("last_event_id")
        )

    old = state(maintained.filter(F.col("event_id") < 5000)).select(
        "user_id", F.col("last_event_id").alias("old_event_id")
    )
    new = state(maintained).select(
        "user_id", F.col("last_event_id").alias("new_event_id")
    )
    j = old.join(new, "user_id", "full_outer").filter(
        F.col("old_event_id").isNull()
        | F.col("new_event_id").isNull()
        | ~F.col("old_event_id").eqNullSafe(F.col("new_event_id"))
    )
    # coalesce: F.sum over an EMPTY diff returns NULL where the oracle's
    # COUNT(*) returns 0 — at sf0.001 every event_id < 5000, the diff is
    # empty, and NULL would hash-mismatch (review r9)
    diff = j.agg(
        F.coalesce(
            F.sum(F.col("old_event_id").isNull().cast("long")), F.lit(0)
        ).alias("n_inserts"),
        F.coalesce(
            F.sum(
                (
                    F.col("old_event_id").isNotNull()
                    & F.col("new_event_id").isNotNull()
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_updates"),
    )
    return audit.crossJoin(diff).select(
        "n_rows", "n_users", "audit_ok", "n_inserts", "n_updates"
    )


@register(
    "a15c_streaming_snapshot_ingest",
    "A8",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    check="SEM",
    note="STREAMING INGEST INTO THE VERSIONED TABLE — closes the "
    "lakehouse chain (stream -> a15 snapshots -> a15b CDC -> p22 "
    "incremental refresh): each paced micro-batch commits ONE append "
    "snapshot via operators/table_format.py::snapshot_write, so the "
    "version history IS the ingest history (any version is "
    "time-travel-readable mid-stream, and every consecutive version "
    "pair is a valid CDC window). Commits are made IDEMPOTENT under "
    "foreachBatch's at-least-once retries by tagging each manifest "
    "with its batch_id and skipping an already-committed batch — the "
    "(batch_id, commit) dedup that turns retries into exactly-once "
    "table state, same discipline as the c2c merge sink. Result = the "
    "final table's per-type aggregate (batch-boundary-invariant; the "
    "oracle recomputes from source). Version COUNT varies with pacing "
    "— deliberately not part of the checked result.",
)
def a15c_streaming_snapshot_ingest(spark, sf_dir):
    import json
    import os

    from s3_kinesis_replay_spark.operators.table_format import (
        _read_manifest,
        _schema_of,
        commit_append_files,
        snapshot_read,
        versions,
    )

    root_archive = stage_archive(sf_dir, gz=True)
    per_trigger = _pace_per_trigger(root_archive)
    tbl = tempfile.mkdtemp(prefix="skr_snaping_")

    def sink(batch_df, batch_id: int):
        # idempotence: a retried batch finds its tag and commits nothing.
        # Batch ids commit in order, so scan manifests NEWEST-FIRST and
        # stop at the first tag below batch_id — O(1) amortized per batch
        # instead of re-reading the whole history every commit (review
        # r11: the full scan was O(V^2) over the drain, contradicting the
        # entry's own version-per-micro-batch production framing).
        for v in sorted(versions(tbl), reverse=True):
            op = _read_manifest(tbl, v)["operation"]
            bid = int(op.rsplit(":b", 1)[1])
            if bid == batch_id:
                return
            if bid < batch_id:
                break
        part = f"batch-{batch_id}"
        out_dir = os.path.join(tbl, "data", part)
        batch_df.write.mode("overwrite").parquet(out_dir)
        new_files = [
            os.path.join("data", part, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
        # commit_append_files (r12) owns the prior-merge + base-validated
        # commit + bounded CommitConflict retry — a concurrent writer on
        # the same table no longer loses this batch's files silently
        commit_append_files(
            tbl, new_files, f"append:b{batch_id}", _schema_of(batch_df)
        )

    q = (
        stream_archive(spark, root_archive, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    return (
        snapshot_read(spark, tbl)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fdec(F.sum(sdec("value"))).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "a15j_streaming_upsert_ingest",
    "A8",
    f"""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           ROUND(CAST(CAST(value AS {DEC}) AS DOUBLE), 6) AS last_value
    FROM events e
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
    ORDER BY user_id
    """,
    check="SEM",
    note="STREAMING UPSERT INGEST (CDC apply) — the capstone on the r12 "
    "lakehouse tier: each paced micro-batch reduces to one row per "
    "user_id (max_by event_id, a struct-max codegen aggregate) and "
    "applies it to the manifest table with ONE atomic snapshot_merge — "
    "append + sequence-scoped delete-key file, so the batch's rows "
    "replace each user's prior state without rewriting a byte of data. "
    "The maintained table IS 'latest event per user', the shape every "
    "CDC consumer materializes; because the archive replays in "
    "event_id order and merge-per-batch is last-writer-wins, the final "
    "state is batch-boundary-invariant (checked against the oracle's "
    "windowed recompute from source), and a RETRIED batch re-merges "
    "identical rows — row-level idempotent, converging state, though "
    "version COUNT varies with pacing (SEM, the a15c discipline). "
    "At 100 TB: per-batch cost is O(batch users) data + O(new files) "
    "metadata (two-level manifests), never O(table) — the table ages "
    "without ingest slowing down; compaction folds the delete rent on "
    "its own schedule. Every intermediate version remains "
    "time-travel-readable mid-stream.",
)
def a15j_streaming_upsert_ingest(spark, sf_dir):
    from s3_kinesis_replay_spark.operators.table_format import (
        latest_version,
        snapshot_auto_maintain,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    root_archive = stage_archive(sf_dir, gz=True)
    per_trigger = _pace_per_trigger(root_archive)
    tbl = tempfile.mkdtemp(prefix="skr_upsering_")

    def sink(batch_df, batch_id: int):
        latest = (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("event_id", "event_type", "value")
                ).alias("s")
            )
            .select(
                "user_id",
                F.col("s.event_id").alias("last_event_id"),
                F.col("s.event_type").alias("last_type"),
                F.col("s.value").alias("last_value"),
            )
        )
        if latest_version(tbl) == 0:
            snapshot_write(spark, latest, tbl, mode="overwrite")
        else:
            snapshot_merge(spark, tbl, latest, "user_id")
        # maintenance cadence (r13, VERDICT r12 item 6): without it the
        # drain accrues one data segment + one delete HORIZON per batch
        # forever — fold bounds manifest descriptors, compact (every
        # ~12 delete horizons) resets the MOR read rent. At most one
        # action per batch, so the ingest's per-batch cost stays spiky-
        # bounded; results are invariant (pinned by the long-drain test).
        snapshot_auto_maintain(spark, tbl, fold_at=8, compact_at=12)

    q = (
        stream_archive(spark, root_archive, max_files_per_trigger=per_trigger)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    return (
        snapshot_read(spark, tbl)
        .select(
            "user_id",
            "last_event_id",
            "last_type",
            fdec(sdec("last_value")).alias("last_value"),
        )
        .orderBy("user_id")
    )


def _stream_source_table(spark, sf_dir: str) -> str:
    """Install (once, fingerprint-cached, atomic) the streaming-source
    fixture: a manifest table over events built as genesis + two append
    commits — three distinct version steps for the source to walk."""
    import os

    from s3_kinesis_replay_spark.operators.similarity import (
        atomic_cached_build,
        data_fingerprint,
    )
    from s3_kinesis_replay_spark.operators.table_format import (
        snapshot_write,
    )

    fp = data_fingerprint(os.path.join(sf_dir, "events.parquet"))[:10]
    ev = t(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )

    def build(tmp: str) -> None:
        snapshot_write(
            spark, ev.filter(F.col("event_id") % 3 == 0), tmp, mode="overwrite"
        )
        snapshot_write(
            spark, ev.filter(F.col("event_id") % 3 == 1), tmp, mode="append"
        )
        snapshot_write(
            spark, ev.filter(F.col("event_id") % 3 == 2), tmp, mode="append"
        )

    return atomic_cached_build(
        "/tmp/skr_streamsrctbl", f"{fp}-ss1", build, "_latest"
    )


@register(
    "a20_streaming_table_source",
    "A6",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="MANIFEST TABLE AS A STREAMING SOURCE (r13 — the public "
    "Delta-streaming-source design on this repo's table tier, closing "
    "the loop a15c opened: tables are now both ENDS of a stream): "
    "streaming/snapshot_source.py implements Spark 4's Python "
    "DataSourceStreamReader with OFFSETS = SNAPSHOT VERSIONS — each "
    "micro-batch's input partitions are exactly the data files the "
    "covered append commits added (one partition per file, "
    "executor-parallel pyarrow reads returning Arrow batches; zero "
    "driver data path), exactly-once via Spark's checkpointed offset "
    "log over immutable manifests. Non-append commits refuse loudly "
    "(or skip under skip_changes=true, the honest ignoreChanges "
    "subset); add-column evolution NULL-fills old files worker-side. "
    "The entry streams a 3-commit table to completion and aggregates "
    "the sink; the oracle recomputes from source, so a source that "
    "drops a version, re-emits one, or misreads a file "
    "hash-mismatches. At 100 TB: a version step costs O(its new "
    "files) metadata and only new data moves — the incremental-ETL "
    "economics (tests prove the restart path re-reads nothing).",
)
def a20_streaming_table_source(spark, sf_dir):
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    root = _stream_source_table(spark, sf_dir)
    register_snapshot_source(spark)
    stream = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .load()
    )
    sunk = _drain(spark, stream)
    return (
        sunk.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            fdec(F.sum(sdec("value"))).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "a20b_byte_paced_table_stream",
    "A6",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="BYTE-PACED TABLE STREAMING (r14, VERDICT item 8 — the file "
    "source's maxBytesPerTrigger for the a20 snapshot source): "
    "``max_bytes_per_batch`` caps a micro-batch by the APPENDED BYTES "
    "of the commits it covers, read from the segment descriptors' "
    "recorded per-file sizes (Iceberg's file_size_in_bytes, stamped at "
    "write time) — the cap walk is O(#commits) metadata, zero file "
    "stats. Soft cap at commit granularity with guaranteed progress: "
    "the first uncovered commit always fits, so wildly uneven commits "
    "still drain. The entry starts a paced live stream on a 1-commit "
    "table, lands two more commits mid-stream, and gates on ≥3 data "
    "batches (cap=1 byte forces one commit per batch) AND an exact "
    "row-count match (the r14 pacing-window fix: a regressing offset "
    "used to DUPLICATE rows — the gate would see >100% rows). The "
    "oracle recomputes the aggregate from source. At 100 TB this cap "
    "is what keeps a backfill's micro-batches sized to executor "
    "memory when commit sizes vary by 1000× — versions-per-batch "
    "alone cannot.",
)
def a20b_byte_paced_table_stream(spark, sf_dir):
    import tempfile
    import time

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        register_snapshot_source,
    )

    register_snapshot_source(spark)
    ev = t(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    total = ev.count()
    # fresh table per run BY DESIGN: pacing state is positional
    # (checkpoints + mid-run appends can't be shared across runs)
    root = tempfile.mkdtemp(prefix="skr_pacetbl_")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") % 3 == 0), root, mode="overwrite"
    )
    n0 = tf.snapshot_read(spark, root).count()
    name = "skr_a20b_" + uuid.uuid4().hex[:8]
    q = (
        spark.readStream.format("snapshot_table")
        .option("root", root)
        .option("max_bytes_per_batch", "1")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        while time.time() < deadline and spark.table(name).count() < n0:
            time.sleep(0.3)
        # position known; two more commits land mid-stream
        tf.snapshot_write(
            spark, ev.filter(F.col("event_id") % 3 == 1), root, mode="append"
        )
        tf.snapshot_write(
            spark, ev.filter(F.col("event_id") % 3 == 2), root, mode="append"
        )
        while time.time() < deadline and spark.table(name).count() < total:
            time.sleep(0.3)
        n = spark.table(name).count()
    finally:
        q.stop()
    if n != total:
        raise RuntimeError(
            f"a20b gate FAILED: sink has {n} rows, expected {total} "
            "(short = stalled pacing window; long = duplicated offsets)"
        )
    batches = [
        p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0
    ]
    if len(batches) < 3:
        raise RuntimeError(
            f"a20b gate FAILED: byte cap did not pace — data batches "
            f"{batches} (expected one commit per batch after the first)"
        )
    out = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            fdec(F.sum(sdec("value"))).alias("sum_value"),
        )
        .orderBy("event_type")
    )
    # live-build entry: materialize the small aggregate, then drop the
    # tempdir table (one events copy per run otherwise leaks)
    # live-build entry: materialize (one Arrow transfer — helpers
    # .localize, r17), then drop the tempdir table
    from s3_kinesis_replay_spark.queries.helpers import localize

    local = localize(spark, out)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return local


@register(
    "a15r_streaming_cdc",
    "A6",
    """
    WITH src AS (
      SELECT event_id, user_id, CAST(value AS DOUBLE) AS value FROM events
    ),
    v2_ins AS (
      SELECT event_id, user_id, value,
             'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM src WHERE event_id >= 6000
    ),
    v3_del AS (
      SELECT event_id, user_id, value, 'delete', CAST(3 AS BIGINT)
      FROM src WHERE event_id % 7 = 0
    ),
    state3 AS (SELECT * FROM src WHERE event_id % 7 <> 0),
    v4_pre AS (
      SELECT event_id, user_id, value,
             'update_preimage', CAST(4 AS BIGINT)
      FROM state3 WHERE event_id % 5 = 0
    ),
    v4_post AS (
      SELECT event_id, user_id, value * 2,
             'update_postimage', CAST(4 AS BIGINT)
      FROM state3 WHERE event_id % 5 = 0
    )
    SELECT * FROM v2_ins
    UNION ALL SELECT * FROM v3_del
    UNION ALL SELECT * FROM v4_pre
    UNION ALL SELECT * FROM v4_post
    """,
    note="STREAMING ROW-LEVEL CDC (r14 — Delta readChangeFeed's "
    "streaming form, synthesized at read time): the 'snapshot_changes' "
    "DataSource emits (row, _change_type, _commit_version) as a "
    "structured stream with NO driver data path and NO Spark-side "
    "joins — every event class reduces to per-FILE pyarrow work in "
    "the worker: appends read the new file; position-delete preimages "
    "read ONLY the addressed files and join on row index; equality-"
    "delete preimages rebuild one file's visible rows (sequence-scoped "
    "anti-joins against its applicable prior delete state) then "
    "semi-join the commit's keys — each file one executor task, key "
    "files small by construction. Merge commits classify at PLAN time "
    "(a15s); overwrite/restore refuse (provenance). The entry drains "
    "append → equality delete → predicate update as a stream and "
    "hash-compares the FULL event set against the CTE replay — the "
    "same bar as batch a15p, through the streaming front door. At "
    "100 TB: a CDC consumer streams O(changed rows + touched files) "
    "per commit, executor-parallel, exactly-once over the checkpointed "
    "offset log.",
)
def a15r_streaming_cdc(spark, sf_dir):
    import tempfile

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    ev = t(spark, "events", sf_dir).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    root = tempfile.mkdtemp(prefix="skr_scdctbl_")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") < 6000), root, mode="overwrite"
    )  # v1
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 6000), root, mode="append"
    )  # v2
    tf.snapshot_delete(
        spark,
        root,
        ev.filter(F.col("event_id") % 7 == 0).select("event_id"),
        "event_id",
    )  # v3
    tf.snapshot_update_where(
        spark, root, "event_id % 5 = 0", {"value": "value * 2"}
    )  # v4
    stream = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "1")
        .load()
    )
    sunk = _drain(spark, stream)
    out = sunk.select(
        "event_id", "user_id", "value", "_change_type", "_commit_version"
    )
    # live-build entry: materialize (one Arrow transfer — helpers
    # .localize, r17), then drop the tempdir table
    from s3_kinesis_replay_spark.queries.helpers import localize

    local = localize(spark, out)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return local


@register(
    "a15s_streaming_cdc_merge",
    "A6",
    """
    WITH src AS (
      SELECT event_id, user_id, CAST(value AS DOUBLE) AS value FROM events
    ),
    v2_ins AS (
      SELECT event_id, user_id, value,
             'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
      FROM src WHERE event_id >= 6000
    ),
    v3_del AS (
      SELECT event_id, user_id, value, 'delete', CAST(3 AS BIGINT)
      FROM src WHERE event_id % 7 = 0
    ),
    state3 AS (SELECT * FROM src WHERE event_id % 7 <> 0),
    v4_pre AS (
      SELECT event_id, user_id, value,
             'update_preimage', CAST(4 AS BIGINT)
      FROM state3 WHERE event_id % 5 = 0
    ),
    v4_post AS (
      SELECT event_id, user_id, value * 3,
             'update_postimage', CAST(4 AS BIGINT)
      FROM src WHERE event_id % 5 = 0 AND event_id % 7 <> 0
    ),
    v4_ins AS (
      SELECT event_id, user_id, value * 3,
             'insert', CAST(4 AS BIGINT)
      FROM src WHERE event_id % 5 = 0 AND event_id % 7 = 0
    )
    SELECT * FROM v2_ins
    UNION ALL SELECT * FROM v3_del
    UNION ALL SELECT * FROM v4_pre
    UNION ALL SELECT * FROM v4_post
    UNION ALL SELECT * FROM v4_ins
    """,
    note="STREAMING CDC ACROSS A MERGE COMMIT (r15, VERDICT r14 item "
    "2): the 'snapshot_changes' source no longer refuses MERGE — the "
    "RUNNER classifies the commit's keys at plan time with one bounded "
    "pass (the merge's own key files are small by construction, and "
    "only prior files whose manifest stats overlap the keys' range are "
    "read, key column only, under the same sequence-scoped visibility "
    "rebuild the worker applies), then ships the matched-key verdict "
    "inside the postimage partitions; workers split update_postimage "
    "vs insert per-file with zero cross-file work, and preimages reuse "
    "the delete machinery relabeled update_preimage. The entry drains "
    "append → equality delete → MERGE (keys %5==0, where the %35==0 "
    "ones were deleted at v3 so their merge rows must classify INSERT, "
    "not update) and hash-compares the full event stream against the "
    "CTE replay — the matched/unmatched split is exactly the batch "
    "snapshot_row_changes semantics, through the streaming front "
    "door. At 100 TB: plan cost is O(stats-overlapping files' key "
    "column), worker cost O(changed rows + touched files), "
    "exactly-once over the checkpointed offset log; overwrite/restore "
    "still refuse (file provenance cannot name the changed rows).",
)
def a15s_streaming_cdc_merge(spark, sf_dir):
    import tempfile

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    ev = t(spark, "events", sf_dir).select(
        "event_id", "user_id", F.col("value").cast("double").alias("value")
    )
    root = tempfile.mkdtemp(prefix="skr_scdcmrg_")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") < 6000), root, mode="overwrite"
    )  # v1
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 6000), root, mode="append"
    )  # v2
    tf.snapshot_delete(
        spark,
        root,
        ev.filter(F.col("event_id") % 7 == 0).select("event_id"),
        "event_id",
    )  # v3
    tf.snapshot_merge(
        spark,
        root,
        ev.filter(F.col("event_id") % 5 == 0).withColumn(
            "value", F.col("value") * 3
        ),
        "event_id",
    )  # v4
    stream = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "1")
        .load()
    )
    sunk = _drain(spark, stream)
    out = sunk.select(
        "event_id", "user_id", "value", "_change_type", "_commit_version"
    )
    # live-build entry: materialize (one Arrow transfer — helpers
    # .localize, r17), then drop the tempdir table
    from s3_kinesis_replay_spark.queries.helpers import localize

    local = localize(spark, out)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return local


@register(
    "a15u_streaming_cdc_composite",
    "A6",
    """
    WITH base AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS sv
      FROM events WHERE event_id < 6000 GROUP BY user_id, event_type
    ),
    src AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS sv
      FROM events WHERE event_id >= 6000 GROUP BY user_id, event_type
    ),
    deld AS (SELECT * FROM base WHERE n % 3 = 0),
    state2 AS (SELECT * FROM base WHERE n % 3 <> 0),
    m AS (
      SELECT t.user_id, t.event_type, t.n, t.sv, s.n AS sn, s.sv AS ssv
      FROM state2 t JOIN src s
        ON t.user_id = s.user_id AND t.event_type = s.event_type
    ),
    ins AS (
      SELECT s.* FROM src s WHERE NOT EXISTS (
        SELECT 1 FROM state2 t
        WHERE t.user_id = s.user_id AND t.event_type = s.event_type)
    )
    SELECT user_id, event_type, n, sv, 'delete' AS _change_type,
           CAST(2 AS BIGINT) AS _commit_version
    FROM deld
    UNION ALL SELECT user_id, event_type, n, sv,
           'update_preimage', CAST(3 AS BIGINT) FROM m WHERE ssv > sv
    UNION ALL SELECT user_id, event_type, n + sn, sv + ssv,
           'update_postimage', CAST(3 AS BIGINT) FROM m WHERE ssv > sv
    UNION ALL SELECT user_id, event_type, n, sv,
           'delete', CAST(3 AS BIGINT) FROM m WHERE NOT (ssv > sv)
    UNION ALL SELECT user_id, event_type, n, sv,
           'insert', CAST(3 AS BIGINT) FROM ins
    """,
    note="STREAMING CDC OVER A COMPOSITE ROW IDENTITY (r16, VERDICT "
    "r15 item 2's streaming half): the 'snapshot_changes' source "
    "plans and reads (user_id, event_type)-keyed commits — the "
    "runner's stats skip conjuncts per-column ranges, the kidx probe "
    "hashes the key TUPLE, the plan-time matched-key classification "
    "and the workers' visibility rebuild anti-join on the column SET "
    "(exact join-based membership, not per-column is_in, so "
    "cross-products of present values cannot false-match). The drain "
    "crosses a composite equality DELETE (keys with n%3=0) and a "
    "composite CLAUSE MERGE (conditional UPDATE / matched DELETE / "
    "INSERT *) — keys deleted at v2 and re-merged at v3 must classify "
    "INSERT (sequence-scoped visibility), matched-no-postimage keys "
    "must classify DELETE. Hash-matched against the CTE replay. At "
    "100 TB: same bounded-runner economics as a15s; composite adds "
    "one key column read per key file, nothing table-sized.",
)
def a15u_streaming_cdc_composite(spark, sf_dir):
    import tempfile

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    kl = ["user_id", "event_type"]
    ev = t(spark, "events", sf_dir)
    summ = (
        ev.filter(F.col("event_id") < 6000)
        .groupBy(*kl)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).cast(
                    "double"
                ),
                6,
            ).alias("sv"),
        )
    )
    root = tempfile.mkdtemp(prefix="skr_scdcck_")
    tf.snapshot_write(spark, summ, root, mode="overwrite")  # v1
    tf.snapshot_delete(
        spark, root, summ.filter(F.col("n") % 3 == 0).select(*kl), kl
    )  # v2
    src3 = (
        ev.filter(F.col("event_id") >= 6000)
        .groupBy(*kl)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.expr("CAST(value AS DECIMAL(38,6))")).cast(
                    "double"
                ),
                6,
            ).alias("sv"),
        )
    )
    tf.snapshot_merge_clauses(
        spark,
        root,
        src3,
        kl,
        [
            {
                "kind": "update",
                "cond": "s.sv > t.sv",
                "sets": {"sv": "t.sv + s.sv", "n": "t.n + s.n"},
            },
            {"kind": "delete", "cond": None},
            {"kind": "insert", "cond": None, "cols": None, "values": None},
        ],
    )  # v3
    stream = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "1")
        .load()
    )
    sunk = _drain(spark, stream)
    out = sunk.select(
        "user_id", "event_type", "n", "sv",
        "_change_type", "_commit_version",
    )
    # live-build entry: materialize (one Arrow transfer — helpers
    # .localize, r17), then drop the tempdir table
    from s3_kinesis_replay_spark.queries.helpers import localize

    local = localize(spark, out)
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    return local


@register(
    "p24_streaming_ivm",
    "D1",
    f"""
    WITH src AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value FROM events
    ),
    state3 AS (SELECT * FROM src WHERE event_id % 7 <> 0),
    state4 AS (
      SELECT event_type,
             CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END AS value
      FROM state3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS {DEC})) AS DOUBLE), 6) AS sum_value
    FROM state4 GROUP BY event_type ORDER BY event_type
    """,
    note="STREAMING DIFFERENTIAL VIEW MAINTENANCE (r14 — the round's "
    "pieces composed end-to-end: a15r's CDC stream DRIVES p23's "
    "signed-delta refresh): the source table takes an append, an "
    "equality DELETE, and a predicate UPDATE; the 'snapshot_changes' "
    "stream feeds a foreachBatch consumer that reduces each "
    "micro-batch to signed per-group partials (insert/postimage +1, "
    "delete/preimage -1 — O(groups) rows) and APPENDS them to a "
    "second manifest table that IS the materialized view, as one "
    "idempotent tagged atomic commit per batch (the a15c replay "
    "guard: a retried batch finds its tag and commits nothing — "
    "exactly-once view maintenance under kill/resume). Reading the "
    "view = one aggregate over base + ledger partials, O(batches x "
    "groups), groups at zero rows drop. The oracle recomputes from "
    "the replayed final state, so a consumer that double-applies a "
    "batch, drops a preimage, or mis-signs an update "
    "hash-mismatches. At 100 TB: per-batch cost is O(changed rows) + "
    "one O(groups) metadata commit; the view never rescans the fact "
    "table, and ledger growth folds away with the ordinary "
    "auto-maintenance cadence.",
)
def p24_streaming_ivm(spark, sf_dir):
    import os

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    ev = t(spark, "events", sf_dir).select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    root = tempfile.mkdtemp(prefix="skr_ivmsrc_")
    view = tempfile.mkdtemp(prefix="skr_ivmview_")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") < 6000), root, mode="overwrite"
    )  # source v1
    # the view's genesis = the base aggregate's partials
    tf.snapshot_write(
        spark,
        tf.snapshot_read(spark, root, 1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(sdec("value")).alias("sum_dec"),
        ),
        view,
        mode="overwrite",
    )
    # the mutations the view must absorb
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 6000), root, mode="append"
    )  # v2
    tf.snapshot_delete(
        spark,
        root,
        ev.filter(F.col("event_id") % 7 == 0).select("event_id"),
        "event_id",
    )  # v3
    tf.snapshot_update_where(
        spark, root, "event_id % 5 = 0", {"value": "value * 2"}
    )  # v4

    def sink(batch_df, batch_id: int):
        # idempotence guard (a15c): a replayed batch finds its tag
        for v in sorted(tf.versions(view), reverse=True):
            op = tf._read_manifest(view, v)["operation"]
            if ":b" not in op:
                break  # reached the genesis overwrite
            bid = int(op.rsplit(":b", 1)[1])
            if bid == batch_id:
                return
            if bid < batch_id:
                break
        partials = (
            batch_df.withColumn(
                "w",
                F.when(
                    F.col("_change_type").isin(
                        "insert", "update_postimage"
                    ),
                    1,
                ).otherwise(-1),
            )
            .groupBy("event_type")
            .agg(
                F.sum("w").alias("n_events"),
                F.sum(F.col("w") * sdec("value")).alias("sum_dec"),
            )
        )
        part = f"batch-{batch_id}"
        out_dir = os.path.join(view, "data", part)
        partials.write.mode("overwrite").parquet(out_dir)
        new_files = [
            os.path.join("data", part, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
        tf.commit_append_files(
            view, new_files, f"append:b{batch_id}", tf._schema_of(partials)
        )

    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "1")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="skr_ckpt_"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)

    out = (
        tf.snapshot_read(spark, view)
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            fdec(F.sum("sum_dec")).alias("sum_value"),
        )
        .filter(F.col("n_events") > 0)
        .orderBy("event_type")
    )
    rows = out.collect()  # bounded: one row per event_type
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(view, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
