#!/usr/bin/env python
"""Benchmark runner (BASELINE.md protocol).

Runs the headline declared queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], 3 runs each, median
wall-clock, and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with a noop-sink write (`df.write.format("noop")`),
which materializes every output row and all projected expressions —
unlike count(), under which Catalyst may prune final-projection
expressions (VERDICT r3 bench-fidelity note). Each query gets one
untimed warm-up run before its timed samples, and os.getloadavg() is
recorded before/after so a contention-contaminated record (the r03
36 s artifact) self-adjudicates.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from s3_kinesis_replay_spark.registry import all_queries
from s3_kinesis_replay_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
LOCAL_RECORD = REPO / "BENCH_LOCAL.json"

# Headline set: one per operator family, weighted toward shuffle/join/window
# heavy shapes (the 100 TB cost centers).
HEADLINE = [
    "q1_pricing_summary",     # scan + partial agg + decimal sums
    "q3_shipping_priority",   # 3-way join + agg + top-k
    "q5_local_supplier_volume",  # 6-table join, broadcast dims
    "a4_gzip_scan",           # archive read path (gzip NDJSON)
    "c1_inner_join",          # fact-fact shuffle join
    "c3_broadcast_join",      # dim broadcast join + agg
    "c8_asof_join",           # union-tag + window as-of
    "c9_self_join",           # self equi-join
    "d3_count_distinct",      # distinct rewrite
    "d11_rollup",             # Expand + agg
    "e1_ranking",             # wide window functions
    "e4_running_total",       # running frame
    "f3_global_topk",         # TakeOrdered
    "h1b_tumbling_window_batch",  # time-bucketed agg
    "i3_minhash_lsh_neardup", # shingle → minhash → band join → verify
    "i5_topk_cosine",         # vector brute top-k
    "i7_wordcount",           # explode + agg
    "i8_tfidf",               # multi-join text pipeline
    "mm1_media_features",     # Arrow mapInPandas feature extraction
    "p1_training_prep",       # composite: filter → near-dup removal → stats
    # round 5: the two heaviest similarity ops join the headline set so the
    # gate sees them (VERDICT r4 item 6); BASELINE.md's round-5 table is the
    # matching baseline series.
    "i14_semdedup",           # k-means cells + within-cell exact cosine dedup
    "i5b_batch_topk",         # query-DataFrame batch ANN (cogrouped grid)
    # round 7: the incremental tier's two most expensive representatives
    # join the headline set (VERDICT r6 item 5); BASELINE.md's round-5b
    # extras series supplies their baseline rows (i3f 2.03, p14 1.11 ->
    # official headline baseline total 20.23 s from round 7 on).
    "i3f_incremental_neardup",  # batch-vs-snapshot LSH band join
    "p14_bloom_contamination",  # bounded-bit bloom pre-screen
]

# Entries added THIS round: always benched (they have no prior record),
# on top of whatever rotating slice of the stable pool is due. Promote to
# EXTRAS (the stable pool) next round once a baseline row exists.
EXTRAS_ALWAYS: list[str] = [
    # round 16 additions (first baseline rows this round; promote to
    # EXTRAS next round)
    "a23c_composite_key_merge",  # composite identity SQL MERGE + row CDC
    "a15u_streaming_cdc_composite",  # CDC stream over composite commits
    "a25c_type_widening",      # ALTER COLUMN TYPE, metadata-only widening
    "a15v_partition_spec_evolution",  # SET PARTITION SPEC, two-era pruning
    "p26_matview_refresh_on_commit",  # on-commit differential refresh
    "a26_minor_compaction",    # OPTIMIZE BINPACK, O(small files) rewrite
    "a27_replace_where",       # Delta replaceWhere: atomic slice replace
    "a28_shallow_clone",       # zero-copy fork, hard-linked history
    "a29_convert_in_place",    # adopt plain parquet dir, zero rewrite
    "a25d_column_defaults",    # sequence-scoped initial defaults
    # a21/a22 are NOT benched: they BUILD a live table per run by design
    # (constraint refusals / WAP conflict need fresh mutable state), so
    # timing them measures fixture construction — same convention as the
    # H-family live drains (the batch twin ts2 carries the bench cost)
    # h9b_streaming_ohlc_append is NOT benched: H-family convention
    # (same as h9 — the batch twin ts2 carries the bench cost)
    # h9_streaming_ohlc / h9b are NOT benched: H-family convention — live
    # drains measure sink drainage, the batch twin (ts2) carries the cost
]

# Stable extras pool. Timed identically to HEADLINE but reported under
# "extras" so the headline total stays comparable with the BASELINE.md
# series. Round 10 on: only a deterministic ROTATE_K-entry slice (keyed on
# the round number) is measured per round — 47 extras x 4 executions had
# pushed bench wall time past the contention-drift horizon (VERDICT r9
# item 6); every entry still cycles through within ~3 rounds.
EXTRAS = [
    # round 15 (promoted from EXTRAS_ALWAYS in r16 — BENCH_r15 carries
    # their baseline rows)
    "a15s_streaming_cdc_merge",  # CDC stream across MERGE (plan-time keys)
    "a15t_timestamp_table_changes",  # TIMESTAMP-bounded TABLE_CHANGES
    "a23b_sql_merge_clauses",  # conditional MERGE clauses, one MOR commit
    "a25b_column_evolution",   # add->rename->drop, name-mapped reads
    "p25_materialized_view_verb",  # CREATE/REFRESH MATERIALIZED VIEW
    # round 13 (promoted from EXTRAS_ALWAYS in r15 — BENCH_r13/r14 carry
    # their baseline rows)
    "a16_sql_time_travel",    # engine.sql() VERSION/TIMESTAMP AS OF rewrite
    "a15l_partition_pruned_read",  # segment-level partition skipping
    "a15m_days_partition_scan",  # days(ts) hidden partitioning, time window
    "a15n_position_delete",   # row-address MOR deletes (file+row_index)
    "a15o_update_where",      # atomic UPDATE: append + position-delete
    "a17_restore_rollback",   # metadata-only rollback, forensic branch read
    "a18_tag_protected_travel",  # tag-pinned snapshot through engine.sql
    "a19_clustered_pruning",  # OPTIMIZE sort rewrite, before/after file skip
    "a19b_zorder_pruning",    # Morton-key layout, 2-D predicate box
    "a20_streaming_table_source",  # version-offset stream over the table
    # round 12 (promoted from EXTRAS_ALWAYS in r13 — BENCH_r12 carries
    # their baseline rows)
    "a15f_manifest_stats_pruning",  # zero-footer-IO manifest-stats skipping
    "a15g_merge_upsert",      # atomic MOR MERGE (append + seq-scoped delete)
    "a15h_schema_evolution",  # add-column append, manifest-schema NULL-fill
    "a15i_incremental_manifest",  # two-level metadata, O(new) commit gate
    "a15j_streaming_upsert_ingest",  # per-batch MERGE (CDC apply) into the table
    "a15k_fold_metadata",     # metadata-only manifest compaction (seq-safe)
    # round 11 (promoted from EXTRAS_ALWAYS in r12 — BENCH_r11 carries
    # their baseline rows)
    "i20b_ann_recall_gate",   # recall floor gate at the n_probe=8 knee
    "c1e_stats_lifecycle",    # post-ingest ANALYZE lifecycle (CBO stats)
    "d16b_streaming_countmin",  # per-batch CM artifacts, counter-SUM merge
    "d7c_streaming_quantile_merge",  # per-batch equi-rank summaries, drain merge
    "c1f_aqe_skew_join",      # runtime skew split (OptimizeSkewedJoin pinned)
    "a15_time_travel",        # manifest-versioned table, 3 snapshots read AS OF
    "i21_lsh_calibration",    # LSH banding S-curve measurement + recall gate
    "a15b_snapshot_changes",  # manifest-diff CDC (reads only new files)
    "p22_incremental_aggregate",  # stored base + CDC delta merge (IVM)
    "a15c_streaming_snapshot_ingest",  # per-batch idempotent snapshot commits
    "a15d_pruned_time_travel",  # manifest-level file skipping (now via a15f stats)
    "a15e_merge_on_read_delete",  # key-file delete commit, anti-join read
    "ts3_rolling_anomaly",    # trailing-window z-score flags on hourly series
    # round 10 (promoted from EXTRAS_ALWAYS in r11 — BENCH_r10/r11 carry
    # their baseline rows)
    "c1d_cbo_reordered_join",  # stats-driven join reorder (ANALYZE'd catalog)
    "a13_schema_evolution",   # widened-schema partition + mergeSchema read
    "d16_countmin_topk",      # codegen Count-Min sketch (sparse groupBy form)
    "p21_drift_monitor",      # per-column null-rate/NDV drift vs prior snapshot
    "i20_ann_recall",         # IVF probe recall@10 vs exact ground truth
    "d17_salted_distinct",    # skew-bounded two-phase count-distinct
    "a14_bucketed_append",    # bucketed-table append, zero-exchange reads
    "ts2_ohlc_downsample",    # mergeable OHLC candlesticks (no window sort)
    "t5_repetition_filter",   # bigram repetition (sort + adjacent compare)
    "t6_pii_redact",          # regex masking + hit counts
    "t7_rare_word_ratio",     # corpus-frequency join quality signal
    "p8_domain_mixture",      # temperature-scaled source mixing
    # round 5
    "e8_scalable_rank",       # aggregated-rank rewrite + broadcast join back
    "p9_group_sample",        # exactly-k-per-group seeded sampling
    "i5c_lsh_topk",           # sign-sketch prefilter + exact re-rank
    "i13d_ivf_batch_probe",   # many-query probe over the stored IVF index
    # round 5b: incremental/pre-screen tier + TPC-H extras (representative)
    "i1c_incremental_dedup",  # batch-vs-snapshot digest anti-join
    "i3e_dupgram_rate",       # corpus dup-5-gram diagnostic (gram joins)
    "p15_weighted_sample",    # integer-exact weighted Bernoulli
    "t8_normalized_dedup_key",  # normalization + digest-window dup counts
    "q6_forecast_revenue",    # scan-bound TPC-H Q6
    "q10_returned_items",     # join + agg + TakeOrdered TPC-H Q10
    "q18_large_volume_customers",  # having + semi join TPC-H Q18
    "p17_decontaminated_mix",  # composite: split->bloom->exact->dedup->mix
    # round 7
    "p18_replay_training_pipeline",  # replay stream -> incremental pipeline
    "c1c_bucketed_join",      # co-located bucketed fact join (no join shuffle)
    "q9_product_type_profit",  # widest join tree (2 facts + 3 broadcast dims)
    "q21_waiting_supplier",   # exists/not-exists chain via semi joins
    "i3g_winnowed_fingerprints",  # winnowing selection + inverted-index join
    "i13e_pq_codes",          # PQ encode: 8 codebooks, Arrow matmul per subvector
    "i13f_pq_adc_topk",       # ADC search over stored PQ codes (table lookups)
    "mm3_real_decode",        # real PPM decode through mapInPandas
    "mm4_audio_features",     # real WAV PCM16 decode round-trip
    "t10_unigram_logprob",    # CCNet-style unigram LM quality score
    # (md5 gram hashes are the cross-engine-oracle tax; production ingest
    # would swap xxhash64 JVM-side)
    # round 8
    "i3h_incremental_winnow",  # xxhash winnow batch vs STORED fp snapshot
    "d7b_quantile_sketch_merge",  # mergeable per-shard quantile summaries
    "c2c_streaming_merge",    # replay stream -> CDC snapshot upsert
    "i13i_residual_pq_topk",  # residual IVFADC over stored indexes
    "mm5_image_resize",       # real decode + mean-pool resize in one pass
    "d4c_streaming_hll_merge",  # per-batch sketch artifacts union-merged
    # round 9
    "d8c_heavy_hitters",      # mergeable Misra-Gries frequency sketch
    "i13j_ivf_append",        # incremental index append + pruned probe
    "a11_zorder_scan",        # z-order clustered rewrite + 2-D box scan
    "ts1_resample_interpolate",  # hourly gap-fill with linear interpolation
    "v1_data_quality_audit",  # constraint suite: PK/RI/domain/freshness
    "a12_compact_small_files",  # archive bin-pack into right-sized parquet
    "e11_funnel_conversion",  # ordered view->click->purchase stage joins
    "d8d_streaming_heavy_hitters",  # per-batch MG artifacts merged at drain
    "mm6_video_frame_sample",  # real Y4M decode + every-2nd-frame sampling
    "i18_pca_covariance",     # partition Gram partials -> exact covariance
    "c2d_snapshot_diff",      # CDC extraction between two table versions
    "p19_lakehouse_maintenance",  # replay->compact->zorder->audit->diff
    "i19_chunk_windows",      # 64-token windows at stride 48 (codegen-only)
    "a12b_incremental_compaction",  # partition-scoped OPTIMIZE (O(day), not O(corpus))
    "e12_transition_matrix",  # per-user Markov transitions (lag + pair counts)
    # round 14
    "a15p_row_level_cdc",     # row-level CDC synthesized from MOR state
    "a15r_streaming_cdc",     # CDC as a stream (per-file worker synthesis)
    "p23_ivm_row_deltas",     # signed-delta view refresh off row CDC
    "p24_streaming_ivm",      # CDC stream -> idempotent view commits
    "a20b_byte_paced_table_stream",  # byte-capped table micro-batches
    "c1g_snapshot_table_cbo_join",  # CBO reorder over a snapshot fact
    "a25_sql_ddl",            # ALTER TABLE verbs, one commit each
]

ROTATE_K = 16

# Control-bracket drift gate (VERDICT r12 item 3): q1 is timed before AND
# after the series; a >15% disagreement marks the run contaminated and
# triggers one settle+rerun. q1 is the natural control — scan-bound,
# ~0.5 s, in every BASELINE series since round 1.
CONTROL = "q1_pricing_summary"
CONTROL_DRIFT_MAX = 0.15


def bench_round(repo: Path = REPO) -> int:
    """The round this bench run will feed: max CORRECTNESS round on disk + 1
    (deterministic for the driver's end-of-round run). Non-round files
    that happen to match the glob (e.g. CORRECTNESS_rerun.json) are
    skipped, not crashed on (review r10)."""
    rounds = [
        int(m.group(1))
        for p in repo.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    ]
    return (max(rounds) if rounds else 0) + 1


def extras_for_round(rnd: int) -> list[str]:
    """EXTRAS_ALWAYS (new-this-round entries) + a deterministic wrapping
    ROTATE_K-slice of the stable pool keyed on the round number, so each
    stable extra is re-measured every ceil(len(EXTRAS)/ROTATE_K) rounds."""
    pool = EXTRAS
    start = ((rnd - 10) * ROTATE_K) % len(pool) if pool else 0
    sel = [pool[(start + i) % len(pool)] for i in range(min(ROTATE_K, len(pool)))]
    return EXTRAS_ALWAYS + [s for s in sel if s not in EXTRAS_ALWAYS]


def replay_roundtrip_seconds(spark) -> float:
    """End-to-end replay wall-clock: gzip archive → paced stream →
    PutRecords-shaped sink (driver-mode capture), all events at SF_DIR."""
    import tempfile

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    root = stage_archive(SF_DIR, gz=True)
    client = CapturingClient()
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-bench",
        checkpoint_dir=tempfile.mkdtemp(prefix="skr_bench_ckpt_"),
        max_files_per_trigger=200,
    )
    t0 = time.perf_counter()
    q = run_replay(spark, cfg, lambda: client, distributed=False)
    q.awaitTermination(600)
    dt = time.perf_counter() - t0
    assert client.records, "replay produced no records"
    return dt


def replay_roundtrip_distributed_seconds(spark) -> float:
    """Same archive → stream round trip, but through the DISTRIBUTED
    publish path: executor-side publishing from ``mapInArrow`` tasks,
    every worker building its own client from the importable factory —
    the designed 100 TB path (driver-mode collects every batch to one
    process; this one never does)."""
    import shutil
    import tempfile

    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import read_captured
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    root = stage_archive(SF_DIR, gz=True)
    capture_dir = tempfile.mkdtemp(prefix="skr_bench_dist_")
    cfg = ReplayConfig(
        archive_root=root,
        stream_name="skr-bench-dist",
        checkpoint_dir=tempfile.mkdtemp(prefix="skr_bench_dckpt_"),
        max_files_per_trigger=200,
    )
    t0 = time.perf_counter()
    q = run_replay(
        spark,
        cfg,
        "s3_kinesis_replay_spark.streaming.kinesis_sink:file_client_factory",
        distributed=True,
        client_arg=capture_dir,
    )
    q.awaitTermination(600)
    dt = time.perf_counter() - t0
    assert read_captured(capture_dir), "distributed replay captured nothing"
    shutil.rmtree(capture_dir, ignore_errors=True)  # ~full events as JSON
    return dt


def _force(df) -> None:
    """Materialize every row and projected expression (noop sink)."""
    df.write.format("noop").mode("overwrite").save()


def _settle(max_wait_s: float = 600.0, target_load: float = 2.0) -> float:
    """Wait (bounded) for host load to drop before timing anything —
    BENCH_r03 was contaminated by a prior JVM's teardown; this makes the
    official record self-protecting, not just self-adjudicating.
    target_load 2.0 (was 8.0): BENCH_r07 started at loadavg 3.77 — under
    the old threshold — and every untouched query drifted 1.1-1.9x while
    the same code solo read 0.99x. On a 32-cpu host loadavg ~2 is the
    empirical idle line; anything above inherits 30-90% noise.
    Round 10: gate on the 5-MINUTE average as well — a run right after a
    12-min pytest sweep read load1 0.56 / load5 2.9 and drifted the
    NumPy-heavy entries 1.7-3.4x (page-cache + teardown tail the 1-min
    average had already forgotten)."""
    waited = 0.0
    while waited < max_wait_s and max(os.getloadavg()[:2]) > target_load:
        time.sleep(5)
        waited += 5
    return waited


def main() -> None:
    settle_wait = _settle()
    load_before = os.getloadavg()
    # showConsoleProgress=false: BENCH_r09's official record was lost to
    # progress bars interleaving the stdout stream (parsed: null) — the
    # record line must own the stream.
    spark = get_spark(
        app_name="skr-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    rnd = bench_round()

    def timed(name: str) -> float:
        q = queries[name]
        _force(q.fn(spark, SF_DIR))  # untimed warm-up (JIT, file listing, shuffles)
        samples = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            _force(q.fn(spark, SF_DIR))
            samples.append(time.perf_counter() - t0)
        return round(statistics.median(samples), 3)

    def run_series() -> tuple[dict, dict, dict]:
        """One full measurement series, bracketed by the CONTROL query —
        the drift gate (VERDICT r12 item 3): BENCH_r12's five-run spread
        (0.85×–1.17× from near-identical settled starts) proved the
        loadavg gate alone no longer predicts host state, so the series
        now measures its OWN stationarity: the same fixed query timed
        before and after everything else. Controls disagreeing by more
        than CONTROL_DRIFT_MAX means the host changed speed MID-SERIES
        and every number between them inherits unknown noise."""
        c_before = timed(CONTROL)
        timings = {name: timed(name) for name in HEADLINE}
        extras = {name: timed(name) for name in extras_for_round(rnd)}

        # HEADLINE replay = the DISTRIBUTED publish path (promoted r15,
        # VERDICT r14 item 6: the driver-mode reading sat at 1.15-1.17x
        # its 1.79 s row across two adjudicated solo series while the
        # foreachPartition path — the path a 100 TB deployment runs —
        # read 1.21-1.29 s; headline baseline row 1.29 s = its first
        # recorded r13 series, official total 19.73 s from BENCH_r15
        # on; see BASELINE.md round-15 note). The driver-mode sink
        # stays measured as an extras row for continuity.
        replay_roundtrip_distributed_seconds(spark)  # untimed warm-up
        timings["replay_roundtrip"] = round(
            statistics.median(
                [replay_roundtrip_distributed_seconds(spark) for _ in range(RUNS)]
            ),
            3,
        )
        replay_roundtrip_seconds(spark)  # untimed warm-up
        extras["replay_roundtrip_driver"] = round(
            statistics.median(
                [replay_roundtrip_seconds(spark) for _ in range(RUNS)]
            ),
            3,
        )
        c_after = timed(CONTROL)
        control = {
            "query": CONTROL,
            "before": c_before,
            "after": c_after,
            "drift": round(abs(c_after - c_before) / c_before, 4),
        }
        return timings, extras, control

    contaminated_reruns = 0
    timings, extras, control = run_series()
    if control["drift"] > CONTROL_DRIFT_MAX:
        # contaminated: settle again and re-measure ONCE; if the rerun
        # drifts too, the record stands but self-labels contaminated.
        print(
            f"control drift {control['drift']} > {CONTROL_DRIFT_MAX}: "
            "host changed speed mid-series; settling and re-running once",
            file=sys.stderr,
        )
        contaminated_reruns = 1
        settle_wait += _settle()
        timings, extras, control = run_series()

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_total_median_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extras": extras,
        "sf": float(sf),
        # control-bracket stationarity evidence (BASELINE.md documents the
        # rule): drift <= CONTROL_DRIFT_MAX -> the series is internally
        # consistent; "contaminated": true -> even the rerun drifted.
        "control": control,
        "control_drift": control["drift"],
        "contaminated": control["drift"] > CONTROL_DRIFT_MAX,
        "contaminated_reruns": contaminated_reruns,
        # The driver's closing bench runs AFTER CORRECTNESS_rN lands, so
        # a record saved as BENCH_rN.json self-labels N+1 under the old
        # single "round" key — confusing every judge since r10. r12: emit
        # BOTH semantics explicitly; "round" kept for series compat.
        "round": rnd,
        "feeds_round": rnd,
        "measured_after_round": rnd - 1,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "settle_wait_s": settle_wait,
    }
    payload = json.dumps(record)
    # Mirror the record to a file FIRST: a truncated stdout tail can never
    # again lose the round's perf record (BENCH_r09 post-mortem).
    LOCAL_RECORD.write_text(payload + "\n")
    # The JSON line goes LAST, after both streams are drained, preceded by
    # a blank sentinel line so tail-capture always sees a whole record.
    sys.stderr.flush()
    sys.stdout.flush()
    print(flush=True)
    print(payload, flush=True)


if __name__ == "__main__":
    main()
