"""Local checks for rows-only operators (no SQL oracle) + physical-plan
assertions (SURVEY §5.4: the plan you'd want at 100 TB, not just any plan).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.catalog import table
from s3_kinesis_replay_spark.registry import all_queries

QUERIES = all_queries()


# ------------------------------------------------- converted flag-oracles
# b8/d4/d7/g4b were TOL/rows-only until round 8; they now emit computed
# invariant FLAGS the DuckDB oracle hard-codes TRUE (d4b pattern). These
# tests keep the RAW bounds pinned (so a vacuously-true flag expression
# cannot hide a broken approximation) plus seed determinism.
def test_b8_sample_within_binomial_ci(spark, sf_dir):
    li = table(spark, "lineitem", sf_dir)
    n_total = li.count()
    n_sample = li.sample(fraction=0.1, seed=42).count()
    p = 0.1
    sigma = math.sqrt(n_total * p * (1 - p))
    assert abs(n_sample - n_total * p) < 6 * sigma
    row = QUERIES["b8_sample_seeded"].fn(spark, sf_dir).collect()[0]
    assert row["n_total"] == n_total and row["count_in_ci"] is True


def test_b8_sample_deterministic_under_seed(spark, sf_dir):
    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_linenumber")
    a = {tuple(r) for r in li.sample(fraction=0.1, seed=42).collect()}
    b = {tuple(r) for r in li.sample(fraction=0.1, seed=42).collect()}
    assert a == b and len(a) > 0


def test_d4_hll_within_rsd(spark, sf_dir):
    row = (
        table(spark, "lineitem", sf_dir)
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
            F.countDistinct("l_partkey").alias("exact"),
        )
        .collect()[0]
    )
    assert abs(row["approx"] - row["exact"]) <= 0.05 * row["exact"]
    flag_row = QUERIES["d4_approx_count_distinct"].fn(spark, sf_dir).collect()[0]
    assert flag_row["est_in_tol"] is True
    assert flag_row["exact_parts"] == row["exact"]


def test_d7_percentile_approx_bounded(spark, sf_dir):
    row = (
        table(spark, "orders", sf_dir)
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
        )
        .collect()[0]
    )
    # accuracy=10000 → rank error ≤ n/10000; generous value-space bound: 1%
    assert abs(row["approx"] - row["exact"]) <= 0.01 * abs(row["exact"])
    flag_row = QUERIES["d7_percentile_approx"].fn(spark, sf_dir).collect()[0]
    assert flag_row["approx_in_bounds"] is True


def test_g4b_spark_hashes_deterministic(spark, sf_dir):
    a = sorted(map(tuple, QUERIES["g4b_spark_hashes"].fn(spark, sf_dir).collect()))
    b = sorted(map(tuple, QUERIES["g4b_spark_hashes"].fn(spark, sf_dir).collect()))
    assert a == b
    row = QUERIES["g4b_spark_hashes"].fn(spark, sf_dir).collect()[0]
    assert row["xx64_injective"] is True
    assert row["murmur_card_ok"] is True
    assert row["crc32_in_range"] is True
    assert row["rescan_agree"] is True


def test_flag_oracle_expressions_can_flip(spark):
    """Meta-test: the flag FORMULAS used by b8/d4/d7 reject out-of-bound
    inputs (guards against a flag that is accidentally always TRUE)."""
    bad = spark.createDataFrame(
        [(1000, 20)], "n_total long, n_sampled long"  # 0.1*N=100, 6σ≈57
    ).select(
        (
            F.abs(F.col("n_sampled") - 0.1 * F.col("n_total"))
            < 6 * F.sqrt(F.col("n_total") * 0.1 * 0.9)
        ).alias("ci")
    )
    assert bad.collect()[0]["ci"] is False
    bad2 = spark.createDataFrame(
        [(100, 200)], "approx long, exact long"
    ).select(
        (
            F.abs(F.col("approx").cast("double") - F.col("exact"))
            <= 0.05 * F.col("exact")
        ).alias("tol")
    )
    assert bad2.collect()[0]["tol"] is False


def test_d7b_sketch_rank_error_within_declared_bound(spark, sf_dir):
    """Raw bound behind the d7b flag: each estimate's TRUE rank must be
    within the declared N/(2m) of the target rank (2x slack for the
    discrete-rank step at group boundaries)."""
    rows = QUERIES["d7b_quantile_sketch_merge"].fn(spark, sf_dir).collect()
    o = table(spark, "orders", sf_dir)
    for r in rows:
        grp = o.filter(F.col("o_orderpriority") == r["o_orderpriority"])
        n = r["n"]
        for q, est in ((0.25, r["est_p25"]), (0.5, r["est_p50"]), (0.75, r["est_p75"])):
            rank = grp.filter(F.col("o_totalprice") <= est).count()
            assert abs(rank - q * n) <= 2 * n / (2 * 128) + 1, (
                f"{r['o_orderpriority']} q={q}: rank {rank} vs target {q * n}"
            )


def test_quantile_sketch_shard_count_invariance(spark, sf_dir):
    """Merging MORE shards must not break the bound — 8-shard and
    32-shard sketches both land inside the exact (q±2%) rank window
    (the mergeability property the 100 TB story rests on)."""
    from s3_kinesis_replay_spark.operators.quantile_sketch import (
        sketch_quantiles,
    )

    o = table(spark, "orders", sf_dir).select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    bounds = {
        r["o_orderpriority"]: r
        for r in o.groupBy("o_orderpriority")
        .agg(
            F.percentile("o_totalprice", F.lit(0.48)).alias("lo"),
            F.percentile("o_totalprice", F.lit(0.52)).alias("hi"),
        )
        .collect()
    }
    for shards in (8, 32):
        est = sketch_quantiles(
            o,
            group_col="o_orderpriority",
            value_col="o_totalprice",
            shard_col=F.pmod(F.xxhash64("o_orderkey"), F.lit(shards)),
            qs=(0.5,),
            m=128,
        ).collect()
        for r in est:
            b = bounds[r["o_orderpriority"]]
            assert b["lo"] <= r["est_p50"] <= b["hi"], (
                f"shards={shards} {r['o_orderpriority']}: "
                f"{r['est_p50']} outside [{b['lo']}, {b['hi']}]"
            )


def test_quantile_sketch_int_group_and_null_values(spark):
    """Review r8: non-string group keys must work (schema derives from
    the input type) and NULL values must be ignored per SQL percentile
    semantics — not counted in N, never poisoning high quantiles."""
    from s3_kinesis_replay_spark.operators.quantile_sketch import (
        sketch_quantiles,
    )

    rows = [(1, i, float(i)) for i in range(1, 101)]
    rows += [(1, 1000 + i, None) for i in range(30)]  # 30 NULLs
    rows += [(2, 2000 + i, None) for i in range(5)]   # all-NULL group
    df = spark.createDataFrame(rows, "grp bigint, k long, v double")
    est = {
        r["grp"]: r["est_p50"]
        for r in sketch_quantiles(
            df,
            group_col="grp",
            value_col="v",
            shard_col=F.pmod(F.xxhash64("k"), F.lit(4)),
            qs=(0.5,),
            m=16,
        ).collect()
    }
    # group 1: median of 1..100 ignoring NULLs is ~50 (m=16 on 4 shards
    # of ~25 values -> every value kept exactly, so error <= 1 rank)
    assert abs(est[1] - 50.0) <= 2.0, est
    assert est[2] is None  # all-NULL group -> NULL quantile


def test_quantile_sketch_exact_when_small():
    """A summary that keeps every value (n <= m) must return the exact
    discrete quantile — the degenerate case the bound collapses to."""
    import numpy as np

    from s3_kinesis_replay_spark.operators.quantile_sketch import (
        _merge_estimate,
        _shard_summary,
    )

    vals = np.array([5.0, 1.0, 3.0, 2.0, 4.0])
    n, pts, wts = _shard_summary(vals, m=128)
    assert n == 5 and list(pts) == [1.0, 2.0, 3.0, 4.0, 5.0]
    ests = _merge_estimate(pts, wts, 5, (0.2, 0.5, 1.0))
    assert ests == [1.0, 3.0, 5.0]


def test_winnow_md5_xxhash_structural_agreement(spark, sf_dir):
    """The winnowing guarantee is hash-agnostic: a perturbed copy of a
    long document (shared substrings far exceeding k+w-1) must pair with
    its source at n_shared >= the i3h threshold in BOTH the md5 oracle
    form and the xxhash64 production form. (Absolute counts differ
    between forms — short docs can land either side of a threshold — so
    the pin is length-conditioned, not pair-set equality.)"""
    from s3_kinesis_replay_spark.operators.dedup import (
        winnow_incremental_pairs,
        winnowed_fingerprints,
        winnowed_fingerprints_fast,
    )

    d = (
        table(spark, "documents", sf_dir)
        .select("doc_id", "text")
        # fixture texts top out at ~550 chars; >=400 chars gives ~90
        # selected fingerprints, a wide margin over the threshold of 20
        .filter(F.length("text") >= 400)
        .limit(50)
        .localCheckpoint(eager=True)
    )
    long_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    assert len(long_ids) >= 10, "fixture has too few long documents"
    batch = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
    )
    for form in (winnowed_fingerprints, winnowed_fingerprints_fast):
        snap_fps = form(d, 20, 4).localCheckpoint(eager=True)
        batch_fps = form(batch, 20, 4).localCheckpoint(eager=True)
        pairs = {
            (r["doc_new"], r["doc_src"])
            for r in winnow_incremental_pairs(
                snap_fps, batch_fps, min_shared=20
            ).collect()
        }
        missing = {
            (i + 1000000, i) for i in long_ids
        } - pairs
        assert not missing, f"{form.__name__}: planted pairs missed: {missing}"


def test_i3h_matches_inline_recompute(spark, sf_dir):
    """The stored-snapshot path must agree with a from-scratch inline
    recompute (guards against a stale or truncated persisted fingerprint
    table silently serving wrong pairs)."""
    from s3_kinesis_replay_spark.operators.dedup import (
        winnow_incremental_pairs,
        winnowed_fingerprints_fast,
    )

    stored = {
        (r["doc_new"], r["doc_src"], r["n_shared"])
        for r in QUERIES["i3h_incremental_winnow"].fn(spark, sf_dir).collect()
    }
    d = table(spark, "documents", sf_dir).select("doc_id", "text")
    batch = (
        d.filter(F.col("doc_id") % 5 == 0)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
        )
        .unionAll(
            d.filter(F.col("doc_id") % 5 == 1).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.array_join(F.reverse(F.split("text", " ")), " ").alias("text"),
            )
        )
    )
    inline = {
        (r["doc_new"], r["doc_src"], r["n_shared"])
        for r in winnow_incremental_pairs(
            winnowed_fingerprints_fast(d, 20, 4).localCheckpoint(eager=True),
            winnowed_fingerprints_fast(batch, 20, 4).localCheckpoint(eager=True),
            min_shared=20,
            keep_count=True,
        ).collect()
    }
    assert stored == inline and len(stored) > 0


def test_i3b_simhash_close_for_neardups(spark, sf_dir):
    """Planted near-dup pairs (exact Jaccard ≥ 0.8, from i3) must have small
    SimHash Hamming distance; random pairs must not."""
    sim = {
        r["doc_id"]: r["simhash"]
        for r in QUERIES["i3b_simhash"].fn(spark, sf_dir).collect()
    }
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["i3_minhash_lsh_neardup"].fn(spark, sf_dir).collect()
    ]
    assert pairs, "fixture should contain planted near-dups"

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # ≤12 of 64 bits: planted pairs measure 0-11 under the md5 bit basis
    # (round 5); random pairs average ~20. Overlap in the 8-12 band is
    # inherent to SimHash at Jaccard ~0.8 — it is a candidate filter, not
    # an exact test, so the per-pair bound is loose and the contrast
    # assertion below carries the discrimination claim.
    for a, b in pairs:
        assert hamming(sim[a], sim[b]) <= 12, (a, b)
    # contrast: consecutive non-dup ids are far apart
    ids = sorted(sim)
    dup_ids = {x for p in pairs for x in p}
    far = [
        hamming(sim[ids[i]], sim[ids[i + 1]])
        for i in range(len(ids) - 1)
        if ids[i] not in dup_ids and ids[i + 1] not in dup_ids
    ]
    assert sum(far) / len(far) > 15


def test_t4_token_counts_consistent(spark, sf_dir):
    rows = QUERIES["t4_token_counts"].fn(spark, sf_dir).collect()
    for r in rows:
        # plain word-soup text: BPE-ish count == whitespace count
        assert r["n_tokens_ws"] >= 1
        assert r["n_tokens_bpe"] == r["n_tokens_ws"]


def test_multimodal_decode_stub_contract(spark, sf_dir):
    """Real codec path must raise (stubbed); fake codec is deterministic."""
    import pytest

    from s3_kinesis_replay_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"FAKE0abc")
    assert decode_image(b"FAKE0abc", codec="fake") == decode_image(
        b"FAKE0abc", codec="fake"
    )


def test_multimodal_features_deterministic(spark, sf_dir):
    from s3_kinesis_replay_spark.operators.multimodal import (
        extract_features,
        synth_media_table,
    )

    media = synth_media_table(spark, table(spark, "documents", sf_dir))
    a = sorted(map(tuple, extract_features(media).collect()))
    b = sorted(map(tuple, extract_features(media).collect()))
    assert a == b
    assert all(row[5] > 0 for row in a)  # frame_count


def test_block_topk_matches_brute(spark, sf_dir):
    """Scale-path ANN (mapInPandas block matmul) must agree with the
    brute-force baseline on ids for multiple queries."""
    from s3_kinesis_replay_spark.operators.similarity import block_topk, brute_topk

    emb = table(spark, "embeddings", sf_dir)
    qs = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.filter(F.col("vec_id") < 3).collect()
    }
    blocked = block_topk(emb, list(qs.items()), k=5)
    got = {
        qid: [r["vec_id"] for r in rows]
        for qid, rows in (
            (qid, blocked.filter(F.col("query_id") == qid).orderBy(F.col("sim").desc(), "vec_id").collect())
            for qid in qs
        )
    }
    for qid, vec in qs.items():
        want = [r["vec_id"] for r in brute_topk(emb, vec, k=5).collect()]
        assert got[qid] == want, qid


def test_block_topk_joined_matches_brute(spark, sf_dir):
    """The query-DataFrame variant (cogrouped grid matmul + exact HOF
    re-rank) must agree with brute_topk per query — ids AND rounded sims
    (the exact re-rank makes values bit-identical, not just id sets)."""
    from s3_kinesis_replay_spark.operators.similarity import (
        block_topk_joined,
        brute_topk,
    )

    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    joined = block_topk_joined(emb, queries, k=5)
    got = {
        qid: [(r["vec_id"], r["sim"]) for r in joined.filter(
            F.col("query_id") == qid
        ).orderBy(F.col("sim").desc(), "vec_id").collect()]
        for qid in range(3)
    }
    for r in emb.filter(F.col("vec_id") < 3).collect():
        want = [
            (x["vec_id"], x["sim"])
            for x in brute_topk(emb, list(r["embedding"]), k=5).collect()
        ]
        assert got[r["vec_id"]] == want, r["vec_id"]


@pytest.mark.parametrize(
    "cb,qb,k,margin",
    [
        (1, 1, 5, 0),    # degenerate grid: single cell, no safety margin
        (16, 8, 5, 0),   # more buckets than queries → empty grid cells
        (4, 2, 3, 2),
        (8, 4, 1000, 4), # k far beyond the corpus size → full result
    ],
)
def test_block_topk_joined_grid_shapes(spark, sf_dir, cb, qb, k, margin):
    """Grid geometry must never change results: every (blocks, buckets,
    k, margin) shape — including empty cells and k > |corpus| — agrees
    with brute_topk per query on (id, sim)."""
    from s3_kinesis_replay_spark.operators.similarity import (
        block_topk_joined,
        brute_topk,
    )

    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    joined = block_topk_joined(
        emb, queries, k=k, corpus_blocks=cb, query_buckets=qb, margin=margin
    )
    rows = joined.collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["vec_id"], r["sim"]))
    for r in emb.filter(F.col("vec_id") < 3).collect():
        want = [
            (x["vec_id"], x["sim"])
            for x in brute_topk(emb, list(r["embedding"]), k=k).collect()
        ]
        assert sorted(got[r["vec_id"]]) == sorted(want), (r["vec_id"], cb, qb)


def test_block_topk_joined_no_cartesian(spark, sf_dir):
    """Candidates come from the cogrouped (block × bucket) grid, and the
    re-rank is an equi-join on candidate ids — the corpus×queries cross
    product must never appear in the plan."""
    plan = _plan(QUERIES["i5b_batch_topk"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan


def test_lsh_topk_recall(spark, sf_dir):
    from s3_kinesis_replay_spark.operators.similarity import brute_topk, lsh_bucketed_topk

    emb = table(spark, "embeddings", sf_dir)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    exact = [r["vec_id"] for r in brute_topk(emb, qvec, k=10).collect()]
    approx = [r["vec_id"] for r in lsh_bucketed_topk(emb, qvec, k=10).collect()]
    # gaussian fixtures have weak neighbor structure — declared trade-off:
    # ≥ 0.5 recall while scoring well under the full corpus
    assert len(set(exact) & set(approx)) >= 5


def test_ivf_topk_valid_and_deterministic(spark, sf_dir):
    """IVF probes a cell subset: results must be exact-cosine-scored, come
    from probed cells only, and repeat bit-identically under the seed.
    Recall floor is honest for unclustered gaussian fixtures (probing
    4/16 cells of structure-free data ≈ 25% of the corpus)."""
    from s3_kinesis_replay_spark.operators.similarity import brute_topk, ivf_topk

    emb = table(spark, "embeddings", sf_dir)
    qvec = list(emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    corpus = emb.filter(F.col("vec_id") != 0)
    a = [tuple(r) for r in ivf_topk(corpus, qvec, k=10).collect()]
    b = [tuple(r) for r in ivf_topk(corpus, qvec, k=10).collect()]
    assert a == b and len(a) == 10
    exact = {
        r["vec_id"]: r["sim"] for r in brute_topk(corpus, qvec, k=1000).collect()
    }
    for vec_id, sim in a:
        assert exact[vec_id] == sim  # scores are exact cosine, not estimates
    top10 = [r["vec_id"] for r in brute_topk(corpus, qvec, k=10).collect()]
    assert len({v for v, _ in a} & set(top10)) >= 1


def test_embedding_neardup_pairs_symmetric_bound(spark, sf_dir):
    """Near-dup pairs: a<b canonical, all above threshold, and the pair
    count matches a brute-force numpy recount."""
    import numpy as np

    from s3_kinesis_replay_spark.operators.similarity import embedding_neardup_pairs

    emb = table(spark, "embeddings", sf_dir)
    got = embedding_neardup_pairs(emb, threshold=0.45).collect()
    assert all(r["vec_a"] < r["vec_b"] and r["cos_sim"] >= 0.45 for r in got)
    rows = emb.select("vec_id", "embedding").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    want = int(np.sum(np.triu(sims >= 0.45, k=1)))
    assert len(got) == want


# ---------------------------------------------------------------- plans
def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_c3_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["c3_broadcast_join"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_f3_topk_avoids_total_sort(spark, sf_dir):
    plan = _plan(QUERIES["f3_global_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_a1_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["a1_parquet_scan"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan
    # column pruning: only the 4 projected columns are read
    assert "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_returnflag:string>" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(QUERIES["q1_pricing_summary"].fn(spark, sf_dir))
    # map-side combine: two HashAggregate phases around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_q5_broadcasts_only_true_dims(spark, sf_dir):
    """6-table join: ONLY the fixed-size dims (nation, region) carry a
    forced broadcast hint. customer/supplier scale with SF, so they must
    NOT be force-broadcast — at small sf the static planner/AQE still
    converts them (cheap), but at 100 TB a forced broadcast of a
    fact-sized table is a hard failure AQE cannot override."""
    df = QUERIES["q5_local_supplier_volume"].fn(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # exactly the two true dims are hinted
    assert logical.count("strategy=broadcast") == 2, logical
    plan = _plan(df)
    # dims still ride broadcasts in the physical plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_t5_t6_map_only_no_shuffle(spark, sf_dir):
    """Repetition filter and PII scrub are per-row projections — any
    Exchange in these plans means the map-only scale claim is wrong."""
    for name in ("t5_repetition_filter", "t6_pii_redact"):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, name


def test_t7_broadcasts_frequency_table(spark, sf_dir):
    """The vocabulary-sized frequency table rides a FORCED broadcast back
    onto the token stream — the token side never shuffles for the join.
    This pin matches the declared scale contract (see the t7 registry
    note): forced-broadcast is the fits-in-memory vocab path; an
    over-large vocab deployment removes the hint (and this pin) so AQE
    chooses the shuffled equi-join instead."""
    plan = _plan(QUERIES["t7_rare_word_ratio"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_i14_semdedup_no_cartesian(spark, sf_dir):
    """Candidate pairs come from an equi-join on the k-means cell (cosine
    + id inequality are residual predicates) — never a cartesian/nested-
    loop over the corpus."""
    plan = _plan(QUERIES["i14_semdedup"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_e8_window_over_aggregate_only(spark, sf_dir):
    """The aggregated-rank rewrite's reason to exist: the fact table must
    reach the result through a broadcast join, with the only window sort
    running over the groupBy(flag, qty) relation — if the rewrite ever
    collapses back to a direct full-table window, the BroadcastHashJoin
    disappears and this pins the regression."""
    plan = _plan(QUERIES["e8_scalable_rank"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Window") == 1
    assert "HashAggregate" in plan


def test_p9_group_sample_rank_limit_pushed(spark, sf_dir):
    """Exactly-k-per-group sampling must push the rn <= k filter into the
    window sort (WindowGroupLimit) — per-group state is k rows, never the
    group; that is what makes it the distributed reservoir equivalent."""
    plan = _plan(QUERIES["p9_group_sample"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q3_topk_after_agg(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"].fn(spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # no forced broadcast: customer scales with SF (VERDICT r2 item 4)
    assert "broadcast" not in logical.lower()
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan


def test_e7_window_group_limit_pushdown(spark, sf_dir):
    plan = _plan(QUERIES["e7_topk_per_group"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_a5b_partition_pruning_reaches_file_index(spark, sf_dir):
    """dt= range predicate must prune at the file index (PartitionFilters),
    not post-scan — at 100 TB this is the difference between listing a few
    directories and scanning the archive."""
    plan = _plan(QUERIES["a5b_key_range_filter"].fn(spark, sf_dir))
    assert "PartitionFilters: [" in plan
    assert "isnotnull(dt" in plan or "(dt" in plan


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketing both fact tables on the join key makes the join
    co-located: the plan must contain no hash-partition Exchange — at
    100 TB this removes the dominant shuffle of fact-fact joins."""
    base = str(tmp_path_factory.mktemp("bucketed"))
    li = table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    o = table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    for name in ("skr_li_b", "skr_o_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", f"{base}/li").mode("overwrite").saveAsTable("skr_li_b")
    )
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", f"{base}/o").mode("overwrite").saveAsTable("skr_o_b")
    )
    joined = spark.table("skr_li_b").join(
        spark.table("skr_o_b"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    plan = _plan(joined)
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == table(spark, "lineitem", sf_dir).count()
    for name in ("skr_li_b", "skr_o_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_engine_facade_sql_and_table(spark, sf_dir):
    """Engine entry points E1/E2: DataFrame builder and SQL over the
    registered catalog views return consistent results."""
    from s3_kinesis_replay_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    n_table = eng.table("lineitem").count()
    n_sql = eng.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n_table == n_sql > 0
    top = eng.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "GROUP BY l_returnflag ORDER BY n DESC, l_returnflag LIMIT 1"
    ).collect()[0]
    assert top["n"] > 0


def test_neardup_components_transitive(spark):
    """Identical docs form one component labeled by the min doc_id;
    a dissimilar doc is a singleton and is omitted from the output."""
    from s3_kinesis_replay_spark.operators.dedup import neardup_components

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base), (4, "completely different text " * 3)],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, neardup_components(docs).collect()))
    assert got == [(1, 1), (2, 1), (3, 1)]


def test_short_docs_produce_empty_shingles(spark):
    """Docs with fewer than k tokens / n chars must yield EMPTY gram sets,
    not crash: Spark's sequence(0, stop) with stop<0 counts DOWN and the
    resulting slice() throws at runtime (round-1 advice)."""
    from s3_kinesis_replay_spark.operators.dedup import (
        ngram_jaccard_pairs,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "x"), (3, ""), (4, "a b c d e")],
        "doc_id long, text string",
    )
    sh = docs.select(
        "doc_id", word_shingles(F.split(F.col("text"), " "), k=3).alias("ss")
    ).collect()
    by_id = {r["doc_id"]: r["ss"] for r in sh}
    assert by_id[1] == [] and by_id[2] == [] and by_id[3] == []
    assert by_id[4] == ["a b c", "b c d", "c d e"]
    # char-gram path: 1-char and empty texts → empty grams, pairs still run
    got = ngram_jaccard_pairs(docs, n=3).collect()
    assert all(r["char_jacc"] is not None or True for r in got)


def test_salted_join_rejects_right_full(spark):
    from s3_kinesis_replay_spark.operators.skew import salted_join

    a = spark.range(5).withColumnRenamed("id", "k")
    b = spark.range(5).withColumnRenamed("id", "j")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner"):
        salted_join(a, b, "k", "j", how="full")


def test_e6_range_window_is_partitioned(spark, sf_dir):
    """Round-2 fix: the RANGE-frame window must hash-partition on its
    PARTITION BY key — an unpartitioned window ORDER BY funnels every row
    through a single task at scale."""
    plan = _plan(QUERIES["e6_range_frame"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning(o_orderstatus" in plan
    assert "Exchange SinglePartition" not in plan


def test_i12_neardup_is_distributed(spark, sf_dir):
    """Round-2 fix: embedding near-dup candidate generation must be the
    blocked self-join (grouped applyInPandas over grid cells) — never a
    driver-side collect of the corpus."""
    import inspect

    from s3_kinesis_replay_spark.operators import similarity

    src = inspect.getsource(similarity.embedding_neardup_pairs)
    assert ".collect()" not in src
    plan = _plan(QUERIES["i12_embedding_neardup"].fn(spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan  # per-cell matmul runs grouped
    assert "Exchange hashpartitioning(gi" in plan  # grid cells shuffle, not vectors to driver


def test_p2_shard_packing_window_partitioned_by_lang(spark, sf_dir):
    """Shard packing must parallelize across languages: the prefix-sum
    window hash-partitions on lang, never a single-partition sort."""
    plan = _plan(QUERIES["p2_shard_packing"].fn(spark, sf_dir))
    assert "Exchange hashpartitioning(lang" in plan
    assert "Exchange SinglePartition" not in plan


def test_p4_funnel_is_single_scan(spark, sf_dir):
    """The quality funnel must cost ONE pass over documents — conditional
    aggregates, not one scan per stage."""
    plan = _plan(QUERIES["p4_quality_funnel"].fn(spark, sf_dir))
    assert plan.count("Scan parquet") == 1


def test_p3_split_stable_across_scale_factors(spark):
    """A doc's train/val/test assignment depends only on doc_id — the same
    doc must land in the same split at every scale factor (incremental
    loads never reshuffle existing docs between splits)."""
    from s3_kinesis_replay_spark.catalog import table as _t
    from s3_kinesis_replay_spark.queries.pipeline_ops import _bucket_col

    def assign(sf):
        df = _t(spark, "documents", sf).select("doc_id", _bucket_col("doc_id"))
        return {r["doc_id"]: r["bucket"] for r in df.collect()}

    small = assign("/root/testdata/sf0.001")
    big = assign("/root/testdata/sf0.01")
    common = set(small) & set(big)
    assert common, "scale factors share no doc_ids — fixture assumption broken"
    assert all(small[d] == big[d] for d in common)


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """A selective dim predicate should reach the fact side as a RUNTIME
    bloom filter under shuffle joins — at 100 TB this skips most fact
    row-groups before the join. Spark's default size thresholds (10 GB)
    are tuned for real clusters, so the test lowers them to reproduce the
    trigger condition at fixture scale; session defaults stay untouched.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "1GB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = table(spark, "lineitem", sf_dir)
        o = table(spark, "orders", sf_dir).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan  # filter applied on the fact side
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_stored_index_prunes_partitions(spark, sf_dir, tmp_path_factory):
    """The stored IVF layout must turn probing into file-index partition
    pruning (PartitionFilters on cell=), and agree with the in-memory
    ivf_topk under the same quantizer seed."""
    from s3_kinesis_replay_spark.operators.similarity import (
        ivf_build,
        ivf_probe,
        ivf_topk,
    )

    corpus = table(spark, "embeddings", sf_dir)
    qv = [r[0] for r in corpus.filter(F.col("vec_id") == 0).select("embedding").collect()][0]
    qv = [float(x) for x in qv]
    base = str(tmp_path_factory.mktemp("ivf_idx"))
    ivf_build(corpus, base, n_clusters=16, seed=42)

    probed = ivf_probe(spark, base, qv, k=10, n_probe=4)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split("PartitionFilters:")[1][:120]

    mem = ivf_topk(corpus, qv, k=10, n_clusters=16, n_probe=4, seed=42)
    assert [r["vec_id"] for r in probed.collect()] == [r["vec_id"] for r in mem.collect()]


def test_i14_semdedup_contract(spark, sf_dir):
    """Exact verification of the declared SemDeDup rule against a NumPy
    brute-force recompute: using the result's own cell assignment, a
    vector is dropped iff a lower-id same-cell neighbor has cosine >=
    threshold, and rep_id is the MINIMUM such neighbor."""
    import numpy as np

    rows = QUERIES["i14_semdedup"].fn(spark, sf_dir).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, "embeddings", sf_dir)
        .select("vec_id", "embedding")
        .collect()
    }
    assert len(rows) == len(emb)
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["vec_id"])
    verdict = {r["vec_id"]: (r["keep"], r["rep_id"]) for r in rows}

    def cos(a, b):
        return float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b))

    for cell, ids in by_cell.items():
        for v in ids:
            neighbors = [
                u for u in ids if u < v and cos(emb[u], emb[v]) >= 0.45
            ]
            keep, rep = verdict[v]
            if neighbors:
                assert not keep and rep == min(neighbors), (cell, v, rep, neighbors)
            else:
                assert keep and rep is None, (cell, v, rep)


def test_i14_semdedup_deterministic(spark, sf_dir):
    a = [tuple(r) for r in QUERIES["i14_semdedup"].fn(spark, sf_dir).collect()]
    b = [tuple(r) for r in QUERIES["i14_semdedup"].fn(spark, sf_dir).collect()]
    assert a == b
    assert any(not r[2] for r in a), "threshold drops nothing — test is vacuous"


def test_i13d_ivf_batch_probe_all_agree(spark, sf_dir):
    """The batch probe (cell equi-join over the stored index) must return
    exactly what per-query ivf_probe returns for every query — the
    declared i13d agreement column is true on every row, and every query
    produced a full top-10."""
    from s3_kinesis_replay_spark.queries.llm_ops import i13d_ivf_batch_probe

    rows = i13d_ivf_batch_probe(spark, sf_dir).collect()
    assert rows and all(r["agree"] for r in rows)
    per_query = {}
    for r in rows:
        per_query[r["query_id"]] = per_query.get(r["query_id"], 0) + 1
    assert per_query == {0: 10, 1: 10, 2: 10}


def test_i13b_ivf_probe_all_agree(spark, sf_dir):
    """The declared i13b query's agreement column must be true on every
    row — this is the assertion its registry note points at (the driver's
    rows-only check cannot fail on agree=false; this test can)."""
    from s3_kinesis_replay_spark.queries.llm_ops import i13b_ivf_probe

    rows = i13b_ivf_probe(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["agree"] for r in rows), [tuple(r) for r in rows]


def test_ivf_cache_keyed_on_data_fingerprint(spark, sf_dir, tmp_path):
    """Regenerating the fixture (same path, new mtime) must change the
    fingerprint → a fresh index dir; an unchanged fixture must reuse the
    existing build (VERDICT r3 item 8 / ADVICE stale-cache item)."""
    import os
    import shutil

    from s3_kinesis_replay_spark.operators.similarity import (
        data_fingerprint,
        ivf_build_cached,
    )

    src = os.path.join(sf_dir, "embeddings.parquet")
    staged = tmp_path / "embeddings.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, staged)
    else:
        shutil.copy2(src, staged)
    fp1 = data_fingerprint(str(staged))
    assert fp1 == data_fingerprint(str(staged))  # stable when unchanged

    corpus = (
        spark.read.parquet(str(staged)).filter(F.col("vec_id") != 0)
    )
    cache = str(tmp_path / "cache")
    idx1 = ivf_build_cached(corpus, cache, fp1, n_clusters=4, seed=42)
    marker = os.path.getmtime(os.path.join(idx1, "vectors", "_SUCCESS"))
    assert ivf_build_cached(corpus, cache, fp1, n_clusters=4, seed=42) == idx1
    assert os.path.getmtime(os.path.join(idx1, "vectors", "_SUCCESS")) == marker

    # "regenerate" the fixture: content rewrite bumps mtime_ns
    target = staged if os.path.isfile(staged) else next(staged.rglob("*.parquet"))
    os.utime(target, ns=(1, 1))
    fp2 = data_fingerprint(str(staged))
    assert fp2 != fp1
    idx2 = ivf_build_cached(corpus, cache, fp2, n_clusters=4, seed=42)
    assert idx2 != idx1 and os.path.exists(os.path.join(idx2, "vectors", "_SUCCESS"))


def test_block_topk_joined_empty_queries(spark, sf_dir):
    """An empty query DataFrame must produce an empty result with the
    declared schema — no crash in the cogrouped cells or the re-rank."""
    from s3_kinesis_replay_spark.operators.similarity import block_topk_joined

    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    out = block_topk_joined(emb, queries, k=5)
    assert out.columns == ["query_id", "vec_id", "sim"]
    assert out.count() == 0


def test_semdedup_corpus_smaller_than_k(spark, sf_dir):
    """A corpus with fewer vectors than n_clusters must still work: the
    quantizer trains k=min(n_clusters, n) centers and every vector gets
    one row out (nothing can be dropped against itself)."""
    from s3_kinesis_replay_spark.operators.similarity import semdedup

    emb = table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 3)
    rows = semdedup(
        emb.select("vec_id", "embedding"), threshold=0.99, n_clusters=16, seed=42
    ).collect()
    assert len(rows) == 3
    assert all(r["keep"] for r in rows)  # threshold 0.99 > any fixture pair


def test_i5c_lsh_topk_recall_column(spark, sf_dir):
    """The declared LSH entry's self-check column must show the >= 0.5
    recall floor the note promises (driver sees rows; this pins the
    semantics locally)."""
    rows = QUERIES["i5c_lsh_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert sum(r["in_exact_topk"] for r in rows) >= 5


def test_agg_rank_keeps_null_keys(spark):
    """groupBy keeps NULL partition/order values and the direct window
    ranks them (nulls last under DESC) — the broadcast join back must be
    null-safe or those rows silently vanish. Compare against the direct
    window on a constructed frame with NULLs in both key positions."""
    from pyspark.sql import Window

    from s3_kinesis_replay_spark.operators.rank_rewrite import agg_rank

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("a", 3), (None, 2), (None, None)],
        "p string, v int",
    )
    got = {
        (r["p"], r["v"]): (r["rnk"], r["drnk"])
        for r in agg_rank(df, "p", "v", descending=True).collect()
    }
    w = Window.partitionBy("p").orderBy(F.col("v").desc())
    want_rows = df.select(
        "p", "v",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    ).collect()
    assert len(got) == 5  # 6 rows, one duplicate key pair
    for r in want_rows:
        assert got[(r["p"], r["v"])] == (r["rnk"], r["drnk"]), (r["p"], r["v"])


def test_block_topk_joined_duplicate_vectors(spark, sf_dir):
    """A corpus full of exact-duplicate embeddings creates rounded-sim
    tie classes wider than the margin — candidate selection must keep the
    LOWEST ids of each class (the oracle's tie rule), not an arbitrary
    argpartition subset."""
    from s3_kinesis_replay_spark.operators.similarity import block_topk_joined

    emb = table(spark, "embeddings", sf_dir)
    one = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    dup = spark.range(0, 40).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(x)) for x in one]).alias("embedding"),
    )
    queries = dup.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    rows = block_topk_joined(dup, queries, k=10, corpus_blocks=2, margin=0).collect()
    # all 40 vectors tie at sim 1.0 → the kept 10 must be ids 0..9
    assert sorted(r["vec_id"] for r in rows) == list(range(10))


# ------------------------------------------------- round-5b new entries
def test_a8b_partition_pruned_read_plan(spark, sf_dir):
    """The l_returnflag predicate must prune whole partition directories
    (PartitionFilters) and the residual l_quantity predicate must reach
    the parquet scan — at 100 TB this reads one partition, not the sink."""
    plan = _plan(QUERIES["a8b_partition_pruned_read"].fn(spark, sf_dir))
    assert "PartitionFilters: [" in plan
    assert "l_returnflag" in plan.split("PartitionFilters:")[1][:200]
    assert "GreaterThanOrEqual(l_quantity,25.0)" in plan


def test_p14_bloom_no_false_negatives(spark, sf_dir):
    """Bloom pre-screen soundness: every test doc the exact gram join
    (p7) finds contaminated must be flagged by p14 with at least as many
    flagged grams (bloom can only ADD false positives, never drop hits)."""
    exact = {
        r["doc_id"]: r["n_shared_grams"]
        for r in QUERIES["p7_contamination_check"].fn(spark, sf_dir).collect()
    }
    bloom = {
        r["doc_id"]: r["n_flagged"]
        for r in QUERIES["p14_bloom_contamination"].fn(spark, sf_dir).collect()
    }
    assert exact, "fixture produced no exact contamination — test is vacuous"
    for doc, n in exact.items():
        assert doc in bloom, f"doc {doc} missing from bloom output"
        assert bloom[doc] >= n, f"doc {doc}: bloom {bloom[doc]} < exact {n}"


def test_p14_bits_join_broadcasts(spark, sf_dir):
    """The m-bounded bit table must broadcast (that is the point of the
    bloom: membership at any corpus size without shuffling the corpus)."""
    plan = _plan(QUERIES["p14_bloom_contamination"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_i1c_survivors_are_new_content_only(spark, sf_dir):
    """Survivors must be exactly the min-id copies of the ' v2' docs
    (recrawled snapshot copies dedup away; in-batch dups collapse)."""
    rows = QUERIES["i1c_incremental_dedup"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # v2 docs were assigned ids in the 2M range; the 3M in-batch dups
        # never survive (2M id is always the min for the same digest)
        assert 2000000 <= r["doc_id"] < 3000000
        assert r["n_batch_copies"] in (1, 2)
    assert any(r["n_batch_copies"] == 2 for r in rows)


def test_i3f_incremental_pairs_shape(spark, sf_dir):
    """Perturbed batch docs (1M ids) must match their own source doc with
    near-1 Jaccard; word-reversed docs (2M ids) must produce NO pairs."""
    rows = QUERIES["i3f_incremental_neardup"].fn(spark, sf_dir).collect()
    assert rows
    by_new = {}
    for r in rows:
        assert 1000000 <= r["doc_new"] < 2000000, "reversed doc leaked a pair"
        by_new.setdefault(r["doc_new"], []).append(r)
    for new_id, prs in by_new.items():
        src = new_id - 1000000
        own = [r for r in prs if r["doc_src"] == src]
        # a short source doc with s shingles scores s/(s+1) — e.g. 0.9 at
        # s=9 — so bound by the declared threshold, not a fixed 0.9
        assert own and own[0]["jacc"] >= 0.8


# ------------------------------------------------- TPC-H extras plans
def test_q6_predicates_reach_scan(spark, sf_dir):
    """Q6 is its scan cost: every filter must push to parquet."""
    plan = _plan(QUERIES["q6_forecast_revenue"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1][:400]
    assert "l_discount" in pushed and "l_quantity" in pushed
    assert "l_shipdate" in pushed


def test_q19_disjunction_keeps_equi_join(spark, sf_dir):
    """Disjunctive mixed-side predicates must not degrade the equi join
    to a nested loop."""
    plan = _plan(QUERIES["q19_disjunctive_predicates"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["q10_returned_items"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q13_outer_join_keeps_zero_order_customers(spark, sf_dir):
    """The histogram must contain a c_count=0 bucket (inner join would
    silently drop order-less customers)."""
    rows = {
        r["c_count"]: r["custdist"]
        for r in QUERIES["q13_order_count_distribution"].fn(spark, sf_dir).collect()
    }
    assert 0 in rows and rows[0] >= 1


def test_p15_weighted_sample_is_length_weighted(spark, sf_dir):
    """Long docs must be sampled at a visibly higher rate than short docs
    (p = min(1, n_chars/600)); sample must also be deterministic."""
    d = table(spark, "documents", sf_dir).select("doc_id", "n_chars")
    total = {r["doc_id"]: r["n_chars"] for r in d.collect()}
    got = {r["doc_id"] for r in QUERIES["p15_weighted_sample"].fn(spark, sf_dir).collect()}
    got2 = {r["doc_id"] for r in QUERIES["p15_weighted_sample"].fn(spark, sf_dir).collect()}
    assert got == got2
    long_ids = [i for i, n in total.items() if n >= 400]
    short_ids = [i for i, n in total.items() if n <= 150]
    if long_ids and short_ids:
        rate_long = sum(i in got for i in long_ids) / len(long_ids)
        rate_short = sum(i in got for i in short_ids) / len(short_ids)
        assert rate_long > rate_short


def test_i3f_stored_signature_path_agrees(spark, sf_dir, tmp_path):
    """The production path (snapshot banded signatures persisted at ingest,
    read back from parquet) must produce the identical pair set as the
    recompute path."""
    from s3_kinesis_replay_spark.operators.dedup import (
        banded_signatures,
        minhash_lsh_incremental_pairs,
        minhash_signatures,
    )

    d = table(spark, "documents", sf_dir).select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz9")).alias("text"),
    )
    live = sorted(
        map(tuple, minhash_lsh_incremental_pairs(d, batch).collect())
    )
    store = str(tmp_path / "snap_banded")
    banded_signatures(
        minhash_signatures(d, keep_shingle_hashes=True)
    ).write.parquet(store)
    stored = sorted(
        map(
            tuple,
            minhash_lsh_incremental_pairs(
                d, batch, snapshot_banded=spark.read.parquet(store)
            ).collect(),
        )
    )
    assert live == stored and live


def test_bloom_stored_bits_path_agrees(spark, sf_dir, tmp_path):
    """bloom_screen against a bit table persisted to parquet (the
    production path, SCALE.md round-5b) must flag the identical rows as
    the inline build."""
    from s3_kinesis_replay_spark.operators.bloom import bloom_bits, bloom_screen

    d = table(spark, "documents", sf_dir)
    words = d.select(F.explode(F.split(F.lower("text"), " ")).alias("g")).distinct()
    ref = words.filter(F.length("g") >= 5)
    live = sorted(
        map(tuple, bloom_screen(words, bloom_bits(ref)).collect())
    )
    store = str(tmp_path / "bits")
    bloom_bits(ref).write.parquet(store)
    stored = sorted(
        map(tuple, bloom_screen(words, spark.read.parquet(store)).collect())
    )
    assert live == stored and live
    # soundness: every reference key must flag (no false negatives)
    flagged = {
        r["g"] for r in bloom_screen(ref, bloom_bits(ref)).collect() if r["bloom_hit"]
    }
    assert flagged == {r["g"] for r in ref.collect()}


@pytest.mark.parametrize("nparts", [1, 7, 64])
def test_hash_based_membership_stable_under_repartition(spark, sf_dir, nparts, monkeypatch):
    """The md5-derived ops claim membership is independent of physical
    layout (p3 split, p15 weighted sample, i1c survivors). Repartitioning
    the input must not move a single row."""
    import s3_kinesis_replay_spark.queries.helpers as H

    baseline = {
        name: sorted(map(tuple, QUERIES[name].fn(spark, sf_dir).collect()))
        for name in ("p3_hash_split", "p15_weighted_sample", "i1c_incremental_dedup")
    }
    orig_t = H.t
    monkeypatch.setattr(H, "t", lambda sp, n, sf: orig_t(sp, n, sf).repartition(nparts))
    # query modules resolve `t` at call time through their module globals
    import s3_kinesis_replay_spark.queries.llm_ops as llm
    import s3_kinesis_replay_spark.queries.pipeline_ops as pipe

    monkeypatch.setattr(pipe, "t", H.t)
    monkeypatch.setattr(llm, "t", H.t)
    for name, want in baseline.items():
        got = sorted(map(tuple, QUERIES[name].fn(spark, sf_dir).collect()))
        assert got == want, f"{name} changed under repartition({nparts})"


def test_bloom_nondefault_params_roundtrip_and_mismatch(spark, tmp_path):
    """ADVICE r6: non-default (bits_hex, k) must round-trip through a
    persisted bit table, a mismatched screen must raise (unsound), and
    bits_hex*k > 32 must be rejected up front."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.bloom import bloom_bits, bloom_screen

    ref = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "g string")
    probes = spark.createDataFrame([("alpha",), ("delta",)], "g string")

    bits = bloom_bits(ref, bits_hex=6, k=3)
    path = str(tmp_path / "bits")
    bits.write.parquet(path)
    stored = spark.read.parquet(path)  # no _bloom_params tag -> sentinel path

    hits = {
        r["g"]: r["bloom_hit"]
        for r in bloom_screen(probes, stored, bits_hex=6, k=3).collect()
    }
    assert hits["alpha"] is True  # member: no false negative
    # same-process tag mismatch AND persisted-sentinel mismatch both raise
    with _pytest.raises(ValueError, match="unsound"):
        bloom_screen(probes, bits, bits_hex=4, k=2)
    with _pytest.raises(ValueError, match="unsound"):
        bloom_screen(probes, stored, bits_hex=4, k=2)
    with _pytest.raises(ValueError, match="32"):
        bloom_bits(ref, bits_hex=12, k=3)


def test_bloom_union_of_matching_tables_screens(spark, tmp_path):
    """ADVICE r7: unioning two bloom tables built with IDENTICAL
    parameters duplicates the matching sentinel — that union must still
    screen (set-compare), while a union with a MISMATCHED build still
    raises."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.bloom import bloom_bits, bloom_screen

    a = spark.createDataFrame([("alpha",), ("beta",)], "g string")
    b = spark.createDataFrame([("gamma",), ("delta",)], "g string")
    probes = spark.createDataFrame(
        [("alpha",), ("gamma",), ("omega",)], "g string"
    )

    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    bloom_bits(a).write.parquet(pa)
    bloom_bits(b).write.parquet(pb)
    both = spark.read.parquet(pa).union(spark.read.parquet(pb)).distinct()
    hits = {
        r["g"]: r["bloom_hit"] for r in bloom_screen(probes, both).collect()
    }
    # members of EITHER build must hit in the unioned filter
    assert hits["alpha"] is True and hits["gamma"] is True

    pm = str(tmp_path / "m")
    bloom_bits(b, bits_hex=6, k=3).write.parquet(pm)
    mixed = spark.read.parquet(pa).union(spark.read.parquet(pm))
    with _pytest.raises(ValueError, match="unsound"):
        bloom_screen(probes, mixed)


def test_data_fingerprint_missing_path_raises():
    """ADVICE r6: a nonexistent path must fail at fingerprint time, not
    silently hash as empty input (two missing dirs would share a key)."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.similarity import data_fingerprint

    with _pytest.raises(FileNotFoundError):
        data_fingerprint("/nonexistent/skr/path")


def test_i13d_batch_probe_runs_under_aqe_skew_join(spark, sf_dir):
    """VERDICT r5 item 9: the i13d many-query cell join is the one path
    where a skewed cell (popular region of the embedding space) would
    funnel — pin that (a) the session arms AQE skew-join splitting and
    (b) the probe plan executes under an AdaptiveSparkPlan wrapper, so
    the mitigation can actually fire at runtime."""
    from s3_kinesis_replay_spark.plans.audit import audit_plan

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    feats = audit_plan(QUERIES["i13d_ivf_batch_probe"].fn(spark, sf_dir))
    assert feats["aqe"], "i13d plan not under AdaptiveSparkPlan"


def test_c1c_bucketed_join_eliminates_shuffle(spark, sf_dir):
    """The bucketed fact-fact join must read co-located buckets with NO
    Exchange on either join input — the only shuffle left is the final
    aggregate's. Broadcast is disabled so the assertion exercises the
    strategy that matters at 100 TB (both sides too big to broadcast);
    a per-task Sort remains (Spark 3+ does not propagate bucket sort
    order without the legacy flag) — partition-local, no shuffle."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["c1c_bucketed_join"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert plan.count("SortMergeJoin") == 1
    assert plan.count("Bucketed: true") == 2
    # exactly one hash exchange: the aggregate's; none feeding the join
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_c1c_bucket_cache_names_per_table_fingerprint(spark, sf_dir):
    """ADVICE r7: each bucketed table's cache name must hash its OWN
    parquet file — the old code derived both suffixes from lineitem's
    fingerprint, so a regenerated orders.parquet with an unchanged
    lineitem.parquet served stale orders buckets."""
    import os

    from s3_kinesis_replay_spark.operators.similarity import data_fingerprint

    QUERIES["c1c_bucketed_join"].fn(spark, sf_dir).collect()
    fp_li = data_fingerprint(os.path.join(sf_dir, "lineitem.parquet"))[:10]
    fp_ord = data_fingerprint(os.path.join(sf_dir, "orders.parquet"))[:10]
    assert fp_li != fp_ord
    assert spark.catalog.tableExists(f"skr_li_b8_{fp_li}")
    assert spark.catalog.tableExists(f"skr_ord_b8_{fp_ord}")


@pytest.mark.parametrize(
    "name,expect",
    [
        # q9: the selective part filter broadcasts BEFORE the fact-fact
        # shuffle (no CBO join reordering — pinned so a refactor cannot
        # silently put the 100 TB shuffle back in front of the filter)
        ("q9_product_type_profit", {"broadcast_joins": 3, "shuffle_joins": 1}),
        # q12: both facts shuffle on the orderkey only; year filter pushed
        ("q12_ship_priority_classes", {"broadcast_joins": 0, "shuffle_joins": 1, "pushed_filters": True}),
        # q16: excluded suppliers + part attrs both broadcast — no shuffle
        # before the distinct aggregation
        ("q16_supplier_part_counts", {"broadcast_joins": 2, "shuffle_joins": 0}),
        # q21: ONE fact shuffle (the orderkey window), dims broadcast
        ("q21_waiting_supplier", {"broadcast_joins": 2, "shuffle_joins": 1}),
        # q2: supplier joins the bridge broadcast; part filter broadcast
        ("q2_min_balance_supplier", {"broadcast_joins": 2, "shuffle_joins": 0}),
        # round 8 (review): q20 broadcasts the red-part filter AND the
        # post-HAVING supplier-key set — no shuffle join at all
        ("q20_excess_shippers", {"broadcast_joins": 3, "shuffle_joins": 0}),
        # q11: every dim broadcast, the only exchanges are aggregates
        ("q11_important_parts", {"broadcast_joins": 5, "shuffle_joins": 0}),
        # q7/q8: all dims (incl. supplier) broadcast; the ONLY shuffle
        # joins are the two fact-fact joins (li-o, o-c)
        ("q7_volume_shipping", {"broadcast_joins": 3, "shuffle_joins": 2}),
        ("q8_market_share", {"broadcast_joins": 5, "shuffle_joins": 2}),
    ],
)
def test_new_tpch_plan_pins(spark, sf_dir, name, expect):
    """Pinned at the 100 TB shape: auto-broadcast off, so only the
    EXPLICIT broadcast hints (the deliberately-small sides) broadcast
    and the fact joins show as shuffle joins — at sf0.01 AQE would
    broadcast the small facts too and hide a join-order regression."""
    from s3_kinesis_replay_spark.plans.audit import audit_plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        feats = audit_plan(QUERIES[name].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for k, v in expect.items():
        assert feats[k] == v, f"{name}: {k}={feats[k]} expected {v} ({feats})"


def test_f1_output_order(spark, sf_dir):
    """F1's ROW ORDER is the contract (the driver hash is
    order-insensitive, so only this test sees the sort): priority DESC
    with NULLS LAST, then price ASC, then key."""
    rows = QUERIES["f1_multi_key_sort"].fn(spark, sf_dir).collect()
    assert len(rows) > 100

    # two-phase stable sort: secondary keys ascending first, then the
    # string priority DESC (Python's reverse=True is stable), nulls last
    expected = sorted(rows, key=lambda r: (r["o_totalprice"], r["o_orderkey"]))
    nonnull = [r for r in expected if r["o_orderpriority"] is not None]
    nulls = [r for r in expected if r["o_orderpriority"] is None]
    nonnull.sort(key=lambda r: r["o_orderpriority"], reverse=True)
    expected = nonnull + nulls
    assert [r["o_orderkey"] for r in rows] == [
        r["o_orderkey"] for r in expected
    ]


def test_no_undeclared_unbounded_funnels(spark, sf_dir):
    """Machine-enforced replacement for PLANS.md's hand-listed
    single-partition whitelist (VERDICT r7 item 6): every
    `Exchange SinglePartition` in every auditable registry plan must be
    fed by a row-count-bounding operator (aggregate / limit /
    group-top-k) — or be a declared-semantics exemption in
    tools/gen_plans.py:SP_UNBOUNDED_DECLARED."""
    import sys
    from pathlib import Path

    from s3_kinesis_replay_spark.plans.audit import audit_plan

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from tools.gen_plans import SKIP_PREFIXES, SP_UNBOUNDED_DECLARED

    offenders = {}
    for name, q in QUERIES.items():
        if any(name.startswith(p) for p in SKIP_PREFIXES):
            continue
        feats = audit_plan(q.fn(spark, sf_dir))
        if "UNBOUNDED" in feats["sp_class"] and name not in SP_UNBOUNDED_DECLARED:
            offenders[name] = feats["sp_class"]
    assert not offenders, (
        f"undeclared UNBOUNDED single-partition funnels: {offenders} — "
        "rewrite the plan (agg-rank / limit) or declare the semantics in "
        "SP_UNBOUNDED_DECLARED with the scale-safe sibling named"
    )


def test_p5_decile_arithmetic_matches_ntile(spark):
    """The p5 rank->bucket arithmetic must equal ntile(10) exactly,
    including the uneven-N case (first N%10 buckets get the extra row)."""
    from pyspark.sql import Window

    rows = [(i, (i * 7) % 23) for i in range(1, 48)]  # N=47: 7 big buckets
    df = spark.createDataFrame(rows, "doc_id int, n_chars int")
    w = Window.orderBy(F.col("n_chars").desc(), "doc_id")
    expected = {
        (r["doc_id"], r["d"])
        for r in df.select("doc_id", F.ntile(10).over(w).alias("d")).collect()
    }
    n = 47
    wrn = Window.partitionBy("n_chars").orderBy("doc_id")
    counts = df.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    woff = Window.orderBy(F.col("n_chars").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "n_chars", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("base")
    )
    small, n_big = n // 10, n % 10
    rk = F.col("base") + F.row_number().over(wrn)
    decile = F.when(
        rk <= n_big * (small + 1),
        F.ceil(rk.cast("double") / (small + 1)),
    ).otherwise(n_big + F.ceil((rk - n_big * (small + 1)).cast("double") / small))
    got = {
        (r["doc_id"], r["d"])
        for r in df.join(F.broadcast(offsets), "n_chars")
        .select("doc_id", decile.cast("int").alias("d"))
        .collect()
    }
    assert got == expected


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. 2003): two documents
    sharing ANY substring of length >= k + w - 1 must share at least one
    selected fingerprint — fuzz-shaped check over several embeddings of
    a common fragment into otherwise unrelated texts."""
    import random

    from s3_kinesis_replay_spark.operators.dedup import winnowed_fingerprints

    rng = random.Random(42)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    k, w = 20, 4
    fragment = "".join(rng.choice(alpha) for _ in range(k + w - 1))
    rows = [(0, "".join(rng.choice(alpha) for _ in range(200)) + fragment)]
    for i in range(1, 6):
        pre = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 150)))
        post = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 150)))
        rows.append((i, pre + fragment + post))
    # an unrelated doc must NOT share the fragment's fingerprints
    rows.append((99, "".join(rng.choice(alpha) for _ in range(300))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowed_fingerprints(docs, k=k, w=w)
    by_doc = {
        r["doc_id"]: set()
        for r in docs.select("doc_id").collect()
    }
    for r in fps.collect():
        by_doc[r["doc_id"]].add(r["fp"])
    base = by_doc[0]
    for i in range(1, 6):
        assert base & by_doc[i], f"doc {i} shares no fingerprint with doc 0"
    assert not (base & by_doc[99]) or len(base & by_doc[99]) < len(base)


def test_i13e_pq_codes_are_argmin(spark, sf_dir):
    """PQ code optimality: every assigned code must be the argmin
    reconstruction distortion over its subvector's codebook (numpy
    recompute with the shared _sq_dists formula), and the reported
    sub_dist must equal the recomputed distortion to rounding."""
    import numpy as np

    from s3_kinesis_replay_spark.operators.similarity import (
        _sq_dists,
        train_quantizer,
    )
    from s3_kinesis_replay_spark.queries.llm_ops import (
        _PQ_DIM,
        _PQ_SEED,
        _PQ_SUB,
    )

    out = {
        (r["vec_id"], r["subv"]): (r["code"], r["sub_dist"])
        for r in QUERIES["i13e_pq_codes"].fn(spark, sf_dir).collect()
    }
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e.collect()}
    for j in range(_PQ_SUB):
        sliced = e.selectExpr(
            "vec_id", f"slice(embedding, {j * _PQ_DIM + 1}, {_PQ_DIM}) AS sub"
        )
        C = train_quantizer(
            sliced, n_clusters=16, seed=_PQ_SEED + j, id_col="vec_id", vec_col="sub"
        )
        ids = sorted(X)
        M = np.stack([X[i][j * _PQ_DIM : (j + 1) * _PQ_DIM] for i in ids])
        d = _sq_dists(M, np.asarray(C, dtype=np.float64))
        lab = np.argmin(d, axis=1)
        for row, vid in enumerate(ids):
            code, sub_dist = out[(vid, j)]
            assert code == int(lab[row]), f"vec {vid} subv {j}: non-argmin code"
            exact = float(((M[row] - C[code]) ** 2).sum())
            assert abs(sub_dist - exact) < 1e-5, f"vec {vid} subv {j} distortion"


def test_i13f_adc_recall_bounds(spark, sf_dir):
    """ADC is an approximation — pin a floor, not equality: on this
    fixture (isotropic random embeddings, PQ's published worst case —
    real embeddings on low-dim manifolds quantize far better) the 8x16
    code ADC top-10 must still recover a non-trivial share of the exact
    euclidean top-10, and every reported distance must be positive and
    ascending."""
    import numpy as np

    rows = QUERIES["i13f_pq_adc_topk"].fn(spark, sf_dir).collect()
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists) and all(d > 0 for d in dists)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e}
    q = X[0]
    exact = [
        k
        for _, k in sorted(
            (float(((v - q) ** 2).sum()), k) for k, v in X.items() if k != 0
        )[:10]
    ]
    got = {r["vec_id"] for r in rows}
    assert len(got & set(exact)) >= 2, f"ADC recall collapsed: {got} vs {exact}"


def test_i13i_residual_pq_recall_and_shape(spark, sf_dir):
    """Residual IVFADC (i13i): distances positive-ascending, the top-10
    recovers a non-trivial share of the exact euclidean top-10 (same
    floor discipline as i13f — single-query floor, the distribution-level
    residual-vs-plain comparison lives in the SCALE.md experiment), and
    the scored candidate set respects the probe pruning (every result in
    a probed cell)."""
    import numpy as np

    rows = QUERIES["i13i_residual_pq_topk"].fn(spark, sf_dir).collect()
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists) and all(d > 0 for d in dists)

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    X = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in e}
    q = X[0]
    exact = [
        k
        for _, k in sorted(
            (float(((v - q) ** 2).sum()), k) for k, v in X.items() if k != 0
        )[:10]
    ]
    got = {r["vec_id"] for r in rows}
    assert len(got & set(exact)) >= 2, f"residual ADC recall collapsed: {got}"

    # every returned id must belong to a probed cell (the IVF pruning is
    # real, not decorative)
    from s3_kinesis_replay_spark.operators.similarity import _probe_cells

    idx = "/tmp/skr_ivf_oracle/i13"
    cents = spark.read.parquet(f"{idx}/_centroids").collect()
    probed = set(
        _probe_cells([(r["cell"], r["centroid"]) for r in cents], list(q), 4)
    )
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in spark.read.parquet(f"{idx}/vectors")
        .select("vec_id", "cell")
        .collect()
    }
    assert all(cell_of[v] in probed for v in got)


def test_decode_image_real_formats():
    """Uncompressed decode is REAL now: P6 PPM and 24-bpp BMP parse to
    identical luma bytes; compressed magic still raises (the documented
    remaining stub)."""
    import struct

    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.multimodal import decode_image

    ppm = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 60, 90, 120])
    assert list(decode_image(ppm)) == [20, 90]

    w, h = 2, 1
    stride = (w * 3 + 3) // 4 * 4
    px = bytes([30, 20, 10, 120, 90, 60]) + b"\x00" * (stride - 6)  # BGR
    bmp = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
        + px
    )
    assert list(decode_image(bmp)) == [20, 90]
    # bottom-up row order: 2x2 BMP must come back top-down
    px2 = bytes([1, 1, 1, 2, 2, 2]) + b"\x00" * 2 + bytes([3, 3, 3, 4, 4, 4]) + b"\x00" * 2
    bmp2 = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(px2), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px2), 0, 0, 0, 0)
        + px2
    )
    assert list(decode_image(bmp2)) == [3, 4, 1, 2]

    with _pytest.raises(NotImplementedError, match="compressed"):
        decode_image(b"\xff\xd8\xffJFIF....")


def test_decode_ppm_malformed_headers_raise():
    """ADVICE r7 (medium): a truncated P6 header must raise, not spin the
    executor forever (EOF token loop), and garbage dimensions must be
    rejected before allocating w*h bytes."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.multimodal import decode_image

    # header cut off mid-token: previously an infinite loop
    with _pytest.raises(ValueError, match="header truncated"):
        decode_image(b"P6\n2 1")
    # header that is ONLY the magic
    with _pytest.raises(ValueError, match="header truncated"):
        decode_image(b"P6")
    # trailing comment with no newline then EOF
    with _pytest.raises(ValueError, match="header truncated"):
        decode_image(b"P6\n2 #comment")
    # absurd dimensions: reject before allocation
    with _pytest.raises(ValueError, match="out of range"):
        decode_image(b"P6\n999999 999999\n255\n")
    with _pytest.raises(ValueError, match="out of range"):
        decode_image(b"P6\n0 5\n255\n")


def test_resize_frame_pooling_and_nearest():
    """Mean-pooling path: exact floor-average per 2x2 block; nearest
    path: pure index sampling when dims don't divide; bad inputs raise."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.multimodal import resize_frame

    # 4x2 -> 2x1: blocks {0,1,4,5} and {2,3,6,7}
    frame = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    assert list(resize_frame(frame, 4, 2, 2, 1)) == [
        (10 + 20 + 50 + 60) // 4,
        (30 + 40 + 70 + 80) // 4,
    ]
    # identity resize
    assert resize_frame(frame, 4, 2, 4, 2) == frame
    # non-dividing target -> nearest-neighbor (3 of 4 columns sampled)
    out = resize_frame(frame, 4, 2, 3, 2)
    assert list(out) == [10, 20, 30, 50, 60, 70]
    with _pytest.raises(ValueError, match="frame size"):
        resize_frame(frame, 5, 2, 2, 1)
    with _pytest.raises(ValueError, match="positive"):
        resize_frame(frame, 4, 2, 0, 1)


def test_decode_audio_real_wav():
    """RIFF/WAVE PCM16 parses for real (round-trip through pack), odd
    chunk sizes word-align, and compressed magic raises."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.multimodal import (
        decode_audio,
        pack_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 1000]
    assert decode_audio(pack_wav_pcm16(samples)) == samples
    with _pytest.raises(NotImplementedError, match="compressed"):
        decode_audio(b"ID3\x03\x00mp3data")
    with _pytest.raises(NotImplementedError, match="PCM16 mono"):
        # stereo fmt chunk
        import struct

        fmt = struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
        wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt)) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(fmt)) + fmt)
        decode_audio(wav)


def test_half_up6_matches_spark(spark):
    """The NumPy local-selection rounding kernel must agree bit-for-bit
    with Spark's F.round(_, 6) (HALF_UP over the shortest-decimal repr)
    — ADVICE r8: np.round's half-to-even broke tie-class parity at the
    local cut. Adversarial half-boundary values, both signs, plus fuzz."""
    import random

    import numpy as np

    from s3_kinesis_replay_spark.operators.similarity import _half_up6

    vals = [
        0.0000025, -0.0000025, 0.0000015, -0.0000015,
        0.9999995, -0.9999995, 0.1234565, -0.1234565,
        0.5e-6, -0.5e-6, 1.0, -1.0, 0.0,
        # nextafter neighbors of a boundary: binary value strays a ulp
        float(np.nextafter(0.0000025, 1)), float(np.nextafter(0.0000025, -1)),
        float(np.nextafter(-0.0000025, -1)), float(np.nextafter(-0.0000025, 1)),
    ]
    rng = random.Random(9)
    vals += [rng.uniform(-1, 1) for _ in range(500)]
    # a half-boundary-dense band
    vals += [round(rng.randrange(-2000000, 2000000) / 2 + 0.5) / 1e6 + 5e-7
             for _ in range(200)]

    ours = _half_up6(np.array(vals, dtype=np.float64))
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {r["i"]: r["r"] for r in
           sdf.select("i", F.round("v", 6).alias("r")).collect()}
    for i, v in enumerate(vals):
        assert ours[i] == got[i], (v, ours[i], got[i])


def test_bucketed_reap_keeps_one_stale_generation(tmp_path):
    """ADVICE r8: _ensure_bucketed_table's sibling reap must keep the
    newest stale fingerprint dir (a concurrent session may still read
    it) and delete only older generations. Exercised via the same
    list/sort/rmtree discipline on a synthetic cache root."""
    import os
    import time

    root = tmp_path / "skr_bucketed"
    root.mkdir()
    names = ["skr_li_b8_old1", "skr_li_b8_old2", "skr_li_b8_cur"]
    for i, n in enumerate(names):
        d = root / n
        d.mkdir()
        (d / "part").write_text("x")
        t0 = time.time() - (len(names) - i) * 100
        os.utime(d, (t0, t0))

    # replicate the reap block with tname = the current fingerprint
    import shutil

    tname = "skr_li_b8_cur"
    prefix = tname.rsplit("_", 1)[0] + "_"
    stale = [
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith(prefix) and d != tname and not d.startswith("build-")
    ]
    stale.sort(key=lambda p: os.path.getmtime(p), reverse=True)
    for p in stale[1:]:
        shutil.rmtree(p, ignore_errors=True)

    left = sorted(os.listdir(root))
    assert left == ["skr_li_b8_cur", "skr_li_b8_old2"]


def test_export_behind_pointer_grace_reap(tmp_path):
    """ADVICE r8: orphaned export-* dirs (e.g. a racing run's loser) are
    reaped by scan with a one-generation grace — after two sequential
    exports plus one planted orphan, at most the pointer target and ONE
    orphan remain, and a third export clears the planted one."""
    import os

    from s3_kinesis_replay_spark.operators.similarity import (
        export_behind_pointer,
    )

    base = tmp_path / "exp"
    base.mkdir()
    pointer = str(base / "current")

    def writer(tag):
        def write(d):
            with open(os.path.join(d, "data"), "w") as f:
                f.write(tag)
        return write

    e1 = export_behind_pointer(pointer, writer("one"))
    # plant an orphan no pointer ever named (a crashed run's leak) that
    # is OLDER than the reap grace age; also one YOUNG orphan standing
    # in for a racing run's in-flight export
    orphan = base / "export-loser"
    orphan.mkdir()
    (orphan / "data").write_text("lost")
    old_t = os.path.getmtime(e1) - 10_000
    os.utime(orphan, (old_t, old_t))
    inflight = base / "export-inflight"
    inflight.mkdir()
    (inflight / "data").write_text("writing")

    e2 = export_behind_pointer(pointer, writer("two"))
    dirs = {d for d in os.listdir(base) if d.startswith("export-")}
    # pointer names e2; the stale leak is reaped; BOTH young dirs (e1 as
    # the grace generation / the in-flight race) survive the age guard
    assert os.path.basename(e2) in dirs
    assert os.path.basename(e1) in dirs
    assert "export-inflight" in dirs
    assert "export-loser" not in dirs
    assert os.path.realpath(pointer) == os.path.realpath(e2)

    # age out e1 and the fake in-flight dir: next export reaps both,
    # keeping only the pointer target and the newest orphan (e2)
    for d in (str(base / os.path.basename(e1)), str(inflight)):
        os.utime(d, (old_t, old_t))
    e3 = export_behind_pointer(pointer, writer("three"))
    dirs = {d for d in os.listdir(base) if d.startswith("export-")}
    assert dirs == {os.path.basename(e3), os.path.basename(e2)}


def test_ivf_append_equals_joint_build(spark, sf_dir, tmp_path):
    """Appending a batch to a built index yields EXACTLY the rows of a
    joint same-centroid index: (vec_id, cell) set of the appended index
    == assign_cells(full corpus, frozen centroids), and the base files
    were never rewritten (their (vec_id, cell) set is a strict subset)."""
    import numpy as np

    from s3_kinesis_replay_spark.operators.similarity import (
        assign_cells,
        ivf_append,
        ivf_build,
    )

    emb = table(spark, "embeddings", sf_dir).filter(F.col("vec_id") != 0)
    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    idx = str(tmp_path / "idx")
    ivf_build(base, idx, n_clusters=8, seed=7)
    before = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    ivf_append(spark, idx, batch)
    after = {
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(f"{idx}/vectors").collect()
    }
    cents = spark.read.parquet(f"{idx}/_centroids").orderBy("cell").collect()
    centers = np.array([r["centroid"] for r in cents], dtype=np.float64)
    expected = {
        (r["vec_id"], r["cell"])
        for r in assign_cells(emb.select("vec_id", "embedding"), centers)
        .select("vec_id", "cell")
        .collect()
    }
    assert after == expected
    assert before < after
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert {v for v, _ in after - before} == batch_ids


def test_i13j_ivf_append_all_agree(spark, sf_dir):
    """Every probe row of the appended index must match the frozen-
    quantizer full-corpus reference (the flag the oracle hard-codes)."""
    rows = all_queries()["i13j_ivf_append"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    assert all(r["agree"] for r in rows)


def test_zorder_prunes_box_predicates(spark, sf_dir, tmp_path):
    """The efficiency half of a11: for a 2-D box predicate, the Z-order
    layout must leave FEWER candidate files (parquet-footer min/max
    overlap) than a single-column sort, which prunes only its own
    dimension; both layouts return identical rows (invariance)."""
    from s3_kinesis_replay_spark.operators.layout import (
        candidate_files,
        zorder_write,
    )

    li = table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    dims = [
        F.datediff(F.col("l_shipdate"), F.lit("1995-01-01")),
        F.col("l_partkey"),
    ]
    zpath = str(tmp_path / "zorder")
    spath = str(tmp_path / "datesort")
    zorder_write(li, zpath, dims, n_files=16, bits=10)
    (
        li.repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(spath)
    )

    import datetime

    dt = (
        datetime.datetime(1996, 1, 1),
        datetime.datetime(1996, 6, 30, 23, 59, 59),
    )
    pk = (100, 500)
    z_pk, z_total = candidate_files(zpath, {"l_partkey": pk})
    s_pk, s_total = candidate_files(spath, {"l_partkey": pk})
    z_dt, _ = candidate_files(zpath, {"l_shipdate": dt})
    s_dt, _ = candidate_files(spath, {"l_shipdate": dt})
    assert z_total == 16 and s_total == 16
    # the z-layout's balanced-pruning guarantee: the single-column sort
    # is all-or-nothing (tight on its own dimension, ZERO pruning on the
    # other — every file is a candidate); z-order prunes a real fraction
    # of files on EVERY clustered dimension, so its worst single-dim
    # scan is strictly better than the sort layout's (measured sf0.01:
    # partkey-only z 8/16 vs sort 16/16; date-only z 7/16 vs sort 2/16)
    assert z_pk < s_pk, (z_pk, s_pk)
    assert z_dt < z_total, (z_dt, z_total)
    assert max(z_pk, z_dt) < max(s_pk, s_dt), (z_pk, z_dt, s_pk, s_dt)

    # layout invariance: both copies agree with the source under the box
    cond = (
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
        & F.col("l_partkey").between(100, 500)
    )
    want = sorted(
        (r["l_orderkey"], r["l_partkey"]) for r in li.filter(cond).collect()
    )
    for p in (zpath, spath):
        got = sorted(
            (r["l_orderkey"], r["l_partkey"])
            for r in spark.read.parquet(p).filter(cond).collect()
        )
        assert got == want


def test_zorder_kernels():
    """bucket_code clamps to [0, 2^bits) and z_value interleaves bits
    exactly (cross-checked against a pure-Python Morton encode)."""
    from s3_kinesis_replay_spark.operators.layout import bucket_code, z_value
    from s3_kinesis_replay_spark.session import get_spark

    spark = get_spark(app_name="skr-tests")
    rows = [(x, y) for x in (0, 1, 5, 7) for y in (0, 2, 3, 7)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = df.select(
        "x",
        "y",
        z_value([F.col("x"), F.col("y")], bits=3).alias("z"),
        bucket_code(F.col("x"), 0.0, 8.0, 3).alias("bx"),
    ).collect()

    def morton(x, y, bits=3):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for r in out:
        assert r["z"] == morton(r["x"], r["y"]), r
        assert 0 <= r["bx"] < 8


def test_zorder_degenerate_inputs(spark, tmp_path):
    """ADVICE r9: zorder_write on an empty DataFrame or an all-NULL dim
    falls back to a plain write instead of a None-arithmetic TypeError;
    candidate_files keeps a stats-less file as a candidate even when the
    predicate range is disjoint from the data."""
    from s3_kinesis_replay_spark.operators.layout import (
        candidate_files,
        zorder_write,
    )

    empty = spark.createDataFrame([], "x long, y long")
    p1 = str(tmp_path / "z_empty")
    zorder_write(empty, p1, [F.col("x"), F.col("y")], n_files=4, bits=4)
    assert spark.read.parquet(p1).count() == 0

    nulls = spark.createDataFrame(
        [(1, None), (2, None)], "x long, y long"
    )
    p2 = str(tmp_path / "z_nulls")
    zorder_write(nulls, p2, [F.col("x"), F.col("y")], n_files=4, bits=4)
    assert spark.read.parquet(p2).count() == 2

    # stats-less parquet: the pruning walk must NOT count it pruned
    import pyarrow as pa
    import pyarrow.parquet as pq

    p3 = tmp_path / "nostats"
    p3.mkdir()
    pq.write_table(
        pa.table({"x": [100, 200, 300]}),
        p3 / "part-0.parquet",
        write_statistics=False,
    )
    hit, total = candidate_files(str(p3), {"x": (0, 1)})
    assert (hit, total) == (1, 1)


def test_cbo_join_reorder_plan(spark, sf_dir):
    """SURVEY §4 catalog bootstrap, pinned: with ANALYZE'd catalog tables
    and CBO on, the hint-free q5-shaped 6-table join is REORDERED to the
    dim-first tree (nation⋈region deepest, lineitem outermost probe);
    with CBO off the written left-deep order (lineitem⋈orders deepest)
    survives. Same rows either way."""
    from s3_kinesis_replay_spark.catalog import bootstrap_cbo_tables, cbo_conf

    bootstrap_cbo_tables(spark, sf_dir)

    # stats actually landed: rowCount in the catalog matches the data
    stats = (
        spark.sql("DESC EXTENDED nation_cbo")
        .filter(F.col("col_name") == "Statistics")
        .collect()[0]["data_type"]
    )
    assert "25 rows" in stats, stats

    sql = """
        SELECT n_name, COUNT(*) AS cnt
        FROM lineitem_cbo l
        JOIN orders_cbo o ON l.l_orderkey = o.o_orderkey
        JOIN customer_cbo c ON o.o_custkey = c.c_custkey
        JOIN supplier_cbo s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
        JOIN nation_cbo n ON s.s_nationkey = n.n_nationkey
        JOIN region_cbo r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """

    def relation_order(enabled):
        with cbo_conf(spark, enabled):
            df = spark.sql(sql)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rows = sorted(df.collect())
        # first textual occurrence ~ position in the join tree: the
        # outermost (probe) side prints before deeper subtrees it joins
        names = ("lineitem_cbo", "orders_cbo", "nation_cbo", "region_cbo")
        return {n: plan.index(n) for n in names}, rows

    cbo_pos, cbo_rows = relation_order(True)
    off_pos, off_rows = relation_order(False)
    assert cbo_rows == off_rows and cbo_rows  # reorder is result-invariant

    # CBO off: written order — lineitem is the deepest-left leaf, so it
    # prints FIRST among relations; dims print after it.
    assert off_pos["lineitem_cbo"] < off_pos["nation_cbo"]
    assert off_pos["lineitem_cbo"] < off_pos["region_cbo"]
    # CBO on: stats invert the tree — the dim join is built first and
    # lineitem becomes the outermost probe, printing AFTER the dims.
    assert cbo_pos["nation_cbo"] < cbo_pos["lineitem_cbo"]
    assert cbo_pos["region_cbo"] < cbo_pos["lineitem_cbo"]


def test_cbo_bootstrap_heals_statsless_table(spark, sf_dir):
    """Review r10 pin: a table left behind by a crash between CREATE and
    ANALYZE (exists, right location, NO stats) must be re-registered
    with stats on the next bootstrap, not trusted; and cbo_conf restores
    prior session values on exit."""
    from s3_kinesis_replay_spark.catalog import (
        _table_meta,
        bootstrap_cbo_tables,
        cbo_conf,
    )

    # simulate the crash: CREATE without ANALYZE
    spark.sql("DROP TABLE IF EXISTS region_cbo")
    spark.sql(
        f"CREATE TABLE region_cbo USING parquet "
        f"LOCATION '{sf_dir}/region.parquet'"
    )
    loc, has_stats = _table_meta(spark, "region_cbo")
    assert loc and not has_stats
    bootstrap_cbo_tables(spark, sf_dir, tables=("region",))
    loc2, has_stats2 = _table_meta(spark, "region_cbo")
    assert loc2 == loc and has_stats2

    before = spark.conf.get("spark.sql.cbo.enabled")
    with cbo_conf(spark):
        assert spark.conf.get("spark.sql.cbo.enabled") == "true"
    assert spark.conf.get("spark.sql.cbo.enabled") == before


def test_ts1_interpolation_semantics(spark, sf_dir):
    """Gap-fill invariants: the per-user grid is DENSE hourly between
    the user's first and last observed hour; every filled value lies
    within [min(pv, nv), max(pv, nv)] of its bracketing observations;
    edge gaps use pure forward/backward fill (constant)."""
    rows = (
        all_queries()["ts1_resample_interpolate"].fn(spark, sf_dir).collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["h"])
        # dense hourly grid
        for a, b in zip(rs, rs[1:]):
            assert (b["h"] - a["h"]).total_seconds() == 3600, (uid, a, b)
        # grid endpoints are observed by construction
        assert rs[0]["is_observed"] and rs[-1]["is_observed"]
        obs_idx = [i for i, r in enumerate(rs) if r["is_observed"]]
        for lo, hi in zip(obs_idx, obs_idx[1:]):
            a, b = rs[lo]["value"], rs[hi]["value"]
            vlo, vhi = min(a, b), max(a, b)
            for i in range(lo + 1, hi):
                assert vlo - 1e-9 <= rs[i]["value"] <= vhi + 1e-9, (
                    uid, rs[lo], rs[i], rs[hi],
                )


def test_v1_audit_detects_injected_violations(spark, sf_dir, tmp_path):
    """The audit is not trivially green: corrupt a copy of the fixture
    (duplicate customer PK, out-of-domain discount, orphaned order) and
    every corresponding check must flip to failed with the right count."""
    import os
    import shutil

    bad = tmp_path / "bad_sf"
    bad.mkdir()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        os.symlink(
            os.path.join(sf_dir, f"{name}.parquet"), bad / f"{name}.parquet"
        )

    # duplicate one customer row (breaks pk_unique by exactly 1)
    cust = table(spark, "customer", sf_dir)
    dup = cust.unionAll(cust.limit(1))
    os.remove(bad / "customer.parquet")
    dup.coalesce(1).write.parquet(str(bad / "customer.parquet"))

    # one order pointing at a customer key that cannot exist
    o = table(spark, "orders", sf_dir)
    orphan = o.limit(1).withColumn("o_custkey", F.lit(-987654321))
    os.remove(bad / "orders.parquet")
    o.unionAll(orphan).coalesce(1).write.parquet(str(bad / "orders.parquet"))

    # one lineitem with discount 1.5
    li = table(spark, "lineitem", sf_dir)
    badli = li.limit(1).withColumn("l_discount", F.lit(1.5)).withColumn(
        "l_linenumber", F.lit(999)
    )
    os.remove(bad / "lineitem.parquet")
    li.unionAll(badli).coalesce(1).write.parquet(str(bad / "lineitem.parquet"))

    rows = {
        (r["table_name"], r["check_name"]): r
        for r in all_queries()["v1_data_quality_audit"]
        .fn(spark, str(bad))
        .collect()
    }
    assert rows[("customer", "pk_unique")]["violations"] == 1
    assert not rows[("customer", "pk_unique")]["passed"]
    assert rows[("orders", "custkey_ri")]["violations"] == 1
    assert not rows[("orders", "custkey_ri")]["passed"]
    assert rows[("lineitem", "discount_domain")]["violations"] == 1
    assert not rows[("lineitem", "discount_domain")]["passed"]
    # untouched checks still pass
    assert rows[("documents", "text_nonempty")]["passed"]
    assert rows[("events", "ts_in_window")]["passed"]
    # clean fixture: the audit is not a rubber stamp — it flags the one
    # REAL defect in the synthetic data (lineitem's (l_orderkey,
    # l_linenumber) is not unique) and passes everything else
    clean = all_queries()["v1_data_quality_audit"].fn(spark, sf_dir).collect()
    failed = {
        (r["table_name"], r["check_name"]) for r in clean if not r["passed"]
    }
    assert failed == {("lineitem", "pk_unique")}, failed


def test_compaction_binpacks_files(spark, sf_dir):
    """a12's efficiency claim: the staged archive's many small chunk
    files collapse into right-sized parquet — output file count is
    bounded by ceil(rows/target) + one tail per dt partition, every
    file respects maxRecordsPerFile, and the content round-trips."""
    import glob
    import math
    import os

    from s3_kinesis_replay_spark.queries.sources_q import _compacted_archive
    from s3_kinesis_replay_spark.sources.archive import stage_archive

    target = 4000
    out = _compacted_archive(spark, sf_dir, target_rows=target)
    root = stage_archive(sf_dir, gz=True)
    n_in = len(glob.glob(os.path.join(root, "dt=*", "hr=*", "*.gz")))
    files = glob.glob(os.path.join(out, "dt=*", "*.parquet"))
    n = table(spark, "events", sf_dir).count()
    n_dt = len(glob.glob(os.path.join(out, "dt=*")))
    assert len(files) <= math.ceil(n / target) + n_dt, (len(files), n, n_dt)
    if n_in > math.ceil(n / target) + n_dt:
        assert len(files) < n_in  # actual collapse at this sf
    import pyarrow.parquet as pq

    for f in files:
        assert pq.ParquetFile(f).metadata.num_rows <= target
    # content invariance through gz -> compact -> scan
    got = spark.read.parquet(out)
    assert got.count() == n
    assert got.select(F.sum("event_id")).collect()[0][0] == \
        table(spark, "events", sf_dir).select(F.sum("event_id")).collect()[0][0]


def test_e11_funnel_monotone(spark, sf_dir):
    """Funnel stages can only shrink, and each stage-k user genuinely
    has the ordered subsequence (cross-checked imperatively per user)."""
    row = all_queries()["e11_funnel_conversion"].fn(spark, sf_dir).collect()[0]
    assert row["n_view"] >= row["n_view_click"] >= row["n_view_click_purchase"]
    assert row["n_view_click_purchase"] > 0  # fixture has full journeys
    # imperative cross-check on the raw events
    ev = sorted(
        table(spark, "events", sf_dir)
        .select("user_id", "event_type", "ts")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"]),
    )
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    n1 = n2 = n3 = 0
    for rs in by_user.values():
        t1 = next((r["ts"] for r in rs if r["event_type"] == "view"), None)
        if t1 is None:
            continue
        n1 += 1
        t2 = next(
            (r["ts"] for r in rs
             if r["event_type"] == "click" and r["ts"] > t1),
            None,
        )
        if t2 is None:
            continue
        n2 += 1
        if any(r["event_type"] == "purchase" and r["ts"] > t2 for r in rs):
            n3 += 1
    assert (row["n_view"], row["n_view_click"],
            row["n_view_click_purchase"]) == (n1, n2, n3)


def test_dynamic_partition_pruning_fires_on_partitioned_sink(spark, sf_dir):
    """The a8/a8b partitioned layout composes with Spark's DYNAMIC
    partition pruning: joining the fact on its partition column against
    a filtered dim inserts a dynamicpruning expression into the scan's
    PartitionFilters — at 100 TB the fact reads only the partitions the
    dim side selects at RUNTIME. The fixture is too small for the stats
    heuristic to deem DPP profitable (that heuristic is exactly what
    turns it on at scale), so the test disables useStats to expose the
    mechanism, and restores the conf."""
    from s3_kinesis_replay_spark.queries.sources_q import _lineitem_sink

    keys = (
        "spark.sql.optimizer.dynamicPartitionPruning.useStats",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
    )
    old = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "false")
        spark.conf.set(keys[1], "10000")
        fact = _lineitem_sink(spark, sf_dir)
        dim = spark.createDataFrame(
            [("R", "returned"), ("A", "ack")], "flag string, label string"
        ).filter(F.col("label") == "returned")
        j = (
            fact.join(dim, fact.l_returnflag == dim.flag)
            .groupBy("label")
            .agg(F.count("*").alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # and the answer is right: only the R partition's rows
        got = {(r["label"], r["n"]) for r in j.collect()}
        want_n = fact.filter(F.col("l_returnflag") == "R").count()
        assert got == {("returned", want_n)}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_decode_video_real_y4m():
    """Y4M parses for real (round-trip through pack_y4m), container/
    compressed magics raise, and malformed streams fail loudly."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.multimodal import (
        decode_video,
        pack_y4m,
    )

    frames = [bytes(range(16)), bytes(range(16, 32)), b"a" * 16]
    w, h, got = decode_video(pack_y4m(frames, 4, 4))
    assert (w, h) == (4, 4) and got == frames
    with _pytest.raises(NotImplementedError, match="codec"):
        decode_video(b"RIFF\x00\x00\x00\x00AVI LIST")
    with _pytest.raises(NotImplementedError, match="C420"):
        decode_video(b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + b"\x00" * 48)
    with _pytest.raises(ValueError, match="FRAME"):
        decode_video(b"YUV4MPEG2 W4 H4\nGARBAGE\n" + b"\x00" * 24)
    with _pytest.raises(ValueError, match="truncated"):
        decode_video(b"YUV4MPEG2 W4 H4\nFRAME\n" + b"\x00" * 10)


def test_pca_eigen_properties(spark, sf_dir):
    """PCA over the real embeddings: components orthonormal, eigenvalues
    descending and non-negative, the variance of each projected
    coordinate equals its eigenvalue, the Gram-path covariance matches
    covar_pop, and component signs are deterministic."""
    import numpy as np

    from s3_kinesis_replay_spark.operators.pca import (
        covariance_from_partials,
        gram_partials,
        pca_components,
        project,
    )

    e = table(spark, "embeddings", sf_dir).filter(F.col("vec_id") != 0)
    n, cov = covariance_from_partials(
        gram_partials(e, "embedding", 64).collect(), 64
    )
    assert n == e.count()
    # spot-check the distributed Gram against Spark's covar_pop
    for i, j in [(0, 0), (0, 5), (3, 7), (63, 63)]:
        builtin = e.select(
            F.covar_pop(
                F.col("embedding")[i].cast("double"),
                F.col("embedding")[j].cast("double"),
            )
        ).collect()[0][0]
        assert abs(cov[i, j] - builtin) < 1e-9, (i, j, cov[i, j], builtin)

    k = 4
    vals, comps = pca_components(cov, k)
    assert np.all(vals[:-1] >= vals[1:]) and np.all(vals >= -1e-12)
    assert np.allclose(comps @ comps.T, np.eye(k), atol=1e-10)
    # sign convention: the largest-|coordinate| entry is positive
    for c in comps:
        assert c[int(np.argmax(np.abs(c)))] > 0
    # projected variance per coordinate == eigenvalue (population)
    P = np.array(
        [
            r["p"]
            for r in project(e, comps, "embedding", "p").select("p").collect()
        ]
    )
    pv = P.var(axis=0)
    assert np.allclose(pv, vals, rtol=1e-6), (pv, vals)
    # determinism: same input -> identical components
    vals2, comps2 = pca_components(cov, k)
    assert np.array_equal(vals, vals2) and np.array_equal(comps, comps2)


def test_c2d_snapshot_diff_detects_all_ops(spark, sf_dir):
    """The diff operator on constructed states must classify inserts,
    updates, deletes, and drop unchanged keys — including the delete
    branch the append-only fixture never exercises."""
    from s3_kinesis_replay_spark.queries.relational import (  # noqa: F401
        c2d_snapshot_diff,
    )

    # constructed: old has users 1,2,3; new has 2(changed),3(same),4(new)
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 1, 2)
    rows = [
        (1, t0, 10, "view"),   # old only -> delete
        (2, t0, 20, "view"),   # old
        (3, t0, 30, "view"),   # old, unchanged in new
        (2, t1, 21, "click"),  # new: update for 2
        (4, t1, 40, "signup"), # new only -> insert
    ]
    e = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )

    def state(df):
        key = F.struct("ts", "event_id")
        return df.groupBy("user_id").agg(
            F.max_by("event_type", key).alias("last_type"),
            F.max_by("event_id", key).alias("last_event_id"),
        )

    old = state(e.filter(F.col("event_id") < 40).filter(F.col("event_id") != 21)).select(
        "user_id", F.col("last_event_id").alias("old_event_id")
    )
    new = state(e.filter(F.col("event_id") != 10)).select(
        "user_id",
        F.col("last_event_id").alias("new_event_id"),
        F.col("last_type").alias("new_type"),
    )
    j = old.join(new, "user_id", "full_outer")
    op = (
        F.when(F.col("old_event_id").isNull(), F.lit("insert"))
        .when(F.col("new_event_id").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    out = {
        r["user_id"]: r["op"]
        for r in j.filter(
            F.col("old_event_id").isNull()
            | F.col("new_event_id").isNull()
            | ~F.col("old_event_id").eqNullSafe(F.col("new_event_id"))
        )
        .select("user_id", op.alias("op"))
        .collect()
    }
    assert out == {1: "delete", 2: "update", 4: "insert"}
    # registry form on the real fixture: append-only -> no deletes,
    # inserts are exactly the users whose FIRST event id >= 5000
    rows2 = all_queries()["c2d_snapshot_diff"].fn(spark, sf_dir).collect()
    assert all(r["op"] in ("insert", "update") for r in rows2)
    firsts = {
        r["user_id"]: r["mn"]
        for r in table(spark, "events", sf_dir)
        .groupBy("user_id")
        .agg(F.min("event_id").alias("mn"))
        .collect()
    }
    for r in rows2:
        if r["op"] == "insert":
            assert firsts[r["user_id"]] >= 5000


def test_i19_chunk_invariants(spark, sf_dir):
    """Chunking invariants: every chunk has 1..64 tokens, consecutive
    chunks overlap by exactly 16 tokens (stride 48), and stitching the
    stride-sized prefixes + the last chunk reproduces each document's
    full token stream."""
    rows = all_queries()["i19_chunk_windows"].fn(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, "documents", sf_dir)
        .filter(F.col("text").isNotNull())  # mirrors the query's filter
        .select("doc_id", F.lower("text").alias("text"))
        .collect()
    }
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rs in by_doc.items():
        rs.sort(key=lambda r: r["chunk_idx"])
        toks = docs[doc_id].split(" ")
        stitched = []
        for i, r in enumerate(rs):
            assert 1 <= r["n_tokens"] <= 64
            assert r["start_tok"] == i * 48
            ctoks = r["chunk_text"].split(" ")  # "" -> [""], matching arr
            assert len(ctoks) == r["n_tokens"]
            assert ctoks == toks[r["start_tok"] : r["start_tok"] + 64]
            if i > 0:
                # no window is fully contained in its predecessor
                prev = rs[i - 1]
                assert (
                    r["start_tok"] + r["n_tokens"]
                    > prev["start_tok"] + prev["n_tokens"]
                )
            if i < len(rs) - 1:
                # overlap: the next chunk repeats this one's last 16
                nxt = rs[i + 1]["chunk_text"].split(" ")
                if r["n_tokens"] == 64:
                    assert nxt[:16] == ctoks[48:64]
                stitched.extend(ctoks[:48])
            else:
                stitched.extend(ctoks)
        assert stitched == toks, doc_id


def test_incremental_compaction_touches_only_fragmented_partitions(
    spark, sf_dir, tmp_path
):
    """compact_partitions rewrites exactly the partitions whose fragment
    count exceeds the footer-derived need: untouched partitions keep
    byte-identical files (same paths, same mtimes), the fragmented one
    collapses, and content round-trips."""
    import glob
    import os

    from s3_kinesis_replay_spark.operators.layout import compact_partitions

    from s3_kinesis_replay_spark.operators.layout import (
        seed_fragmented_layout,
    )

    ev = table(spark, "events", sf_dir).withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    root = str(tmp_path / "tbl")
    last_day = seed_fragmented_layout(
        ev, root, target_rows=4000, flush_rows=50, n_tasks=8
    )
    frag_dir = os.path.join(root, f"dt={last_day}")
    n_frag_before = len(glob.glob(os.path.join(frag_dir, "*.parquet")))

    def snapshot(skip_day):
        out = {}
        for f in glob.glob(os.path.join(root, "dt=*", "*.parquet")):
            if f"dt={skip_day}" not in f:
                out[f] = os.path.getmtime(f)
        return out

    before = snapshot(last_day)
    rewritten = compact_partitions(spark, root, target_rows=4000)
    assert rewritten == [f"dt={last_day}"], rewritten
    assert snapshot(last_day) == before  # byte-untouched siblings
    n_frag_after = len(glob.glob(os.path.join(frag_dir, "*.parquet")))
    assert n_frag_after < n_frag_before, (n_frag_before, n_frag_after)
    # content invariance
    got = spark.read.parquet(root).drop("dt")
    assert got.count() == ev.count()
    assert (
        got.select(F.sum("event_id")).collect()[0][0]
        == ev.select(F.sum("event_id")).collect()[0][0]
    )
    # idempotence: a second pass rewrites nothing
    assert compact_partitions(spark, root, target_rows=4000) == []


def test_schema_evolution_preserves_old_partitions(spark, sf_dir, tmp_path):
    """Compaction across a schema boundary (a13): old-schema partitions
    keep byte-identical files, only the widened fragmented day is
    rewritten WITH its new column intact, and the mergeSchema read
    NULL-fills exactly the pre-evolution rows."""
    import glob
    import os

    from s3_kinesis_replay_spark.operators.layout import compact_partitions

    ev = table(spark, "events", sf_dir).withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    last_day = ev.agg(F.max("dt")).collect()[0][0]
    root = str(tmp_path / "tbl")
    (
        ev.filter(F.col("dt") < last_day)
        .repartition(8, "dt")
        .sortWithinPartitions("dt", "event_id")
        .write.option("maxRecordsPerFile", 4000)
        .partitionBy("dt")
        .mode("overwrite")
        .parquet(root)
    )
    (
        ev.filter(F.col("dt") == last_day)
        .withColumn("value_cents", F.floor(F.col("value") * 100).cast("long"))
        .repartition(4)
        .write.option("maxRecordsPerFile", 50)
        .partitionBy("dt")
        .mode("append")
        .parquet(root)
    )

    def snapshot(skip_day):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(root, "dt=*", "*.parquet"))
            if f"dt={skip_day}" not in f
        }

    before = snapshot(last_day)
    rewritten = compact_partitions(spark, root, target_rows=4000)
    assert rewritten == [f"dt={last_day}"], rewritten
    assert snapshot(last_day) == before  # old-schema days byte-untouched

    # the rewritten partition kept the v2 column
    evolved = spark.read.parquet(os.path.join(root, f"dt={last_day}"))
    assert "value_cents" in evolved.columns

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert "value_cents" in merged.columns
    n_total = ev.count()
    n_new = ev.filter(F.col("dt") == last_day).count()
    assert merged.count() == n_total
    assert merged.filter(F.col("value_cents").isNull()).count() == (
        n_total - n_new
    )
    # v2 values survive the compaction rewrite exactly
    want = (
        ev.filter(F.col("dt") == last_day)
        .select(F.sum(F.floor(F.col("value") * 100).cast("long")))
        .collect()[0][0]
    )
    assert merged.select(F.sum("value_cents")).collect()[0][0] == want


def test_countmin_guarantee_and_merge_linearity(spark):
    """Count-Min invariants: (1) est >= exact for EVERY item (the
    deterministic CM guarantee); (2) merging per-shard partials yields
    the IDENTICAL sketch to a single-pass build (CM linearity) — so
    per-day artifacts roll up losslessly."""
    import random

    from s3_kinesis_replay_spark.operators.freq_sketch import (
        cm_estimate,
        cm_merge,
        cm_partial_cells,
    )

    rng = random.Random(11)
    rows = [
        ("g1", f"item{rng.randrange(40)}", i) for i in range(800)
    ] + [("g2", f"item{rng.randrange(10)}", i) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, it string, rid long")
    exact = {
        (r["g"], r["it"]): r["n"]
        for r in df.groupBy("g", "it").agg(F.count("*").alias("n")).collect()
    }
    queries = df.select("g", "it").distinct()

    sharded = cm_merge(
        cm_partial_cells(
            df, "g", "it", F.pmod(F.xxhash64("rid"), F.lit(8)), d=3, w=64
        )
    )
    single = cm_merge(
        cm_partial_cells(df, "g", "it", F.lit(0), d=3, w=64)
    )
    assert sorted(map(tuple, sharded.collect())) == sorted(
        map(tuple, single.collect())
    )

    est = {
        (r["g"], r["it"]): r["est"]
        for r in cm_estimate(sharded, queries, "g", "it", d=3, w=64).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert e >= exact[k], (k, e, exact[k])
    # an item never seen estimates via its (possibly colliding) cells —
    # still >= its true count of 0, and 0 when all its cells are empty
    ghost = spark.createDataFrame(
        [("g1", "never-seen-item-xyz")], "g string, it string"
    )
    g_est = cm_estimate(sharded, ghost, "g", "it", d=3, w=64).collect()[0]
    assert g_est["est"] >= 0


def test_a14_bucketed_append_layout(spark, sf_dir):
    """Append-into-bucketed-table invariants: the delivery lands as ONE
    extra file per bucket (history untouched — 2 files per bucket
    total), and both a user_id-keyed aggregate and a self-join run with
    ZERO exchange off the bucketed scan."""
    import glob
    import os
    import re

    from s3_kinesis_replay_spark.queries.sources_q import (
        _appended_bucketed_events,
    )

    tname = _appended_bucketed_events(spark, sf_dir)
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {tname}")
        .filter(F.col("col_name") == "Location")
        .collect()[0]["data_type"]
    )
    loc = loc[5:] if loc.startswith("file:") else loc
    per_bucket: dict = {}
    for f in glob.glob(os.path.join(loc, "*.parquet")):
        m = re.search(r"_(\d{5})[._]", os.path.basename(f))
        assert m, f
        per_bucket.setdefault(int(m.group(1)), []).append(f)
    assert sorted(per_bucket) == list(range(8))
    assert all(len(v) == 2 for v in per_bucket.values()), {
        k: len(v) for k, v in per_bucket.items()
    }

    tb = spark.table(tname)
    agg = tb.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a, b = tb.alias("a"), tb.alias("b")
        j = (
            a.join(b, F.col("a.user_id") == F.col("b.user_id"))
            .groupBy(F.col("a.user_id"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
        )
        jplan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert jplan.count("SortMergeJoin") == 1
    # no exchange feeds the join OR the bucket-key aggregate above it
    assert "Exchange" not in jplan
    # content: appended table is exactly the source
    ev = table(spark, "events", sf_dir)
    assert tb.count() == ev.count()
    assert (
        tb.agg(F.sum("event_id")).collect()[0][0]
        == ev.agg(F.sum("event_id")).collect()[0][0]
    )


def test_e12_transition_rows_normalize(spark, sf_dir):
    """Each prev_type's transition probabilities sum to ~1, every pair
    count is positive, and total transitions = total events minus one
    first-event per user."""
    rows = all_queries()["e12_transition_matrix"].fn(spark, sf_dir).collect()
    by_prev: dict = {}
    n_total = 0
    for r in rows:
        assert r["n"] > 0
        by_prev.setdefault(r["prev_type"], []).append(r["p_transition"])
        n_total += r["n"]
    for prev, ps in by_prev.items():
        assert abs(sum(ps) - 1.0) < 1e-4, (prev, sum(ps))
    ev = table(spark, "events", sf_dir)
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert n_total == n_events - n_users


def test_compaction_crash_recovery(spark, sf_dir, tmp_path):
    """A crash between the two swap renames leaves the partition parked
    in a hidden .reap-* dir; the next compaction run restores it before
    doing anything else, deletes abandoned .compact-* build dirs, and a
    completed-swap leftover (.reap-* with a live partition) is dropped.
    Hidden names are invisible to Spark partition discovery."""
    import glob
    import os

    from s3_kinesis_replay_spark.operators.layout import (
        compact_partitions,
        seed_fragmented_layout,
    )

    ev = table(spark, "events", sf_dir).withColumn(
        "dt", F.date_format("ts", "yyyy-MM-dd")
    )
    root = str(tmp_path / "tbl")
    last_day = seed_fragmented_layout(
        ev, root, target_rows=4000, flush_rows=50, n_tasks=8
    )
    n_before = spark.read.parquet(root).count()

    # simulate: crash AFTER parking the old partition, BEFORE the new
    # one landed (the partition is missing)
    victim = sorted(glob.glob(os.path.join(root, "dt=*")))[0]
    vname = os.path.basename(victim)
    os.replace(victim, os.path.join(root, f".reap-deadbeef-{vname}"))
    # plus an abandoned build dir with junk
    os.makedirs(os.path.join(root, ".compact-junk"))
    assert not os.path.isdir(victim)

    rewritten = compact_partitions(spark, root, target_rows=4000)
    assert os.path.isdir(victim)  # restored, not lost
    assert not glob.glob(os.path.join(root, ".reap-*"))
    assert not glob.glob(os.path.join(root, ".compact-*"))
    assert rewritten == [f"dt={last_day}"]
    assert spark.read.parquet(root).count() == n_before

    # completed-swap leftover: live partition + stale trash -> trash dropped
    os.makedirs(os.path.join(root, f".reap-cafe1234-{vname}", "x"))
    assert compact_partitions(spark, root, target_rows=4000) == []
    assert not glob.glob(os.path.join(root, ".reap-*"))


def test_i20b_recall_gate_passes_and_encodes_verdict(spark, sf_dir):
    """The gate entry returns ONE summary row whose mean_recall clears
    the declared floor on the healthy index, with the integer-form
    gate_pass agreeing with the float reading (no boundary drift)."""
    from s3_kinesis_replay_spark.queries.llm_ops import (
        ANN_RECALL_FLOOR,
        i20b_ann_recall_gate,
    )

    rows = i20b_ann_recall_gate(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_probe"] == 8 and r["k"] == 10
    assert r["gate_pass"] is True
    assert r["mean_recall"] >= ANN_RECALL_FLOOR
    assert r["sum_hits"] <= 10 * r["n_queries"]
    # integer form <-> float form agreement at the declared floor
    assert (2 * r["sum_hits"] >= 15 * r["n_queries"]) == (
        r["mean_recall"] >= 0.75
    )


def test_i20b_recall_gate_raises_on_degraded_index(spark, sf_dir, monkeypatch):
    """A quantizer/probe regression must FAIL the correctness entry, not
    pass with a lower hash: feed the gate a degraded per-query frame
    (2/10 hits per query) and assert it raises."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.queries import llm_ops

    def degraded(spark_, sf_dir_, n_probe, pointer):
        return spark.createDataFrame(
            [(int(q), 2, 10, 0.2) for q in range(5)],
            "query_id long, n_hits long, k long, recall double",
        )

    monkeypatch.setattr(llm_ops, "_ann_recall_per_query", degraded)
    with _pytest.raises(RuntimeError, match="ANN recall gate FAILED"):
        llm_ops.i20b_ann_recall_gate(spark, sf_dir)


def test_stats_lifecycle_post_append_refresh(spark, sf_dir):
    """c1e: the costed row count read back from DESCRIBE EXTENDED goes
    CBO-dead (dropped) after a catalog-aware append, silently STALE
    after a filesystem-level append, and correct again only after
    refresh_stats — the lifecycle beyond bootstrap (VERDICT r10 item 2)."""
    from s3_kinesis_replay_spark.queries.relational import c1e_stats_lifecycle

    r = c1e_stats_lifecycle(spark, sf_dir).collect()[0]
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert r["dropped_on_append"] is True
    assert r["initial_rows"] < r["refreshed_rows"] == n
    # external write: planner still sees the pre-append count
    assert r["stale_external_rows"] == r["refreshed_rows"]
    assert r["final_rows"] == n + n // 4


def test_a14_append_leaves_table_with_fresh_stats(spark, sf_dir):
    """The a14 bucketed install now ends with ANALYZE: the planner's
    rowCount equals the full (initial + appended) content, and the heal
    path restores stats if they were dropped."""
    from s3_kinesis_replay_spark.catalog import table_stats
    from s3_kinesis_replay_spark.queries.sources_q import (
        _appended_bucketed_events,
    )

    tname = _appended_bucketed_events(spark, sf_dir)
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    size, rows = table_stats(spark, tname)
    assert rows == n and size is not None and size > 0


def test_c1f_aqe_skew_join_plan(spark, sf_dir):
    """c1f: under the scoped thresholds the ADAPTIVE plan actually
    rewrites the skewed SMJ (SortMergeJoin(skew=true) + a skewed
    AQEShuffleRead in the final plan), and the result is invariant vs
    the identical join with AQE off."""
    from s3_kinesis_replay_spark.queries.helpers import scoped_conf
    from s3_kinesis_replay_spark.queries.relational import (
        AQE_SKEW_CONFS,
        _c1f_plan,
    )

    with scoped_conf(spark, AQE_SKEW_CONFS):
        df = _c1f_plan(spark, sf_dir)
        with_aqe = [tuple(r) for r in df.collect()]
        plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
    assert "skewed" in plan
    with scoped_conf(
        spark,
        {**AQE_SKEW_CONFS, "spark.sql.adaptive.enabled": "false"},
    ):
        without_aqe = [tuple(r) for r in _c1f_plan(spark, sf_dir).collect()]
    assert with_aqe == without_aqe and len(with_aqe) > 0


def test_table_format_time_travel_and_vacuum(spark, sf_dir, tmp_path):
    """Manifest-table lifecycle: append preserves history byte-untouched,
    overwrite hides but does not delete, every version reads its own
    content, and vacuum deletes exactly the unreachable files while
    kept versions stay readable and vacuumed versions raise."""
    import glob
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators.table_format import (
        latest_version,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
        versions,
    )

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 == 1)
    c = ev.filter(F.col("event_id") % 3 == 2)

    assert snapshot_write(spark, a, root, mode="overwrite") == 1
    v1_files = sorted(glob.glob(f"{root}/data/*/*.parquet"))
    v1_mtimes = {f: os.path.getmtime(f) for f in v1_files}
    assert snapshot_write(spark, b, root, mode="append") == 2
    assert snapshot_write(spark, c, root, mode="overwrite") == 3
    assert versions(root) == [1, 2, 3] and latest_version(root) == 3

    na, nb, nc = a.count(), b.count(), c.count()
    assert snapshot_read(spark, root, 1).count() == na
    assert snapshot_read(spark, root, 2).count() == na + nb
    assert snapshot_read(spark, root).count() == nc  # latest = v3
    # append/overwrite never rewrote v1's files (mtime-pinned)
    assert {f: os.path.getmtime(f) for f in v1_files} == v1_mtimes

    rep = snapshot_vacuum(root, keep_last=2, min_age_s=0.0)
    assert rep["dropped_versions"] == [1]
    # v2 references v1's files (append) -> nothing deletable yet
    assert rep["deleted_files"] == 0
    assert snapshot_read(spark, root, 2).count() == na + nb

    # the default age grace keeps just-written unreachable files alive
    # (in-flight writers / mid-scan readers); nothing is reaped yet
    rep = snapshot_vacuum(root, keep_last=1)
    assert rep["deleted_files"] == 0 and rep["skipped_young"] > 0

    rep = snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["deleted_files"] > 0  # v1+v2 parts now unreachable
    assert snapshot_read(spark, root, 3).count() == nc
    with _pytest.raises(FileNotFoundError):
        snapshot_read(spark, root, 2)
    # every remaining data file is referenced by the kept manifest
    left = {
        os.path.relpath(f, root)
        for f in glob.glob(f"{root}/data/*/*.parquet")
    }
    from s3_kinesis_replay_spark.operators.table_format import (
        _entries,
        _read_manifest,
    )

    kept = {e["path"] for e in _entries(_read_manifest(root, 3), root)}
    assert left == kept


def test_i21_lsh_calibration_curve_and_gate(spark, sf_dir):
    """i21: the observed candidate rate tracks the theoretical banding
    S-curve per similarity decile, full recall at the dedup threshold,
    and the gate passes on the healthy path."""
    from s3_kinesis_replay_spark.queries.llm_ops import i21_lsh_calibration

    rows = i21_lsh_calibration(spark, sf_dir).collect()
    assert len(rows) >= 3
    by_bucket = {r["bucket"]: r for r in rows}
    for r in rows:
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        if r["n_pairs"] >= 20:
            # binomial noise at n=25 stays well inside 0.2 of the mean
            assert abs(r["observed_rate"] - r["expected_rate"]) < 0.2, r
    top = by_bucket[max(by_bucket)]
    assert top["mean_jacc"] >= 0.8 and top["observed_rate"] == 1.0
    # monotone trend across the populated low->high buckets
    ordered = [r for r in rows if r["n_pairs"] >= 20]
    assert all(
        a["observed_rate"] <= b["observed_rate"] + 0.1
        for a, b in zip(ordered, ordered[1:])
    )


def test_i21_lsh_gate_raises_on_banding_regression(spark, sf_dir, monkeypatch):
    """Degrade banding so no pair shares a band (each variant's band_sig
    salted by its own id): every high-sim pair goes uncaught and the
    recall gate must raise."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators import dedup as dedup_mod
    from s3_kinesis_replay_spark.queries import llm_ops
    from pyspark.sql import functions as F

    real = dedup_mod.banded_signatures

    def broken(sigs, num_hash_tables=32, bands=16, id_col="doc_id"):
        out = real(sigs, num_hash_tables, bands, id_col)
        return out.withColumn(
            "band_sig", F.xxhash64(F.col("band_sig"), F.col(id_col))
        )

    monkeypatch.setattr(dedup_mod, "banded_signatures", broken)
    with _pytest.raises(RuntimeError, match="LSH recall gate FAILED"):
        llm_ops.i21_lsh_calibration(spark, sf_dir)


def test_a15b_cdc_reads_only_new_files_and_refuses_overwrites(spark, sf_dir):
    """File-level CDC: the changes scan opens ONLY the manifest-diff
    files (inputFiles ⊂ files(v2)−files(v1)), and crossing an overwrite
    version raises instead of mislabeling a layout diff as a row diff."""
    import os

    import pytest as _pytest

    from s3_kinesis_replay_spark.operators.table_format import (
        _entries,
        _read_manifest,
        snapshot_changes,
    )
    from s3_kinesis_replay_spark.queries.sources_q import _time_travel_table

    root = _time_travel_table(spark, sf_dir)
    diff = {e["path"] for e in _entries(_read_manifest(root, 2), root)} - {
        e["path"] for e in _entries(_read_manifest(root, 1), root)
    }
    changes = snapshot_changes(spark, root, 1, 2)
    opened = {
        os.path.relpath(f.replace("file:", ""), root)
        for f in changes.inputFiles()
    }
    assert opened and opened <= diff
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert changes.count() == n - 5000 if n >= 5000 else changes.count() > 0
    # v3 is an overwrite -> file diff is NOT row-level CDC
    with _pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, root, 2, 3)
    with _pytest.raises(ValueError):
        snapshot_changes(spark, root, 2, 2)


def test_partition_scoped_analyze_per_ingest(spark, sf_dir, tmp_path):
    """The ANALYZE ... PARTITION path claimed by catalog.py's 100 TB
    note, exercised: a partitioned external table gets per-partition
    stats for ONE day (an ingest batch paying only for its own
    partition), the partition's costed row count is exact, and a day
    analyzed later does not disturb the first."""
    import re
    import uuid

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table

    ev = (
        table(spark, "events", sf_dir)
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
        .select("event_id", "value", "dt")
    )
    loc = str(tmp_path / "ptbl")
    ev.write.partitionBy("dt").parquet(loc)
    tname = f"skr_ptest_{uuid.uuid4().hex[:8]}"
    try:
        spark.sql(
            f"CREATE TABLE {tname} (event_id bigint, value double, dt string)"
            f" USING parquet PARTITIONED BY (dt) LOCATION '{loc}'"
        )
        spark.sql(f"MSCK REPAIR TABLE {tname}")
        days = sorted(
            r["partition"].split("=")[1]
            for r in spark.sql(f"SHOW PARTITIONS {tname}").collect()
        )
        assert len(days) >= 2

        def part_rows(d):
            desc = spark.sql(
                f"DESC EXTENDED {tname} PARTITION (dt='{d}')"
            ).collect()
            st = next(
                (
                    r["data_type"]
                    for r in desc
                    if r["col_name"] == "Partition Statistics"
                ),
                None,
            )
            if st is None:
                return None
            m = re.search(r"(\d+) rows", st)
            return int(m.group(1)) if m else None

        assert part_rows(days[0]) is None  # nothing analyzed yet
        spark.sql(
            f"ANALYZE TABLE {tname} PARTITION (dt='{days[0]}') "
            "COMPUTE STATISTICS"
        )
        exact0 = ev.filter(F.col("dt") == days[0]).count()
        assert part_rows(days[0]) == exact0
        assert part_rows(days[1]) is None  # untouched partitions stay so
        spark.sql(
            f"ANALYZE TABLE {tname} PARTITION (dt='{days[1]}') "
            "COMPUTE STATISTICS"
        )
        assert part_rows(days[0]) == exact0  # day-2 ingest didn't disturb
        assert part_rows(days[1]) == ev.filter(F.col("dt") == days[1]).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_p22_incremental_merge_equals_recompute_and_reads_only_delta(
    spark, sf_dir
):
    """p22: the stored-base + CDC-delta merge equals a direct recompute
    over snapshot v2, and the refresh plan's data inputs are exactly
    the stored artifact + the delta files — v1 history is never read."""
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators.table_format import _read_manifest
    from s3_kinesis_replay_spark.queries.helpers import fdec, sdec
    from s3_kinesis_replay_spark.queries.sources_q import (
        _time_travel_table,
        p22_incremental_aggregate,
    )
    from s3_kinesis_replay_spark.operators.table_format import snapshot_read

    root = _time_travel_table(spark, sf_dir)
    merged = p22_incremental_aggregate(spark, sf_dir)
    direct = (
        snapshot_read(spark, root, version=2)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fdec(F.sum(sdec("value"))).alias("sum_value"),
        )
        .orderBy("user_id")
    )
    assert [tuple(r) for r in merged.collect()] == [
        tuple(r) for r in direct.collect()
    ]
    # reads-only-delta: no v1 data file appears among the plan's inputs
    from s3_kinesis_replay_spark.operators.table_format import _entries

    v1_files = {
        os.path.join(root, e["path"])
        for e in _entries(_read_manifest(root, 1), root)
    }
    opened = {f.replace("file:", "") for f in merged.inputFiles()}
    assert opened and not (opened & v1_files)


def test_a15d_manifest_file_skipping(spark, sf_dir):
    """snapshot_read_pruned: v1's files (event_id < 5000) are provably
    outside the [7000, 8000] predicate box and never opened; the pruned
    result equals the unpruned filtered read; the empty-candidate path
    preserves schema with zero rows."""
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators.table_format import (
        _read_manifest,
        snapshot_read,
        snapshot_read_pruned,
    )
    from s3_kinesis_replay_spark.queries.sources_q import _time_travel_table

    root = _time_travel_table(spark, sf_dir)
    df, n_read, n_total = snapshot_read_pruned(
        spark, root, {"event_id": (7000, 8000)}, version=2
    )
    assert 0 < n_read < n_total
    from s3_kinesis_replay_spark.operators.table_format import _entries

    v1_files = {
        os.path.join(root, e["path"])
        for e in _entries(_read_manifest(root, 1), root)
    }
    opened = {f.replace("file:", "") for f in df.inputFiles()}
    assert opened and not (opened & v1_files)
    unpruned = snapshot_read(spark, root, version=2).filter(
        F.col("event_id").between(7000, 8000)
    )
    assert df.count() == unpruned.count() == 1001
    # predicate box outside ALL files -> schema-preserving empty frame
    empty, n_read0, _ = snapshot_read_pruned(
        spark, root, {"event_id": (10**12, 10**12 + 5)}, version=2
    )
    assert n_read0 == 0 and empty.count() == 0
    assert empty.schema == unpruned.schema


def test_table_format_commit_conflict_detection(spark, sf_dir, tmp_path):
    """Base-snapshot validation (r12, the ADVICE lost-update fix): a
    writer that read base=1 and then has a competitor land v2 MUST get
    CommitConflict — under the r11 scheme (_commit recomputing latest+1)
    it would happily link v3 with a manifest that silently omits the
    competitor's files. The winner's manifest survives intact and a
    re-read retry lands cleanly."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 100), root, "overwrite")

    # the loser reads its base/prior state ...
    base = tf.latest_version(root)
    prior_m = tf._read_manifest(root, base)
    # ... then the winner commits v2 inside the loser's race window
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id").between(100, 199)), root, "append"
    )
    winner_manifest = tf._read_manifest(root, 2)

    with _pytest.raises(tf.CommitConflict, match="v2 was committed"):
        tf._commit(root, base, "append", carry_from=prior_m)

    # winner's manifest intact (no silent overwrite); a re-read retry
    # lands at v3 CARRYING the winner's files (nothing lost)
    assert tf._read_manifest(root, 2) == winner_manifest
    base2 = tf.latest_version(root)
    assert (
        tf._commit(
            root, base2, "append", carry_from=tf._read_manifest(root, base2)
        )
        == 3
    )
    assert {
        e["path"] for e in tf._entries(tf._read_manifest(root, 3), root)
    } >= {e["path"] for e in tf._entries(winner_manifest, root)}


def test_table_format_two_writer_race_both_land(spark, sf_dir, tmp_path):
    """Two threads appending concurrently with the built-in bounded
    retry: BOTH commits land, the manifest chain is linear (versions
    1..3 with each base = version-1), and the final manifest carries
    the union of both writers' files — no lost update (ADVICE r11)."""
    import threading

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 100), root, "overwrite")

    errs = []
    barrier = threading.Barrier(2)

    def appender(lo, hi):
        try:
            barrier.wait()
            tf.snapshot_write(
                spark,
                ev.filter(F.col("event_id").between(lo, hi)),
                root,
                "append",
            )
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(e)

    t1 = threading.Thread(target=appender, args=(100, 199))
    t2 = threading.Thread(target=appender, args=(200, 299))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs

    assert tf.versions(root) == [1, 2, 3]
    for v in (2, 3):
        assert tf._read_manifest(root, v)["base"] == v - 1
    assert tf.snapshot_read(spark, root).count() == 300
    # monotone file-list growth: v3 ⊇ v2 ⊇ v1
    f1, f2, f3 = (
        {e["path"] for e in tf._entries(tf._read_manifest(root, v), root)}
        for v in (1, 2, 3)
    )
    assert f1 < f2 < f3


def test_a15e_merge_on_read_delete_lifecycle(spark, sf_dir, tmp_path):
    """MOR deletes: data files byte-untouched by the delete commit,
    append-after-delete preserves the delete state, CDC refuses to
    cross a delete, vacuum keeps delete files reachable, and a
    mixed-key delete chain is refused."""
    import glob
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators.table_format import (
        snapshot_changes,
        snapshot_delete,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "user_id")
    snapshot_write(spark, ev.filter(F.col("event_id") < 2000), root, "overwrite")
    data_files = sorted(glob.glob(f"{root}/data/part-*/*.parquet"))
    mtimes = {f: os.path.getmtime(f) for f in data_files}

    doomed = ev.filter(F.col("event_id") < 100).select("event_id")
    assert snapshot_delete(spark, root, doomed, "event_id") == 2
    # data untouched; rows gone at v2, visible at v1
    assert {f: os.path.getmtime(f) for f in data_files} == mtimes
    assert snapshot_read(spark, root, 1).count() == 2000
    assert snapshot_read(spark, root, 2).count() == 1900
    assert (
        snapshot_read(spark, root, 2)
        .filter(F.col("event_id") < 100)
        .count()
        == 0
    )

    # append after delete: new rows land, delete state carried forward
    snapshot_write(
        spark,
        ev.filter(F.col("event_id").between(2000, 2099)),
        root,
        "append",
    )
    assert snapshot_read(spark, root, 3).count() == 2000
    # CDC refuses to cross the delete commit
    with _pytest.raises(ValueError, match="not append"):
        snapshot_changes(spark, root, 1, 3)
    # vacuum: delete files are reachable from kept manifests
    snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert glob.glob(f"{root}/data/del-*/*.parquet")
    assert snapshot_read(spark, root, 3).count() == 2000
    # one row identity per table
    with _pytest.raises(ValueError, match="one row identity"):
        snapshot_delete(spark, root, ev.select("user_id"), "user_id")


def test_snapshot_compact_folds_deletes(spark, sf_dir, tmp_path):
    """Compaction materializes the MOR view: same rows, no delete files
    in the new manifest, no del- files opened by the read, and a
    keep_last=1 vacuum then reaps the whole pre-compaction chain."""
    import glob

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators.table_format import (
        _read_manifest,
        snapshot_compact,
        snapshot_delete,
        snapshot_read,
        snapshot_vacuum,
        snapshot_write,
    )

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    snapshot_write(spark, ev.filter(F.col("event_id") < 2000), root, "overwrite")
    snapshot_delete(
        spark, root, ev.filter(F.col("event_id") < 100), "event_id"
    )
    before = snapshot_read(spark, root, 2)
    n_before = before.count()

    v = snapshot_compact(spark, root)
    assert v == 3
    m = _read_manifest(root, 3)
    assert m["operation"] == "compact"
    assert "delete_files" not in m and "delete_segments" not in m
    after = snapshot_read(spark, root, 3)
    assert after.count() == n_before == 1900
    assert not any("del-" in f for f in after.inputFiles())
    assert sorted(tuple(r) for r in after.collect()) == sorted(
        tuple(r) for r in before.collect()
    )

    rep = snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["deleted_files"] > 0
    assert not glob.glob(f"{root}/data/del-*/*.parquet")  # rent is gone
    assert snapshot_read(spark, root, 3).count() == 1900


def test_ts3_anomaly_semantics(spark, sf_dir):
    """ts3: warm-up rows carry NULL z and false flags, every non-null z
    is consistent with its >3 flag, and the trailing window excludes the
    current row (a constant series yields z NULL via zero variance, and
    each series' first 6 rows are warm-up)."""
    from s3_kinesis_replay_spark.queries.windows import ts3_rolling_anomaly

    rows = ts3_rolling_anomaly(spark, sf_dir).collect()
    assert rows
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for series in by_type.values():
        for i, r in enumerate(series):
            if i < 6:  # fewer than 6 prior rows -> warm-up
                assert r["z"] is None and r["is_anomaly"] is False
            if r["z"] is None:
                assert r["is_anomaly"] is False
            else:
                assert r["is_anomaly"] == (r["z"] > 3.0)
    assert any(r["z"] is not None for r in rows)


def test_a15f_pruned_read_zero_footer_io(spark, sf_dir, tmp_path, monkeypatch):
    """Manifest-embedded stats (r12): a pruned read of a stats-bearing
    table performs ZERO parquet footer reads — pruning is pure manifest
    metadata. Enforced by making the footer fallback raise; a hand-built
    LEGACY manifest (bare path strings) proves the fallback still works
    and is counted."""
    import json
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 3000), root, "overwrite")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id").between(3000, 5999)), root, "append"
    )
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 6000), root, "append"
    )

    def no_footers(*a, **k):
        raise AssertionError("footer read on the manifest-stats path")

    monkeypatch.setattr(tf, "file_overlaps", no_footers)
    before = tf.FOOTER_FALLBACK_READS
    df, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"event_id": (3500, 4500)}
    )
    assert tf.FOOTER_FALLBACK_READS == before
    assert 0 < n_read < n_total
    want = ev.filter(F.col("event_id").between(3500, 4500)).count()
    assert df.count() == want
    # no v1/v3 file is opened (their manifest stats exclude the box)
    opened = {os.path.basename(f) for f in df.inputFiles()}
    m = tf._read_manifest(root, 3)
    outside = {
        os.path.basename(e["path"])
        for e in tf._entries(m, root)
        if e["stats"]["event_id"][1] < 3500 or e["stats"]["event_id"][0] > 4500
    }
    assert opened and not (opened & outside)
    monkeypatch.undo()

    # LEGACY manifest (r11 bare strings): fallback path, counted
    legacy_root = str(tmp_path / "legacy")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") < 1000), legacy_root, "overwrite"
    )
    m1 = tf._read_manifest(legacy_root, 1)
    m1["files"] = [
        e["path"] for e in tf._entries(m1, legacy_root)
    ]
    m1.pop("segments", None)
    m1.pop("schema", None)
    with open(tf._manifest_path(legacy_root, 1), "w") as f:
        json.dump(m1, f)
    before = tf.FOOTER_FALLBACK_READS
    df2, n_read2, n_total2 = tf.snapshot_read_pruned(
        spark, legacy_root, {"event_id": (0, 10)}
    )
    assert tf.FOOTER_FALLBACK_READS > before
    assert df2.count() == 11

    # empty manifest: clear ValueError, not IndexError (ADVICE r11)
    er = str(tmp_path / "empty")
    os.makedirs(os.path.join(er, "manifests"))
    with open(tf._manifest_path(er, 1), "w") as f:
        json.dump({"version": 1, "base": 0, "operation": "overwrite", "files": []}, f)
    with _pytest.raises(ValueError, match="empty"):
        tf.snapshot_read_pruned(spark, er, {"event_id": (0, 10)})


def test_vacuum_grace_protects_inflight_state(spark, sf_dir, tmp_path):
    """The vacuum age grace (r12, ADVICE): (a) a time-travel reader whose
    snapshot is dropped mid-scan still completes — its data files are
    young, so the default grace keeps them; (b) data files STAGED by an
    uncommitted writer survive a concurrent vacuum, so the writer's
    later commit references live files."""
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 500), root, "overwrite")
    reader = tf.snapshot_read(spark, root, 1)  # lazy: scan not started
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 500), root, "overwrite"
    )
    rep = tf.snapshot_vacuum(root, keep_last=1)  # default grace
    assert rep["dropped_versions"] == [1]
    assert rep["deleted_files"] == 0 and rep["skipped_young"] > 0
    assert reader.count() == 500  # v1 files physically intact

    # (b) staged-but-uncommitted files survive the graced vacuum ...
    staged = tf._write_data_files(
        ev.filter(F.col("event_id") < 100), root
    )
    tf.snapshot_vacuum(root, keep_last=1)
    for p in staged:
        assert os.path.exists(os.path.join(root, p))
    # ... so the in-flight writer's commit lands on live files
    v = tf.commit_append_files(
        root, staged, "append",
        [["event_id", "bigint"], ["value", "double"]],
    )
    n_total = ev.count()
    assert tf.snapshot_read(spark, root, v).count() == (n_total - 500) + 100


def test_snapshot_merge_upsert_semantics(spark, sf_dir, tmp_path):
    """MERGE INTO (r12): matched keys are replaced, unmatched source rows
    insert, unmatched target rows survive — in ONE commit. The merge's
    own rows are NOT suppressed by its own delete file (sequence
    scoping); time travel shows the pre-merge state; CDC refuses to
    cross the merge; compaction folds it away."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    base = ev.filter(F.col("event_id") < 1000)
    tf.snapshot_write(spark, base, root, "overwrite")

    updates = base.filter(F.col("event_id").between(500, 599)).withColumn(
        "value", F.col("value") * 2
    )
    inserts = base.filter(F.col("event_id") < 50).select(
        (F.col("event_id") + 100000).alias("event_id"), "value"
    )
    v = tf.snapshot_merge(spark, root, updates.unionByName(inserts), "event_id")
    assert v == 2

    got = tf.snapshot_read(spark, root, 2)
    assert got.count() == 1000 + 50
    # matched rows carry the doubled value
    doubled = got.filter(F.col("event_id").between(500, 599))
    orig = {r["event_id"]: r["value"] for r in
            base.filter(F.col("event_id").between(500, 599)).collect()}
    assert doubled.count() == 100
    for r in doubled.collect():
        assert r["value"] == orig[r["event_id"]] * 2
    # unmatched target rows untouched; inserts present
    assert got.filter(F.col("event_id") < 500).count() == 500
    assert got.filter(F.col("event_id") >= 100000).count() == 50
    # time travel: pre-merge state intact
    assert tf.snapshot_read(spark, root, 1).count() == 1000
    # CDC refuses the merge boundary
    with _pytest.raises(ValueError, match="not append"):
        tf.snapshot_changes(spark, root, 1, 2)
    # compaction folds the MOR rent; rows identical
    tf.snapshot_compact(spark, root)
    after = tf.snapshot_read(spark, root, 3)
    assert after.count() == 1050
    m3 = tf._read_manifest(root, 3)
    assert "delete_files" not in m3 and "delete_segments" not in m3


def test_delete_then_reinsert_key_visible(spark, sf_dir, tmp_path):
    """Sequence-scoped deletes (r12, the ADVICE wrong-answer fix): a key
    deleted at v2 and re-appended at v3 is VISIBLE at v3 with its new
    value (the delete only applies to files committed before it), while
    v2 still suppresses it and v1 still shows the original."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, val double"
    )
    tf.snapshot_write(spark, rows, root, "overwrite")
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(5,), (7,)], "id long"), "id"
    )
    reins = spark.createDataFrame([(5, 999.0)], "id long, val double")
    tf.snapshot_write(spark, reins, root, "append")

    assert tf.snapshot_read(spark, root, 1).count() == 100
    v2 = tf.snapshot_read(spark, root, 2)
    assert v2.count() == 98 and v2.filter("id in (5, 7)").count() == 0
    v3 = tf.snapshot_read(spark, root, 3)
    assert v3.count() == 99
    got = v3.filter("id = 5").collect()
    assert len(got) == 1 and got[0]["val"] == 999.0  # the NEW row
    assert v3.filter("id = 7").count() == 0  # still tombstoned

    # merge can also resurrect a tombstoned key
    tf.snapshot_merge(
        spark, root,
        spark.createDataFrame([(7, 777.0)], "id long, val double"),
        "id",
    )
    v4 = tf.snapshot_read(spark, root, 4)
    assert v4.count() == 100
    assert v4.filter("id = 7").collect()[0]["val"] == 777.0


def test_schema_evolution_add_column_and_refuse_type_change(
    spark, sf_dir, tmp_path
):
    """Schema evolution (r12): an append may ADD columns — old files
    NULL-fill them at read, column order follows the manifest schema,
    and time travel shows each version under its own schema. A type
    change on an existing column is refused at commit."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    v1_rows = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id long, val double"
    )
    tf.snapshot_write(spark, v1_rows, root, "overwrite")
    v2_rows = spark.createDataFrame(
        [(100 + i, float(i), "batch2") for i in range(5)],
        "id long, val double, src string",
    )
    tf.snapshot_write(spark, v2_rows, root, "append")

    latest = tf.snapshot_read(spark, root)
    assert latest.columns == ["id", "val", "src"]
    assert latest.count() == 15
    assert latest.filter(F.col("src").isNull()).count() == 10  # NULL fill
    assert latest.filter(F.col("src") == "batch2").count() == 5
    # time travel: v1 keeps its original (narrower) schema
    assert tf.snapshot_read(spark, root, 1).columns == ["id", "val"]

    # narrower-than-table appends are fine too (missing col NULL-fills)
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(200, 1.5)], "id long, val double"),
        root,
        "append",
    )
    assert tf.snapshot_read(spark, root).filter(
        "id = 200 and src is null"
    ).count() == 1

    # type change refused
    bad = spark.createDataFrame([(300, "oops")], "id long, val string")
    with _pytest.raises(ValueError, match="incompatible type change"):
        tf.snapshot_write(spark, bad, root, "append")

    # CDC across the schema boundary null-fills under the TO schema
    delta = tf.snapshot_changes(spark, root, 1, 3)
    assert delta.columns == ["id", "val", "src"]
    assert delta.count() == 6


def test_segmented_manifest_commit_cost_and_vacuum(spark, sf_dir, tmp_path):
    """Two-level metadata (r12b): appends reuse prior segment files
    byte-identical (mtime-pinned), the manifest grows by one descriptor
    per commit, and vacuum reaps exactly the segment files referenced
    only by dropped manifests (age-graced like data)."""
    import os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 500), root, "overwrite")
    seg_dir = os.path.join(root, "segments")
    segs_v1 = sorted(os.listdir(seg_dir))
    mtimes = {
        f: os.path.getmtime(os.path.join(seg_dir, f)) for f in segs_v1
    }
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id").between(500, 999)), root, "append"
    )
    # v1's segment carried forward untouched; one new segment appeared
    m2 = tf._read_manifest(root, 2)
    assert len(m2["segments"]) == 2
    assert {
        os.path.getmtime(os.path.join(seg_dir, f)) for f in segs_v1
    } == set(mtimes.values())
    # overwrite starts a fresh lineage: v3 references ONE segment
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 1000), root, "overwrite"
    )
    assert len(tf._read_manifest(root, 3)["segments"]) == 1

    n_before = len(os.listdir(seg_dir))
    rep = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["deleted_files"] > 0
    # v1+v2's segments are unreferenced by the kept manifest -> reaped
    left = [f for f in os.listdir(seg_dir) if f.endswith(".json")]
    assert len(left) == 1 and n_before == 3
    assert tf.snapshot_read(spark, root, 3).count() == ev.filter(
        F.col("event_id") >= 1000
    ).count()


def test_snapshot_history_describes_lifecycle(spark, sf_dir, tmp_path):
    """snapshot_history: one metadata-only row per retained version with
    the op, file/segment/delete counts, and schema width — across a
    write/append/delete/merge/compact lifecycle."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 500), root, "overwrite")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id").between(500, 999)), root, "append"
    )
    tf.snapshot_delete(
        spark, root, ev.filter(F.col("event_id") < 10), "event_id"
    )
    tf.snapshot_merge(
        spark,
        root,
        ev.filter(F.col("event_id").between(20, 29)).withColumn(
            "value", F.col("value") + 1
        ),
        "event_id",
    )
    tf.snapshot_compact(spark, root)

    h = {r["version"]: r for r in tf.snapshot_history(spark, root).collect()}
    assert sorted(h) == [1, 2, 3, 4, 5]
    assert [h[v]["operation"] for v in (1, 2, 3, 4, 5)] == [
        "overwrite", "append", "delete", "merge", "compact",
    ]
    assert all(h[v]["base"] == v - 1 for v in h)
    assert h[1]["n_segments"] == 1 and h[2]["n_segments"] == 2
    assert h[2]["n_files"] > h[1]["n_files"]
    assert h[3]["n_delete_files"] > 0 and h[3]["delete_key"] == "event_id"
    assert h[4]["n_delete_files"] > h[3]["n_delete_files"]  # merge adds keys
    assert h[5]["n_delete_files"] == 0 and h[5]["delete_key"] is None
    assert all(h[v]["n_columns"] == 2 for v in h)
    # committed_at is surfaced (the TIMESTAMP AS OF target) and monotone
    ats = [h[v]["committed_at"] for v in (1, 2, 3, 4, 5)]
    assert all(a is not None for a in ats) and ats == sorted(ats)
    assert all(h[v]["partition_spec"] is None for v in h)  # unpartitioned


def test_snapshot_as_of_timestamp_travel(spark, sf_dir, tmp_path):
    """TIMESTAMP AS OF: resolves to the newest snapshot committed at or
    before the asked time; a pre-history timestamp raises instead of
    silently answering with a later state."""
    import time

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id")
    t0 = time.time()
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 100), root, "overwrite")
    t1 = tf._read_manifest(root, 1)["committed_at"]
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id").between(100, 199)), root, "append"
    )
    t2 = tf._read_manifest(root, 2)["committed_at"]
    assert t0 <= t1 <= t2

    assert tf.snapshot_as_of(spark, root, t1).count() == 100
    mid = (t1 + t2) / 2
    assert tf.snapshot_as_of(spark, root, mid).count() == (
        100 if mid < t2 else 200
    )
    assert tf.snapshot_as_of(spark, root, time.time() + 60).count() == 200
    with _pytest.raises(ValueError, match="at or before"):
        tf.snapshot_as_of(spark, root, t0 - 10)


def _assert_merge_refusal_left_no_trace(root):
    """A refused MERGE on a table that has only its initial load commits
    nothing, drops its ``tmpmerge-*`` source copy and leaves no
    delete-key directory (``data/del-*``; none is committed yet)."""
    import os

    from s3_kinesis_replay_spark.operators import table_format as tf

    assert tf.versions(root) == [1]
    assert not [d for d in os.listdir(root) if d.startswith("tmpmerge-")]
    assert not [
        d for d in os.listdir(os.path.join(root, "data"))
        if d.startswith("del-")
    ]


def test_merge_refuses_ambiguous_source(spark, sf_dir, tmp_path):
    """Both MERGE verbs refuse a source with duplicate or NULL keys,
    single-column or composite (real MERGE INTO's multi-match error):
    silently appending both rows would materialize two rows under one
    identity forever. A refusal leaves no version and no stray files."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    schema = "id long, g string, val double"
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], schema),
        root,
        "overwrite",
    )
    upd = [{"kind": "update", "cond": None, "sets": {"val": "s.val"}}]
    verbs = {
        "merge": lambda src, key: tf.snapshot_merge(spark, root, src, key),
        "merge_clauses": lambda src, key: tf.snapshot_merge_clauses(
            spark, root, src, key, upd
        ),
    }
    cases = {
        "duplicate": ("id", [(1, "a", 10.0), (1, "b", 11.0)]),
        "null": ("id", [(None, "a", 5.0)]),
        "composite_duplicate": (
            ["id", "g"], [(1, "a", 10.0), (1, "a", 11.0), (1, "b", 12.0)]
        ),
    }
    for verb, run in verbs.items():
        for case, (key, rows) in cases.items():
            src = spark.createDataFrame(rows, schema)
            with _pytest.raises(ValueError, match="ambiguous"):
                run(src, key)
            _assert_merge_refusal_left_no_trace(root)


def test_legacy_lineage_append_stays_schemaless(spark, sf_dir, tmp_path):
    """Appending to a LEGACY (schema-less r11) lineage must not adopt
    the incoming df's schema: prior files may hold columns the new df
    lacks, and pinning would silently drop them (review r12). The
    append commits schema-less (reads stay inferred); compaction then
    establishes an authoritative recorded schema."""
    import json
    import os

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, 1.0, "keepme")], "id long, val double, extra string"
        ),
        root,
        "overwrite",
    )
    # strip the schema record: simulate an r11 manifest
    m1 = tf._read_manifest(root, 1)
    m1.pop("schema")
    with open(tf._manifest_path(root, 1), "w") as f:
        json.dump(m1, f)

    tf.snapshot_write(
        spark,
        spark.createDataFrame([(2, 2.0)], "id long, val double"),
        root,
        "append",
    )
    m2 = tf._read_manifest(root, 2)
    assert "schema" not in m2  # did NOT adopt the narrower schema
    got = tf.snapshot_read(spark, root, 2)
    assert "extra" in got.columns  # legacy column survived
    assert got.count() == 2
    # compaction materializes the view -> records the true union schema
    tf.snapshot_compact(spark, root)
    m3 = tf._read_manifest(root, 3)
    assert [c for c, _t in m3["schema"]] == got.columns


def test_legacy_lineage_merge_stays_schemaless(spark, tmp_path):
    """ADVICE r13: snapshot_merge into a LEGACY (schema-less) lineage
    must commit schema-less like the append paths — pinning the merge
    SOURCE's schema would NULL-drop legacy-only columns from every later
    read and bypass the type-change refusal. Also exercises the
    schema-less MOR read across delete-horizon groups with differing
    column sets (NULL-fill, not AnalysisException)."""
    import json

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, 1.0, "keepme"), (2, 2.0, "metoo")],
            "id long, val double, extra string",
        ),
        root,
        "overwrite",
    )
    # strip the schema record: simulate an r11 manifest
    m1 = tf._read_manifest(root, 1)
    m1.pop("schema")
    with open(tf._manifest_path(root, 1), "w") as f:
        json.dump(m1, f)

    # merge with a NARROWER source (no 'extra'): updates id=1, inserts id=3
    tf.snapshot_merge(
        spark,
        root,
        spark.createDataFrame([(1, 10.0), (3, 3.0)], "id long, val double"),
        "id",
    )
    m2 = tf._read_manifest(root, 2)
    assert "schema" not in m2  # did NOT adopt the merge source's schema
    # schema-less MOR read: two horizon groups (v1 files take the delete,
    # the merge's own files don't) with DIFFERENT column sets — the union
    # NULL-fills instead of raising
    got = tf.snapshot_read(spark, root, 2)
    assert "extra" in got.columns  # legacy column survived the merge
    rows = {r["id"]: r for r in got.collect()}
    assert sorted(rows) == [1, 2, 3]
    assert rows[1]["val"] == 10.0 and rows[1]["extra"] is None  # replaced
    assert rows[2]["val"] == 2.0 and rows[2]["extra"] == "metoo"  # survived
    assert rows[3]["val"] == 3.0  # inserted


def test_cdc_suppresses_carried_legacy_delete_keys(spark, tmp_path):
    """ADVICE r13: a carried LEGACY delete (seq None) suppresses keys in
    ALL files including post-delete appends, so rows matching it were
    never visible in ANY snapshot — snapshot_changes must not emit them
    as 'added'. Sequence-scoped (r12) deletes are unaffected."""
    import json

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
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(5,), (7,)], "id long"), "id"
    )
    # demote the delete to LEGACY: strip the seq from its descriptor
    m2 = tf._read_manifest(root, 2)
    m2["delete_segments"] = [
        {"path": d["path"]} for d in m2["delete_segments"]
    ]
    with open(tf._manifest_path(root, 2), "w") as f:
        json.dump(m2, f)

    # append a batch that re-uses a deleted key (5) plus a fresh one (200)
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(5, 55.0), (200, 200.0)], "id long, val double"),
        root,
        "append",
    )
    # the legacy delete tombstones id=5 even in the NEW file (r11
    # whole-snapshot semantics) — so no snapshot in (2, 3] ever shows it
    v3 = tf.snapshot_read(spark, root, 3)
    assert v3.filter("id = 5").count() == 0
    assert v3.filter("id = 200").count() == 1
    # CDC over the append must agree: only id=200 was gained
    delta = tf.snapshot_changes(spark, root, 2, 3)
    assert {r["id"] for r in delta.collect()} == {200}


def test_pruned_read_per_call_fallback_counter(spark, tmp_path):
    """ADVICE r13: snapshot_read_pruned's ``counters`` out-dict reports
    THIS call's footer fallbacks — stats-bearing tables report 0, a
    legacy stats-less manifest reports one per entry tested — so gates
    need not race the module-global before/after delta."""
    import json

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "id long, val double"
        ),
        root,
        "overwrite",
    )
    ctr: dict = {}
    df, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"id": (0, 10)}, counters=ctr
    )
    assert ctr["footer_fallbacks"] == 0
    assert df.count() == 11

    # legacy manifest (bare path strings, no stats): every entry tested
    # falls back to one footer read, reported per-call
    m1 = tf._read_manifest(root, 1)
    m1["files"] = [e["path"] for e in tf._entries(m1, root)]
    m1.pop("segments", None)
    with open(tf._manifest_path(root, 1), "w") as f:
        json.dump(m1, f)
    ctr2: dict = {}
    df2, _, n_total2 = tf.snapshot_read_pruned(
        spark, root, {"id": (0, 10)}, counters=ctr2
    )
    assert ctr2["footer_fallbacks"] == n_total2 > 0
    assert df2.count() == 11


def test_engine_sql_snapshot_time_travel(spark, tmp_path):
    """VERDICT r12 item 1, engine half: register_snapshot_table exposes a
    manifest table to Engine.sql(), and resolve_time_travel rewrites
    VERSION AS OF / TIMESTAMP AS OF (epoch and quoted-ISO forms) over
    REGISTERED names only — unregistered names and string literals pass
    through verbatim."""
    import pytest as _pytest

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.engine import Engine
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "id long, val double"
        ),
        root,
        "overwrite",
    )
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(100, 1.0)], "id long, val double"),
        root,
        "append",
    )
    eng = Engine(spark)
    eng.register_snapshot_table("ttt_snap", root)

    got = eng.sql(
        "SELECT (SELECT COUNT(*) FROM ttt_snap VERSION AS OF 1) AS v1, "
        "(SELECT COUNT(*) FROM ttt_snap) AS latest"
    ).collect()[0]
    assert (got["v1"], got["latest"]) == (8, 9)

    # TIMESTAMP AS OF: epoch literal and quoted ISO both resolve to v1
    ts1 = tf._read_manifest(root, 1)["committed_at"]
    assert (
        eng.sql(f"SELECT COUNT(*) AS n FROM ttt_snap TIMESTAMP AS OF {ts1!r}")
        .collect()[0]["n"]
        == 8
    )
    from datetime import datetime, timezone

    # +1 ms: datetime truncates the float to µs, which can land a hair
    # BEFORE committed_at; the nudge stays far inside the v1→v2 gap
    # (two parquet-writing commits are never 1 ms apart)
    iso = datetime.fromtimestamp(ts1 + 0.001, tz=timezone.utc).replace(
        tzinfo=None
    ).isoformat()
    assert (
        eng.sql(f"SELECT COUNT(*) AS n FROM ttt_snap TIMESTAMP AS OF '{iso}'")
        .collect()[0]["n"]
        == 8
    )
    # a version registered AT registration time can also be pinned directly
    eng.register_snapshot_table("ttt_v1", root, version=1)
    assert eng.sql("SELECT COUNT(*) AS n FROM ttt_v1").collect()[0]["n"] == 8

    # unregistered names are never rewritten
    q = "SELECT 'foo VERSION AS OF 3' AS s"
    assert cat.resolve_time_travel(spark, q) == q
    # a REGISTERED name inside a string literal is literal text (r13)
    q2 = "SELECT 'use ttt_snap VERSION AS OF 1 here' AS hint"
    assert cat.resolve_time_travel(spark, q2) == q2
    assert eng.sql(q2).collect()[0]["hint"].startswith("use ttt_snap")
    # ...while the same clause OUTSIDE the literal still rewrites
    q3 = ("SELECT 'v1' AS tag, COUNT(*) AS n "
          "FROM ttt_snap VERSION AS OF 1")
    assert eng.sql(q3).collect()[0]["n"] == 8
    # a QUOTED version spec is a named ref (r13, Iceberg's VERSION AS
    # OF 'tag'): unknown tags raise, and after tagging it resolves
    with _pytest.raises(ValueError, match="no tag"):
        cat.resolve_time_travel(
            spark, "SELECT * FROM ttt_snap VERSION AS OF 'gold'"
        )
    from s3_kinesis_replay_spark.operators.table_format import snapshot_tag

    snapshot_tag(root, "gold", 1)
    assert (
        eng.sql(
            "SELECT COUNT(*) AS n FROM ttt_snap VERSION AS OF 'gold'"
        ).collect()[0]["n"]
        == 8
    )
    with _pytest.raises(ValueError, match="not both"):
        cat.register_snapshot_table(
            spark, "x", root, version=1, as_of=ts1
        )


def test_partitioned_snapshot_write_and_prune(spark, tmp_path):
    """Partition-aware snapshots (r13, VERDICT r12 item 5): partition_by
    lays files out one-dir-per-value with the column KEPT in data (read
    path unchanged), records per-entry partition values + a descriptor
    summary, and pruned reads (a) skip whole SEGMENTS via the summary
    without loading them and (b) exclude entries by exact value before
    any stats test. Compaction preserves the layout."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, ["click", "view", "purchase"][i % 3], float(i)) for i in range(90)],
        "id long, etype string, val double",
    )
    # three partition-homogeneous commits (one etype each)
    tf.snapshot_write(
        spark, rows.filter("etype = 'click'"), root, "overwrite",
        partition_by=["etype"],
    )
    tf.snapshot_write(
        spark, rows.filter("etype = 'view'"), root, "append",
        partition_by=["etype"],
    )
    tf.snapshot_write(
        spark, rows.filter("etype = 'purchase'"), root, "append",
        partition_by=["etype"],
    )
    m = tf._read_manifest(root, 3)
    assert m["partition_spec"] == ["etype"]
    assert all(
        d["partitions"] and "n" in d for d in m["segments"]
    )
    # plain read: full table, original columns (no __pv leakage)
    full = tf.snapshot_read(spark, root)
    assert full.columns == ["id", "etype", "val"]
    assert full.count() == 90

    # pruned read on the partition column: the two non-matching SEGMENTS
    # are never loaded; only the matching segment's entries are visited
    ctr: dict = {}
    df, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"etype": ("purchase", "purchase")}, counters=ctr
    )
    assert ctr["segments_skipped"] == 2
    assert ctr["footer_fallbacks"] == 0
    n_purchase_files = len(
        [e for e in tf._entries(m, root)
         if e.get("partition", {}).get("etype") == "purchase"]
    )
    assert ctr["descriptor_visits"] == n_purchase_files
    assert n_read == n_purchase_files and n_total == len(tf._entries(m, root))
    assert df.count() == 30
    assert df.filter(F.col("etype") != "purchase").count() == 0

    # mixed predicate: partition col + value range composes with stats
    df2, _, _ = tf.snapshot_read_pruned(
        spark, root, {"etype": ("view", "view"), "id": (0, 10)}
    )
    got = sorted(r["id"] for r in df2.collect())
    assert got == [1, 4, 7, 10]

    # compaction re-materializes UNDER the spec: still partition-prunable
    tf.snapshot_compact(spark, root)
    ctr3: dict = {}
    df3, n_read3, n_total3 = tf.snapshot_read_pruned(
        spark, root, {"etype": ("click", "click")}, counters=ctr3
    )
    assert df3.count() == 30 and 0 < n_read3 < n_total3
    m4 = tf._read_manifest(root, 4)
    assert m4["partition_spec"] == ["etype"]

    # fold preserves spec + summaries (post-compact it's a no-op; append
    # one more commit so there is something to fold)
    tf.snapshot_write(
        spark, rows.filter("id < 3"), root, "append", partition_by=["etype"]
    )
    v = tf.snapshot_fold_metadata(root)
    mf = tf._read_manifest(root, v)
    assert mf["partition_spec"] == ["etype"] and len(mf["segments"]) == 1


def test_partition_transforms_bucket_truncate_days(spark, tmp_path):
    """Transform partitioning (r13, Iceberg's hidden-partitioning specs
    re-expressed): bucket(N, int) prunes equality predicates by
    recomputing the bucket; truncate(W, ·) is order-preserving so range
    predicates prune; days(ts) prunes time ranges by calendar day — and
    every pruned read equals the unpruned filter exactly."""
    import datetime as dtm

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [
            (
                i,
                f"u{i % 40:03d}xyz",
                dtm.datetime(2026, 8, 1 + (i % 20), i % 24, 0, 0),
                float(i),
            )
            for i in range(400)
        ],
        "id long, name string, ts timestamp, val double",
    )
    tf.snapshot_write(
        spark, rows, root, "overwrite",
        partition_by=["bucket(8, id)", "truncate(4, name)", "days(ts)"],
    )
    m = tf._read_manifest(root, 1)
    assert m["partition_spec"] == [
        "bucket(8, id)", "truncate(4, name)", "days(ts)"
    ]
    ents = tf._entries(m, root)
    assert all(
        set(e["partition"]) ==
        {"bucket(8, id)", "truncate(4, name)", "days(ts)"}
        for e in ents
    )

    # bucket: equality pred prunes to the one bucket (plus nothing else)
    ctr: dict = {}
    df, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"id": (37, 37)}, counters=ctr
    )
    assert [r["id"] for r in df.collect()] == [37]
    in_bucket = [
        e for e in ents
        if e["partition"]["bucket(8, id)"] == str(37 % 8)
    ]
    assert n_read <= len(in_bucket) < n_total
    # bucket over a RANGE has no pruning power on its own dimension
    df_r, _, _ = tf.snapshot_read_pruned(spark, root, {"id": (10, 20)})
    assert df_r.count() == 11

    # truncate(string): 4-char-prefix range pruning
    df2, n2, _ = tf.snapshot_read_pruned(
        spark, root, {"name": ("u010", "u012zzz")}
    )
    assert sorted({r["name"] for r in df2.collect()}) == [
        "u010xyz", "u011xyz", "u012xyz"
    ]
    pfx = {e["partition"]["truncate(4, name)"] for e in ents}
    assert n2 <= sum(1 for e in ents
                     if "u010" <= e["partition"]["truncate(4, name)"] <= "u012")
    assert len(pfx) == 40  # one prefix per name group

    # days(ts): a two-day window prunes to those days' files
    lo = dtm.datetime(2026, 8, 3, 0, 0, 0)
    hi = dtm.datetime(2026, 8, 4, 23, 59, 59)
    df3, n3, ntot3 = tf.snapshot_read_pruned(spark, root, {"ts": (lo, hi)})
    want = rows.filter(
        (F.col("ts") >= lo) & (F.col("ts") <= hi)
    ).count()
    assert df3.count() == want > 0
    in_days = [
        e for e in ents
        if e["partition"]["days(ts)"] in ("2026-08-03", "2026-08-04")
    ]
    assert n3 <= len(in_days) < ntot3

    # unparseable / wrong-type specs refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bucket"):
        tf.snapshot_write(
            spark, rows, str(tmp_path / "bad1"), "overwrite",
            partition_by=["bucket(8, name)"],
        )
    with _pytest.raises(ValueError, match="transform"):
        tf.snapshot_write(
            spark, rows, str(tmp_path / "bad2"), "overwrite",
            partition_by=["frobnicate(id)"],
        )


def test_partitioned_snapshot_null_and_mixed_lineage(spark, tmp_path):
    """NULL partition values stay candidates (never wrongly pruned) and
    read back intact from the data columns; a lineage mixing
    partitioned and unpartitioned commits stays correct — the
    unpartitioned entries just aren't partition-prunable."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "b", 3.0)],
        "id long, k string, val double",
    )
    tf.snapshot_write(spark, rows, root, "overwrite", partition_by=["k"])
    # unpartitioned append into the partitioned lineage
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(4, "a", 4.0)], "id long, k string, val double"),
        root,
        "append",
    )
    full = tf.snapshot_read(spark, root)
    assert full.count() == 4
    assert {r["k"] for r in full.collect()} == {"a", "b", None}

    # prune k='b': the NULL row's file must stay a candidate (its value
    # is unknown at the metadata level) but the residual filter drops it
    df, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"k": ("b", "b")}
    )
    assert [r["id"] for r in df.collect()] == [3]
    assert n_read < n_total  # k=a partition was pruned; NULL+b+append kept


def test_auto_maintain_bounds_long_drain(spark, tmp_path):
    """VERDICT r12 item 6: 30 merge commits with snapshot_auto_maintain
    after each — manifest descriptor count and distinct delete horizons
    stay BOUNDED (folds + periodic compaction fire), and the final state
    equals the batch-by-batch expected upsert fold exactly."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    expected: dict[int, float] = {}
    actions: list[str] = []
    for b in range(30):
        # batch b upserts keys [b % 7, b % 7 + 4] with value b*100+key
        rows = [(k, float(b * 100 + k)) for k in range(b % 7, b % 7 + 5)]
        for k, v in rows:
            expected[k] = v
        df = spark.createDataFrame(rows, "id long, val double")
        if tf.latest_version(root) == 0:
            tf.snapshot_write(spark, df, root, "overwrite")
        else:
            tf.snapshot_merge(spark, root, df, "id")
        actions += tf.snapshot_auto_maintain(
            spark, root, fold_at=6, compact_at=8
        )
        m = tf._read_manifest(root, tf.latest_version(root))
        n_desc = len(m.get("segments", [])) + len(
            m.get("delete_segments", [])
        )
        assert n_desc <= 7, f"descriptors unbounded at batch {b}: {n_desc}"
        horizons = {
            d.get("seq") for d in tf._delete_entries(m, root)
        }
        assert len(horizons) <= 8, f"delete horizons unbounded: {horizons}"
    assert "fold" in actions and "compact" in actions
    got = {
        r["id"]: r["val"] for r in tf.snapshot_read(spark, root).collect()
    }
    assert got == expected


def test_position_delete_where(spark, tmp_path):
    """Position deletes (r13): snapshot_delete_where removes rows by
    exact (file, row_index) address — including ONE of two fully
    identical rows, which no key-based tier can express. File-identity
    scoping: a matching row appended later is visible. Time travel shows
    pre-delete state; history counts the delete file; fold carries the
    state; compact drops it; equality+position tiers compose."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i % 8, float(i % 8), "dup" if i >= 8 else "one") for i in range(12)],
        "k long, val double, tag string",
    )  # keys 0..7 once, keys 0..3 twice more (true duplicates in 'dup')
    tf.snapshot_write(spark, rows, root, "overwrite")

    # delete the duplicate copies only — predicate on a non-key shape
    v = tf.snapshot_delete_where(spark, root, "tag = 'dup'")
    assert v == 2
    got = tf.snapshot_read(spark, root, 2)
    assert got.count() == 8 and got.filter("tag = 'dup'").count() == 0
    # time travel: v1 intact
    assert tf.snapshot_read(spark, root, 1).count() == 12

    # file-identity scoping: append a row matching the deleted predicate
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(99, 9.0, "dup")], "k long, val double, tag string"),
        root,
        "append",
    )
    v3 = tf.snapshot_read(spark, root, 3)
    assert v3.count() == 9 and v3.filter("k = 99").count() == 1

    # history counts position-delete files; ops labeled
    h = {r["version"]: r for r in tf.snapshot_history(spark, root).collect()}
    assert h[2]["operation"] == "pos_delete" and h[2]["n_delete_files"] > 0

    # fold carries position state verbatim
    tf.snapshot_fold_metadata(root)
    v4 = tf.snapshot_read(spark, root)
    assert v4.count() == 9 and v4.filter("tag = 'dup'").count() == 1

    # matching nothing commits nothing
    assert tf.snapshot_delete_where(spark, root, "k = 12345") == 4
    assert tf.latest_version(root) == 4

    # compact materializes the view and drops all MOR state
    v5 = tf.snapshot_compact(spark, root)
    m5 = tf._read_manifest(root, v5)
    assert "pos_delete_segments" not in m5
    assert tf.snapshot_read(spark, root, v5).count() == 9

    # stale addresses refuse: delete computed against v5, then compact
    # lands first -> the files left the live set
    m = tf._read_manifest(root, v5)
    ents = tf._entries(m, root)
    matched = (
        tf._assemble(spark, root, m, ents, with_positions=True)
        .filter("k = 0")
        .select(
            F.col(tf._POS_FILE).alias("file_path"),
            F.col(tf._POS_IDX).alias("pos"),
        )
    )
    pdel = tf._write_data_files(matched, root, prefix="pdel")
    dseg = tf._write_segment(root, [{"path": p} for p in pdel])
    tf.snapshot_compact(spark, root)  # rewrites: v5's files leave the live set

    def stale_commit():
        b = tf.latest_version(root)
        m2 = tf._read_manifest(root, b)
        live = set(tf._paths(tf._entries(m2, root)))
        named = {
            r["file_path"]
            for r in spark.read.parquet(
                *[str(tmp_path / "tbl" / p) for p in pdel]
            ).collect()
        }
        gone = named - live
        if gone:
            raise ValueError("stale position delete")
        raise AssertionError("compact should have invalidated the files")

    with _pytest.raises(ValueError, match="stale"):
        stale_commit()


def test_update_where_atomic(spark, tmp_path):
    """UPDATE ... WHERE (r13): one atomic commit appends the updated
    copies and position-deletes the old ones — no key required, time
    travel intact, add-column assignments evolve the schema, nothing-
    matched commits nothing, equality deletes from earlier commits do
    not suppress the updated copies (they're new files at a newer seq)."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, float(i), "x" if i % 2 else "y") for i in range(10)],
        "id long, val double, tag string",
    )
    tf.snapshot_write(spark, rows, root, "overwrite")
    # an equality delete BEFORE the update: id=1 tombstoned at seq 2
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(1,)], "id long"), "id"
    )

    v = tf.snapshot_update_where(
        spark, root, "tag = 'x'", {"val": "val * 10"}
    )
    assert v == 3
    got = {r["id"]: r["val"] for r in tf.snapshot_read(spark, root).collect()}
    # updates apply to the CURRENT VIEW: tombstoned id=1 is not in it,
    # stays deleted; the other x-rows carry updated copies (new files at
    # seq 3, which the seq-2 equality delete cannot suppress)
    assert 1 not in got
    assert got[3] == 30.0 and got[5] == 50.0 and got[9] == 90.0  # updated
    assert got[2] == 2.0 and got[0] == 0.0  # untouched
    assert len(got) == 9
    # time travel: pre-update values
    pre = {r["id"]: r["val"]
           for r in tf.snapshot_read(spark, root, 2).collect()}
    assert pre[3] == 3.0 and 1 not in pre

    # add-column assignment evolves the schema; old rows NULL-fill
    tf.snapshot_update_where(
        spark, root, "id = 0", {"flag": F.lit("updated")}
    )
    latest = tf.snapshot_read(spark, root)
    assert latest.columns == ["id", "val", "tag", "flag"]
    assert latest.filter("flag = 'updated'").count() == 1
    assert latest.filter("flag IS NULL").count() == 8

    # nothing matched -> no commit
    before = tf.latest_version(root)
    assert tf.snapshot_update_where(
        spark, root, "id = 777", {"val": "0.0"}
    ) == before
    assert tf.latest_version(root) == before


def test_position_and_equality_deletes_compose(spark, tmp_path):
    """Both MOR delete tiers on one table: an equality delete (key-based,
    sequence-scoped) and a position delete (address-based, file-scoped)
    apply together, and the pruned-read path honors both."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, val double"
    )
    tf.snapshot_write(spark, rows, root, "overwrite")
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(3,), (4,)], "id long"), "id"
    )
    tf.snapshot_delete_where(spark, root, "id >= 15")
    got = sorted(
        r["id"] for r in tf.snapshot_read(spark, root).collect()
    )
    assert got == [0, 1, 2, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14]
    # pruned read applies both tiers too
    df, _, _ = tf.snapshot_read_pruned(spark, root, {"id": (2, 16)})
    assert sorted(r["id"] for r in df.collect()) == [
        2, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14,
    ]


def test_vacuum_reaps_crash_residue(spark, sf_dir, tmp_path):
    """Crash residue (segment/manifest/pointer tmp files) is reaped by
    vacuum once past the age grace, and counted as young before it."""
    import os

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, 1.0)], "id long, val double"),
        root,
        "overwrite",
    )
    residue = [
        os.path.join(root, "segments", "seg-dead.json.tmp"),
        os.path.join(root, "manifests", "v9.json.tmp-deadbeef"),
        os.path.join(root, "_latest.tmp-deadbeef"),
    ]
    for p in residue:
        with open(p, "w") as f:
            f.write("crash residue")
    rep = tf.snapshot_vacuum(root, keep_last=2)  # default grace: young
    assert rep["skipped_young"] >= 3
    for p in residue:
        assert os.path.exists(p)
    tf.snapshot_vacuum(root, keep_last=2, min_age_s=0.0)
    for p in residue:
        assert not os.path.exists(p)
    # the live table is untouched
    assert tf.snapshot_read(spark, root).count() == 1


def test_eight_writer_contention_all_land(spark, sf_dir, tmp_path):
    """Commit contention beyond the 2-writer case: 8 threads append
    concurrently (retries raised to cover worst-case serialization);
    every commit lands, the version chain is gapless with base = v-1
    throughout, and the final state holds all 8 writers' rows."""
    import threading

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.filter(F.col("event_id") < 50), root, "overwrite")

    n_writers = 8
    errs: list[Exception] = []
    barrier = threading.Barrier(n_writers)

    def appender(i):
        try:
            barrier.wait()
            tf.snapshot_write(
                spark,
                ev.filter(
                    F.col("event_id").between(100 * (i + 1), 100 * (i + 1) + 49)
                ),
                root,
                "append",
                retries=2 * n_writers,
            )
        except Exception as e:  # noqa: BLE001 — surfaced via errs
            errs.append(e)

    ts = [
        threading.Thread(target=appender, args=(i,)) for i in range(n_writers)
    ]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs

    assert tf.versions(root) == list(range(1, n_writers + 2))
    for v in range(2, n_writers + 2):
        m = tf._read_manifest(root, v)
        assert m["base"] == v - 1
        assert len(m["segments"]) == v  # every prior segment carried
    assert tf.snapshot_read(spark, root).count() == 50 * (n_writers + 1)


def test_fold_metadata_preserves_semantics(spark, sf_dir, tmp_path):
    """snapshot_fold_metadata: many per-commit segments fold into one,
    data files untouched, rows identical, and — the subtle part —
    per-entry commit sequences survive, so a pre-fold
    delete-then-reinsert still reads correctly after the fold."""
    import glob
    import os

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    rows = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "id long, val double"
    )
    tf.snapshot_write(spark, rows, root, "overwrite")          # v1
    tf.snapshot_delete(                                        # v2
        spark, root, spark.createDataFrame([(5,)], "id long"), "id"
    )
    tf.snapshot_write(                                         # v3: reinsert
        spark,
        spark.createDataFrame([(5, 999.0)], "id long, val double"),
        root,
        "append",
    )
    tf.snapshot_write(                                         # v4
        spark,
        spark.createDataFrame([(100, 1.0)], "id long, val double"),
        root,
        "append",
    )
    pre = sorted(
        tuple(r) for r in tf.snapshot_read(spark, root).collect()
    )
    data_files = sorted(glob.glob(f"{root}/data/*/*.parquet"))
    mtimes = {f: os.path.getmtime(f) for f in data_files}

    v = tf.snapshot_fold_metadata(root)
    assert v == 5
    m = tf._read_manifest(root, 5)
    assert m["operation"] == "fold"
    assert len(m["segments"]) == 1 and len(m["delete_segments"]) == 1
    # zero data movement
    assert {f: os.path.getmtime(f) for f in data_files} == mtimes
    # identical rows; reinserted key still visible with its NEW value
    post = sorted(
        tuple(r) for r in tf.snapshot_read(spark, root).collect()
    )
    assert post == pre
    assert [r for r in post if r[0] == 5] == [(5, 999.0)]
    # fold is idempotent (no-op second time)
    assert tf.snapshot_fold_metadata(root) == 5
    # CDC refuses to cross the fold; appends on top keep working
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not append"):
        tf.snapshot_changes(spark, root, 4, 5)
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(101, 2.0)], "id long, val double"),
        root,
        "append",
    )
    assert tf.snapshot_read(spark, root).count() == len(pre) + 1
    # history sees the fold as one more metadata row
    ops = [
        r["operation"]
        for r in tf.snapshot_history(spark, root).collect()
    ]
    assert "fold" in ops


def test_snapshot_tags_restore_and_cluster(spark, sf_dir, tmp_path):
    """r13 ref/restore/cluster semantics beyond the registry gates:
    tag create-exclusive conflict, tag of unknown version refused,
    drop-tag releases retention, restore carries MOR delete state
    verbatim (a deleted row stays deleted after rollback), restore to
    latest is a no-op, and cluster refuses partitioned tables."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    tf.snapshot_write(spark, ev, root, mode="overwrite")

    # --- tags: create-exclusive, unknown-version refusal, replace ---
    assert tf.snapshot_tag(root, "stable") == 1  # default = latest
    with _pytest.raises(ValueError, match="already exists"):
        tf.snapshot_tag(root, "stable")
    with _pytest.raises(FileNotFoundError):
        tf.snapshot_tag(root, "ghost", version=99)
    with _pytest.raises(ValueError, match="invalid ref name"):
        tf.snapshot_tag(root, "bad name!")

    # --- delete + restore: MOR state must ride the rollback ---
    n_all = ev.count()
    doomed = ev.filter(F.col("event_id") < 100)
    n_doomed = doomed.count()
    tf.snapshot_delete(spark, root, doomed.select("event_id"), "event_id")
    assert tf.snapshot_read(spark, root).count() == n_all - n_doomed  # v2
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") >= 9000), root, mode="overwrite"
    )  # v3 fat finger
    v = tf.snapshot_restore(root, 2)
    assert v == 4
    assert tf._read_manifest(root, 4)["operation"] == "restore"
    # the delete horizon survived the rollback — not resurrected
    assert tf.snapshot_read(spark, root).count() == n_all - n_doomed
    # restore to current latest: no empty commit
    assert tf.snapshot_restore(root, 4) == 4
    assert tf.latest_version(root) == 4
    # restore by TAG name
    assert tf.snapshot_restore(root, "stable") == 5
    assert tf.snapshot_read(spark, root).count() == n_all

    # --- tag retention + drop-tag releases it ---
    tf.snapshot_tag(root, "stable", version=2, replace=True)
    rep = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert 2 not in rep["dropped_versions"]  # pinned
    assert set(tf.versions(root)) == {2, 5}
    assert tf.snapshot_read(spark, root, "stable").count() == n_all - n_doomed
    tf.snapshot_drop_tag(root, "stable")
    with _pytest.raises(ValueError, match="no tag"):
        tf.snapshot_drop_tag(root, "stable")
    rep = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["dropped_versions"] == [2]  # retention released

    # --- cluster refuses a partitioned table ---
    proot = str(tmp_path / "ptbl")
    tf.snapshot_write(
        spark, ev.withColumn("bucket", F.col("user_id") % 3), proot,
        mode="overwrite", partition_by=["bucket"],
    )
    with _pytest.raises(ValueError, match="partitioned"):
        tf.snapshot_cluster(spark, proot, ["event_id"])


def test_snapshot_cluster_drops_mor_state_and_zorder_bounds(
    spark, sf_dir, tmp_path
):
    """cluster materializes the MOR view (delete state dropped like
    compact) and the Morton key handles degenerate inputs: constant
    columns (zero span) and nulls land in lane 0 instead of raising."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    tf.snapshot_write(spark, ev, root, mode="overwrite")
    tf.snapshot_delete(
        spark, root, ev.filter("event_id < 50").select("event_id"), "event_id"
    )
    expect = ev.count() - 50
    tf.snapshot_cluster(spark, root, ["event_id"], target_files=4)
    m = tf._read_manifest(root, tf.latest_version(root))
    assert m["operation"] == "cluster"
    assert not m.get("delete_segments") and not m.get("delete_files")
    assert tf.snapshot_read(spark, root).count() == expect

    # degenerate z-order inputs: constant + nullable columns
    droot = str(tmp_path / "dtbl")
    df = spark.range(0, 200).select(
        F.lit(7).alias("const"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("maybe"),
    )
    tf.snapshot_write(spark, df, droot, mode="overwrite")
    tf.snapshot_cluster(
        spark, droot, ["const", "maybe"], target_files=2, zorder=True
    )
    assert tf.snapshot_read(spark, droot).count() == 200


def test_snapshot_check_constraints(spark, sf_dir, tmp_path):
    """r13 CHECK constraints beyond the a21 gate: add-time validation
    against existing data, enforcement on merge and update writers,
    survival through overwrite/compact/cluster/restore, drop releasing
    enforcement, and the raw append path's refusal."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    tf.snapshot_write(spark, ev, root, mode="overwrite")
    tf.snapshot_set_constraint(
        spark, root, "eid_ok", "event_id >= 0 AND event_id IS NOT NULL"
    )
    # a constraint the EXISTING data violates is refused at add time
    with _pytest.raises(tf.ConstraintViolation):
        tf.snapshot_set_constraint(spark, root, "impossible", "event_id > 10")
    # same name, different expression: refused (drop first)
    with _pytest.raises(ValueError, match="already exists"):
        tf.snapshot_set_constraint(spark, root, "eid_ok", "event_id > 5")

    # merge and update writers enforce on their written rows
    with _pytest.raises(tf.ConstraintViolation):
        tf.snapshot_merge(
            spark,
            root,
            spark.createDataFrame(
                [(-7, 0, 1.0)], "event_id long, user_id long, value double"
            ),
            "event_id",
        )
    with _pytest.raises(tf.ConstraintViolation):
        tf.snapshot_update_where(
            spark, root, "event_id < 5", {"event_id": "event_id - 1000000"}
        )

    # constraints ride every carry path; restore is FULL-STATE (the
    # target's constraints), so a post-constraint target keeps them...
    tf.snapshot_write(spark, ev, root, mode="overwrite")  # v3
    tf.snapshot_compact(spark, root)  # v4
    tf.snapshot_cluster(spark, root, ["event_id"], target_files=2)  # v5
    tf.snapshot_restore(root, 3)
    assert list(tf.table_constraints(root)) == ["eid_ok"]
    # ...and a PRE-constraint target restores without them (its data
    # was never validated against the later rule)
    tf.snapshot_restore(root, 1)
    assert tf.table_constraints(root) == {}
    tf.snapshot_set_constraint(
        spark, root, "eid_ok", "event_id >= 0 AND event_id IS NOT NULL"
    )

    # raw session-less path refuses a constraint-bearing table
    with _pytest.raises(ValueError, match="validated=True"):
        tf.commit_append_files(
            root, [], "append:b0", [["event_id", "bigint"]]
        )

    # drop releases enforcement
    tf.snapshot_drop_constraint(root, "eid_ok")
    with _pytest.raises(ValueError, match="no constraint"):
        tf.snapshot_drop_constraint(root, "eid_ok")
    tf.snapshot_merge(
        spark,
        root,
        spark.createDataFrame(
            [(-7, 0, 1.0)], "event_id long, user_id long, value double"
        ),
        "event_id",
    )
    assert (
        tf.snapshot_read(spark, root).filter(F.col("event_id") == -7).count()
        == 1
    )


def test_set_constraint_vs_concurrent_append_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """set_constraint's own TOCTOU (VERDICT r13): a writer that appends
    VIOLATING rows after set_constraint validated existing data but
    before its commit was never checked against the new expr (the
    writer's base had no constraint, so its own enforcement was inert).
    attempt() must re-validate the (base0, base] file delta and refuse —
    otherwise the table lands in instant violation of its own CHECK.
    The delta validation reads through _assemble: a row appended AND
    deleted inside the window is not a violation (second leg)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(
        spark, ev.filter(F.col("event_id") < 100), root, "overwrite"
    )

    orig = tf._enforce_constraints
    fired: list[int] = []

    def race_enforce(df, cons, ctx):
        orig(df, cons, ctx)
        if not fired:
            fired.append(1)
            # violating append lands inside set_constraint's window; its
            # own enforcement sees no constraint at its base and passes
            tf.snapshot_write(
                spark,
                ev.filter(F.col("event_id").between(100, 199)),
                root,
                "append",
            )

    monkeypatch.setattr(tf, "_enforce_constraints", race_enforce)
    with _pytest.raises(tf.ConstraintViolation, match=r"v2\.\.v2"):
        tf.snapshot_set_constraint(spark, root, "small_ids", "event_id < 100")
    monkeypatch.undo()

    # refusal committed NOTHING beyond the racer's append: head is the
    # append, constraint-free
    assert tf.latest_version(root) == 2
    assert tf.table_constraints(root) == {}
    assert tf.snapshot_read(spark, root).count() == 200

    # second leg: rows that violate but were DELETED inside the window
    # are invisible at base — the delta validation must NOT refuse them.
    # First heal the table (drop leg one's racer rows) so the initial
    # validation passes again ...
    keys_100_199 = spark.range(100, 200).select(F.col("id").alias("event_id"))
    tf.snapshot_delete(spark, root, keys_100_199, "event_id")  # v3
    fired.clear()

    def race_append_then_delete(df, cons, ctx):
        orig(df, cons, ctx)
        if not fired:
            fired.append(1)
            # ... then inside the window: violating append AND its undo
            tf.snapshot_write(
                spark,
                ev.filter(F.col("event_id").between(100, 199)),
                root,
                "append",
            )  # v4
            tf.snapshot_delete(spark, root, keys_100_199, "event_id")  # v5

    monkeypatch.setattr(tf, "_enforce_constraints", race_append_then_delete)
    v = tf.snapshot_set_constraint(spark, root, "small_ids", "event_id < 100")
    monkeypatch.undo()
    assert list(tf.table_constraints(root)) == ["small_ids"]
    assert tf._read_manifest(root, v)["operation"] == "set_constraint"
    # enforcement is live from v on
    with _pytest.raises(tf.ConstraintViolation):
        tf.snapshot_write(
            spark,
            ev.filter(F.col("event_id").between(300, 310)),
            root,
            "append",
        )


def test_snapshot_branches_write_audit_publish(spark, sf_dir, tmp_path):
    """r13 WAP branches: branch writes are invisible to main, auditable
    by branch read, published as ONE metadata-only fast-forward whose
    base-validation IS the conflict check; staged branch files survive
    vacuum until the branch is dropped; constraints ride the fork."""
    import glob

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    lo, hi = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    n_lo, n_all = lo.count(), ev.count()
    tf.snapshot_write(spark, lo, root, mode="overwrite")
    tf.snapshot_set_constraint(spark, root, "eid_ok", "event_id >= 0")

    # write to a nonexistent branch: refused
    with _pytest.raises(ValueError, match="does not exist"):
        tf.snapshot_write(spark, hi, root, mode="append", branch="nope")

    tf.snapshot_branch(root, "staging")
    with _pytest.raises(ValueError, match="already exists"):
        tf.snapshot_branch(root, "staging")
    # forked at main latest = v2 (v1 load + v2 set_constraint)
    assert tf.list_branches(root) == {"staging": 2}

    # constraints carried into the fork: violating branch write refused
    with _pytest.raises(tf.ConstraintViolation):
        tf.snapshot_write(
            spark,
            hi.withColumn("event_id", -F.col("event_id") - F.lit(1).cast("bigint")),
            root,
            mode="append",
            branch="staging",
        )

    # WRITE: staged rows visible on the branch only
    tf.snapshot_write(spark, hi, root, mode="append", branch="staging")
    assert tf.snapshot_read(spark, root).count() == n_lo  # main untouched
    assert tf.snapshot_read(spark, root, branch="staging").count() == n_all

    # staged (unpublished) files survive an aggressive vacuum — the
    # branch lineage is a reachability root; the earlier REFUSED
    # write's orphan is the only thing reaped
    rep = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["deleted_files"] == 1  # the constraint-refused orphan
    assert tf.snapshot_read(spark, root, branch="staging").count() == n_all

    # a conflicting branch forked at the same point
    tf.snapshot_branch(root, "doomed")
    tf.snapshot_write(spark, hi.limit(5), root, mode="append", branch="doomed")

    # PUBLISH: one metadata-only fast-forward
    v = tf.snapshot_publish(root, "staging")
    assert tf._read_manifest(root, v)["operation"] == "publish"
    assert tf.snapshot_read(spark, root).count() == n_all
    # ...which makes the second publish a WAP conflict, not a silent win
    with _pytest.raises(tf.CommitConflict):
        tf.snapshot_publish(root, "doomed")

    # drop the conflicted branch; its staged files become reapable
    tf.snapshot_drop_branch(root, "doomed")
    with _pytest.raises(ValueError, match="no branch"):
        tf.snapshot_drop_branch(root, "doomed")
    tf.snapshot_drop_branch(root, "staging")
    rep = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0.0)
    assert rep["deleted_files"] > 0  # doomed's staged rows reaped
    assert tf.snapshot_read(spark, root).count() == n_all


def test_register_snapshot_table_branch_view(spark, sf_dir, tmp_path):
    """The audit-in-SQL step: a WAP branch head registers as an
    ordinary view (branch= excludes version/as_of)."""
    import pytest as _pytest

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    ev = table(spark, "events", sf_dir).select("event_id", "value")
    tf.snapshot_write(spark, ev.limit(10), root, mode="overwrite")
    tf.snapshot_branch(root, "audit")
    tf.snapshot_write(
        spark, ev.limit(25), root, mode="append", branch="audit"
    )
    cat.register_snapshot_table(spark, "wap_main", root)
    cat.register_snapshot_table(spark, "wap_branch", root, branch="audit")
    n = spark.sql(
        "SELECT (SELECT COUNT(*) FROM wap_branch) - "
        "(SELECT COUNT(*) FROM wap_main) AS staged"
    ).collect()[0]["staged"]
    assert n == 25
    with _pytest.raises(ValueError, match="branch HEAD"):
        cat.register_snapshot_table(
            spark, "bad", root, version=1, branch="audit"
        )


def test_sql_dml_surface_semantics(spark, sf_dir, tmp_path):
    """r13 SQL DML edges beyond the a23 entry: assignment splitting with
    commas inside function calls, VALUES arity refusal, assignment
    casts (INT literal into a BIGINT column), DML refusals propagating
    atomically (constraint violation leaves the version untouched),
    and view re-registration after each statement."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.catalog import table
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    df = spark.range(0, 50).select(
        F.col("id").alias("a"), (F.col("id") % 7).cast("double").alias("b")
    )
    tf.snapshot_write(spark, df, root, mode="overwrite")
    cat.register_snapshot_table(spark, "dml_sem", root)

    # comma inside a function call must not split the assignment list
    cat.resolve_dml(
        spark,
        "UPDATE dml_sem SET b = round(b + 0.123456, 2), a = a + 100 "
        "WHERE a < 3",
    )
    got = {
        r["a"]: r["b"]
        for r in spark.table("dml_sem").filter("a >= 100").collect()
    }
    assert got == {100: 0.12, 101: 1.12, 102: 2.12}

    # INT literals cast into the BIGINT/DOUBLE schema (SQL assignment)
    cat.resolve_dml(spark, "INSERT INTO dml_sem VALUES (900, 1)")
    assert spark.table("dml_sem").filter("a = 900").count() == 1
    with _pytest.raises(ValueError, match="arity"):
        cat.resolve_dml(spark, "INSERT INTO dml_sem VALUES (1, 2, 3)")

    # a refused DML (constraint) leaves version AND view untouched
    tf.snapshot_set_constraint(spark, root, "a_ok", "a >= 0")
    v = tf.latest_version(root)
    n = spark.table("dml_sem").count()
    with _pytest.raises(tf.ConstraintViolation):
        cat.resolve_dml(spark, "INSERT INTO dml_sem VALUES (-5, 0.0)")
    assert tf.latest_version(root) == v
    assert spark.table("dml_sem").count() == n

    # merge key must exist in the source
    with _pytest.raises(ValueError, match="no key column"):
        cat.resolve_dml(
            spark,
            "MERGE INTO dml_sem USING (SELECT 1 AS wrong) ON a",
        )

    # DELETE re-registers: the next read through the VIEW sees it
    cat.resolve_dml(spark, "DELETE FROM dml_sem WHERE a >= 900")
    assert spark.table("dml_sem").filter("a >= 900").count() == 0

    # CTAS: genesis commit + registration in one statement; a
    # non-empty LOCATION refuses instead of clobbering
    root2 = str(tmp_path / "ctas")
    r = cat.resolve_dml(
        spark,
        f"CREATE TABLE dml_ctas LOCATION '{root2}' AS "
        "SELECT a, b FROM dml_sem WHERE a < 10",
    ).collect()[0]
    assert r["operation"] == "create" and r["version"] == 1
    # rows a<10 remaining after the earlier update moved {0,1,2} to 100+
    assert spark.table("dml_ctas").count() == 7
    assert tf.latest_version(root2) == 1
    with _pytest.raises(ValueError, match="already holds"):
        cat.resolve_dml(
            spark,
            f"CREATE TABLE again LOCATION '{root2}' AS SELECT 1 AS x",
        )


def test_r13_review_fixes(spark, sf_dir, tmp_path):
    """Regression pins for the round-13 review findings: (1) string
    partition values must compare LEXICALLY under string predicate
    bounds (digit-strings used to coerce numeric and wrongly prune);
    (2) publish into a vacuum-hole below the real head must refuse,
    not silently 'succeed'; (3) a predicate update racing a merge's
    delete state must refuse instead of duplicating the key; (4) fold
    collapses position-delete descriptors and auto-maintain counts
    their rent."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    # (1) truncate(3, zip) over a STRING column of digits
    root = str(tmp_path / "zip")
    df = spark.createDataFrame(
        [("94107", 1), ("94110", 2), ("10001", 3)], "zip string, n long"
    )
    tf.snapshot_write(
        spark, df, root, mode="overwrite", partition_by=["truncate(3, zip)"]
    )
    got, n_read, n_total = tf.snapshot_read_pruned(
        spark, root, {"zip": ("94100", "94200")}
    )
    assert {r["zip"] for r in got.collect()} == {"94107", "94110"}
    assert n_read < n_total  # and the non-matching prefix still prunes

    # (2) publish must see through a vacuum hole
    root2 = str(tmp_path / "wap")
    base = spark.range(0, 20).select(F.col("id").alias("a"))
    tf.snapshot_write(spark, base, root2, mode="overwrite")  # v1
    tf.snapshot_branch(root2, "b")  # forked_from = 1
    tf.snapshot_write(
        spark, spark.range(20, 25).select(F.col("id").alias("a")),
        root2, mode="append", branch="b",
    )
    for i in range(4):  # main advances to v5
        tf.snapshot_write(
            spark,
            spark.range(100 + i, 101 + i).select(F.col("id").alias("a")),
            root2,
            mode="append",
        )
    tf.snapshot_vacuum(root2, keep_last=2, min_age_s=0.0)  # drops v1..v3
    with _pytest.raises(tf.CommitConflict, match="advanced since"):
        tf.snapshot_publish(root2, "b")
    assert tf.latest_version(root2) == 5  # nothing linked into the hole

    # (3) update racing a merge: delete-state change refuses
    root3 = str(tmp_path / "upd")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(1.0).alias("v")
        ),
        root3,
        mode="overwrite",
    )
    m_before = tf._read_manifest(root3, 1)
    # simulate the interleave: merge lands AFTER the update computed
    # its matched set (we call the internal validation directly — the
    # public path would need thread timing)
    tf.snapshot_merge(
        spark,
        root3,
        spark.createDataFrame([(3, 9.0)], "k long, v double"),
        "k",
    )
    m_after = tf._read_manifest(root3, tf.latest_version(root3))
    with _pytest.raises(ValueError, match="delete state changed"):
        tf._validate_predicate_commit(
            root3, m_before, m_after, set(), "update"
        )
    # ...and a plain append does NOT refuse
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(99, 0.0)], "k long, v double"),
        root3,
        mode="append",
    )
    m_app = tf._read_manifest(root3, tf.latest_version(root3))
    tf._validate_predicate_commit(root3, m_after, m_app, set(), "update")

    # (4) fold collapses pos-delete descriptors; maintain sees the rent
    root4 = str(tmp_path / "pos")
    tf.snapshot_write(
        spark,
        spark.range(0, 30).select(F.col("id").alias("a")),
        root4,
        mode="overwrite",
    )
    for i in range(3):
        tf.snapshot_delete_where(spark, root4, f"a = {i}")
    m4 = tf._read_manifest(root4, tf.latest_version(root4))
    assert len(m4["pos_delete_segments"]) == 3
    tf.snapshot_fold_metadata(root4)
    m4 = tf._read_manifest(root4, tf.latest_version(root4))
    assert len(m4["pos_delete_segments"]) == 1
    assert tf.snapshot_read(spark, root4).count() == 27  # deletes survive
    # second fold is a no-op (already folded, pos segments included)
    v = tf.latest_version(root4)
    assert tf.snapshot_fold_metadata(root4) == v
    # rent-triggered compact: pos-delete FILES reach compact_at
    assert tf.snapshot_auto_maintain(
        spark, root4, fold_at=99, compact_at=3
    ) == ["compact"]
    m4 = tf._read_manifest(root4, tf.latest_version(root4))
    assert not m4.get("pos_delete_segments")
    assert tf.snapshot_read(spark, root4).count() == 27


def test_r14_advice_fixes(spark, sf_dir, tmp_path, monkeypatch):
    """Regression pins for the round-13 ADVICE findings: (1) a publish
    whose manifest a FAST FOLLOWER already built on is a SUCCESS, not a
    vacuum-hole conflict — removing it would break time travel and make
    the advised re-publish duplicate the staged rows; (2) a link into a
    genuine vacuum hole below an unrelated head still refuses, even
    when a successor manifest with base==v exists (it carries the
    vacuumed original's segments, not ours); (3) tag + branch reads are
    refused (tags pin MAIN versions; branch numbering restarts)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    def ids(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("a"))

    # (1) fast follower: commit lands ON TOP of the published manifest
    root = str(tmp_path / "wap_fast")
    tf.snapshot_write(spark, ids(0, 10), root, "overwrite")  # v1
    tf.snapshot_branch(root, "b")
    tf.snapshot_write(spark, ids(10, 15), root, "append", branch="b")

    orig_commit = tf._commit
    fired: list[int] = []

    def commit_then_follow(*args, **kwargs):
        v = orig_commit(*args, **kwargs)
        if args[2] == "publish" and not fired:
            fired.append(1)
            # the follower appends on top of the just-linked publish,
            # inside snapshot_publish's post-link verification window
            tf.snapshot_write(spark, ids(100, 103), root, "append")
        return v

    monkeypatch.setattr(tf, "_commit", commit_then_follow)
    v = tf.snapshot_publish(root, "b")
    monkeypatch.undo()
    assert v == 2 and fired
    assert tf.latest_version(root) == 3
    assert tf._read_manifest(root, 3)["base"] == 2
    # staged rows visible at head exactly once; time travel to the
    # published version intact
    assert sorted(
        r["a"] for r in tf.snapshot_read(spark, root).collect()
    ) == list(range(15)) + [100, 101, 102]
    assert tf.snapshot_read(spark, root, 2).count() == 15

    # (2) genuine vacuum hole WITH a deceptive successor (base == v but
    # unrelated content): still refuses, nothing linked
    root2 = str(tmp_path / "wap_hole")
    tf.snapshot_write(spark, ids(0, 10), root2, "overwrite")  # v1
    tf.snapshot_branch(root2, "b")
    tf.snapshot_write(spark, ids(10, 15), root2, "append", branch="b")
    fired.clear()

    def race_then_commit(*args, **kwargs):
        if args[2] == "publish" and not fired:
            fired.append(1)
            # between publish's head check and its link: a racing
            # writer advances main to v5, then vacuum drops v1..v2 —
            # the slot at fork+1 = 2 becomes a hole BELOW head 5, and
            # the retained v3 (base == 2) descends from the vacuumed
            # original, not from the branch
            for i in range(4):
                tf.snapshot_write(spark, ids(200 + i, 201 + i), root2, "append")
            tf.snapshot_vacuum(root2, keep_last=3, min_age_s=0.0)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", race_then_commit)
    with _pytest.raises(tf.CommitConflict, match="commit\\+vacuum"):
        tf.snapshot_publish(root2, "b")
    monkeypatch.undo()
    assert tf.latest_version(root2) == 5
    assert 2 not in tf.versions(root2)  # hole NOT silently filled
    succ = tf._read_manifest(root2, 3)
    assert succ["base"] == 2  # the deceptive successor really existed

    # (3) tag + branch refuses
    root3 = str(tmp_path / "tagbr")
    tf.snapshot_write(spark, ids(0, 5), root3, "overwrite")
    tf.snapshot_tag(root3, "pinned")
    tf.snapshot_branch(root3, "b")
    with _pytest.raises(ValueError, match="main-lineage"):
        tf.snapshot_read(spark, root3, "pinned", branch="b")


def test_r15_publish_rewrite_follower_and_publish_bytes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r14 regressions. (1) A fast follower that is a ROW-
    PRESERVING REWRITE (compact) built on the just-published manifest
    rewrites every segment descriptor, so the added-segments parentage
    proof fails — publish must still recognize SUCCESS (the successor's
    committed_at postdates the published link), not delete the
    successor's recorded base and advise a re-publish that would
    duplicate the rows. (2) The streaming source's byte-pacing
    estimator must charge a publish commit its ADDED bytes (segment-
    path diff vs the predecessor), not 0 — its carried segments hold
    branch-lineage seqs, never seq == v... except coincidentally, which
    the operation check guards."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.snapshot_source import (
        _version_bytes,
    )

    def ids(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("a"))

    root = str(tmp_path / "wap_rewrite")
    tf.snapshot_write(spark, ids(0, 10), root, "overwrite")  # v1
    tf.snapshot_branch(root, "b")
    tf.snapshot_write(spark, ids(10, 15), root, "append", branch="b")

    orig_commit = tf._commit
    fired: list[int] = []

    def commit_then_compact(*args, **kwargs):
        v = orig_commit(*args, **kwargs)
        if args[2] == "publish" and not fired:
            fired.append(1)
            # the follower COMPACTS on top of the just-linked publish —
            # row-preserving, but every segment descriptor is rewritten
            tf.snapshot_compact(spark, root)
        return v

    monkeypatch.setattr(tf, "_commit", commit_then_compact)
    v = tf.snapshot_publish(root, "b")
    monkeypatch.undo()
    assert v == 2 and fired
    assert tf.latest_version(root) == 3
    assert tf._read_manifest(root, 3)["base"] == 2  # base intact
    # staged rows live at head exactly once; published version readable
    assert sorted(
        r["a"] for r in tf.snapshot_read(spark, root).collect()
    ) == list(range(15))
    assert tf.snapshot_read(spark, root, 2).count() == 15

    # (2) publish byte accounting: the branch-added segment's bytes are
    # charged to the publish commit, not 0 (and not v1's carried bytes)
    root2 = str(tmp_path / "wap_bytes")
    tf.snapshot_write(spark, ids(0, 10), root2, "overwrite")  # v1
    tf.snapshot_branch(root2, "b")
    tf.snapshot_write(spark, ids(10, 400), root2, "append", branch="b")
    tf.snapshot_publish(root2, "b")  # v2
    m2 = tf._read_manifest(root2, 2)
    assert m2["operation"] == "publish"
    m1_paths = {
        d["path"] for d in tf._read_manifest(root2, 1).get("segments", [])
    }
    added_bytes = sum(
        d["bytes"]
        for d in m2.get("segments", [])
        if d["path"] not in m1_paths
    )
    assert added_bytes > 0
    assert _version_bytes(root2, 2) == added_bytes
    # ordinary appends keep the seq-v fast path
    tf.snapshot_write(spark, ids(400, 500), root2, "append")  # v3
    m3 = tf._read_manifest(root2, 3)
    seq3 = sum(
        d["bytes"] for d in m3.get("segments", []) if d.get("seq") == 3
    )
    assert _version_bytes(root2, 3) == seq3 > 0


def test_snapshot_merge_clauses(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 item 3): clause-form MERGE — conditional
    UPDATE/DELETE/INSERT/NBS-DELETE in ONE atomic commit, parsed from
    SQL and rewritten onto the MOR primitives. Pins: first-match-wins
    clause order; NULL conditions don't match; INSERT * NULL-fills
    source-absent columns; CDC classifies tombstones without
    postimages as deletes; refusals (SET on key, partial-key
    duplicates, unknown clause, INSERT arity/columns)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("val"),
            F.lit("old").alias("tag"),
        ),
        root,
        "overwrite",
    )
    cat.register_snapshot_table(spark, "mrgc_t", root)
    # source keys 5-14: new_val NULL for k=7 (NULL condition must fall
    # through to the DELETE clause, not error or update)
    spark.range(5, 15).select(
        F.col("id").alias("k"),
        F.when(F.col("id") != 7, F.col("id") * 100).alias("new_val"),
    ).createOrReplaceTempView("mrgc_src")
    r = cat.resolve_dml(
        spark,
        """
        MERGE INTO mrgc_t USING (SELECT * FROM mrgc_src) ON k
        WHEN MATCHED AND s.new_val > 600
          THEN UPDATE SET val = s.new_val, tag = 'upd'
        WHEN MATCHED THEN DELETE
        WHEN NOT MATCHED AND s.k < 13
          THEN INSERT (k, val, tag) VALUES (s.k, s.new_val, 'ins')
        WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN DELETE
        """,
    ).collect()[0]
    assert r["operation"] == "merge" and r["version"] == 2
    got = sorted(
        (x["k"], x["val"], x["tag"]) for x in spark.table("mrgc_t").collect()
    )
    # 0,1 NBS-deleted; 2-4 kept; 5,6 matched-but-<=600 deleted; 7 NULL
    # cond → delete clause; 8,9 updated; 10-12 inserted; 13,14 not (cond)
    assert got == [
        (2, 20, "old"), (3, 30, "old"), (4, 40, "old"),
        (8, 800, "upd"), (9, 900, "upd"),
        (10, 1000, "ins"), (11, 1100, "ins"), (12, 1200, "ins"),
    ]
    # CDC: tombstoned keys without postimages are DELETES (r15 batch
    # reclassification) — not dangling update_preimages
    cdc = {
        (x["k"], x["_change_type"])
        for x in tf.snapshot_row_changes(spark, root, 1, 2).collect()
    }
    assert {(0, "delete"), (5, "delete"), (7, "delete")} <= cdc
    assert (8, "update_preimage") in cdc and (8, "update_postimage") in cdc
    assert (10, "insert") in cdc
    assert not any(k in (0, 1, 5, 6, 7) and c.startswith("update") for k, c in cdc)

    # INSERT *: source columns map by name; target-only columns NULL
    tf.snapshot_write(
        spark,
        spark.range(0, 3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("val"),
            F.lit("old").alias("tag"),
        ),
        str(tmp_path / "t2"),
        "overwrite",
    )
    cat.register_snapshot_table(spark, "mrgc_t2", str(tmp_path / "t2"))
    spark.range(2, 5).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("val")
    ).createOrReplaceTempView("mrgc_src2")
    cat.resolve_dml(
        spark,
        "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
        "WHEN MATCHED THEN UPDATE SET val = s.val "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    got2 = sorted(
        (x["k"], x["val"], x["tag"])
        for x in spark.table("mrgc_t2").collect()
    )
    assert got2 == [
        (0, 0, "old"), (1, 10, "old"), (2, 14, "old"),
        (3, 21, None), (4, 28, None),
    ]

    # NOT MATCHED BY SOURCE THEN UPDATE SET (r15, completing the Delta
    # clause matrix): t-only references, first-match-wins vs NBS DELETE
    spark.range(2, 4).select(F.col("id").alias("k")).createOrReplaceTempView(
        "mrgc_src3"
    )
    cat.resolve_dml(
        spark,
        "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src3) ON k "
        "WHEN NOT MATCHED BY SOURCE AND t.k = 0 "
        "THEN UPDATE SET tag = 'stale' "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    got3 = sorted(
        (x["k"], x["val"], x["tag"])
        for x in spark.table("mrgc_t2").collect()
    )
    assert got3 == [(0, 0, "stale"), (2, 14, "old"), (3, 21, None)]

    # refusals
    with _pytest.raises(ValueError, match="merge key"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
            "WHEN MATCHED THEN UPDATE SET k = s.k + 1",
        )
    with _pytest.raises(ValueError, match="unrecognized MERGE clause"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
            "WHEN MATCHED THEN UPSERT",
        )
    with _pytest.raises(ValueError, match="arity"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
            "WHEN NOT MATCHED THEN INSERT (k, val) VALUES (s.k)",
        )
    with _pytest.raises(ValueError, match="unknown columns"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
            "WHEN NOT MATCHED THEN INSERT (nope) VALUES (s.k)",
        )
    # review r15: a typo'd SET column refuses instead of silently
    # rewriting the matched rows unchanged
    with _pytest.raises(ValueError, match="UPDATE SET names unknown"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t2 USING (SELECT * FROM mrgc_src2) ON k "
            "WHEN MATCHED THEN UPDATE SET valu = s.val",
        )
    # partial-key duplicates: a condition that splits one key's rows
    root3 = str(tmp_path / "t3")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, 10), (1, 20), (2, 5)], "k long, val long"
        ),
        root3,
        "overwrite",
    )
    cat.register_snapshot_table(spark, "mrgc_t3", root3)
    with _pytest.raises(ValueError, match="key-granular"):
        cat.resolve_dml(
            spark,
            "MERGE INTO mrgc_t3 USING (SELECT 1 AS k) ON k "
            "WHEN MATCHED AND t.val = 10 THEN DELETE",
        )
    _assert_merge_refusal_left_no_trace(root3)
    # the same on a composite key, through the verb itself
    root4 = str(tmp_path / "t4")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, "x", 10), (1, "x", 20), (1, "y", 30), (2, "x", 5)],
            "a long, b string, val long",
        ),
        root4,
        "overwrite",
    )
    with _pytest.raises(ValueError, match=r"1 of 2 rows for key \(1, 'x'\)"):
        tf.snapshot_merge_clauses(
            spark,
            root4,
            spark.createDataFrame([(1, "x"), (1, "y")], "a long, b string"),
            ["a", "b"],
            [{"kind": "delete", "cond": "t.val IN (10, 30)"}],
        )
    _assert_merge_refusal_left_no_trace(root4)
    # whole-key clauses on duplicate-key targets still work
    cat.resolve_dml(
        spark,
        "MERGE INTO mrgc_t3 USING (SELECT 1 AS k) ON k "
        "WHEN MATCHED THEN DELETE",
    )
    assert [
        (x["k"], x["val"]) for x in spark.table("mrgc_t3").collect()
    ] == [(2, 5)]


def test_snapshot_merge_clauses_refuses_audit_column_names(spark, tmp_path):
    """A target or source column named like a clause-merge audit column
    (``__n_tot``, ``__clause``, ``__mrgk_*``) is refused by name instead of
    silently shadowing the audit column in clause SQL."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    upd = [{"kind": "update", "cond": None, "sets": {"v": "s.v"}}]

    def mk(extra: str | None = None):
        df = spark.range(0, 5).select(F.col("id").alias("k"), F.col("id").alias("v"))
        return df.withColumn(extra, F.lit(1)) if extra else df

    for name in ("__n_tot", "__clause", "__mrgk_0"):
        root = str(tmp_path / f"t{name}")
        tf.snapshot_write(spark, mk(name), root, "overwrite")
        with _pytest.raises(ValueError, match=f"target column.*'{name}'"):
            tf.snapshot_merge_clauses(spark, root, mk(), "k", upd)
        assert tf.latest_version(root) == 1
    root = str(tmp_path / "src")
    tf.snapshot_write(spark, mk(), root, "overwrite")
    with _pytest.raises(ValueError, match="source column.*'__mrgk_1'"):
        tf.snapshot_merge_clauses(spark, root, mk("__mrgk_1"), "k", upd)
    assert not [d for d in os.listdir(root) if d.startswith("tmpmerge-")]


def test_create_table_refuses_shadowing_existing_view(spark, sf_dir, tmp_path):
    """ADVICE r13: CREATE TABLE ... LOCATION used createOrReplaceTempView
    with no collision check, so `CREATE TABLE events ...` silently
    shadowed the built-in `events` fixture for every later query in the
    session. It must refuse; re-creating a name this module itself
    registered stays allowed (its target-empty check still applies)."""
    import pytest as _pytest

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    cat.load_tables(spark, sf_dir, register_views=True)
    before_cols = spark.table("events").columns
    root = str(tmp_path / "shadow")
    with _pytest.raises(ValueError, match="already names a registered view"):
        cat.resolve_dml(
            spark, f"CREATE TABLE events LOCATION '{root}' AS SELECT 1 AS x"
        )
    assert spark.table("events").columns == before_cols  # not shadowed
    assert tf.latest_version(root) == 0  # nothing written either

    # a snapshot-registered name may be re-created at a fresh location
    r1 = str(tmp_path / "ct1")
    cat.resolve_dml(
        spark, f"CREATE TABLE r14_ct LOCATION '{r1}' AS SELECT 1 AS x"
    )
    r2 = str(tmp_path / "ct2")
    out = cat.resolve_dml(
        spark, f"CREATE TABLE r14_ct LOCATION '{r2}' AS SELECT 2 AS x"
    ).collect()[0]
    assert out["operation"] == "create"
    assert spark.table("r14_ct").collect()[0]["x"] == 2


def test_snapshot_add_column_and_sql_ddl(spark, sf_dir, tmp_path):
    """r14 DDL surface: snapshot_add_column is metadata-only (no data
    files touched), readers NULL-fill pre-evolution files, later
    writers populate; refusals for dup column, bad type, bad name,
    legacy schema-less lineage; ALTER TABLE verbs drive it (and the
    constraint ops) from SQL with view re-registration."""
    import glob

    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(F.col("id").alias("a")),
        root,
        mode="overwrite",
    )
    files_before = sorted(glob.glob(root + "/data/**/*.parquet", recursive=True))
    v = tf.snapshot_add_column(spark, root, "b", "decimal(12,2)")
    assert v == 2
    # metadata-only: the exact same data files, NULL-filled new column
    assert sorted(glob.glob(root + "/data/**/*.parquet", recursive=True)) == files_before
    got = tf.snapshot_read(spark, root)
    assert got.schema["b"].dataType.simpleString() == "decimal(12,2)"
    assert got.filter(F.col("b").isNull()).count() == 10
    # a later writer populates it; old files still NULL-fill
    tf.snapshot_write(
        spark,
        spark.range(10, 12).select(
            F.col("id").alias("a"), F.lit(1.5).cast("decimal(12,2)").alias("b")
        ),
        root,
        mode="append",
    )
    got = tf.snapshot_read(spark, root)
    assert got.count() == 12 and got.filter("b IS NOT NULL").count() == 2

    with _pytest.raises(ValueError, match="already exists"):
        tf.snapshot_add_column(spark, root, "b", "double")
    with _pytest.raises(ValueError, match="bad column type"):
        tf.snapshot_add_column(spark, root, "c", "not_a_type")
    with _pytest.raises(ValueError, match="bad column name"):
        tf.snapshot_add_column(spark, root, "c;drop", "double")

    # SQL verbs: ADD COLUMN / ADD CONSTRAINT / DROP CONSTRAINT — one
    # commit each, view re-registered after each
    cat.register_snapshot_table(spark, "ddl_t", root)
    r = cat.resolve_dml(spark, "ALTER TABLE ddl_t ADD COLUMN c string").collect()[0]
    assert r["operation"] == "add_column"
    assert "c" in spark.table("ddl_t").columns
    r = cat.resolve_dml(
        spark, "ALTER TABLE ddl_t ADD CONSTRAINT a_ok CHECK (a >= 0)"
    ).collect()[0]
    assert r["operation"] == "add_constraint"
    assert list(tf.table_constraints(root)) == ["a_ok"]
    with _pytest.raises(tf.ConstraintViolation):
        cat.resolve_dml(spark, "INSERT INTO ddl_t VALUES (-1, NULL, NULL)")
    r = cat.resolve_dml(spark, "ALTER TABLE ddl_t DROP CONSTRAINT a_ok").collect()[0]
    assert r["operation"] == "drop_constraint"
    assert tf.table_constraints(root) == {}
    # ADVICE r14: parenthesized types through the SQL surface — the old
    # single regex's optional `\)?` stripped the closing paren of
    # decimal(10,2), so DataType.fromDDL rejected a valid statement
    r = cat.resolve_dml(
        spark, "ALTER TABLE ddl_t ADD COLUMN d decimal(10,2)"
    ).collect()[0]
    assert r["operation"] == "add_column"
    assert (
        spark.table("ddl_t").schema["d"].dataType.simpleString()
        == "decimal(10,2)"
    )
    r = cat.resolve_dml(
        spark, "ALTER TABLE ddl_t ADD COLUMNS (e decimal(7,3));"
    ).collect()[0]
    assert r["operation"] == "add_column"
    assert (
        spark.table("ddl_t").schema["e"].dataType.simpleString()
        == "decimal(7,3)"
    )
    # an unbalanced paren still refuses (fromDDL rejects 'decimal(10,2')
    with _pytest.raises(ValueError, match="bad column type"):
        cat.resolve_dml(
            spark, "ALTER TABLE ddl_t ADD COLUMN f decimal(10,2"
        )
    # non-registered names fall through (Spark raises its own error)
    assert cat.resolve_dml(spark, "ALTER TABLE nosuch ADD COLUMN x int") is None


def test_materialized_view_verb(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 item 8): CREATE/REFRESH MATERIALIZED VIEW.
    Pins: differential refresh equals a full recompute byte-for-byte
    (decimal accumulation); groups whose rows all vanish DROP; refresh
    is a no-op at the reflected version; overwrite in the CDC range
    falls back to recompute (same answer); refusals (no COUNT(*),
    unregistered source, name collision, non-additive aggregate)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    rows = [(i, "g%d" % (i % 3), float(i)) for i in range(30)]
    tf.snapshot_write(
        spark,
        spark.createDataFrame(rows, "k long, g string, v double"),
        src,
        "overwrite",
    )
    cat.register_snapshot_table(spark, "mv_src", src)
    r = cat.resolve_dml(
        spark,
        f"CREATE MATERIALIZED VIEW mv_v LOCATION '{view}' AS "
        "SELECT g, COUNT(*) AS n, SUM(v) AS s FROM mv_src GROUP BY g",
    ).collect()[0]
    assert r["operation"] == "create_matview" and r["version"] == 1

    def recompute():
        return sorted(
            (x["g"], x["n"], float(x["s"]))
            for x in tf.snapshot_read(spark, src)
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("v").cast("decimal(28,6)")).alias("s"),
            )
            .collect()
        )

    def stored():
        return sorted(
            (x["g"], x["n"], float(x["s"]))
            for x in spark.table("mv_v").collect()
        )

    assert stored() == recompute()
    # append + delete ALL of group g2 + merge, then one refresh
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(100, "g0", 7.0), (101, "g1", 8.0)], "k long, g string, v double"
        ),
        src,
        "append",
    )
    tf.snapshot_delete(
        spark,
        src,
        spark.createDataFrame(
            [(i,) for i in range(30) if i % 3 == 2], "k long"
        ),
        "k",
    )
    tf.snapshot_merge(
        spark,
        src,
        spark.createDataFrame([(0, "g0", 99.0)], "k long, g string, v double"),
        "k",
    )
    r = cat.resolve_dml(spark, "REFRESH MATERIALIZED VIEW mv_v").collect()[0]
    assert r["operation"] == "refresh_matview" and r["version"] == 2
    got = stored()
    assert got == recompute()
    assert not any(g == "g2" for g, _n, _s in got)  # vanished group drops
    # no-op refresh: same version back, no new commit
    r = cat.resolve_dml(spark, "REFRESH MATERIALIZED VIEW mv_v").collect()[0]
    assert r["version"] == 2 and tf.latest_version(view) == 2
    # overwrite on the source: CDC refuses the range → stated recompute
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, "gX", 5.0)], "k long, g string, v double"),
        src,
        "overwrite",
    )
    cat.resolve_dml(spark, "REFRESH MATERIALIZED VIEW mv_v")
    assert stored() == [("gX", 1, 5.0)] == recompute()
    # review r15: a VACUUMED CDC range (FileNotFoundError, not
    # ValueError) must also fall back to the full recompute instead of
    # permanently breaking REFRESH
    for pair in [(2, "gY", 1.0), (3, "gY", 2.0)]:
        tf.snapshot_write(
            spark,
            spark.createDataFrame([pair], "k long, g string, v double"),
            src,
            "append",
        )
    tf.snapshot_vacuum(src, keep_last=1, min_age_s=0.0)
    cat.resolve_dml(spark, "REFRESH MATERIALIZED VIEW mv_v")
    assert stored() == recompute()
    assert ("gY", 2, 3.0) in stored()

    # refusals
    with _pytest.raises(ValueError, match="COUNT"):
        cat.resolve_dml(
            spark,
            f"CREATE MATERIALIZED VIEW mv_v2 LOCATION "
            f"'{tmp_path / 'v2'}' AS "
            "SELECT g, SUM(v) AS s FROM mv_src GROUP BY g",
        )
    with _pytest.raises(ValueError, match="additive"):
        cat.resolve_dml(
            spark,
            f"CREATE MATERIALIZED VIEW mv_v3 LOCATION "
            f"'{tmp_path / 'v3'}' AS "
            "SELECT g, COUNT(*) AS n, MAX(v) AS m FROM mv_src GROUP BY g",
        )
    with _pytest.raises(ValueError, match="registered snapshot table"):
        cat.resolve_dml(
            spark,
            f"CREATE MATERIALIZED VIEW mv_v4 LOCATION "
            f"'{tmp_path / 'v4'}' AS "
            "SELECT event_type, COUNT(*) AS n FROM events "
            "GROUP BY event_type",
        )
    # a FOREIGN name (a view this module did not register) refuses;
    # re-creating a name this module itself registered is fine (the
    # CTAS rule) — the p25 entry depends on that for same-session
    # idempotence
    spark.range(1).createOrReplaceTempView("mv_foreign")
    with _pytest.raises(ValueError, match="already names"):
        cat.resolve_dml(
            spark,
            f"CREATE MATERIALIZED VIEW mv_foreign LOCATION "
            f"'{tmp_path / 'v5'}' AS "
            "SELECT g, COUNT(*) AS n FROM mv_src GROUP BY g",
        )


def test_snapshot_rename_drop_column(spark, sf_dir, tmp_path):
    """r15 (VERDICT r14 item 4): RENAME/DROP COLUMN as metadata-only
    commits with a name mapping. Pins: a rename CHAIN (a→b→c) still
    projects the oldest files' bytes; MOR deletes after a rename read
    mapped preimages; retired names refuse re-introduction through ADD
    COLUMN and through a writer's schema; partition-spec references
    refuse; compact clears the mapping and re-enables everything."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 5).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("a")
        ),
        root,
        "overwrite",
    )  # v1: files carry 'a'
    tf.snapshot_rename_column(spark, root, "a", "b")  # v2
    tf.snapshot_write(
        spark,
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("b")
        ),
        root,
        "append",
    )  # v3: files carry 'b'
    tf.snapshot_rename_column(spark, root, "b", "c")  # v4
    got = sorted(
        (r["k"], r["c"]) for r in tf.snapshot_read(spark, root).collect()
    )
    assert got == [(i, i * 10) for i in range(8)]  # both alias hops map
    m = tf._read_manifest(root, tf.latest_version(root))
    assert m["column_renames"] == {"c": ["a", "b"]}
    # time travel reads each version under ITS schema and mapping
    assert tf.snapshot_read(spark, root, 1).columns == ["k", "a"]
    assert sorted(
        (r["k"], r["b"]) for r in tf.snapshot_read(spark, root, 3).collect()
    ) == [(i, i * 10) for i in range(8)]

    # MOR delete after the renames: preimage of v1-file rows maps to 'c'
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(1,), (6,)], "k long"), "k"
    )  # v5
    got = sorted(
        (r["k"], r["c"]) for r in tf.snapshot_read(spark, root).collect()
    )
    assert got == [(i, i * 10) for i in (0, 2, 3, 4, 5, 7)]
    cdc = sorted(
        (r["k"], r["c"], r["_change_type"])
        for r in tf.snapshot_row_changes(spark, root, 4, 5).collect()
    )
    assert cdc == [(1, 10, "delete"), (6, 60, "delete")]

    # a writer re-introducing a retired name is refused at commit
    with _pytest.raises(ValueError, match="retired"):
        tf.snapshot_write(
            spark,
            spark.range(8, 9).select(
                F.col("id").alias("k"),
                (F.col("id") * 10).alias("c"),
                F.lit(1.0).alias("a"),
            ),
            root,
            "append",
        )
    with _pytest.raises(ValueError, match="retired"):
        tf.snapshot_add_column(spark, root, "b", "double")
    # DROP, then the dropped name also refuses
    tf.snapshot_drop_column(spark, root, "c")  # retires c (+a, b already)
    assert tf.snapshot_read(spark, root).columns == ["k"]
    with _pytest.raises(ValueError, match="retired"):
        tf.snapshot_add_column(spark, root, "c", "double")
    with _pytest.raises(ValueError, match="only column"):
        tf.snapshot_drop_column(spark, root, "k")

    # compact rewrites to the current schema and clears the mapping
    tf.snapshot_compact(spark, root)
    m = tf._read_manifest(root, tf.latest_version(root))
    assert not m.get("column_renames") and not m.get("retired_columns")
    tf.snapshot_add_column(spark, root, "c", "double")  # now fine

    # review r15: renaming BACK to a prior name works — the target must
    # not become its own alias (old files carrying it natively hold the
    # correct data), and no retired-name refusal applies to the hop
    rootb = str(tmp_path / "back")
    tf.snapshot_write(
        spark,
        spark.range(0, 3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("a")
        ),
        rootb,
        "overwrite",
    )
    tf.snapshot_rename_column(spark, rootb, "a", "b")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(3, 30)], "k long, b long"),
        rootb,
        "append",
    )
    tf.snapshot_rename_column(spark, rootb, "b", "a")  # back
    got = sorted(
        (r["k"], r["a"]) for r in tf.snapshot_read(spark, rootb).collect()
    )
    assert got == [(i, i * 10) for i in range(4)]
    mb = tf._read_manifest(rootb, tf.latest_version(rootb))
    assert mb["column_renames"] == {"a": ["b"]}

    # review r15: CDC across a rename whose mapping a LATER COMPACT
    # cleared still projects old names (union mapping over the range)
    rootc = str(tmp_path / "cdc_compact")
    tf.snapshot_write(
        spark,
        spark.range(0, 3).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("note")
        ),
        rootc,
        "overwrite",
    )  # v1
    tf.snapshot_rename_column(spark, rootc, "note", "comment")  # v2
    tf.snapshot_compact(spark, rootc)  # v3: mapping cleared at head
    cdc = sorted(
        (r["k"], r["comment"], r["_change_type"])
        for r in tf.snapshot_row_changes(spark, rootc, 0, 3).collect()
    )
    assert cdc == [(i, i * 10, "insert") for i in range(3)]  # not NULLs
    # a name REUSED for a different logical column inside the range
    # refuses (old bytes under it belong to the old column)
    tf.snapshot_add_column(spark, rootc, "note", "double")  # v4: reuse
    with _pytest.raises(ValueError, match="re-introduced"):
        tf.snapshot_row_changes(spark, rootc, 0, 4)
    # a range AFTER the reuse is fine
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(9, 90, 1.5)], "k long, comment long, note double"
        ),
        rootc,
        "append",
    )  # v5
    got5 = [
        (r["k"], r["note"], r["_change_type"])
        for r in tf.snapshot_row_changes(spark, rootc, 4, 5).collect()
    ]
    assert got5 == [(9, 1.5, "insert")]

    # partition-spec reference refuses
    root2 = str(tmp_path / "part")
    tf.snapshot_write(
        spark,
        spark.range(0, 4).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ),
        root2,
        "overwrite",
        partition_by=["p"],
    )
    with _pytest.raises(ValueError, match="partition transform"):
        tf.snapshot_rename_column(spark, root2, "p", "q")
    with _pytest.raises(ValueError, match="partition transform"):
        tf.snapshot_drop_column(spark, root2, "p")


def test_branch_sql_read(spark, sf_dir, tmp_path):
    """r14: `tbl VERSION AS OF 'branch:<name>'` reads the WAP branch
    HEAD (re-resolved per query — heads move); main view unaffected;
    unknown branch raises; tag resolution still works beside it."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(F.col("id").alias("a")),
        root,
        mode="overwrite",
    )
    tf.snapshot_tag(root, "genesis")
    cat.register_snapshot_table(spark, "br_t", root)
    tf.snapshot_branch(root, "stage")
    tf.snapshot_write(
        spark,
        spark.range(10, 15).select(F.col("id").alias("a")),
        root,
        mode="append",
        branch="stage",
    )

    def q(sql):
        return spark.sql(cat.resolve_time_travel(spark, sql)).collect()[0]["n"]

    assert q("SELECT COUNT(*) AS n FROM br_t VERSION AS OF 'branch:stage'") == 15
    assert q("SELECT COUNT(*) AS n FROM br_t") == 10  # main untouched
    assert q("SELECT COUNT(*) AS n FROM br_t VERSION AS OF 'genesis'") == 10
    # the branch head MOVES: a second staged write is visible next query
    tf.snapshot_write(
        spark,
        spark.range(15, 17).select(F.col("id").alias("a")),
        root,
        mode="append",
        branch="stage",
    )
    assert q("SELECT COUNT(*) AS n FROM br_t VERSION AS OF 'branch:stage'") == 17
    with _pytest.raises(Exception):
        q("SELECT COUNT(*) AS n FROM br_t VERSION AS OF 'branch:nosuch'")


def test_snapshot_row_changes(spark, sf_dir, tmp_path):
    """r14 row-level CDC: per-commit state diff emits Delta-CDF-style
    row events across append/delete/update/merge; compact emits
    nothing; overwrite refuses; output schema = to_version's (earlier
    rows NULL-fill later columns)."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

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
    tf.snapshot_update_where(
        spark, root, "a >= 12", {"val": "val + 1000"}
    )  # v4
    tf.snapshot_merge(
        spark,
        root,
        spark.createDataFrame([(5, -5), (20, -20)], "a long, val long"),
        "a",
    )  # v5

    got = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 1, 5).collect()
    }
    want = (
        {(a, a * 10, "insert", 2) for a in range(10, 15)}
        | {(a, a * 10, "delete", 3) for a in (0, 1)}
        | {(a, a * 10, "update_preimage", 4) for a in (12, 13, 14)}
        | {(a, a * 10 + 1000, "update_postimage", 4) for a in (12, 13, 14)}
        | {(5, 50, "update_preimage", 5), (5, -5, "update_postimage", 5)}
        | {(20, -20, "insert", 5)}
    )
    assert got == want

    # compact: zero events, feed crosses it
    tf.snapshot_compact(spark, root)  # v6
    got6 = {
        (r["a"], r["val"], r["_change_type"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 1, 6).collect()
    }
    assert got6 == want
    # a sub-range works too (only the merge)
    got5 = {
        (r["a"], r["_change_type"])
        for r in tf.snapshot_row_changes(spark, root, 4, 5).collect()
    }
    assert got5 == {
        (5, "update_preimage"), (5, "update_postimage"), (20, "insert")
    }

    # overwrite refuses
    tf.snapshot_write(spark, ids(0, 3), root, "overwrite")  # v7
    with _pytest.raises(ValueError, match="row provenance"):
        tf.snapshot_row_changes(spark, root, 1, 7)

    # add-column after: earlier events NULL-fill the new column
    tf.snapshot_add_column(spark, root, "extra", "string")  # v8
    tf.snapshot_write(
        spark,
        spark.range(3, 5).select(
            F.col("id").alias("a"),
            (F.col("id") * 10).alias("val"),
            F.lit("x").alias("extra"),
        ),
        root,
        "append",
    )  # v9
    rows = tf.snapshot_row_changes(spark, root, 7, 9)
    assert set(rows.columns) == {
        "a", "val", "extra", "_change_type", "_commit_version"
    }
    got9 = {
        (r["a"], r["extra"], r["_change_type"]) for r in rows.collect()
    }
    assert got9 == {(3, "x", "insert"), (4, "x", "insert")}


def test_snapshot_table_cbo_join_reorder(spark, sf_dir, tmp_path):
    """r14 (VERDICT item 6): a snapshot table registered through
    register_snapshot_table_cbo carries CATALOG stats, so the hint-free
    q5-shaped join with the SNAPSHOT table as the fact leaf is
    reordered dim-first by CostBasedJoinReorder — the c1d assertion,
    new table kind. Also pins: row count matches the snapshot (not the
    union of all versions' files), the registration is version-pinned
    (a later commit changes nothing until re-register), and MOR delete
    state materializes instead of leaking deleted rows."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.catalog import (
        bootstrap_cbo_tables,
        cbo_conf,
        register_snapshot_table_cbo,
        table_stats,
    )
    from s3_kinesis_replay_spark.catalog import table as cat_table
    from s3_kinesis_replay_spark.operators import table_format as tf

    bootstrap_cbo_tables(spark, sf_dir)
    root = str(tmp_path / "fact")
    li = cat_table(spark, "lineitem", sf_dir)
    n_li = li.count()
    # two commits so the live file set != one directory's history
    tf.snapshot_write(
        spark, li.filter(F.col("l_orderkey") % 2 == 0), root, "overwrite"
    )
    tf.snapshot_write(
        spark, li.filter(F.col("l_orderkey") % 2 == 1), root, "append"
    )
    size, rows = register_snapshot_table_cbo(spark, "li_snap_cbo", root)
    assert rows == n_li and size and size > 0

    sql = """
        SELECT n_name, COUNT(*) AS cnt
        FROM li_snap_cbo l
        JOIN orders_cbo o ON l.l_orderkey = o.o_orderkey
        JOIN customer_cbo c ON o.o_custkey = c.c_custkey
        JOIN supplier_cbo s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
        JOIN nation_cbo n ON s.s_nationkey = n.n_nationkey
        JOIN region_cbo r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
    """

    def relation_order(enabled):
        with cbo_conf(spark, enabled):
            df = spark.sql(sql)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            rows_ = sorted(df.collect())
        names = ("li_snap_cbo", "nation_cbo", "region_cbo")
        return {n: plan.index(n) for n in names}, rows_

    cbo_pos, cbo_rows = relation_order(True)
    off_pos, off_rows = relation_order(False)
    assert cbo_rows == off_rows and cbo_rows
    # CBO off: written order — the snapshot fact is the deepest leaf
    assert off_pos["li_snap_cbo"] < off_pos["nation_cbo"]
    # CBO on: stats invert the tree — dims build first, fact probes
    assert cbo_pos["nation_cbo"] < cbo_pos["li_snap_cbo"]
    assert cbo_pos["region_cbo"] < cbo_pos["li_snap_cbo"]

    # version-pinned: a later commit does not change the catalog table
    tf.snapshot_write(
        spark, li.limit(100), root, "append"
    )
    assert spark.table("li_snap_cbo").count() == n_li
    _, rows_stale = table_stats(spark, "li_snap_cbo")
    assert rows_stale == n_li  # immutable pin, never silently stale
    # re-register → new pin picks up the commit + fresh stats
    _, rows_new = register_snapshot_table_cbo(spark, "li_snap_cbo", root)
    assert rows_new == n_li + 100
    assert spark.table("li_snap_cbo").count() == n_li + 100

    # ADVICE r14: the superseded _cbo/v2 pin is reaped on
    # re-registration (nothing else points at it) — only the live pin
    # remains, so repeated re-registration cannot accumulate a data
    # copy per version
    import os as _os
    import re as _re

    def pins():
        return sorted(
            d
            for d in _os.listdir(_os.path.join(root, "_cbo"))
            if _re.fullmatch(r"v\d+", d)
        )

    assert pins() == ["v3"]
    # a SECOND name pinning the same root at another version is LIVE —
    # a later re-registration of the first name must not reap it
    register_snapshot_table_cbo(spark, "li_snap_cbo_old", root, version=2)
    register_snapshot_table_cbo(spark, "li_snap_cbo", root)
    assert pins() == ["v2", "v3"]

    # MOR delete state: materialized view, deleted rows NOT leaked
    root2 = str(tmp_path / "mor")
    tf.snapshot_write(
        spark,
        spark.range(0, 100).select(F.col("id").alias("k")),
        root2,
        "overwrite",
    )
    tf.snapshot_delete(
        spark, root2, spark.range(0, 30).select(F.col("id").alias("k")), "k"
    )
    _, rows_mor = register_snapshot_table_cbo(spark, "mor_cbo", root2)
    assert rows_mor == 70
    assert spark.table("mor_cbo").count() == 70


def test_sql_maintenance_and_cdc_verbs(spark, sf_dir, tmp_path):
    """r14 SQL surface completion: DESCRIBE HISTORY, TABLE_CHANGES
    (Delta's CDC TVF), VACUUM [RETAIN n VERSIONS], OPTIMIZE ZORDER BY /
    CLUSTER BY — all through resolve_dml over a registered snapshot
    table; non-registered names fall through untouched."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )
    tf.snapshot_write(spark, df.filter("a < 50"), root, "overwrite")  # v1
    tf.snapshot_write(spark, df.filter("a >= 50"), root, "append")  # v2
    tf.snapshot_delete(
        spark, root, spark.range(0, 10).select(F.col("id").alias("a")), "a"
    )  # v3
    cat.register_snapshot_table(spark, "mt", root)

    hist = cat.resolve_dml(spark, "DESCRIBE HISTORY mt")
    ops = [r["operation"] for r in hist.collect()]
    assert ops == ["overwrite", "append", "delete"]

    ch = cat.resolve_dml(spark, "SELECT * FROM TABLE_CHANGES(mt, 1, 3)")
    got = {(r["a"], r["_change_type"], r["_commit_version"]) for r in ch.collect()}
    assert {(a, "insert", 2) for a in range(50, 100)} <= got
    assert {(a, "delete", 3) for a in range(0, 10)} <= got
    assert len(got) == 60

    r = cat.resolve_dml(spark, "OPTIMIZE mt CLUSTER BY (a)").collect()[0]
    assert r["operation"] == "optimize" and r["version"] == 4
    assert spark.table("mt").count() == 90  # re-registered view

    vac = cat.resolve_dml(spark, "VACUUM mt RETAIN 1 VERSIONS").collect()[0]
    assert vac["dropped_versions"] == 3
    assert tf.versions(root) == [4]
    assert tf.snapshot_read(spark, root).count() == 90

    # ZORDER form needs exactly two columns
    tf.snapshot_write(spark, df.filter("a < 50"), root, "append")  # v5
    r = cat.resolve_dml(spark, "OPTIMIZE mt ZORDER BY (a, b)").collect()[0]
    assert r["operation"] == "optimize"

    # non-registered names fall through (None)
    assert cat.resolve_dml(spark, "DESCRIBE HISTORY nosuch") is None
    assert cat.resolve_dml(spark, "VACUUM nosuch") is None
    assert (
        cat.resolve_dml(spark, "SELECT * FROM TABLE_CHANGES(nosuch, 1, 2)")
        is None
    )


def test_snapshot_files_metadata_table(spark, sf_dir, tmp_path):
    """r14 files metadata table: one row per LIVE data file with
    seq/bytes/partition/stats, pure metadata; SQL TVF + version pin;
    compaction shrinks the listing; partitioned entries carry their
    Hive values."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        F.col("id").alias("a"), (F.col("id") % 4).alias("p")
    )
    tf.snapshot_write(spark, df, root, "overwrite", partition_by=["p"])  # v1
    tf.snapshot_write(
        spark,
        spark.range(100, 110).select(
            F.col("id").alias("a"), (F.col("id") % 4).alias("p")
        ),
        root,
        "append",
        partition_by=["p"],
    )  # v2

    files = tf.snapshot_files(spark, root).collect()
    assert len(files) >= 2
    live = {e["path"] for e in tf._entries(tf._read_manifest(root, 2), root)}
    assert {r["path"] for r in files} == live
    for r in files:
        assert r["seq"] in (1, 2)
        assert r["bytes"] and r["bytes"] > 0
        assert _os.path.getsize(_os.path.join(root, r["path"])) == r["bytes"]
        assert _json.loads(r["partition"])["p"] in {"0", "1", "2", "3"}

    # version pin: v1's listing is smaller and all seq 1
    f1 = tf.snapshot_files(spark, root, 1).collect()
    assert len(f1) < len(files)
    assert all(r["seq"] == 1 for r in f1)

    # SQL TVF, with and without the version arg
    cat.register_snapshot_table(spark, "ft", root)
    n_sql = cat.resolve_dml(spark, "SELECT * FROM TABLE_FILES(ft)").count()
    assert n_sql == len(files)
    assert (
        cat.resolve_dml(spark, "SELECT * FROM TABLE_FILES(ft, 1)").count()
        == len(f1)
    )
    assert cat.resolve_dml(spark, "SELECT * FROM TABLE_FILES(nope)") is None

    # unpartitioned table: stats JSON present, partition NULL
    root2 = str(tmp_path / "flat")
    tf.snapshot_write(
        spark, spark.range(0, 50).select(F.col("id").alias("a")), root2,
        "overwrite",
    )
    r0 = tf.snapshot_files(spark, root2).collect()[0]
    assert r0["partition"] is None
    assert _json.loads(r0["stats"])["a"] == [0, 49] or "a" in _json.loads(r0["stats"])


def test_snapshot_row_changes_from_genesis(spark, sf_dir, tmp_path):
    """r14 review: from_version=0 means 'from genesis' — the empty
    predecessor makes v1 (even a genesis OVERWRITE) pure inserts; a
    later overwrite still refuses."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 5).select(F.col("id").alias("a")),
        root,
        "overwrite",
    )  # v1 (genesis overwrite)
    tf.snapshot_write(
        spark,
        spark.range(5, 8).select(F.col("id").alias("a")),
        root,
        "append",
    )  # v2
    got = {
        (r["a"], r["_change_type"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 0, 2).collect()
    }
    assert got == {(a, "insert", 1) for a in range(5)} | {
        (a, "insert", 2) for a in range(5, 8)
    }
    tf.snapshot_write(
        spark,
        spark.range(0, 3).select(F.col("id").alias("a")),
        root,
        "overwrite",
    )  # v3: REAL overwrite (non-empty predecessor) still refuses
    with _pytest.raises(ValueError, match="row provenance"):
        tf.snapshot_row_changes(spark, root, 0, 3)


def test_describe_detail_and_cbo_residue_heal(spark, sf_dir, tmp_path):
    """r14 polish: DESCRIBE DETAIL returns the one-row table summary;
    a crashed (marker-less) CBO view dir is healed by rebuild instead
    of refusing forever."""
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "tbl")
    tf.snapshot_write(
        spark,
        spark.range(0, 40).select(F.col("id").alias("a")),
        root,
        "overwrite",
    )
    tf.snapshot_delete(
        spark, root, spark.range(0, 4).select(F.col("id").alias("a")), "a"
    )
    tf.snapshot_set_constraint(spark, root, "a_ok", "a >= 0")
    cat.register_snapshot_table(spark, "dd", root)
    r = cat.resolve_dml(spark, "DESCRIBE DETAIL dd").collect()[0]
    assert r["version"] == 3 and r["last_operation"] == "set_constraint"
    assert r["num_files"] >= 1 and r["size_bytes"] > 0
    assert r["num_delete_files"] >= 1
    assert "a_ok" in r["constraints"]
    assert cat.resolve_dml(spark, "DESCRIBE DETAIL nosuch") is None

    # CBO residue heal: fake a crashed build (dir without marker)
    residue = _os.path.join(root, "_cbo", "v3")
    _os.makedirs(residue)
    open(_os.path.join(residue, "half-written.parquet"), "w").write("junk")
    _, rows = cat.register_snapshot_table_cbo(spark, "dd_cbo", root)
    assert rows == 36  # rebuilt + ANALYZEd through the MOR read
    _shutil.rmtree(_os.path.join(root, "_cbo"), ignore_errors=True)


def test_r16_advice_fixes(spark, tmp_path):
    """Regression pins for the round-15 ADVICE findings. (1) An EMPTY
    merge source (legitimate no-op upsert, or an NBS-only statement)
    completes instead of dying on 'unable to infer schema' — and NBS
    clauses still see every target row as not-matched-by-source.
    (2) A kidx build failure on ONE file (key column absent) skips that
    file only, not every file in the commit; an unsigned-64 key above
    2^63 hashes consistently instead of crashing the commit.
    (3) matview_refresh's full-recompute fallback fires ONLY on the
    dedicated CdcRangeError (+ vacuumed manifests), records why in the
    commit manifest, and no longer swallows arbitrary ValueError."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    # (1) empty-source clause merge
    root = str(tmp_path / "t_empty_src")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        root,
        "overwrite",
    )
    empty = spark.range(0, 10).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    ).where(F.lit(False))
    v = tf.snapshot_merge_clauses(
        spark, root, empty, "k",
        [{"kind": "update", "cond": None, "sets": {"v": "s.v"}},
         {"kind": "insert", "cond": None, "cols": None, "values": None}],
    )
    assert tf.snapshot_read(spark, root, v).count() == 10  # no-op upsert
    v = tf.snapshot_merge_clauses(
        spark, root, empty, "k",
        [{"kind": "nbs_delete", "cond": "t.k >= 8"}],
    )
    assert sorted(
        r["k"] for r in tf.snapshot_read(spark, root, v).collect()
    ) == list(range(8))

    # (2a) kidx: key column missing in ONE file must not abandon the rest
    root2 = str(tmp_path / "t_kidx")
    os_join = __import__("os").path.join
    tf.snapshot_write(
        spark,
        spark.range(0, 5).select(F.col("id").alias("k")),
        root2,
        "overwrite",
    )
    d = os_join(root2, "data")
    pq.write_table(pa.table({"other": [1, 2]}), os_join(d, "x_nokey.parquet"))
    pq.write_table(pa.table({"k": [7, 8]}), os_join(d, "x_haskey.parquet"))
    out = tf._write_key_indexes(
        root2, ["data/x_nokey.parquet", "data/x_haskey.parquet"], "k"
    )
    assert "data/x_haskey.parquet" in out  # pre-r16: {} for BOTH
    assert "data/x_nokey.parquet" not in out
    # (2b) unsigned-64 above 2^63: builds, and the probe-side scalar
    # hash agrees with the write-side wrapped hash
    big = 2**63 + 5
    pq.write_table(
        pa.table({"k": pa.array([big, 1], type=pa.uint64())}),
        os_join(d, "x_u64.parquet"),
    )
    out = tf._write_key_indexes(root2, ["data/x_u64.parquet"], "k")
    assert out["data/x_u64.parquet"]["n"] == 2
    side = np.fromfile(
        os_join(d, "x_u64.parquet.kidx"), dtype="<u8"
    )
    assert tf._key_hash_py(big) in set(int(x) for x in side)

    # (3) matview fallback: differential refresh records its mode...
    src = str(tmp_path / "mv_src")
    tf.snapshot_write(
        spark,
        spark.range(0, 20).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "overwrite",
    )
    view = str(tmp_path / "mv_view")
    tf.matview_create(
        spark, src, view,
        group_cols=["g"],
        aggs=[{"fn": "count", "expr": None, "alias": "n"},
              {"fn": "sum", "expr": "x", "alias": "sx"}],
    )
    tf.snapshot_write(
        spark,
        spark.range(20, 30).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "append",
    )
    v = tf.matview_refresh(spark, view)
    m = tf._read_manifest(view, v)
    assert m["refresh_mode"] == "differential"
    # ...an overwrite in the range triggers the RECORDED fallback...
    tf.snapshot_write(
        spark,
        spark.range(0, 12).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "overwrite",
    )
    v = tf.matview_refresh(spark, view)
    m = tf._read_manifest(view, v)
    assert m["refresh_mode"].startswith("full_recompute:CdcRangeError")
    got = {
        r["g"]: (r["n"], float(r["sx"]))
        for r in tf.snapshot_read(spark, view, v).collect()
    }
    assert got == {0: (4, 18.0), 1: (4, 22.0), 2: (4, 26.0)}
    # ...and a GENUINE bug's ValueError is no longer silently converted
    # into a full recompute
    tf.snapshot_write(
        spark,
        spark.range(12, 15).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "append",
    )
    import pytest as _pytest

    orig = tf.snapshot_row_changes

    def boom(*a, **k):
        raise ValueError("genuine differential-path bug")

    tf.snapshot_row_changes = boom
    try:
        with _pytest.raises(ValueError, match="genuine"):
            tf.matview_refresh(spark, view)
    finally:
        tf.snapshot_row_changes = orig


def test_r16_composite_row_identity(spark, tmp_path):
    """VERDICT r15 item 2: composite (multi-column) row identity across
    delete / merge / clause-merge / read anti-joins / batch row CDC /
    kidx sidecars, with single-column tables keeping the bare-string
    manifest form (ledger-hash stability)."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "ck")
    base = spark.range(0, 100).select(
        (F.col("id") % 4).alias("r"), F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"))
    tf.snapshot_write(spark, base, root, "overwrite")  # v1

    # composite delete suppresses exactly the named tuples
    dk = spark.createDataFrame([(0, 0), (1, 1), (2, 2)], "r long, k long")
    v = tf.snapshot_delete(spark, root, dk, ["r", "k"])
    got = tf.snapshot_read(spark, root, v)
    assert got.count() == 97
    assert got.where("k in (0,1,2)").count() == 0
    # the manifest stores the ordered LIST; mixed identities refuse
    assert tf._read_manifest(root, v)["delete_key"] == ["r", "k"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="one row identity"):
        tf.snapshot_delete(
            spark, root, spark.createDataFrame([(5,)], "k long"), "k"
        )
    with _pytest.raises(ValueError, match="one row identity"):
        tf.snapshot_delete(
            spark, root, spark.createDataFrame([(0, 5)], "k long, r long"),
            ["k", "r"],  # same columns, DIFFERENT order: refused
        )

    # composite upsert merge: replace (3,3), insert (0,400)
    src = spark.createDataFrame(
        [(3, 3, 999), (0, 400, 4000)], "r long, k long, v long"
    )
    v = tf.snapshot_merge(spark, root, src, ["r", "k"])
    rows = {
        (x["r"], x["k"]): x["v"]
        for x in tf.snapshot_read(spark, root, v).collect()
    }
    assert rows[(3, 3)] == 999 and rows[(0, 400)] == 4000
    assert len(rows) == 98

    # SQL clause merge over a composite ON conjunction
    cat.register_snapshot_table(spark, "ck16", root)
    cat.resolve_dml(spark, """
        MERGE INTO ck16 USING (
          SELECT 3 AS r, 3 AS k, 1 AS bump
          UNION ALL SELECT 2 AS r, 500 AS k, 7 AS bump
        ) ON t.r = s.r AND t.k = s.k
        WHEN MATCHED AND s.bump > 0 THEN UPDATE SET v = t.v + s.bump
        WHEN NOT MATCHED THEN INSERT (r, k, v) VALUES (s.r, s.k, s.bump * 100)
    """)
    rows = {
        (x["r"], x["k"]): x["v"]
        for x in tf.snapshot_read(spark, root).collect()
    }
    assert rows[(3, 3)] == 1000 and rows[(2, 500)] == 700
    assert len(rows) == 99

    # ON-clause grammar refusals: differing names, non-equality
    for bad in ("t.r = s.k", "t.r > s.r", "t.r = s.r OR t.k = s.k"):
        with _pytest.raises(ValueError):
            cat.resolve_dml(
                spark,
                f"MERGE INTO ck16 USING (SELECT 1 AS r, 1 AS k, 1 AS v) "
                f"ON {bad} WHEN MATCHED THEN DELETE",
            )

    # batch row CDC classifies the composite commits
    cdc = tf.snapshot_row_changes(spark, root, 1, tf.latest_version(root))
    cnt = {
        r["_change_type"]: r["n"]
        for r in cdc.groupBy("_change_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert cnt["delete"] == 3
    assert cnt["update_preimage"] == cnt["update_postimage"] == 2
    assert cnt["insert"] == 2

    # kidx sidecars index the TUPLE: write-side numpy fold equals the
    # probe-side scalar fold, and the probe prunes a disjoint key set
    import numpy as np

    m = tf._read_manifest(root, tf.latest_version(root))
    kidx_ents = [e for e in tf._entries(m, root) if e.get("kidx")]
    assert kidx_ents and all(
        e["kidx"]["col"] == ["r", "k"] for e in kidx_ents
    )
    e = kidx_ents[0]
    side = np.fromfile(
        str(tmp_path / "ck" / (e["path"] + ".kidx")), dtype="<u8"
    )
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        str(tmp_path / "ck" / e["path"]), columns=["r", "k"]
    ).drop_null()
    tuples = set(zip(tbl.column("r").to_pylist(), tbl.column("k").to_pylist()))
    for tup in list(tuples)[:5]:
        assert tf._key_tuple_hash_py(tup) in set(int(x) for x in side)
    hit = tf._kidx_may_contain(
        root, e, ["r", "k"], tf._kidx_hash_set(list(tuples)[:2])
    )
    miss = tf._kidx_may_contain(
        root, e, ["r", "k"], tf._kidx_hash_set([(99, 99999)])
    )
    assert hit is True and miss is False
    # column-order mismatch keeps the file a candidate (no false skip)
    assert tf._kidx_may_contain(
        root, e, ["k", "r"], tf._kidx_hash_set([(99, 99999)])
    ) is True

    # single-column tables keep the bare-string wire form
    root2 = str(tmp_path / "single")
    tf.snapshot_write(spark, base.select("k", "v"), root2, "overwrite")
    tf.snapshot_delete(
        spark, root2, spark.createDataFrame([(5,)], "k long"), "k"
    )
    assert tf._read_manifest(root2, 2)["delete_key"] == "k"
    ents2 = [
        e
        for e in tf._entries(tf._read_manifest(root2, 2), root2)
        if e.get("kidx")
    ]
    # v1 predates the identity; no sidecars expected yet — write once
    # more and the append's files index under the string form
    tf.snapshot_write(
        spark,
        spark.range(200, 210).select(
            F.col("id").alias("k"), F.lit(0).cast("bigint").alias("v")
        ),
        root2,
        "append",
    )
    ents2 = [
        e
        for e in tf._entries(tf._read_manifest(root2, 3), root2)
        if e.get("kidx")
    ]
    assert ents2 and all(e["kidx"]["col"] == "k" for e in ents2)

    # rename/drop of ANY key-column member refuses
    with _pytest.raises(ValueError, match="row identity"):
        tf.snapshot_rename_column(spark, root, "k", "kk")


def test_r16_clause_merge_key_disjoint_relink(spark, tmp_path, monkeypatch):
    """VERDICT r15 item 4: a clause merge whose commit conflicts with a
    concurrent KEY-DISJOINT commit re-links and lands without a caller
    re-run (verdicts still exact); overlapping keys and NOT MATCHED BY
    SOURCE statements still refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    def mk(lo, hi, mul=10):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * mul).alias("v")
        )

    upd = [{"kind": "update", "cond": None, "sets": {"v": "t.v + s.v"}},
           {"kind": "insert", "cond": None, "cols": None, "values": None}]

    # (1) disjoint interleaved APPEND: both land, no re-run
    root = str(tmp_path / "dj")
    tf.snapshot_write(spark, mk(0, 50), root, "overwrite")  # v1
    orig_commit = tf._commit
    fired = []

    def commit_with_race(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            tf.snapshot_write(spark, mk(1000, 1010), root, "append")
            monkeypatch.setattr(tf, "_commit", commit_with_race)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_race)
    v = tf.snapshot_merge_clauses(spark, root, mk(10, 20, 1), "k", upd)
    monkeypatch.setattr(tf, "_commit", orig_commit)
    assert fired and v == 3  # append took v2, merge re-linked at v3
    rows = {r["k"]: r["v"] for r in tf.snapshot_read(spark, root).collect()}
    assert len(rows) == 60  # 50 base + 10 appended, updates in place
    assert rows[10] == 110 and rows[1005] == 10050

    # (2) OVERLAPPING interleaved append still refuses
    root2 = str(tmp_path / "ov")
    tf.snapshot_write(spark, mk(0, 50), root2, "overwrite")
    fired.clear()

    def commit_with_overlap(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            tf.snapshot_write(spark, mk(15, 16), root2, "append")
            monkeypatch.setattr(tf, "_commit", commit_with_overlap)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_overlap)
    with _pytest.raises(tf.CommitConflict, match="overlap"):
        tf.snapshot_merge_clauses(spark, root2, mk(10, 20, 1), "k", upd)
    monkeypatch.setattr(tf, "_commit", orig_commit)

    # (3) NBS statement racing ANY row change refuses
    root3 = str(tmp_path / "nbs")
    tf.snapshot_write(spark, mk(0, 50), root3, "overwrite")
    fired.clear()

    def commit_with_race3(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            tf.snapshot_write(spark, mk(2000, 2005), root3, "append")
            monkeypatch.setattr(tf, "_commit", commit_with_race3)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_race3)
    with _pytest.raises(tf.CommitConflict, match="NOT MATCHED BY SOURCE"):
        tf.snapshot_merge_clauses(
            spark, root3, mk(10, 20, 1), "k",
            upd + [{"kind": "nbs_delete", "cond": "t.k >= 45"}],
        )
    monkeypatch.setattr(tf, "_commit", orig_commit)

    # (4) row-preserving interleave (compact) re-links even with NBS
    root4 = str(tmp_path / "cp")
    tf.snapshot_write(spark, mk(0, 50), root4, "overwrite")
    tf.snapshot_delete(
        spark, root4, spark.createDataFrame([(49,)], "k long"), "k"
    )  # v2: give compact something to fold
    fired.clear()

    def commit_with_compact(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            tf.snapshot_compact(spark, root4)
            monkeypatch.setattr(tf, "_commit", commit_with_compact)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_compact)
    v = tf.snapshot_merge_clauses(
        spark, root4, mk(10, 20, 1), "k",
        upd + [{"kind": "nbs_delete", "cond": "t.k >= 45"}],
    )
    monkeypatch.setattr(tf, "_commit", orig_commit)
    rows = {r["k"]: r["v"] for r in tf.snapshot_read(spark, root4).collect()}
    assert rows[10] == 110 and 45 not in rows and 49 not in rows
    assert len(rows) == 45  # 50 - del(49) - nbs(45..48)


def test_r16_type_widening(spark, tmp_path):
    """VERDICT r15 item 5: safe type widening is metadata-only — old
    files cast up under the pinned wider schema; narrow appends stay
    accepted post-widening; narrowing refuses; streams refuse a LIVE
    widening but pass a backlog one."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "w")
    tf.snapshot_write(
        spark,
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("c")
        ),
        root,
        "overwrite",
    )  # v1
    v = tf.snapshot_widen_column(spark, root, "c", "bigint")  # v2
    assert tf._read_manifest(root, v)["operation"] == "widen_column"
    got = tf.snapshot_read(spark, root)
    assert dict(
        (f.name, f.dataType.simpleString()) for f in got.schema.fields
    )["c"] == "bigint"
    assert got.agg(F.sum("c")).collect()[0][0] == 190  # old bytes cast up
    # narrow append still accepted, read wide
    tf.snapshot_write(
        spark,
        spark.range(20, 30).select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("c")
        ),
        root,
        "append",
    )  # v3
    assert tf.snapshot_read(spark, root).agg(F.sum("c")).collect()[0][0] == 435
    # time travel keeps v1's narrow schema
    assert dict(
        (f.name, f.dataType.simpleString())
        for f in tf.snapshot_read(spark, root, 1).schema.fields
    )["c"] == "int"
    # refusals: narrowing, lateral, unknown, float->int
    for col, ty in (("c", "int"), ("c", "float"), ("nope", "bigint")):
        with _pytest.raises(ValueError):
            tf.snapshot_widen_column(spark, root, col, ty)

    # streaming: a BACKLOG widening passes (pinned schema postdates
    # it); a LIVE widening refuses at the next batch
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "-ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 30  # backlog widen passed
    # LIVE widening: a reader whose pinned schema predates the commit
    # refuses at plan time (direct reader probe; a restarted stream
    # re-pins the wide schema and sails through as backlog)
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
    )

    rdr = SnapshotChangesStreamReader(None, {"root": root})
    head = tf.latest_version(root)
    tf.snapshot_add_column(spark, root, "c2", "int")
    tf.snapshot_widen_column(spark, root, "c2", "bigint")
    with _pytest.raises(ValueError, match="widened after this stream"):
        rdr.partitions(
            {"version": head}, {"version": tf.latest_version(root)}
        )


def test_r16_partition_spec_evolution_and_on_commit_matview(
    spark, tmp_path
):
    """VERDICT r15 items 6+7 pins beyond the oracle entries: spec
    evolution refusals + unpartition; on-commit pointer pruning for a
    dropped view."""
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "pe")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g")
    )
    tf.snapshot_write(spark, df, root, "overwrite", partition_by=["g"])
    # unknown column / bad transform refuse
    with _pytest.raises(ValueError, match="unknown column"):
        tf.snapshot_evolve_partition_spec(spark, root, ["bucket(4, zz)"])
    with _pytest.raises(ValueError, match="unrecognized"):
        tf.snapshot_evolve_partition_spec(spark, root, ["months(k)"])
    # evolve to bucket, write under the TABLE spec, then unpartition
    tf.snapshot_evolve_partition_spec(spark, root, ["bucket(4, k)"])
    tf.snapshot_write(
        spark,
        spark.range(40, 60).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("g")
        ),
        root,
        "append",
        partition_by="table",
    )
    m = tf._read_manifest(root, tf.latest_version(root))
    ents = tf._entries(m, root)
    assert any("bucket(4, k)" in (e.get("partition") or {}) for e in ents)
    assert any("g" in (e.get("partition") or {}) for e in ents)
    assert tf.snapshot_read(spark, root).count() == 60
    tf.snapshot_evolve_partition_spec(spark, root, None)
    tf.snapshot_write(
        spark,
        spark.range(60, 70).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("g")
        ),
        root,
        "append",
        partition_by="table",
    )
    m = tf._read_manifest(root, tf.latest_version(root))
    assert not m.get("partition_spec")
    assert tf.snapshot_read(spark, root).count() == 70

    # on-commit pointer: dropped view prunes instead of failing
    src = str(tmp_path / "ocsrc")
    view = str(tmp_path / "ocview")
    tf.snapshot_write(
        spark,
        spark.range(0, 30).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "overwrite",
    )
    tf.matview_create(
        spark, src, view, ["g"],
        [{"fn": "count", "expr": None, "alias": "n"}],
        refresh_on_commit=True,
    )
    import os as _os

    assert _os.listdir(tf._views_dir(src))
    got = tf.refresh_dependent_views(spark, src)
    assert got  # no-op refresh still reports the view
    shutil.rmtree(view)
    got = tf.refresh_dependent_views(spark, src)
    assert got == {} and not [
        f for f in _os.listdir(tf._views_dir(src)) if f.endswith(".json")
    ]


def test_r16_drop_materialized_view(spark, tmp_path):
    """DROP MATERIALIZED VIEW removes the stored view, its on-commit
    pointer at the source, and the registered name; plain tables
    refuse through the view verb."""
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark import catalog as cat
    from s3_kinesis_replay_spark.operators import table_format as tf

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    tf.snapshot_write(
        spark,
        spark.range(0, 30).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("x")
        ),
        src,
        "overwrite",
    )
    cat.register_snapshot_table(spark, "dmv_src", src)
    cat.resolve_dml(
        spark,
        f"CREATE MATERIALIZED VIEW dmv LOCATION '{view}' "
        "REFRESH ON COMMIT AS "
        "SELECT g, COUNT(*) AS n FROM dmv_src GROUP BY g",
    )
    assert [
        f for f in _os.listdir(tf._views_dir(src)) if f.endswith(".json")
    ]
    with _pytest.raises(ValueError, match="plain table"):
        tf.matview_drop(src)
    r = cat.resolve_dml(spark, "DROP MATERIALIZED VIEW dmv").collect()[0]
    assert r["operation"] == "drop_matview"
    assert not _os.path.exists(view)
    assert not [
        f for f in _os.listdir(tf._views_dir(src)) if f.endswith(".json")
    ]
    # writers no longer attempt a refresh; name unregistered
    cat.resolve_dml(
        spark,
        "INSERT INTO dmv_src SELECT CAST(1 AS BIGINT) AS g, "
        "CAST(99 AS BIGINT) AS x",
    )
    assert cat.resolve_dml(spark, "DROP MATERIALIZED VIEW dmv") is None


def test_r16_minor_compaction(spark, tmp_path, monkeypatch):
    """snapshot_compact_small beyond the a26 oracle gates: returns
    None when too few files qualify; streaming CDC passes through with
    zero events; a clause merge re-links over an interleaved minor
    compaction; delete applicability of untouched files is preserved
    (a delete AFTER the compaction still suppresses pre-compaction
    rows in untouched files and rewritten files alike)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1)

    root = str(tmp_path / "bp")
    tf.snapshot_write(spark, mk(0, 20000), root, "overwrite")  # big
    for i in range(4):
        tf.snapshot_write(
            spark, mk(20000 + i * 100, 20000 + (i + 1) * 100), root,
            "append",
        )
    # too few qualifying files under a high min_files -> None
    assert tf.snapshot_compact_small(
        spark, root, small_bytes=10_000, min_files=9
    ) is None
    v = tf.snapshot_compact_small(spark, root, small_bytes=10_000)
    assert v is not None
    assert tf.snapshot_read(spark, root, v).count() == 20400
    # a delete AFTER the compaction suppresses rows in both eras
    tf.snapshot_delete(
        spark, root,
        spark.createDataFrame([(5,), (20005,)], "k long"), "k",
    )
    assert tf.snapshot_read(spark, root).count() == 20398

    # streaming CDC: zero events for the compaction commit
    from s3_kinesis_replay_spark.streaming.changes_source import (
        SnapshotChangesStreamReader,
    )

    rdr = SnapshotChangesStreamReader(None, {"root": root})
    parts = rdr.partitions({"version": v - 1}, {"version": v})
    assert parts == []

    # clause merge re-links over an interleaved minor compaction
    orig_commit = tf._commit
    fired = []

    def commit_with_binpack(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            tf.snapshot_write(spark, mk(30000, 30050), root, "append")
            tf.snapshot_write(spark, mk(30050, 30100), root, "append")
            # interleave: appends (key-disjoint) + a minor compaction
            tf.snapshot_compact_small(
                spark, root, small_bytes=10_000, min_files=2
            )
            monkeypatch.setattr(tf, "_commit", commit_with_binpack)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_binpack)
    tf.snapshot_merge_clauses(
        spark, root,
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        ),
        "k",
        [{"kind": "update", "cond": None, "sets": {"v": "s.v"}},
         {"kind": "insert", "cond": None, "cols": None, "values": None}],
    )
    monkeypatch.setattr(tf, "_commit", orig_commit)
    assert fired
    rows = {r["k"]: r["v"] for r in tf.snapshot_read(spark, root).collect()}
    assert rows[10] == -1 and rows[30099] == 60198
    assert len(rows) == 20398 + 100


def test_r16_auto_maintain_binpack(spark, tmp_path):
    """auto_maintain's binpack tier fires when enough small files
    accrete, and leaves big files alone."""
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "am")
    tf.snapshot_write(
        spark,
        spark.range(0, 20000).select(F.col("id").alias("k")).coalesce(1),
        root,
        "overwrite",
    )
    for i in range(3):
        tf.snapshot_write(
            spark,
            spark.range(30000 + i * 10, 30000 + (i + 1) * 10)
            .select(F.col("id").alias("k")).coalesce(1),
            root,
            "append",
        )
        # below the threshold count: no action (fold_at high too)
        assert tf.snapshot_auto_maintain(
            root=root, spark=spark, fold_at=99,
            binpack_at=4, binpack_small_bytes=10_000,
        ) == []
    tf.snapshot_write(
        spark,
        spark.range(30030, 30040).select(F.col("id").alias("k")).coalesce(1),
        root,
        "append",
    )
    assert tf.snapshot_auto_maintain(
        root=root, spark=spark, fold_at=99,
        binpack_at=4, binpack_small_bytes=10_000,
    ) == ["binpack"]
    m = tf._read_manifest(root, tf.latest_version(root))
    assert m["operation"] == "compact_small"
    assert tf.snapshot_read(spark, root).count() == 20040


def test_r16_review_fixes(spark, tmp_path, monkeypatch):
    """Round-16 self-review pins. (1) WRITE SKEW: the clause-merge
    re-link probe covers the statement's READ set (every source key,
    matched or not), so a concurrent commit touching a key whose
    clauses all evaluated FALSE still refuses — a write-set-only check
    re-linked a non-serializable result. (2) Streaming CDC works
    across a BACKLOG type widening of the key column (physical int32
    files + bigint tombstones: key columns cast to the pinned schema
    before Arrow joins/hashing). (3) Unqualified column names unique
    to one side still resolve in SET/INSERT expressions (the struct
    materialization exposes them bare, like the pre-r16 join scope)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf

    # (1) write skew refused
    root = str(tmp_path / "ws")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, 2), (2, 10)], "k long, v long"),
        root,
        "overwrite",
    )
    orig_commit = tf._commit
    fired = []

    def commit_with_b(*args, **kwargs):
        if args[2] == "merge" and not fired:
            fired.append(1)
            monkeypatch.setattr(tf, "_commit", orig_commit)
            # writer B upserts k=1 — a key merge A READ (its condition
            # evaluated false there) but did not write
            tf.snapshot_merge(
                spark, root,
                spark.createDataFrame([(1, 100)], "k long, v long"), "k",
            )
            monkeypatch.setattr(tf, "_commit", commit_with_b)
        return orig_commit(*args, **kwargs)

    monkeypatch.setattr(tf, "_commit", commit_with_b)
    with _pytest.raises(tf.CommitConflict, match="overlap"):
        tf.snapshot_merge_clauses(
            spark, root,
            spark.createDataFrame([(1, 5), (2, 3)], "k long, v long"),
            "k",
            [{"kind": "update", "cond": "s.v < t.v",
              "sets": {"v": "s.v"}}],
        )
    monkeypatch.setattr(tf, "_commit", orig_commit)
    assert fired

    # (2) streaming CDC across a backlog key-column widening
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    register_changes_source(spark)
    root2 = str(tmp_path / "wk")
    tf.snapshot_write(
        spark,
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            F.col("id").cast("int").alias("v"),
        ).coalesce(1),
        root2,
        "overwrite",
    )  # physical int32 key bytes
    tf.snapshot_widen_column(spark, root2, "k", "bigint")
    tf.snapshot_widen_column(spark, root2, "v", "bigint")
    tf.snapshot_delete(
        spark, root2, spark.createDataFrame([(3,)], "k long"), "k"
    )
    tf.snapshot_merge(
        spark, root2,
        spark.createDataFrame([(5, 500), (20, 2000)], "k long, v long"),
        "k",
    )
    out = str(tmp_path / "wk-out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root2).option("starting_version", "0").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", out + "-ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    }
    # versions: 1 genesis, 2/3 widen k/v (metadata-only), 4 delete,
    # 5 merge
    assert (3, "delete", 4) in got
    assert (5, "update_preimage", 5) in got
    assert (5, "update_postimage", 5) in got
    assert (20, "insert", 5) in got
    assert len([g for g in got if g[2] == 1]) == 10  # genesis inserts

    # (3) bare unqualified names in SET / INSERT VALUES
    root3 = str(tmp_path / "bare")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        root3,
        "overwrite",
    )
    tf.snapshot_merge_clauses(
        spark, root3,
        spark.createDataFrame([(1, 7), (9, 9)], "k long, sv long"),
        "k",
        [
            # `sv` is source-only, `v` target-only: both bare
            {"kind": "update", "cond": None, "sets": {"v": "v + sv"}},
            {"kind": "insert", "cond": None, "cols": ["k", "v"],
             "values": ["s.k", "sv * 100"]},
        ],
    )
    rows = {r["k"]: r["v"] for r in tf.snapshot_read(spark, root3).collect()}
    assert rows == {1: 17, 2: 20, 9: 900}


def test_r16_overwrite_where(spark, tmp_path):
    """replaceWhere edge semantics beyond the a27 entry: empty-source
    replace deletes the slice; a predicate matching nothing is a plain
    validated append; replacement files follow the recorded partition
    spec; NULL predicate rows are refused as replacements; streaming
    CDC labels the commit delete + insert."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    root = str(tmp_path / "rw")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(d, i, i * 10) for d in ("a", "b") for i in range(4)],
            "day string, id long, v long",
        ),
        root,
        "overwrite",
        partition_by=["day"],
    )
    # empty replacement deletes the slice
    empty = spark.createDataFrame([], "day string, id long, v long")
    v = tf.snapshot_overwrite_where(spark, root, empty, "day = 'a'")
    assert v == 2
    assert sorted(
        r["day"] for r in tf.snapshot_read(spark, root).collect()
    ) == ["b"] * 4
    # predicate matching nothing = validated append of the new slice
    fresh = spark.createDataFrame([("c", 9, 90)], "day string, id long, v long")
    tf.snapshot_overwrite_where(spark, root, fresh, "day = 'c'")
    assert tf.snapshot_read(spark, root).count() == 5
    # the replacement landed under the recorded partition spec
    m = tf._read_manifest(root, tf.latest_version(root))
    new_ents = [
        e
        for e in tf._entries(m, root)
        if (e.get("partition") or {}).get("day") == "c"
    ]
    assert new_ents, "replacement file lacks its partition descriptor"
    # NULL predicate rows refused as replacements
    nul = spark.createDataFrame([(None, 1, 1)], "day string, id long, v long")
    with _pytest.raises(ValueError, match="do not satisfy"):
        tf.snapshot_overwrite_where(spark, root, nul, "day = 'b'")
    # streaming CDC: delete + insert, never update pairs
    register_changes_source(spark)
    repl = spark.createDataFrame([("b", 99, 990)], "day string, id long, v long")
    tf.snapshot_overwrite_where(spark, root, repl, "day = 'b'")
    out = str(tmp_path / "rw-out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root)
        .option("starting_version", str(tf.latest_version(root) - 1))
        .load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", out + "-ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["_change_type"], r["id"])
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        ("delete", 0), ("delete", 1), ("delete", 2), ("delete", 3),
        ("insert", 99),
    ]


def test_r16_shallow_clone(spark, tmp_path):
    """Clone semantics beyond the a28 entry: retained history, CDC and
    tags carry to the clone point; both tables evolve independently in
    BOTH directions; vacuuming the source never breaks the clone
    (hard-linked inodes); refusals are loud."""
    import os

    import pytest as _pytest

    from s3_kinesis_replay_spark.operators import table_format as tf

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(i, i * 10) for i in range(10)], "k long, v long"
        ),
        src,
        "overwrite",
    )
    tf.snapshot_delete(
        spark, src, spark.createDataFrame([(3,)], "k long"), "k"
    )
    tf.snapshot_tag(src, "pinned", 2)
    tf.snapshot_merge(
        spark, src,
        spark.createDataFrame([(5, 500), (20, 2000)], "k long, v long"),
        "k",
    )
    with _pytest.raises(ValueError, match="empty"):
        tf.snapshot_clone(str(tmp_path / "void"), dst)
    with _pytest.raises(FileNotFoundError):
        tf.snapshot_clone(src, dst, 99)
    assert tf.snapshot_clone(src, dst, "pinned") == 2
    # clone at the tag: no merge yet, tag itself carried
    assert tf.latest_version(dst) == 2
    assert tf.resolve_ref(dst, "pinned") == 2
    assert tf.snapshot_read(spark, dst).count() == 9
    assert tf.snapshot_read(spark, dst, 1).count() == 10
    got = sorted(
        (r["_change_type"], r["k"])
        for r in tf.snapshot_row_changes(spark, dst, 1, 2).collect()
    )
    assert got == [("delete", 3)]
    with _pytest.raises(ValueError, match="already holds"):
        tf.snapshot_clone(src, dst)
    # independent evolution, both directions
    tf.snapshot_write(
        spark, spark.createDataFrame([(50, 1)], "k long, v long"),
        dst, "append",
    )
    tf.snapshot_write(
        spark, spark.createDataFrame([(60, 1)], "k long, v long"),
        src, "append",
    )
    assert sorted(
        r["k"] for r in tf.snapshot_read(spark, dst).collect()
    ) == [0, 1, 2, 4, 5, 6, 7, 8, 9, 50]
    assert 60 in {r["k"] for r in tf.snapshot_read(spark, src).collect()}
    assert 50 not in {
        r["k"] for r in tf.snapshot_read(spark, src).collect()
    }
    # hard links: zero data bytes moved
    p = tf._entries(tf._read_manifest(dst, 2), dst)[0]["path"]
    assert (
        os.stat(os.path.join(src, p)).st_ino
        == os.stat(os.path.join(dst, p)).st_ino
    )
    # source vacuum can't break the clone's history
    tf.snapshot_vacuum(src, keep_last=1, min_age_s=0)
    assert tf.snapshot_read(spark, dst, 1).count() == 10


def test_r16_sql_restore(spark, tmp_path):
    """RESTORE TABLE t TO VERSION AS OF v|'tag' — the SQL surface over
    snapshot_restore: metadata-only rollback, undone commits stay
    time-travelable, the registered view re-registers at the restored
    state, and a tag literal resolves like every other ref."""
    from s3_kinesis_replay_spark.catalog import (
        register_snapshot_table,
        resolve_dml,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "rt")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        root,
        "overwrite",
    )
    tf.snapshot_tag(root, "good")
    tf.snapshot_write(
        spark, spark.createDataFrame([(3, 30)], "k long, v long"),
        root, "append",
    )
    tf.snapshot_write(
        spark, spark.createDataFrame([(9, 90)], "k long, v long"),
        root, "overwrite",
    )  # the fat-finger overwrite
    register_snapshot_table(spark, "rt_tbl", root)
    out = resolve_dml(spark, "RESTORE TABLE rt_tbl TO VERSION AS OF 2")
    assert out.collect()[0]["operation"] == "restore"
    assert sorted(
        r["k"] for r in spark.sql("SELECT * FROM rt_tbl").collect()
    ) == [1, 2, 3]
    # tag literal form; restoring below the tag point
    resolve_dml(spark, "RESTORE TABLE rt_tbl TO VERSION AS OF 'good'")
    assert sorted(
        r["k"] for r in spark.sql("SELECT * FROM rt_tbl").collect()
    ) == [1, 2]
    # forensic trail intact
    assert sorted(
        r["k"] for r in tf.snapshot_read(spark, root, 3).collect()
    ) == [9]


def test_r16_convert_and_create(spark, tmp_path):
    """CONVERT TO TABLE (in-place adoption of a plain parquet dir,
    zero rewrite) and CREATE TABLE (cols) (declared-schema empty
    table). Hive-partitioned dirs refuse; bad types refuse at create;
    converted and created tables take ordinary DML."""
    import os

    import pytest as _pytest

    from s3_kinesis_replay_spark.catalog import (
        register_snapshot_table,
        resolve_dml,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    d = str(tmp_path / "plain")
    spark.range(100).selectExpr("id AS k", "id * 2 AS v").repartition(
        4
    ).write.parquet(d)
    before = {
        os.path.join(dp, f): os.stat(os.path.join(dp, f)).st_ino
        for dp, _dirs, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    }
    v = tf.snapshot_convert(spark, d)
    assert v == 1
    m = tf._read_manifest(d, 1)
    assert m["operation"] == "convert"
    assert len(tf._entries(m, d)) == len(before)
    after = {p: os.stat(p).st_ino for p in before}
    assert before == after, "convert rewrote data files"
    register_snapshot_table(spark, "cvt_t", d)
    assert spark.sql("SELECT COUNT(*) AS n FROM cvt_t").collect()[0][
        "n"
    ] == 100
    resolve_dml(spark, "DELETE FROM cvt_t WHERE k % 10 = 0")
    assert tf.snapshot_read(spark, d).count() == 90
    with _pytest.raises(ValueError, match="already holds"):
        tf.snapshot_convert(spark, d)

    hive = str(tmp_path / "hive")
    spark.range(10).selectExpr(
        "id AS k", "CAST(id % 2 AS STRING) AS day"
    ).write.partitionBy("day").parquet(hive)
    with _pytest.raises(ValueError, match="hive-partitioned"):
        tf.snapshot_convert(spark, hive)

    et = str(tmp_path / "empty")
    assert tf.snapshot_create_table(spark, et, "k bigint, v double") == 1
    assert tf.snapshot_read(spark, et).count() == 0
    assert [f.name for f in tf.snapshot_read(spark, et).schema.fields] == [
        "k", "v",
    ]
    tf.snapshot_write(
        spark, spark.createDataFrame([(1, 1.5)], "k long, v double"),
        et, "append",
    )
    assert tf.snapshot_read(spark, et).count() == 1
    with _pytest.raises(Exception):
        tf.snapshot_create_table(spark, str(tmp_path / "bad"), "k WIBBLE")


def test_r16_column_defaults(spark, tmp_path):
    """Initial column defaults (sequence-scoped, Iceberg's model):
    pre-add files read the default exactly; post-add writers' NULLs
    (stored or omitted-column) stay NULL; rename moves the default,
    drop kills it, compact materializes it and drops the mapping;
    batch and streaming CDC surface identical preimages;
    non-deterministic and non-primitive defaults refuse."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.streaming.changes_source import (
        register_changes_source,
    )

    root = str(tmp_path / "dt")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, s string"
        ),
        root,
        "overwrite",
    )
    tf.snapshot_add_column(spark, root, "score", "double", default="0.5")
    assert {
        r["k"]: r["score"]
        for r in tf.snapshot_read(spark, root).collect()
    } == {1: 0.5, 2: 0.5, 3: 0.5}
    # post-add writers: stored NULL and omitted column both stay NULL
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(4, "d", None), (5, "e", 9.0)],
            "k long, s string, score double",
        ),
        root,
        "append",
    )
    tf.snapshot_write(
        spark, spark.createDataFrame([(6, "f")], "k long, s string"),
        root, "append",
    )
    got = {
        r["k"]: r["score"]
        for r in tf.snapshot_read(spark, root).collect()
    }
    assert got == {1: 0.5, 2: 0.5, 3: 0.5, 4: None, 5: 9.0, 6: None}
    # time travel: pre-default world has no column
    assert "score" not in tf.snapshot_read(spark, root, 1).columns
    # CDC parity, batch == stream, defaults in preimages
    register_changes_source(spark)
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(1,)], "k long"), "k"
    )
    tf.snapshot_delete_where(spark, root, "k = 2")
    tf.snapshot_merge(
        spark, root,
        spark.createDataFrame(
            [(3, "z", 7.0)], "k long, s string, score double"
        ),
        "k",
    )
    batch = sorted(
        (r["_change_type"], r["k"], r["score"], r["_commit_version"])
        for r in tf.snapshot_row_changes(spark, root, 4, 7).collect()
    )
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_changes")
        .option("root", root).option("starting_version", "4").load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", out + "-ck")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    stream = sorted(
        (r["_change_type"], r["k"], r["score"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert batch == stream
    assert ("delete", 1, 0.5, 5) in batch
    assert ("delete", 2, 0.5, 6) in batch
    assert ("update_preimage", 3, 0.5, 7) in batch
    # rename moves the default; drop kills it
    tf.snapshot_rename_column(spark, root, "score", "quality")
    assert {
        r["k"]: r["quality"]
        for r in tf.snapshot_read(spark, root).collect()
    }[3] == 7.0
    m = tf._read_manifest(root, tf.latest_version(root))
    assert "quality" in m["column_defaults"]
    tf.snapshot_drop_column(spark, root, "quality")
    m = tf._read_manifest(root, tf.latest_version(root))
    assert not m.get("column_defaults")
    # compact materializes (fresh table to keep it simple)
    r2 = str(tmp_path / "dt2")
    tf.snapshot_write(
        spark, spark.createDataFrame([(1, "a")], "k long, s string"),
        r2, "overwrite",
    )
    tf.snapshot_add_column(spark, r2, "lab", "string", default="'x'")
    tf.snapshot_compact(spark, r2)
    m2 = tf._read_manifest(r2, tf.latest_version(r2))
    assert not m2.get("column_defaults")
    assert tf.snapshot_read(spark, r2).collect()[0]["lab"] == "x"
    # refusals
    with _pytest.raises(ValueError, match="non-deterministic"):
        tf.snapshot_add_column(spark, r2, "r", "double", default="rand()")
    with _pytest.raises(ValueError, match="numeric/boolean/string"):
        tf.snapshot_add_column(
            spark, r2, "d", "date", default="DATE'2020-01-01'"
        )


def test_r16_scoped_binpack(spark, tmp_path):
    """Partition-scoped minor compaction: OPTIMIZE t BINPACK WHERE
    day = 'a' rewrites only that partition's small files; the other
    partition's files survive verbatim; a non-equality WHERE refuses."""
    import pytest as _pytest

    from s3_kinesis_replay_spark.catalog import (
        register_snapshot_table,
        resolve_dml,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "sb")
    for i in range(5):
        tf.snapshot_write(
            spark,
            spark.createDataFrame(
                [(d, i * 10 + j) for d in ("a", "b") for j in range(3)],
                "day string, v long",
            ),
            root,
            "overwrite" if i == 0 else "append",
            partition_by=["day"],
        )
    m0 = tf._read_manifest(root, tf.latest_version(root))
    b_files = {
        e["path"]
        for e in tf._entries(m0, root)
        if (e.get("partition") or {}).get("day") == "b"
    }
    a_files = {
        e["path"]
        for e in tf._entries(m0, root)
        if (e.get("partition") or {}).get("day") == "a"
    }
    register_snapshot_table(spark, "sb_t", root)
    resolve_dml(spark, "OPTIMIZE sb_t BINPACK (1048576, 2) WHERE day = 'a'")
    m1 = tf._read_manifest(root, tf.latest_version(root))
    assert m1["operation"] == "compact_small"
    now = {e["path"] for e in tf._entries(m1, root)}
    assert b_files <= now, "day=b files were rewritten by a day=a binpack"
    assert not (a_files & now), "day=a small files survived the binpack"
    assert tf.snapshot_read(spark, root).count() == 30
    assert sorted(
        r["v"] for r in tf.snapshot_read(spark, root).collect()
    ) == sorted([i * 10 + j for i in range(5) for _d in range(2) for j in range(3)])
    with _pytest.raises(ValueError, match="equality"):
        resolve_dml(spark, "OPTIMIZE sb_t BINPACK WHERE day > 'a'")


def test_r16_late_review_fixes(spark, tmp_path, monkeypatch):
    """Second review pass of the late-round verbs. (1) BRANCH SEQ
    SCOPING: a row appended on a WAP branch after the fork is not
    suppressed by a pre-fork equality delete, nor clobbered by a
    pre-fork column default — and a post-publish delete still applies
    to the published file. (2) create/convert losers of a v1 race
    surface CommitConflict instead of truncating/doubling the winner.
    (3) convert merges schemas across heterogeneous files. (4) batch
    default reads use the frozen declare-time value, like streaming.
    (5) BINPACK WHERE refuses non-partition keys."""
    import json
    import os

    import pytest as _pytest

    from s3_kinesis_replay_spark.catalog import (
        register_snapshot_table,
        resolve_dml,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    # (1) branch sequences jump past everything forked over
    root = str(tmp_path / "br")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(i, i) for i in range(5)], "k long, v long"),
        root, "overwrite",
    )
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(3,)], "k long"), "k"
    )
    tf.snapshot_add_column(spark, root, "score", "double", default="0.5")
    tf.snapshot_branch(root, "wap")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([(3, 999, None)], "k long, v long, score double"),
        root, "append", branch="wap",
    )
    rb = {
        r["k"]: r["score"]
        for r in tf.snapshot_read(spark, root, branch="wap").collect()
    }
    assert rb.get(3, "absent") is None, (
        f"branch-appended row suppressed or defaulted: {rb}"
    )
    assert rb[0] == 0.5
    tf.snapshot_publish(root, "wap")
    rm = {r["k"]: r["score"] for r in tf.snapshot_read(spark, root).collect()}
    assert rm.get(3, "absent") is None and rm[0] == 0.5
    tf.snapshot_delete(
        spark, root, spark.createDataFrame([(3,)], "k long"), "k"
    )
    assert 3 not in {r["k"] for r in tf.snapshot_read(spark, root).collect()}

    # (2) create/convert race losers refuse
    r2 = str(tmp_path / "race")
    tf.snapshot_write(
        spark, spark.createDataFrame([(1,)], "k long"), r2, "overwrite"
    )
    real_versions = tf.versions
    monkeypatch.setattr(
        tf, "versions",
        lambda root, branch=None: []
        if root == r2
        else real_versions(root, branch),
    )
    with _pytest.raises(tf.CommitConflict):
        tf.snapshot_create_table(spark, r2, "k bigint")
    with _pytest.raises(tf.CommitConflict):
        tf.snapshot_convert(spark, r2)
    monkeypatch.setattr(tf, "versions", real_versions)
    assert tf.snapshot_read(spark, r2).count() == 1  # winner intact

    # (3) convert merges heterogeneous schemas
    r3 = str(tmp_path / "het")
    spark.createDataFrame([(1, 2)], "a long, b long").write.parquet(
        os.path.join(r3, "f1")
    )
    spark.createDataFrame([(3, 4, 5)], "a long, b long, c long").write.parquet(
        os.path.join(r3, "f2")
    )
    tf.snapshot_convert(spark, r3)
    assert set(tf.snapshot_read(spark, r3).columns) == {"a", "b", "c"}

    # (4) frozen declare-time value wins over the SQL text
    r4 = str(tmp_path / "frozen")
    tf.snapshot_write(
        spark, spark.createDataFrame([(1,)], "k long"), r4, "overwrite"
    )
    tf.snapshot_add_column(spark, r4, "d", "double", default="1.5")
    mp = tf._manifest_path(r4, 2)
    man = json.load(open(mp))
    man["column_defaults"]["d"]["sql"] = "999.0"  # drifted expression
    json.dump(man, open(mp, "w"))
    assert tf.snapshot_read(spark, r4).collect()[0]["d"] == 1.5

    # (5) BINPACK WHERE refuses non-partition keys
    r5 = str(tmp_path / "bp")
    tf.snapshot_write(
        spark,
        spark.createDataFrame([("a", 1)], "day string, v long"),
        r5, "overwrite", partition_by=["day"],
    )
    register_snapshot_table(spark, "bp_t", r5)
    with _pytest.raises(ValueError, match="not\\s+partition transforms"):
        resolve_dml(spark, "OPTIMIZE bp_t BINPACK WHERE user_id = 5")


def test_r16_show_partitions_and_vacuum_dry_run(spark, tmp_path):
    """SHOW PARTITIONS lists recorded partition values + file/byte
    counts from pure manifest metadata; VACUUM ... DRY RUN reports the
    identical counts a real vacuum would and deletes nothing."""
    from s3_kinesis_replay_spark.catalog import (
        register_snapshot_table,
        resolve_dml,
    )
    from s3_kinesis_replay_spark.operators import table_format as tf

    root = str(tmp_path / "sp")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(d, i) for d in ("a", "b") for i in range(3)],
            "day string, v long",
        ),
        root, "overwrite", partition_by=["day"],
    )
    register_snapshot_table(spark, "sp_t", root)
    parts = {
        r["partition"]: r["n_files"]
        for r in resolve_dml(spark, "SHOW PARTITIONS sp_t").collect()
    }
    assert set(parts) == {"day=a", "day=b"}
    assert all(n >= 1 for n in parts.values())
    # two more versions so a vacuum would drop v1/v2
    tf.snapshot_write(
        spark, spark.createDataFrame([("c", 9)], "day string, v long"),
        root, "overwrite",
    )
    tf.snapshot_write(
        spark, spark.createDataFrame([("d", 9)], "day string, v long"),
        root, "overwrite",
    )
    files_before = sum(
        len(fs) for _p, _d, fs in __import__("os").walk(root)
    )
    dry = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0, dry_run=True)
    assert dry["dropped_versions"] == [1, 2]
    assert dry["deleted_files"] > 0
    files_after = sum(
        len(fs) for _p, _d, fs in __import__("os").walk(root)
    )
    assert files_before == files_after, "dry run deleted something"
    assert tf.snapshot_read(spark, root, 1).count() == 6  # history intact
    # the SQL form; then the real vacuum matches the dry-run report
    sql_dry = resolve_dml(
        spark, "VACUUM sp_t RETAIN 1 VERSIONS DRY RUN"
    ).collect()[0]
    real = tf.snapshot_vacuum(root, keep_last=1, min_age_s=0)
    assert real["deleted_files"] == dry["deleted_files"]
    assert sql_dry["dropped_versions"] == 2
