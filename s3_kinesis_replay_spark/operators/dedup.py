"""Deduplication operators (SURVEY §2.I1–I3, north-star mandate).

Exact dedup is a hash groupBy; near-dup is MinHash + banded LSH built
entirely from DataFrame primitives — no O(n²) stage anywhere:

1. shingle: k-gram word shingles per doc (codegen HOFs);
2. minhash: H seeded xxhash64 min-aggregates in ONE pass over the
   exploded (doc, shingle) relation (map-side partial min);
3. band: group the H minhashes into b bands of r rows; band signature =
   hash of the band's minhashes. P(candidate | s) = 1 − (1 − s^r)^b —
   at (b=16, r=2), s=0.8 → 0.9999999 recall per pair;
4. candidates: self equi-join on the SKINNY (id, band_id, band_sig)
   relation — a shuffle of 24-byte rows, linear in data + candidate
   count; candidate id pairs dedup as bare longs (HashAggregate);
5. verify: attach the per-doc shingle-hash sets (once per unique
   candidate id, from the un-exploded signature table), exact Jaccard,
   threshold filter.

At 100 TB: stage 2 is the only full-data shuffle (by doc_id, combinable);
stage 4 shuffles fixed-width signatures. Skewed buckets (a viral shingle
set) are bounded because signatures are near-uniform hashes; AQE skew
handling covers the rest.

SimHash and n-gram-Jaccard variants below share the same candidate →
verify shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def word_shingles(tokens, k: int = 3):
    """Distinct k-gram word shingles from a TOKEN-ARRAY column (codegen).

    Takes pre-split tokens, not raw text: expressions inside higher-order
    lambdas are re-evaluated per element, so passing ``split(text)`` here
    would re-split the document once per shingle position — quadratic per
    doc. Callers project ``F.split(text, ' ')`` once, then call this.

    Documents with fewer than k tokens produce an EMPTY shingle set:
    Spark's sequence(0, stop) with stop < 0 counts DOWN ([0,-1,...]) and
    the resulting slice(toks, 0, k) throws — guard explicitly.
    """
    return F.when(
        F.size(tokens) >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - k),
                lambda i: F.array_join(F.slice(tokens, i + 1, k), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def jaccard(a, b):
    """Exact Jaccard over two array columns (distinct-element semantics).

    Two empty sets → NULL (undefined), not a divide-by-zero error.
    """
    return F.try_divide(
        F.size(F.array_intersect(a, b)).cast("double"),
        F.size(F.array_union(a, b)).cast("double"),
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    keep_shingle_hashes: bool = False,
) -> DataFrame:
    """(id, h0..h{H-1} minhash columns[, sh_set]) — ONE pass over the data.

    Each shingle string is hashed ONCE (xxhash64); the H per-table hashes
    are derived by re-mixing that 8-byte value, so per-row hashing cost is
    O(shingle bytes) + H long-mixes instead of H string hashes. With
    ``keep_shingle_hashes`` the distinct shingle-hash set rides the same
    aggregation (sort_array(collect_set)) for downstream exact-Jaccard —
    no second pass over the text.

    r17 (guide §2.5): the input is spread to cluster parallelism first —
    the shingle explode + H partial-min aggregation (the dominant cost of
    every LSH entry) otherwise runs on the scan's task count, which for
    the single-file bench fixtures is ONE task. ``spread_scan`` is keyed
    by ``id_col`` (the groupBy key), so the signature aggregation's own
    exchange is satisfied by this one; it no-ops at production scale.
    """
    from s3_kinesis_replay_spark.operators.partitioning import spread_scan

    toked = spread_scan(
        docs.select(id_col, text_col), id_col
    ).select(F.col(id_col), F.split(F.col(text_col), " ").alias("toks"))
    hashed = toked.select(
        id_col, F.explode(word_shingles(F.col("toks"), k)).alias("s")
    ).select(id_col, F.xxhash64("s").alias("h0"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("h0"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    if keep_shingle_hashes:
        aggs.append(F.sort_array(F.collect_set("h0")).alias("sh_set"))
    return hashed.groupBy(id_col).agg(*aggs)


def _band_explode(num_hash_tables: int, bands: int):
    """The (band_id, band_sig) posexplode column: xxhash64 over each
    band's minhash rows. ONE definition shared by banded_signatures and
    band_relation so the skinny and persisted relations can never drift."""
    rows_per_band = num_hash_tables // bands
    return F.posexplode(
        F.array(
            *[
                F.xxhash64(
                    *[
                        F.col(f"h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                )
                for b in range(bands)
            ]
        )
    ).alias("band_id", "band_sig")


def banded_signatures(
    sigs: DataFrame,
    num_hash_tables: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sh_set, band_id, band_sig): fold the H minhash columns into
    ``bands`` fixed-width band signatures (xxhash64 over each band's rows)
    and explode one row per band — the relation an LSH equi-join runs on.
    In production this IS the persisted signature table: computed once per
    ingest, stored, and joined against by later batches (see
    minhash_lsh_incremental_pairs)."""
    return sigs.select(
        F.col(id_col),
        "sh_set",
        _band_explode(num_hash_tables, bands),
    )


def band_relation(
    sigs: DataFrame,
    num_hash_tables: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_id, band_sig) — the SKINNY band relation (no sh_set).

    r16 optimization (guide §2.3 / §8): the LSH candidate join only needs
    (id, band_id, band_sig) — 24 bytes/row; riding the ~|shingles|-long
    sh_set array through the band explode multiplied every doc's set
    ``bands``× through the join input (and through the materialized
    signature relation). Candidates are now generated on this skinny
    relation and sh_sets are attached (once per unique candidate id) from
    the un-exploded signature table afterwards."""
    return sigs.select(F.col(id_col), _band_explode(num_hash_tables, bands))


def _verified_pairs(
    cand: DataFrame,
    a_sets: DataFrame,
    b_sets: DataFrame,
    a_id: str,
    b_id: str,
    threshold: float,
) -> DataFrame:
    """Attach per-id shingle-hash sets to deduped candidate id pairs and
    keep exact Jaccard ≥ threshold. ``a_sets``/``b_sets`` are one-row-per-id
    (id, sh_set) relations; jacc is computed once per unique pair."""
    pairs = cand.join(
        a_sets.select(F.col(a_sets.columns[0]).alias(a_id), F.col("sh_set").alias("sh_a")),
        a_id,
    ).join(
        b_sets.select(F.col(b_sets.columns[0]).alias(b_id), F.col("sh_set").alias("sh_b")),
        b_id,
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return pairs.select(
        a_id,
        b_id,
        F.round(
            inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
        ).alias("jacc"),
    ).filter(
        # filter on the rounded value to match the oracle's WHERE on the
        # raw ratio: fixture similarity is bimodal so both agree
        F.col("jacc") >= threshold
    )


def minhash_lsh_incremental_pairs(
    snapshot: DataFrame,
    batch: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hash_tables: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
    snapshot_banded: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of a NEW batch against an EXISTING corpus snapshot:
    (doc_new, doc_src, jacc) with exact Jaccard ≥ threshold, candidates
    from a band equi-join of batch signatures against snapshot signatures.

    The incremental shape of minhash_lsh_neardup_pairs: the snapshot side
    is banded ONCE (in production: persisted at ingest time and simply
    scanned here — never recomputed, never the corpus text), and each new
    batch only pays signature cost proportional to the BATCH. The join
    shuffles (band_id, band_sig) keys from both sides; the snapshot text
    never moves. This is how a 100 TB corpus absorbs a daily crawl without
    an O(corpus) near-dup pass per day.

    Pass ``snapshot_banded`` (the stored output of ``banded_signatures``,
    e.g. read back from parquet) to skip recomputing the snapshot side —
    the production path; SCALE.md's round-5b experiment measures per-batch
    cost against a stored corpus grown k-fold.

    r16 (guide §2.3/§8): candidates are generated on skinny
    (id, band_id, band_sig) relations and deduped as bare id pairs;
    sh_sets attach afterwards, once per unique candidate id (see
    minhash_lsh_neardup_pairs). For a stored ``snapshot_banded`` the
    band join projects sh_set away entirely (parquet column pruning) and
    the per-id set relation is the ``band_id == 0`` slice — one row per
    id, a pushed filter, no shuffle.
    """
    batch_sigs = minhash_signatures(
        batch, id_col, text_col, k, num_hash_tables, keep_shingle_hashes=True
    )

    if snapshot_banded is not None:
        if materialize:
            batch_sigs = batch_sigs.localCheckpoint(eager=True)
        # Stored WIDE relation (the persisted banded_signatures format):
        # the skinny projection prunes sh_set out of the band-join scan
        # entirely (parquet column pruning), and the per-id set relation
        # is the band_id == 0 slice — exactly one row per id, no shuffle,
        # pushed filter on the stored table.
        snap_skinny = snapshot_banded.select(id_col, "band_id", "band_sig")
        snap_sets = snapshot_banded.filter(F.col("band_id") == 0).select(
            F.col(id_col), "sh_set"
        )
    else:
        snap_sigs = minhash_signatures(
            snapshot, id_col, text_col, k, num_hash_tables,
            keep_shingle_hashes=True,
        )
        if materialize:
            # r17 (guide §2.6): the two signature materializations are
            # INDEPENDENT jobs — eager-checkpointing them sequentially
            # left the cluster idle through each one's tail. Submit both
            # from driver threads so the second back-fills the first's
            # stragglers; results are the same checkpointed relations.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fb = pool.submit(
                    lambda: batch_sigs.localCheckpoint(eager=True)
                )
                fs = pool.submit(
                    lambda: snap_sigs.localCheckpoint(eager=True)
                )
                batch_sigs, snap_sigs = fb.result(), fs.result()
        snap_skinny = band_relation(snap_sigs, num_hash_tables, bands, id_col)
        snap_sets = snap_sigs.select(F.col(id_col), "sh_set")
    batch_skinny = band_relation(batch_sigs, num_hash_tables, bands, id_col)
    batch_sets = batch_sigs.select(F.col(id_col), "sh_set")

    b = batch_skinny.alias("b")
    s = snap_skinny.alias("s")
    cand = (
        b.join(
            s,
            (F.col("b.band_id") == F.col("s.band_id"))
            & (F.col("b.band_sig") == F.col("s.band_sig")),
        )
        .select(
            F.col(f"b.{id_col}").alias("doc_new"),
            F.col(f"s.{id_col}").alias("doc_src"),
        )
        .dropDuplicates(["doc_new", "doc_src"])
    )
    return _verified_pairs(
        cand, batch_sets, snap_sets, "doc_new", "doc_src", threshold
    )


def minhash_lsh_neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hash_tables: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Verified near-duplicate pairs: (doc_a, doc_b, jacc) with exact
    Jaccard ≥ threshold, candidates found by banded MinHash-LSH.

    One full pass total: signatures AND distinct shingle-hash sets come
    out of the same aggregation. r16 (guide §2.3/§8): the band self-join
    runs on the SKINNY (id, band_id, band_sig) relation — 24 bytes/row —
    and candidate pairs are deduped as bare id pairs (a HashAggregate;
    the old shape carried both sh_set arrays through the join and the
    dedup, which forced a SortAggregate over ~|shingles|-long arrays and
    multiplied every set ``bands``× through the exchange). The sh_sets
    are attached once per unique candidate id from the un-exploded
    signature table, so each set crosses the wire exactly once. Exact
    Jaccard over the hash sets equals string Jaccard up to xxhash64
    collisions (P < 1e-8 corpus-wide).

    ``materialize`` (default) eagerly localCheckpoints the signature
    relation before the self-join: Catalyst does not always reuse the
    exchange under a self-join, and without reuse the whole
    shingle→minhash pipeline (the dominant cost) would execute once PER
    SIDE. Materializing ~52 longs/doc (un-exploded — 16× fewer bytes
    than checkpointing the banded relation) is exactly what a production
    LSH run does at 100 TB — persist the signature table, then join it
    to itself.
    """
    sigs = minhash_signatures(
        docs, id_col, text_col, k, num_hash_tables, keep_shingle_hashes=True
    )
    if materialize:
        sigs = sigs.localCheckpoint(eager=True)
    skinny = band_relation(sigs, num_hash_tables, bands, id_col)
    sets = sigs.select(F.col(id_col), "sh_set")

    a = skinny.alias("a")
    b = skinny.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verified_pairs(cand, sets, sets, "doc_a", "doc_b", threshold)


def spark_parallelism(df: DataFrame) -> int:
    """Cluster parallelism ceiling for sizing iterative-op shuffles."""
    return df.sparkSession.sparkContext.defaultParallelism


def neardup_components(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    num_hash_tables: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over verified near-dup edges: (doc_id,
    component_id) where component_id is the min doc_id reachable through
    the near-dup graph. Docs with no near-dup edge are singletons and are
    omitted (their component is themselves).

    Pregel-style min-label propagation: every vertex starts labeled with
    itself; each round it takes the min of its own label and its
    neighbors'; converged when no label changes. Rounds = component
    diameter — near-dup clusters are short chains in practice, so 2-3
    rounds. Each round is one shuffle on vertex id over the EDGE relation
    only (already reduced from the corpus by LSH); lineage is truncated
    per round with eager localCheckpoint so the plan stays flat. The
    driver-side loop is iteration control, not data movement — the same
    shape GraphX/Pregel uses for CC at cluster scale.
    """
    pairs = minhash_lsh_neardup_pairs(
        docs, threshold, k, num_hash_tables, id_col=id_col, text_col=text_col
    ).select("doc_a", "doc_b")
    # symmetrize once and checkpoint: the LSH pass must run once, not once
    # per propagation round
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # Size the propagation shuffle to the EDGE relation, not the session
    # default: LSH already reduced the corpus to near-dup edges, so each
    # round's joins should run on ~|edges|/50k partitions (min 1). At
    # 100 TB this keeps per-round tasks meaningfully sized; at test scale
    # it collapses a 4-row graph to one task instead of 32 near-empty ones.
    n_parts = max(1, min(spark_parallelism(edges), edges.count() // 50_000 + 1))
    edges = edges.repartition(n_parts, "dst").localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = edges.join(labels, edges["dst"] == labels["v"]).groupBy(
            "src"
        ).agg(F.min("label").alias("nmin"))
        new_labels = (
            labels.join(neighbor_min, labels["v"] == neighbor_min["src"], "left")
            # least() ignores nulls: vertices are never isolated here (every
            # vertex came from an edge), but left-join keeps the invariant
            .select("v", F.least("label", "nmin").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") < F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # review r8: exhausting the loop silently returned INTERMEDIATE
        # labels — a near-dup chain longer than max_iterations (25+
        # incrementally-edited boilerplate docs) would emit bogus split
        # components while looking successful
        raise RuntimeError(
            f"neardup_components did not converge within {max_iterations} "
            "rounds — the near-dup graph has a component with diameter "
            "beyond the limit; raise max_iterations"
        )
    return labels.select(
        F.col("v").alias(id_col), F.col("label").alias("component_id")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc — majority vote per bit over token hashes.

    Token hash basis is md5 (NOT xxhash64) split into two 32-bit halves,
    so the identical computation runs in any engine with md5 + substring
    + integer ops — this is what makes i3b_simhash cross-engine
    oracle-checkable (round 5; was rows-only). The signed 64-bit result
    is assembled with exact integer arithmetic (hi two's-complement fold
    ×2^32 + lo) — no 64-bit shifts, no overflow in either engine.

    Implemented as explode → per-bit sign sum → bit assembly; one shuffle
    of fixed-width (id, hi, lo) rows.
    """
    assert bits == 64, "simhash is fixed at 64 bits (two md5 halves)"
    tok = docs.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("w"))
    hx = F.md5("w")
    h = tok.select(
        id_col,
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("bigint").alias("hhi"),
        F.conv(F.substring(hx, 9, 8), 16, 10).cast("bigint").alias("hlo"),
    )
    bit_cols = [
        F.sum(
            F.when(
                F.shiftright(F.col("hlo" if i < 32 else "hhi"), i % 32)
                .bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = h.groupBy(id_col).agg(*bit_cols)
    lo_part = F.lit(0).cast("bigint")
    hi_part = F.lit(0).cast("bigint")
    for i in range(32):
        lo_part = lo_part + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        hi_part = hi_part + F.when(F.col(f"b{i + 32}") > 0, F.lit(1 << i).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    signed_hi = hi_part - F.when(hi_part >= F.lit(1 << 31).cast("bigint"), F.lit(1 << 32).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
    sim = signed_hi * F.lit(1 << 32).cast("bigint") + lo_part
    return votes.select(id_col, sim.alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame, other: DataFrame | None = None, n: int = 3, id_col: str = "doc_id", text_col: str = "text", materialize: bool = True
) -> DataFrame:
    """Exact character-n-gram Jaccard for candidate pairs (adjacent ids) —
    the verify-stage primitive reused by the LSH pipeline.

    ``materialize`` (default) eagerly localCheckpoints the gram relation
    before the self-join — same reasoning as minhash_lsh_neardup_pairs:
    without it Catalyst computes the O(text-length) char-gram transform
    once PER JOIN SIDE (measured 3.9 s → 2.0 s at sf0.1)."""
    # guard: texts shorter than n chars yield an EMPTY gram set (sequence
    # with stop < start counts down and emits spurious/invalid positions)
    grams = F.expr(
        f"CASE WHEN length({text_col}) >= {n} THEN "
        f"array_distinct(transform(sequence(1, length({text_col}) - {n - 1}), "
        f"i -> substring({text_col}, i, {n}))) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    d = docs.select(F.col(id_col), grams.alias("grams"))
    if materialize:
        d = d.localCheckpoint(eager=True)
    a, b = d.alias("a"), d.alias("b")
    return a.join(b, F.col(f"b.{id_col}") == F.col(f"a.{id_col}") + 1).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.round(jaccard(F.col("a.grams"), F.col("b.grams")), 6).alias("char_jacc"),
    )


def _winnow_select(docs, k, w, id_col, text_col, gram_hash) -> DataFrame:
    """Shared winnowing selection kernel: explode k-gram positions,
    hash each gram with ``gram_hash(gram_col) -> Column``, keep each
    w-window's minimum, restrict to complete windows, distinct. ONE
    definition (review r8) so the md5 oracle form and the xxhash64
    production form can never diverge on selection semantics — only the
    hash function differs."""
    from pyspark.sql import Window

    n = docs.filter(F.length(text_col) >= k + w - 1).select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_s")
    )
    pos = n.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.length("_s") - k + 1)).alias("_i"),
        (F.length("_s") - k + 1).alias("_m"),
        "_s",
    )
    h = gram_hash(F.col("_s").substr(F.col("_i"), F.lit(k)))
    ph = pos.select(id_col, "_i", "_m", h.alias("_h"))
    win = Window.partitionBy(id_col).orderBy("_i").rowsBetween(0, w - 1)
    return (
        ph.select(id_col, "_i", "_m", F.min("_h").over(win).alias("fp"))
        .filter(F.col("_i") <= F.col("_m") - w + 1)
        .select(id_col, "fp")
        .distinct()
    )


def winnowed_fingerprints(
    docs: DataFrame,
    k: int = 20,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, fp) — winnowing fingerprint selection (Schleimer/Wilkerson/
    Aiken 2003): hash every k-char gram of the lowercased text, keep the
    minimum hash of each w-gram sliding window. Guarantee: any substring
    of length >= k + w - 1 shared by two documents contributes at least
    one shared fingerprint (the window containing the match's minimum is
    fully inside both copies). ~1/w of gram hashes survive, so the
    downstream inverted-index join moves a few dozen longs per document.

    Gram hash = two md5 hex slices so an external engine (the i3g DuckDB
    oracle) selects the identical fingerprint set; production ingest uses
    :func:`winnowed_fingerprints_fast` (same kernel, xxhash64)."""
    from s3_kinesis_replay_spark.queries.pipeline_ops import _hexint_col

    def gram_hash(gram):
        m5 = F.md5(gram)
        return _hexint_col(m5, 1, 4) * 65536 + _hexint_col(m5, 5, 4)

    return _winnow_select(docs, k, w, id_col, text_col, gram_hash)


def winnowed_fingerprints_fast(
    docs: DataFrame,
    k: int = 20,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PRODUCTION winnowing selection: identical window-minimum kernel
    to :func:`winnowed_fingerprints` (shared ``_winnow_select``) but
    gram hash = xxhash64 — one JVM-side long mix per gram instead of an
    md5 hex computation plus two string slices (the md5 form exists only
    so a cross-engine oracle can re-derive the identical fingerprint
    set; it is ~the whole cost of i3g). The selection guarantee is
    hash-agnostic: any shared substring of length >= k + w - 1 still
    contributes a shared fingerprint. Pair-set agreement between the two
    forms at the declared i3h threshold is pinned in
    tests/test_operators.py.

    This is the relation a 100 TB ingest PERSISTS (mirror of the LSH
    snapshot_banded table): ~1/w longs per document, computed once per
    document at ingest, appended per batch, and equi-joined against by
    later batches — the corpus text never rescans."""
    return _winnow_select(docs, k, w, id_col, text_col, F.xxhash64)


def winnow_incremental_pairs(
    snapshot_fps: DataFrame,
    batch_fps: DataFrame,
    min_shared: int = 20,
    id_col: str = "doc_id",
    keep_count: bool = False,
) -> DataFrame:
    """(doc_new, doc_src[, n_shared]) pairs of a NEW batch against a
    STORED corpus fingerprint table: inverted-index equi-join on the
    winnowed fingerprint value, count shared fingerprints per pair, keep
    pairs at or above ``min_shared``. The incremental shape of i3g — the
    snapshot side is the persisted output of
    :func:`winnowed_fingerprints_fast` (read back from storage, never
    recomputed); per-batch cost is the batch's own fingerprinting plus a
    join that moves only (id, fp) longs. ``keep_count`` exposes the
    shared-fingerprint count (deterministic GIVEN a fingerprint table;
    note the absolute counts differ between the md5 and xxhash selection
    forms, so compare counts only within one form)."""
    b = batch_fps.alias("b")
    s = snapshot_fps.alias("s")
    pairs = (
        b.join(s, F.col("b.fp") == F.col("s.fp"))
        .groupBy(
            F.col(f"b.{id_col}").alias("doc_new"),
            F.col(f"s.{id_col}").alias("doc_src"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    if keep_count:
        return pairs
    return pairs.select("doc_new", "doc_src")
