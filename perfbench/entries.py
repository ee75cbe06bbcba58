"""The registry entries the benchmark runs, and where their inputs live."""

from __future__ import annotations

from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent

# The fixture tables at scale factor 0.1 (TPC-H-ish star schema, events,
# documents, embeddings), committed so the benchmark reads nothing outside
# its checkout.
SF = 0.1
SF_DIR = str(BENCH_DIR / "data" / "sf0.1")

# Read-only entries: the bench.py HEADLINE set, one per operator family.
ANALYTICS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "a4_gzip_scan",
    "c1_inner_join",
    "c3_broadcast_join",
    "c8_asof_join",
    "c9_self_join",
    "d3_count_distinct",
    "d11_rollup",
    "e1_ranking",
    "e4_running_total",
    "f3_global_topk",
    "h1b_tumbling_window_batch",
    "i3_minhash_lsh_neardup",
    "i5_topk_cosine",
    "i7_wordcount",
    "i8_tfidf",
    "mm1_media_features",
    "p1_training_prep",
    "i14_semdedup",
    "i5b_batch_topk",
    "i3f_incremental_neardup",
    "p14_bloom_contamination",
]

# Entries that build a fresh table on every call and write to it through
# Engine.sql -> catalog.resolve_dml -> operators.table_format. Entries that
# build their table once per host (atomic_cached_build) are left out: their
# timed calls would measure reads only.
TABLE_WRITES = [
    "a23b_sql_merge_clauses",
    "a23c_composite_key_merge",
    "a26_minor_compaction",
    "a27_replace_where",
    "p26_matview_refresh_on_commit",
]
