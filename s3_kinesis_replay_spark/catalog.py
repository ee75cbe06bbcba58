"""Catalog: register the fixture parquet tables as temp views.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier part
orders lineitem events documents embeddings, one parquet file per table
under ``/root/testdata/sf{0.001,0.01,0.1}/``.

Normalization applied at load (both engines must see identical data):

* ``events.ts`` is parquet ``timestamp[ns]`` — truncated to microseconds
  (Spark's native TimestampType precision); the DuckDB oracle casts
  ``ts`` to ``TIMESTAMP`` (µs) to match.

At 100 TB each "table" would be a partitioned directory tree; the loader
takes any path Spark's parquet source accepts, so nothing here changes —
partition pruning and predicate pushdown apply automatically.
"""

from __future__ import annotations

import contextlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The relational subset that participates in multi-join shapes — the tables
# worth catalog statistics for CostBasedJoinReorder.
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Fixture relations bound once per (session, sf_dir, table) — see
# :func:`table`. Keyed weakly on the session so a replaced session gets
# fresh bindings; note (ADVICE r16) the cached DataFrames strongly
# reference their session, so a stopped session's entries are retained
# for the process lifetime — accepted: this repo runs one session per
# process, and a dict entry is a bound plan (KBs), not data.
from weakref import WeakKeyDictionary as _WeakKeyDictionary

_TABLE_RELATIONS: _WeakKeyDictionary = _WeakKeyDictionary()


def table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one fixture table as a DataFrame (schema-on-read from parquet).

    The bound relation is memoized per (session, sf_dir, name) — r16:
    every ``spark.read.parquet`` re-lists the path and re-reads footers
    for schema (a serial driver round-trip per reference; a 6-table join
    paid it 6× per planning pass). Binding a fixture table is catalog
    METADATA — execution still scans the parquet files — so a session
    resolves each table once, the way a catalog-backed engine binds a
    table name. Fixture trees are immutable test data; anything mutable
    (snapshot tables, staged archives) lives outside this loader.
    ADVICE r16 trade-off, accepted: the memo also pins the file listing
    at first bind, so data regenerated IN PLACE at the same sf_dir path
    mid-session would be served stale — out of contract for fixtures
    (deterministic, read-only mounts); callers that rebuild data use
    fresh paths (tempfile) and never pass through this loader.
    """
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS): Spark 4 hard-errors on scan
        # unless nanosAsLong is set. Runtime-settable — set it defensively so
        # a caller-provided session (e.g. the driver's) works unmodified.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            # declared timestamp semantics are UTC (SURVEY §5.3.4): pin the
            # session tz so collected values match the oracle's naive UTC
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass  # conf locked by the session → rely on its existing value
    cache = _TABLE_RELATIONS.setdefault(spark, {})
    key = (sf_dir.rstrip("/"), name)
    cached = cache.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # parquet stores ts as timestamp[ns]; with nanosAsLong it arrives as
        # LongType nanoseconds. Integer `div` (not `/`) keeps full precision
        # (ns epochs exceed 2^53), flooring exactly like DuckDB's ns→µs cast.
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


def _table_meta(spark: SparkSession, name: str) -> tuple[str | None, bool]:
    """(normalized LOCATION path, has catalog statistics) for an existing
    table, or (None, False) if absent. The location is scheme-stripped
    and trailing-slash-normalized so callers compare ABSOLUTE PATH
    EQUALITY, not a suffix match (review r10: `/mnt/backup/...sf0.1`
    endswith-matched `/...sf0.1` and served the wrong data)."""
    if not spark.catalog.tableExists(name):
        return None, False
    desc = spark.sql(f"DESCRIBE FORMATTED {name}").collect()
    loc = next(
        (r["data_type"] for r in desc if r["col_name"] == "Location"), None
    )
    has_stats = any(r["col_name"] == "Statistics" for r in desc)
    if loc is not None:
        loc = loc.split("://", 1)[-1]
        if loc.startswith("file:"):
            loc = loc[5:]
        # normpath BOTH sides (callers normalize too): Hadoop's qualifier
        # preserves '..' segments that os.path.abspath rewrites — a
        # one-sided normalization would fail the equality check forever
        # and silently re-run the full ANALYZE scans per call (review r10)
        loc = os.path.normpath("/" + loc.lstrip("/"))
    return loc, has_stats


def bootstrap_cbo_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    tables: tuple[str, ...] = TPCH_TABLES,
    suffix: str = "_cbo",
) -> list[str]:
    """Register the fixtures as EXTERNAL catalog tables and run
    ``ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`` so
    ``CostBasedJoinReorder`` has row counts, sizes, and per-column
    NDV/min/max to cost join trees with (SURVEY §4: the declared
    catalog-bootstrap custom work; temp views registered from
    ``spark.read.parquet`` carry no catalog stats, so CBO can never fire
    through them).

    Idempotent per (table, sf_dir): a catalog table already pointing at
    this sf_dir is left alone (stats survive); pointing elsewhere it is
    dropped and re-registered (external tables — DROP never touches the
    parquet files).

    NTZ workaround: Spark 4 infers parquet timestamps without UTC
    adjustment as TIMESTAMP_NTZ, and CBO's FilterEstimation hits a
    ``scala.MatchError: TimestampNTZType`` costing predicates over NTZ
    column stats (observed on 4.1.2). The catalog tables are therefore
    created with ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` —
    timestamps land as TIMESTAMP (LTZ); under the engine's pinned UTC
    session zone the values are bit-identical to the naive reading.

    100 TB note: FOR ALL COLUMNS is a full scan, so it runs once per
    ingest batch (or per partition with ``ANALYZE … PARTITION``), not per
    query — the stats live in the metastore and amortize across every
    join that consults them.
    """
    prev_ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        out = []
        for name in tables:
            cat, path = f"{name}{suffix}", f"{sf_dir}/{name}.parquet"
            # sf_dir is user-controlled (SPARK_GRAFT_SF_DIR); a quote in
            # the path would otherwise break the LOCATION literal
            # (ADVICE r10).
            sql_path = path.replace("'", "''")
            want = os.path.normpath(os.path.abspath(path))
            loc, has_stats = _table_meta(spark, cat)
            # Skip ONLY when the table points at exactly this data AND
            # already carries stats: a crash between CREATE and ANALYZE
            # must not leave a permanently stats-less table that every
            # later run trusts (review r10) — re-registering is cheap,
            # a silently CBO-dead catalog is not.
            if loc != want or not has_stats:
                spark.sql(f"DROP TABLE IF EXISTS {cat}")
                spark.sql(
                    f"CREATE TABLE {cat} USING parquet LOCATION '{sql_path}'"
                )
                spark.sql(
                    f"ANALYZE TABLE {cat} COMPUTE STATISTICS FOR ALL COLUMNS"
                )
            out.append(cat)
        return out
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", prev_ntz)


@contextlib.contextmanager
def cbo_conf(spark: SparkSession, enabled: bool = True):
    """Scoped cost-based-optimizer switch: CBO + stats-driven join
    reordering on inside the block, prior session values restored after.
    Scoped because CBO only helps plans whose relations carry catalog
    stats (bootstrap_cbo_tables); leaving it on for temp-view plans is
    dead weight."""
    keys = ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    prev = {k: spark.conf.get(k) for k in keys}
    for k in keys:
        spark.conf.set(k, str(enabled).lower())
    try:
        yield spark
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


# name → manifest-table root, recorded by register_snapshot_table so
# resolve_time_travel / engine.sql() can rewrite VERSION/TIMESTAMP AS OF
# clauses over registered snapshot views. Process-wide by design: temp
# views live per-session, but this repo runs one session per process and
# the rewrite only fires for names explicitly registered here.
_SNAPSHOT_ROOTS: dict[str, str] = {}

# identifier: ANSI word or backquoted — what the time-travel rewrite
# accepts as a snapshot-table reference
_TT_PATTERN = (
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s+"
    r"(?P<kind>VERSION|TIMESTAMP)\s+AS\s+OF\s+"
    r"(?P<spec>'[^']*'|[0-9][0-9.]*)"
)


def register_snapshot_table(
    spark: SparkSession,
    name: str,
    root: str,
    version: int | str | None = None,
    as_of: float | None = None,
    branch: str | None = None,
) -> DataFrame:
    """Register a manifest-versioned table (operators/table_format.py) as
    the temp view ``name``, queryable through ``spark.sql`` /
    ``Engine.sql`` alongside the fixture views — the catalog surface the
    a15 lakehouse tier was missing (VERDICT r12 item 1). ``version``
    pins a snapshot (an int, or a TAG NAME — r13, resolved through the
    table's named refs), ``as_of`` (epoch seconds) resolves TIMESTAMP
    AS OF;
    default is the CURRENT latest. Because manifests are immutable, a
    registered view is a stable snapshot: re-register (or query with
    ``VERSION AS OF``) to see commits that land later. Also records
    ``name → root`` so :func:`resolve_time_travel` can rewrite
    ``name VERSION AS OF n`` / ``name TIMESTAMP AS OF 'ts'`` in SQL text
    against this table."""
    from s3_kinesis_replay_spark.operators.table_format import (
        snapshot_as_of,
        snapshot_read,
    )

    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    if branch is not None and (version is not None or as_of is not None):
        raise ValueError("branch registers the branch HEAD — no version/as_of")
    if as_of is not None:
        df = snapshot_as_of(spark, root, as_of)
    else:
        df = snapshot_read(spark, root, version, branch=branch)
    df.createOrReplaceTempView(name)
    _SNAPSHOT_ROOTS[name] = root
    return df


def register_snapshot_table_cbo(
    spark: SparkSession,
    name: str,
    root: str,
    version: int | str | None = None,
) -> tuple[int | None, int | None]:
    """Register a manifest-table snapshot as an ANALYZE'd CATALOG table
    so ``CostBasedJoinReorder`` can cost joins against it (r14, VERDICT
    item 6 — the c1d/c1e stats lifecycle extended to the lakehouse
    tier; a temp view carries no catalog stats, so CBO was blind to
    every registered snapshot table). Returns the planner's
    (sizeInBytes, rowCount).

    Spark's ANALYZE needs a catalog table over a DIRECTORY, and a
    manifest's live file set is not a directory — so the snapshot is
    pinned into ``<root>/_cbo/v<N>/`` first:

    * clean snapshots (no MOR delete state, unpartitioned) HARDLINK
      their live data files in — O(#files) metadata, zero data copy,
      and the links keep the pinned version readable even after a
      vacuum reaps the originals (inode survives);
    * snapshots carrying delete/pos-delete state or Hive partition
      dirs MATERIALIZE the assembled view (one table-shaped write —
      the compact cost, stated trade; raw links would re-expose
      deleted rows / lose dir-encoded partition values).

    The registration is PINNED at the resolved version (``version`` may
    be a tag), exactly like :func:`register_snapshot_table` — a later
    commit changes nothing until re-registration, which pins a new
    view dir and re-ANALYZEs (the stats can never go silently stale
    the c1e way, because the data under a pinned dir is immutable).
    Idempotent per (name, version): an existing catalog table already
    pointing at this view dir WITH stats is left alone. A catalog-
    integrated deployment (Iceberg/Delta) serves these stats straight
    from table metadata; the pinned-dir bridge is the local-FS
    equivalent with the same ANALYZE economics."""
    import shutil
    import uuid as _uuid

    from s3_kinesis_replay_spark.operators.table_format import (
        _entries,
        _read_manifest,
        latest_version,
        resolve_ref,
        snapshot_read,
    )

    if isinstance(version, str):
        version = resolve_ref(root, version)
    v = latest_version(root) if version is None else version
    m = _read_manifest(root, v)
    view_dir = os.path.join(root, "_cbo", f"v{v}")
    marker = os.path.join(view_dir, "_SKR_CBO_READY")
    if os.path.isdir(view_dir) and not os.path.exists(marker):
        # crash residue: a prior builder died between populating the
        # dir and writing the marker — heal by rebuilding (r14 review;
        # the rename-refusal path would otherwise stick forever)
        shutil.rmtree(view_dir, ignore_errors=True)
    if not os.path.exists(marker):
        tmp = view_dir + ".tmp-" + _uuid.uuid4().hex[:8]
        os.makedirs(tmp)
        ents = _entries(m, root)
        needs_materialize = (
            bool(m.get("delete_segments"))
            or bool(m.get("delete_files"))
            or bool(m.get("pos_delete_segments"))
            or any(e.get("partition") is not None for e in ents)
        )
        if needs_materialize:
            snapshot_read(spark, root, v).write.mode("overwrite").parquet(tmp)
        else:
            for i, e in enumerate(ents):
                src = os.path.join(root, e["path"])
                os.link(
                    src,
                    os.path.join(
                        tmp, f"part-{i:06d}-{os.path.basename(src)}"
                    ),
                )
        open(os.path.join(tmp, "_SKR_CBO_READY"), "w").write("1")
        try:
            os.rename(tmp, view_dir)
        except OSError:
            # a racer pinned the same version first — both built the
            # same immutable content; keep theirs
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(marker):
                raise
    want = os.path.normpath(os.path.abspath(view_dir))
    loc, has_stats = _table_meta(spark, name)
    if loc != want or not has_stats:
        # same NTZ workaround as bootstrap_cbo_tables: CBO's
        # FilterEstimation MatchErrors on TIMESTAMP_NTZ column stats
        prev_ntz = spark.conf.get(
            "spark.sql.parquet.inferTimestampNTZ.enabled"
        )
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        try:
            sql_path = view_dir.replace("'", "''")
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            spark.sql(
                f"CREATE TABLE {name} USING parquet LOCATION '{sql_path}'"
            )
            spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS"
            )
        finally:
            spark.conf.set(
                "spark.sql.parquet.inferTimestampNTZ.enabled", prev_ntz
            )
    _reap_superseded_cbo_dirs(spark, root, keep=want, prev_loc=loc)
    return table_stats(spark, name)


def _reap_superseded_cbo_dirs(
    spark: SparkSession, root: str, keep: str, prev_loc: str | None = None
) -> None:
    """Reap ``_cbo/v*`` pin dirs superseded by a re-registration (ADVICE
    r14: nothing else reaps them — snapshot_vacuum walks only root/data —
    so repeated re-registration accumulated dirs indefinitely, a full
    data copy per version for MOR/partitioned snapshots). A dir is
    reaped only when NO current catalog table's location points at it:
    another name may legitimately pin the same root at a different
    version. Crash-residue ``.tmp-*`` dirs are left to the existing
    heal-on-rebuild path (a concurrent builder may own them).

    SCOPE (review r15): the liveness check sees THIS session's catalog
    (current database). A separate concurrent SparkSession pinning the
    same root keeps its own in-memory catalog this walk cannot see —
    the same single-driver deployment assumption snapshot_vacuum makes
    for its reachability walk. A vacuum-style mtime grace keeps a
    racing registration's just-built dir safe; ``prev_loc`` (the
    re-registering name's OWN previous pin) is exempt from the grace —
    the catalog table just moved off it, so it reaps immediately unless
    another table still points there."""
    import re as _re
    import shutil
    import time as _time

    from s3_kinesis_replay_spark.operators.table_format import (
        VACUUM_GRACE_S,
    )

    cbo = os.path.join(root, "_cbo")
    if not os.path.isdir(cbo):
        return
    now = _time.time()

    def _young(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) < VACUUM_GRACE_S
        except OSError:
            return True

    doomed = [
        os.path.normpath(os.path.abspath(os.path.join(cbo, d)))
        for d in os.listdir(cbo)
        if _re.fullmatch(r"v\d+", d)
        and os.path.isdir(os.path.join(cbo, d))
    ]
    doomed = [
        d
        for d in doomed
        if d != keep and (d == prev_loc or not _young(d))
    ]
    if not doomed:
        return
    live = set()
    for t in spark.catalog.listTables():
        loc, _ = _table_meta(spark, t.name)
        if loc is not None:
            live.add(loc)
    for d in doomed:
        if d not in live:
            shutil.rmtree(d, ignore_errors=True)


def _parse_as_of_spec(spec: str) -> float:
    """TIMESTAMP AS OF operand → epoch seconds: a bare number is epoch
    seconds; a quoted string is ISO-8601, naive values read as UTC (the
    manifests' committed_at is ``time.time()``, and the engine pins the
    session zone to UTC)."""
    if not spec.startswith("'"):
        return float(spec)
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(spec[1:-1])
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return dt.timestamp()


def resolve_time_travel(spark: SparkSession, query: str) -> str:
    """Rewrite Delta-style time-travel clauses over REGISTERED snapshot
    tables into plain view references Spark SQL can parse:

    * ``tbl VERSION AS OF 3``                → temp view of snapshot v3
    * ``tbl VERSION AS OF 'tag'``            → tagged snapshot (r13)
    * ``tbl VERSION AS OF 'branch:b'``       → branch HEAD (r14 — the
      WAP audit step from SQL; re-resolved per query, heads move)
    * ``tbl TIMESTAMP AS OF 1765432100.5``   → newest snapshot <= epoch
    * ``tbl TIMESTAMP AS OF '2026-08-15T12:00:00'`` → same, ISO (UTC)

    Each resolved clause registers a deterministic per-snapshot view
    (``tbl__v3``, ``tbl__asof_<hex>``) via the ordinary snapshot read —
    pure metadata, O(#files) — and substitutes its name into the query.
    Names NOT registered via :func:`register_snapshot_table` are left
    untouched, so ordinary SQL (including string literals that happen to
    contain the phrase next to a non-registered word) never rewrites.
    Spark's parser has no extension point for temp-view time travel; a
    textual pre-pass is the same trick Delta's own SQL extension plays
    at parser level, scoped here to known snapshot names."""
    import hashlib

    from s3_kinesis_replay_spark.operators.table_format import (
        snapshot_as_of,
        snapshot_read,
    )

    # spans of single-quoted string literals ('' = escaped quote): a
    # clause whose TABLE NAME starts inside one is literal text, not a
    # table reference — e.g. SELECT 'read tbl VERSION AS OF 3 first'
    # must survive verbatim even when tbl IS registered (r13)
    literal_spans = [
        m.span() for m in re.finditer(r"'(?:[^']|'')*'", query)
    ]

    def sub(m: re.Match) -> str:
        name = m.group("name")
        root = _SNAPSHOT_ROOTS.get(name)
        if root is None:
            return m.group(0)  # not a snapshot table: leave verbatim
        if any(a < m.start() < b for a, b in literal_spans):
            return m.group(0)  # inside a string literal: leave verbatim
        kind, spec = m.group("kind").upper(), m.group("spec")
        if kind == "VERSION":
            if spec.startswith("'"):
                ref = spec[1:-1]
                if ref.startswith("branch:"):
                    # BRANCH HEAD read (r14, VERDICT item 5): WAP's
                    # audit step from SQL — `tbl VERSION AS OF
                    # 'branch:staging'` reads the branch lineage's
                    # current head. Re-resolved per query (branch heads
                    # move, unlike pinned snapshots), so the view is
                    # re-registered each time.
                    bname = ref[len("branch:"):]
                    # ref names may carry dots/dashes; view names can't
                    view = f"{name}__branch_" + re.sub(r"\W", "_", bname)
                    snapshot_read(
                        spark, root, branch=bname
                    ).createOrReplaceTempView(view)
                    return view
                # quoted spec = a NAMED REF (Iceberg's VERSION AS OF
                # 'tag' in Spark SQL, r13): resolve tag → version so the
                # view name stays deterministic per pinned snapshot
                from s3_kinesis_replay_spark.operators.table_format import (
                    resolve_ref,
                )

                v = resolve_ref(root, ref)
            else:
                v = int(float(spec))
            view = f"{name}__v{v}"
            snapshot_read(spark, root, v).createOrReplaceTempView(view)
        else:
            ts = _parse_as_of_spec(spec)
            tag = hashlib.sha256(repr(ts).encode()).hexdigest()[:10]
            view = f"{name}__asof_{tag}"
            snapshot_as_of(spark, root, ts).createOrReplaceTempView(view)
        return view

    return re.sub(_TT_PATTERN, sub, query, flags=re.IGNORECASE)


def _split_top_level(text: str) -> list[str]:
    """Split on TOP-LEVEL commas only (parens may nest; string literals
    may carry commas) — shared by SET assignments and INSERT VALUES."""
    parts: list[str] = []
    depth = 0
    in_str = False
    cur = ""
    for ch in text:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
                continue
        cur += ch
    parts.append(cur)
    return [p.strip() for p in parts]


def _split_assignments(text: str) -> dict[str, str]:
    """``SET a = x, b = f(y, z)`` → {a: 'x', b: 'f(y, z)'}."""
    out: dict[str, str] = {}
    for p in _split_top_level(text):
        if "=" not in p:
            raise ValueError(f"bad SET assignment: {p.strip()!r}")
        col, expr = p.split("=", 1)
        out[col.strip().strip("`")] = expr.strip()
    return out


def _insert_source(spark, root: str, src_sql: str) -> DataFrame:
    """The source frame of an INSERT-family statement (INSERT INTO,
    INSERT OVERWRITE, REPLACE WHERE), time-travel clauses resolved and
    bound to the target table's recorded schema: VALUES rows bind by
    POSITION (arity-checked rename); known columns cast to the recorded
    types (an INT literal inserts into a BIGINT column); columns beyond
    the schema ride as-is (add-column evolution, validated by the
    commit)."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    df = spark.sql(resolve_time_travel(spark, src_sql))
    v = tf.latest_version(root)
    cols = tf._read_manifest(root, v).get("schema") if v else None
    if cols is None:
        return df
    names = [c for c, _t in cols]
    types = dict(cols)
    if src_sql.lstrip().upper().startswith("VALUES"):
        if len(df.columns) != len(names):
            raise ValueError(
                f"INSERT VALUES arity {len(df.columns)} != table "
                f"width {len(names)} ({names})"
            )
        df = df.toDF(*names)
    if set(names) <= set(df.columns):
        df = df.select(
            *[F.col(c).cast(types[c]).alias(c) for c in names],
            *[c for c in df.columns if c not in types],
        )
    return df


def _parse_merge_on(text: str):
    """The MERGE ``ON`` operand → the row identity snapshot_merge*
    take (r16, composite keys). Accepted forms:

    * ``ON k`` — bare column name (pre-r16 form, single-column key)
    * ``ON t.a = s.a AND t.b = s.b`` — equality conjunction; every
      equality must pair the SAME column name across the two aliases
      (any alias order). One column → string; several → ordered list.

    Anything else — inequality, expression, differing names — is
    refused loudly: the engine's row identity is name-based (tombstone
    files store the key columns by name), so ``t.a = s.b`` has no
    MOR representation here."""
    t = text.strip()
    m = re.fullmatch(r"`?(\w+)`?", t)
    if m:
        return m.group(1)
    cols: list[str] = []
    for part in re.split(r"(?i)\s+AND\s+", t):
        m = re.fullmatch(
            r"\s*([ts])\.`?(\w+)`?\s*=\s*([ts])\.`?(\w+)`?\s*", part
        )
        if (
            not m
            or m.group(1) == m.group(3)
            or m.group(2) != m.group(4)
        ):
            raise ValueError(
                f"unsupported MERGE ON term {part.strip()!r} — use a "
                "bare key column or an AND of t.<col> = s.<col> "
                "equalities pairing the same column name"
            )
        cols.append(m.group(2))
    if len(set(cols)) != len(cols):
        raise ValueError(f"MERGE ON repeats a key column: {cols}")
    return cols[0] if len(cols) == 1 else cols


def _parse_merge_clauses(text: str) -> list[dict]:
    """The WHEN-clause tail of a MERGE statement → the ordered clause
    list :func:`table_format.snapshot_merge_clauses` takes. Grammar
    (each clause; conditions are Spark SQL over aliases t/s):

    * ``WHEN MATCHED [AND cond] THEN UPDATE SET a = e, ...``
    * ``WHEN MATCHED [AND cond] THEN DELETE``
    * ``WHEN NOT MATCHED [AND cond] THEN INSERT *`` /
      ``INSERT (cols) VALUES (exprs)``
    * ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE /
      UPDATE SET …`` (t-only references — no source row on this side)

    Known textual limits, refused loudly rather than misparsed: a
    condition may not itself contain the token sequence ``WHEN
    MATCHED``/``WHEN NOT MATCHED`` (clause boundary) or a top-level
    ``THEN`` (CASE expressions belong in SET values, where they parse
    fine)."""
    segs = [
        s.strip()
        for s in re.split(
            r"(?i)\bWHEN\s+(?=MATCHED\b|NOT\s+MATCHED\b)", text
        )
        if s.strip()
    ]
    if not segs:
        raise ValueError(f"no WHEN clauses in MERGE tail: {text!r}")
    clauses: list[dict] = []

    def cond_of(g: str | None) -> str | None:
        return g.strip() if g else None

    for seg in segs:
        m = re.fullmatch(
            r"(?is)NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?"
            r"\s+THEN\s+DELETE\s*",
            seg,
        )
        if m:
            clauses.append(
                {"kind": "nbs_delete", "cond": cond_of(m.group(1))}
            )
            continue
        m = re.fullmatch(
            r"(?is)NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?"
            r"\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*",
            seg,
        )
        if m:
            clauses.append(
                {
                    "kind": "nbs_update",
                    "cond": cond_of(m.group(1)),
                    "sets": _split_assignments(m.group(2)),
                }
            )
            continue
        m = re.fullmatch(
            r"(?is)NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
            r"INSERT\s*\*\s*",
            seg,
        )
        if m:
            clauses.append(
                {
                    "kind": "insert",
                    "cond": cond_of(m.group(1)),
                    "cols": None,
                    "values": None,
                }
            )
            continue
        m = re.fullmatch(
            r"(?is)NOT\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
            r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.+)\)\s*",
            seg,
        )
        if m:
            cols = [c.strip().strip("`") for c in m.group(2).split(",")]
            values = _split_top_level(m.group(3))
            if len(cols) != len(values):
                raise ValueError(
                    f"INSERT arity mismatch: {len(cols)} columns, "
                    f"{len(values)} values in clause WHEN {seg!r}"
                )
            clauses.append(
                {
                    "kind": "insert",
                    "cond": cond_of(m.group(1)),
                    "cols": cols,
                    "values": values,
                }
            )
            continue
        m = re.fullmatch(
            r"(?is)MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*", seg
        )
        if m:
            clauses.append({"kind": "delete", "cond": cond_of(m.group(1))})
            continue
        m = re.fullmatch(
            r"(?is)MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+"
            r"(.+?)\s*",
            seg,
        )
        if m:
            clauses.append(
                {
                    "kind": "update",
                    "cond": cond_of(m.group(1)),
                    "sets": _split_assignments(m.group(2)),
                }
            )
            continue
        raise ValueError(f"unrecognized MERGE clause: WHEN {seg!r}")
    return clauses


# Statement handlers: ``handler(spark, m, root)`` gets the statement's
# match (group 1 is always the target name) and that name's registered
# root — None when a creating statement names a new table. Plain
# module-level functions that reach table_format through its module
# attribute at call time, so tools/window_tool.py hashes each one and
# the benchmark's table_format spans see every verb. Each imports
# table_format itself: importing the package (every Python worker does)
# must not load it.


def _result(spark, op: str, name: str, version: int) -> DataFrame:
    return spark.createDataFrame(
        [(op, name, version)], "operation string, target string, version int"
    )


def _done(spark, op: str, name: str, root: str, version: int) -> DataFrame:
    """Finish a committing statement: bring every dependent on-commit
    materialized view current (no-op, one isdir, for tables without
    one; idempotent per source version), then re-register each
    refreshed view's name and the target's own name — a temp view pins
    the file list of the version it was created over."""
    from s3_kinesis_replay_spark.operators import table_format as tf

    refreshed = tf.refresh_dependent_views(spark, root)
    if refreshed:
        canon = {os.path.abspath(r) for r in refreshed}
        for nm, rt in list(_SNAPSHOT_ROOTS.items()):
            if os.path.abspath(rt) in canon:
                tf.snapshot_read(spark, rt).createOrReplaceTempView(nm)
    tf.snapshot_read(spark, root).createOrReplaceTempView(name)
    return _result(spark, op, name, version)


def _refuse_shadow(spark, verb: str, name: str, what: str = "") -> None:
    """createOrReplaceTempView would silently SHADOW an existing
    non-snapshot view (e.g. the built-in `events` fixture) for every
    later query in the session — refuse. Re-creating a name this module
    registered is fine: its new LOCATION still refuses non-empty
    targets."""
    if name not in _SNAPSHOT_ROOTS and spark.catalog.tableExists(name):
        raise ValueError(
            f"{verb}: {name!r} already names a registered view{what} — "
            "pick another name or drop the view first"
        )


def _create_as(spark, m, _root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    name, root, src_sql = m.group(1), m.group(2), m.group(3)
    _refuse_shadow(
        spark, "CREATE TABLE", name, " (a fixture table or other temp view)"
    )
    if tf.latest_version(root) > 0:
        raise ValueError(
            f"CREATE TABLE: {root} already holds snapshots "
            f"(latest v{tf.latest_version(root)}) — INSERT INTO a "
            "registered view, or point LOCATION at an empty dir"
        )
    df = spark.sql(resolve_time_travel(spark, src_sql))
    v = tf.snapshot_write(spark, df, root, "overwrite")
    register_snapshot_table(spark, name, root)
    return _result(spark, "create", name, v)


def _create_with_schema(spark, m, _root):
    # empty v1 recording the schema; the first INSERT lands as v2
    from s3_kinesis_replay_spark.operators import table_format as tf

    name, root = m.group(1), m.group(2)
    _refuse_shadow(spark, "CREATE TABLE", name)
    v = tf.snapshot_create_table(spark, root, m.group(3))
    register_snapshot_table(spark, name, root)
    return _result(spark, "create", name, v)


def _convert(spark, m, _root):
    # adopt a plain-parquet directory in place, zero bytes rewritten
    from s3_kinesis_replay_spark.operators import table_format as tf

    name, root = m.group(1), m.group(2)
    _refuse_shadow(spark, "CONVERT", name)
    v = tf.snapshot_convert(spark, root)
    register_snapshot_table(spark, name, root)
    return _result(spark, "convert", name, v)


def _shallow_clone(spark, m, _root):
    # fork a registered table at a version/tag into an empty location,
    # zero data copied (hard-linked files + verbatim metadata chain —
    # history, time travel, CDC and tags up to the clone point all work)
    from s3_kinesis_replay_spark.operators import table_format as tf

    name, root, src_name = m.group(1), m.group(2), m.group(3)
    src_root = _SNAPSHOT_ROOTS.get(src_name)
    if src_root is None:
        raise ValueError(
            f"SHALLOW CLONE: {src_name!r} is not a registered "
            "snapshot table"
        )
    _refuse_shadow(spark, "SHALLOW CLONE", name)
    at = int(m.group(4)) if m.group(4) else m.group(5)
    v = tf.snapshot_clone(src_root, root, at)
    register_snapshot_table(spark, name, root)
    return _result(spark, "clone", name, v)


def _delete(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_delete_where(spark, root, m.group(2))
    return _done(spark, "delete", m.group(1), root, v)


def _update(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    sets = _split_assignments(m.group(2))
    v = tf.snapshot_update_where(spark, root, m.group(3), sets)
    return _done(spark, "update", m.group(1), root, v)


def _insert(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    df = _insert_source(spark, root, m.group(2))
    # follow the table's recorded partition spec (after ALTER TABLE ...
    # SET PARTITION SPEC, INSERTs lay out under the new spec)
    v = tf.snapshot_write(spark, df, root, "append", partition_by="table")
    return _done(spark, "insert", m.group(1), root, v)


def _replace_where(spark, m, root):
    # atomically replace exactly the predicate's slice with the source
    # rows (every one of which must satisfy the predicate)
    from s3_kinesis_replay_spark.operators import table_format as tf

    df = _insert_source(spark, root, m.group(3))
    v = tf.snapshot_overwrite_where(spark, root, df, m.group(2))
    return _done(spark, "replace_where", m.group(1), root, v)


def _insert_overwrite(spark, m, root):
    # the new version lists only the new files; history stays
    # time-travelable until vacuum
    from s3_kinesis_replay_spark.operators import table_format as tf

    df = _insert_source(spark, root, m.group(2))
    v = tf.snapshot_write(spark, df, root, "overwrite", partition_by="table")
    return _done(spark, "insert_overwrite", m.group(1), root, v)


def _merge(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    key = _parse_merge_on(m.group(3))
    clause_sql = (m.group(4) or "").strip()
    src = spark.sql(resolve_time_travel(spark, m.group(2)))
    if not clause_sql:
        # bare key-upsert form: matched rows replaced by the source row,
        # unmatched source rows inserted
        v = tf.snapshot_merge(spark, root, src, key)
    else:
        v = tf.snapshot_merge_clauses(
            spark, root, src, key, _parse_merge_clauses(clause_sql)
        )
    return _done(spark, "merge", m.group(1), root, v)


def _add_constraint(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_set_constraint(
        spark, root, m.group(2), m.group(3).strip()
    )
    return _done(spark, "add_constraint", m.group(1), root, v)


def _drop_constraint(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_drop_constraint(root, m.group(2))
    return _done(spark, "drop_constraint", m.group(1), root, v)


def _add_column(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_add_column(
        spark, root, m.group(2), m.group(3), default=m.group(4)
    )
    return _done(spark, "add_column", m.group(1), root, v)


def _set_partition_spec(spark, m, root):
    # metadata-only: old files keep their spec, new INSERTs follow the
    # new one
    from s3_kinesis_replay_spark.operators import table_format as tf

    specs = (
        [s.strip() for s in _split_top_level(m.group(2))]
        if m.group(2)
        else None
    )
    v = tf.snapshot_evolve_partition_spec(spark, root, specs)
    return _done(spark, "evolve_partition_spec", m.group(1), root, v)


def _alter_column_type(spark, m, root):
    # safe type WIDENING, metadata-only (old files cast up on read);
    # unsafe changes refuse in snapshot_widen_column
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_widen_column(spark, root, m.group(2), m.group(3))
    return _done(spark, "widen_column", m.group(1), root, v)


def _rename_column(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_rename_column(spark, root, m.group(2), m.group(3))
    return _done(spark, "rename_column", m.group(1), root, v)


def _drop_column(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.snapshot_drop_column(spark, root, m.group(2))
    return _done(spark, "drop_column", m.group(1), root, v)


def _create_matview(spark, m, _root):
    # CREATE pins the definition and the reflected source version in the
    # view's own manifest; REFRESH applies a signed CDC delta
    # (O(changed rows) + O(groups))
    from s3_kinesis_replay_spark.operators import table_format as tf

    name, vroot, on_commit, sel, src_name, gb = (
        m.group(1), m.group(2), bool(m.group(3)),
        m.group(4), m.group(5), m.group(6),
    )
    src_root = _SNAPSHOT_ROOTS.get(src_name)
    if src_root is None:
        raise ValueError(
            f"CREATE MATERIALIZED VIEW: source {src_name!r} is not "
            "a registered snapshot table — row-level CDC drives the "
            "refresh, so the source must be a manifest table"
        )
    _refuse_shadow(
        spark, "CREATE MATERIALIZED VIEW", name,
        " (a fixture table or other temp view)",
    )
    group_cols = [g.strip().strip("`") for g in _split_top_level(gb)]
    aggs: list[dict] = []
    declared: list[str] = []
    for item in _split_top_level(sel):
        mm = re.fullmatch(r"(?is)COUNT\s*\(\s*\*\s*\)\s+AS\s+(\w+)", item)
        if mm:
            aggs.append({"fn": "count", "expr": None, "alias": mm.group(1)})
            continue
        mm = re.fullmatch(r"(?is)SUM\s*\((.+)\)\s+AS\s+(\w+)", item)
        if mm:
            aggs.append(
                {
                    "fn": "sum",
                    "expr": mm.group(1).strip(),
                    "alias": mm.group(2),
                }
            )
            continue
        mm = re.fullmatch(r"\s*`?(\w+)`?\s*", item)
        if mm and mm.group(1) in group_cols:
            declared.append(mm.group(1))
            continue
        raise ValueError(
            f"materialized view select item {item.strip()!r} is not "
            "a GROUP BY column, COUNT(*) AS n, or SUM(expr) AS s — "
            "additive aggregates only (differential maintenance)"
        )
    if sorted(declared) != sorted(group_cols):
        # every GROUP BY column must be selected (the stored view's
        # columns are group_cols + aggs in that order; a select list
        # omitting one would silently disagree with what is stored)
        raise ValueError(
            f"materialized view SELECT lists group columns "
            f"{declared}, GROUP BY has {group_cols} — list every "
            "group column in the select"
        )
    v = tf.matview_create(
        spark, src_root, vroot, group_cols, aggs, refresh_on_commit=on_commit
    )
    register_snapshot_table(spark, name, vroot)
    return _result(spark, "create_matview", name, v)


def _refresh_matview(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = tf.matview_refresh(spark, root)
    return _done(spark, "refresh_matview", m.group(1), root, v)


def _drop_matview(spark, m, root):
    # removes the stored view AND its on-commit pointer at the source,
    # then unregisters the name
    from s3_kinesis_replay_spark.operators import table_format as tf

    name = m.group(1)
    tf.matview_drop(root)
    _SNAPSHOT_ROOTS.pop(name, None)
    with contextlib.suppress(Exception):
        spark.catalog.dropTempView(name)
    return _result(spark, "drop_matview", name, 0)


def _restore(spark, m, root):
    # metadata-only rollback; the undone commits stay time-travelable
    from s3_kinesis_replay_spark.operators import table_format as tf

    at = int(m.group(2)) if m.group(2) else m.group(3)
    v = tf.snapshot_restore(root, at)
    return _done(spark, "restore", m.group(1), root, v)


def _describe_history(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    return tf.snapshot_history(spark, root)


def _describe_detail(spark, m, root):
    import json

    from s3_kinesis_replay_spark.operators import table_format as tf

    d = tf.snapshot_detail(root)
    spec, cons = d["partition_spec"], d["constraints"]
    d["partition_spec"] = json.dumps(spec) if spec else None
    d["constraints"] = json.dumps(cons, sort_keys=True) if cons else None
    return spark.createDataFrame(
        [(m.group(1), *d.values())],
        "name string, location string, version int, last_operation "
        "string, num_files int, size_bytes bigint, num_delete_files "
        "int, num_pos_delete_files int, partition_spec string, "
        "constraints string, schema_width int",
    )


def _table_files(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    v = int(m.group(2)) if m.group(2) else None
    return tf.snapshot_files(spark, root, v)


def _table_changes(spark, m, root):
    # a starting TIMESTAMP resolves to the newest version strictly
    # BEFORE it (exclusive lower bound, so commits at/after the
    # timestamp are included); an ending TIMESTAMP to the newest version
    # at/before it
    from s3_kinesis_replay_spark.operators import table_format as tf

    lo = (
        int(m.group(2))
        if m.group(2)
        else tf.cdc_start_version(root, tf.timestamp_to_epoch(m.group(3)))
    )
    hi = (
        int(m.group(4))
        if m.group(4)
        else tf.version_as_of(root, tf.timestamp_to_epoch(m.group(5)))
    )
    return tf.snapshot_row_changes(spark, root, lo, hi)


def _vacuum(spark, m, root):
    # DRY RUN: identical walk and counts, nothing deleted
    from s3_kinesis_replay_spark.operators import table_format as tf

    keep = int(m.group(2)) if m.group(2) else 2
    rep = tf.snapshot_vacuum(root, keep_last=keep, dry_run=bool(m.group(3)))
    return spark.createDataFrame(
        [(
            m.group(1),
            rep["deleted_files"],
            rep["kept_files"],
            rep["skipped_young"],
            len(rep["dropped_versions"]),
        )],
        "target string, deleted_files int, kept_files int, "
        "skipped_young int, dropped_versions int",
    )


def _show_partitions(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    rows = [tuple(p.values()) for p in tf.snapshot_partitions(root)]
    return spark.createDataFrame(
        rows or [(None, 0, 0)],
        "partition string, n_files int, n_bytes bigint",
    )


def _optimize_binpack(spark, m, root):
    # minor compaction: rewrites only files below the threshold —
    # O(small files), never O(table). WHERE scopes the pick to one
    # partition: equality conjunctions on the partition transforms
    from s3_kinesis_replay_spark.operators import table_format as tf

    name = m.group(1)
    kw = {}
    if m.group(2):
        kw["small_bytes"] = int(m.group(2))
    if m.group(3):
        kw["min_files"] = int(m.group(3))
    if m.group(4):
        part: dict = {}
        for clause in re.split(r"\s+AND\s+", m.group(4), flags=re.IGNORECASE):
            pm = re.fullmatch(
                r"\s*([\w(),. ]+?)\s*=\s*(?:'([^']*)'|(\S+))\s*", clause
            )
            if not pm:
                raise ValueError(
                    f"OPTIMIZE BINPACK WHERE: {clause.strip()!r} — "
                    "only equality conjunctions on partition "
                    "transforms are supported (files are picked "
                    "by recorded partition value, not row scan)"
                )
            part[pm.group(1)] = (
                pm.group(2) if pm.group(2) is not None else pm.group(3)
            )
        # keys must name recorded partition transforms: a typo'd or
        # non-partition column would match zero entries and silently
        # report success
        spec = tf._read_manifest(root, tf.latest_version(root)).get(
            "partition_spec"
        ) or []
        unknown = [k for k in part if k not in spec]
        if unknown:
            raise ValueError(
                f"OPTIMIZE BINPACK WHERE: {unknown} are not "
                f"partition transforms of {name!r} (recorded spec: "
                f"{spec or 'none'}) — files are picked by recorded "
                "partition value; a non-partition filter would "
                "silently match nothing"
            )
        kw["partition"] = part
    v = tf.snapshot_compact_small(spark, root, **kw)
    return _done(
        spark, "optimize_binpack", name, root,
        v if v is not None else tf.latest_version(root),
    )


def _optimize_cluster(spark, m, root):
    from s3_kinesis_replay_spark.operators import table_format as tf

    cols = [c.strip() for c in m.group(3).split(",")]
    # the matched keyword decides the layout (a search for 'ZORDER'
    # would false-positive on a table NAMED zorder_x)
    zorder = m.group(2).upper() == "ZORDER"
    v = tf.snapshot_cluster(spark, root, cols, zorder=zorder)
    return _done(spark, "optimize", m.group(1), root, v)


_I = re.IGNORECASE
_ID = re.IGNORECASE | re.DOTALL

# (pattern, handler, needs_registered_name) in first-match order; group
# 1 of every pattern is the target name. resolve_dml returns None for a
# needs_registered_name form on a name _SNAPSHOT_ROOTS does not hold.
_STATEMENTS = [
    (re.compile(
        r"\s*CREATE\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s+AS\s+(.+?)"
        r"\s*;?\s*", _ID), _create_as, False),
    (re.compile(
        r"\s*CREATE\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s*"
        r"\(\s*(.+?)\s*\)\s*;?\s*", _ID), _create_with_schema, False),
    (re.compile(
        r"\s*CONVERT\s+TO\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s*;?\s*",
        _I), _convert, False),
    (re.compile(
        r"\s*CREATE\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'\s+SHALLOW\s+"
        r"CLONE\s+(\w+)(?:\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'(\w+)'))?"
        r"\s*;?\s*", _I), _shallow_clone, False),
    (re.compile(
        r"\s*DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+?)\s*;?\s*", _ID),
     _delete, True),
    (re.compile(
        r"\s*UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*", _ID),
     _update, True),
    (re.compile(
        r"\s*INSERT\s+INTO\s+(\w+)\s+((?:SELECT|VALUES|WITH|TABLE)\b.+?)"
        r"\s*;?\s*", _ID), _insert, True),
    (re.compile(
        r"\s*INSERT\s+INTO\s+(\w+)\s+REPLACE\s+WHERE\s+(.+?)\s+"
        r"((?:SELECT|VALUES|WITH|TABLE)\b.+?)\s*;?\s*", _ID),
     _replace_where, True),
    (re.compile(
        r"\s*INSERT\s+OVERWRITE\s+(?:TABLE\s+)?(\w+)\s+"
        r"((?:SELECT|VALUES|WITH|TABLE)\b.+?)\s*;?\s*", _ID),
     _insert_overwrite, True),
    (re.compile(
        r"\s*MERGE\s+INTO\s+(\w+)\s+USING\s+\((.+)\)\s+ON\s+(.+?)"
        r"((?:\s+WHEN\s+(?:NOT\s+)?MATCHED\b.+)?)\s*;?\s*", _ID),
     _merge, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
        r"CHECK\s*\((.+)\)\s*;?\s*", _ID), _add_constraint, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*",
        _I), _drop_constraint, True),
    # ADD COLUMN takes two patterns, NOT one with optional parens: a lazy
    # type group followed by an optional `\)?` strips the closing paren
    # of parenthesized types ('decimal(10,2)' → 'decimal(10,2'), breaking
    # DataType.fromDDL. The bare form takes the type verbatim; the
    # COLUMNS(…) form requires a matched closing paren.
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s+"
        r"(\w+)\s+([A-Za-z_][A-Za-z0-9_,()<> ]*?)"
        r"(?:\s+DEFAULT\s+(.+?))?\s*;?\s*", _I), _add_column, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s*\(\s*"
        r"(\w+)\s+([A-Za-z_][A-Za-z0-9_,()<> ]*?)"
        r"(?:\s+DEFAULT\s+(.+?))?\s*\)\s*;?\s*", _I), _add_column, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+SET\s+PARTITION\s+SPEC\s+"
        r"(?:NONE|\(\s*(.+?)\s*\))\s*;?\s*", _I), _set_partition_spec, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+"
        r"(?:TYPE|SET\s+DATA\s+TYPE)\s+"
        r"([A-Za-z_][A-Za-z0-9_,()<> ]*?)\s*;?\s*", _I),
     _alter_column_type, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+"
        r"(\w+)\s*;?\s*", _I), _rename_column, True),
    (re.compile(
        r"\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*", _I),
     _drop_column, True),
    (re.compile(
        r"\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+LOCATION\s+"
        r"'([^']+)'\s+(?:(REFRESH\s+ON\s+COMMIT)\s+)?"
        r"AS\s+SELECT\s+(.+?)\s+FROM\s+(\w+)\s+"
        r"GROUP\s+BY\s+(.+?)\s*;?\s*", _ID), _create_matview, False),
    (re.compile(r"\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*", _I),
     _refresh_matview, True),
    (re.compile(r"\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*;?\s*", _I),
     _drop_matview, True),
    (re.compile(
        r"\s*RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+"
        r"(?:(\d+)|'(\w+)')\s*;?\s*", _I), _restore, True),
    (re.compile(r"\s*DESCRIBE\s+HISTORY\s+(\w+)\s*;?\s*", _I),
     _describe_history, True),
    (re.compile(r"\s*DESCRIBE\s+DETAIL\s+(\w+)\s*;?\s*", _I),
     _describe_detail, True),
    (re.compile(
        r"\s*SELECT\s+\*\s+FROM\s+TABLE_FILES\s*\(\s*(\w+)"
        r"(?:\s*,\s*(\d+))?\s*\)\s*;?\s*", _I), _table_files, True),
    (re.compile(
        r"\s*SELECT\s+\*\s+FROM\s+TABLE_CHANGES\s*\(\s*(\w+)\s*,\s*"
        r"(?:(\d+)|TIMESTAMP\s*('[^']*'))\s*,\s*"
        r"(?:(\d+)|TIMESTAMP\s*('[^']*'))\s*\)\s*;?\s*", _I),
     _table_changes, True),
    (re.compile(
        r"\s*VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
        r"(\s+DRY\s+RUN)?\s*;?\s*", _I), _vacuum, True),
    (re.compile(r"\s*SHOW\s+PARTITIONS\s+(\w+)\s*;?\s*", _I),
     _show_partitions, True),
    (re.compile(
        r"\s*OPTIMIZE\s+(\w+)\s+BINPACK"
        r"(?:\s+\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\))?"
        r"(?:\s+WHERE\s+(.+?))?\s*;?\s*", _I), _optimize_binpack, True),
    (re.compile(
        r"\s*OPTIMIZE\s+(\w+)\s+(ZORDER|CLUSTER)\s+BY\s*"
        r"\(?\s*(\w+(?:\s*,\s*\w+)*)\s*\)?\s*;?\s*", _I),
     _optimize_cluster, True),
]


def resolve_dml(spark: SparkSession, query: str) -> DataFrame | None:
    """SQL DML/DDL over REGISTERED snapshot tables — the write half of
    the catalog surface, the same textual pre-pass as
    :func:`resolve_time_travel` (Delta ships these as parser
    extensions; a temp-view catalog has no hook). Statement forms, in
    first-match order (``_STATEMENTS``):

    * ``CREATE TABLE t LOCATION '<root>' AS <query>`` (refuses a
      non-empty root)
    * ``CREATE TABLE t LOCATION '<root>' (col type, ...)``
    * ``CONVERT TO TABLE t LOCATION '<root>'``
    * ``CREATE TABLE t LOCATION '<root>' SHALLOW CLONE s
      [VERSION AS OF n | 'tag']``
    * ``DELETE FROM t WHERE <pred>``
    * ``UPDATE t SET c = e, ... WHERE <pred>``
    * ``INSERT INTO t <query>`` (SELECT / VALUES / WITH / TABLE)
    * ``INSERT INTO t REPLACE WHERE <pred> <query>``
    * ``INSERT OVERWRITE [TABLE] t <query>``
    * ``MERGE INTO t USING (<query>) ON <key> [WHEN ...]``: ON is a bare
      key column or an AND of ``t.c = s.c``; clauses ``WHEN MATCHED
      [AND c] THEN UPDATE SET ... / DELETE``, ``WHEN NOT MATCHED [AND c]
      THEN INSERT * / (cols) VALUES (...)``, ``WHEN NOT MATCHED BY
      SOURCE [AND c] THEN DELETE / UPDATE SET ...`` (conditions are
      Spark SQL over aliases t/s)
    * ``ALTER TABLE t ADD CONSTRAINT n CHECK (expr)``
    * ``ALTER TABLE t DROP CONSTRAINT n``
    * ``ALTER TABLE t ADD COLUMN[S] c type [DEFAULT e]``
    * ``ALTER TABLE t ADD COLUMN[S] (c type [DEFAULT e])``
    * ``ALTER TABLE t SET PARTITION SPEC (transforms) | NONE``
    * ``ALTER TABLE t ALTER COLUMN c TYPE | SET DATA TYPE type``
    * ``ALTER TABLE t RENAME COLUMN a TO b``
    * ``ALTER TABLE t DROP COLUMN c``
    * ``CREATE MATERIALIZED VIEW v LOCATION '<root>' [REFRESH ON
      COMMIT] AS SELECT g, COUNT(*) AS n, SUM(e) AS s FROM t GROUP BY g``
    * ``REFRESH MATERIALIZED VIEW v``
    * ``DROP MATERIALIZED VIEW v``
    * ``RESTORE TABLE t TO VERSION AS OF n | 'tag'``
    * ``DESCRIBE HISTORY t``
    * ``DESCRIBE DETAIL t``
    * ``SELECT * FROM TABLE_FILES(t [, version])``
    * ``SELECT * FROM TABLE_CHANGES(t, from, to)`` (bounds are versions
      or ``TIMESTAMP '...'``)
    * ``VACUUM t [RETAIN n VERSIONS] [DRY RUN]``
    * ``SHOW PARTITIONS t``
    * ``OPTIMIZE t BINPACK [(small_bytes [, min_files])]
      [WHERE transform = value AND ...]``
    * ``OPTIMIZE t ZORDER BY (cols)`` / ``OPTIMIZE t CLUSTER BY (cols)``

    A committing statement returns a one-row DataFrame (operation,
    target, version) and RE-REGISTERS the view at the new snapshot so
    subsequent ``sql()`` reads see the committed state; DESCRIBE,
    TABLE_FILES, TABLE_CHANGES, VACUUM and SHOW PARTITIONS return their
    own frames. Returns None for anything else, including these verbs
    on non-registered names — Spark then raises its own error, rather
    than this layer guessing. Constraint violations and commit
    conflicts propagate from the operators — refused DML leaves the
    table untouched."""
    for pattern, handler, needs_registered_name in _STATEMENTS:
        m = pattern.fullmatch(query)
        if m:
            root = _SNAPSHOT_ROOTS.get(m.group(1))
            if needs_registered_name and root is None:
                return None
            return handler(spark, m, root)
    return None


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load all fixture tables; optionally register as temp views for SQL."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = table(spark, name, sf_dir)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


# One fixture-view registration per (session, sf_dir) — r16 profile:
# every Engine.sql-using entry paid ~10 serial driver round-trips
# (spark.read.parquet + createOrReplaceTempView per fixture table,
# ~1.3 s/entry on the bench host) to re-create temp views that are
# already bound to the identical plans. The binding is catalog
# METADATA, not data: every query still scans the parquet inputs.
# Keyed weakly on the SparkSession (a fresh session re-registers) and
# on sf_dir (switching scale factors re-registers under the shared
# names). Dropping a fixture temp view mid-session is outside the
# engine surface.
from weakref import WeakKeyDictionary

_FIXTURE_VIEWS: WeakKeyDictionary = WeakKeyDictionary()


def ensure_fixture_views(spark: SparkSession, sf_dir: str) -> None:
    if _FIXTURE_VIEWS.get(spark) == sf_dir:
        return
    load_tables(spark, sf_dir, register_views=True)
    _FIXTURE_VIEWS[spark] = sf_dir


def table_stats(spark: SparkSession, name: str) -> tuple[int | None, int | None]:
    """(sizeInBytes, rowCount) the COST-BASED PLANNER currently sees for a
    catalog table, parsed from ``DESCRIBE TABLE EXTENDED``'s Statistics
    row — ``(None, None)`` when the table carries no stats. This is the
    observability half of the stats lifecycle: what ANALYZE wrote, not
    what the files contain."""
    import re

    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    stat = next(
        (r["data_type"] for r in desc if r["col_name"] == "Statistics"), None
    )
    if stat is None:
        return None, None
    size = re.search(r"(\d+) bytes", stat)
    rows = re.search(r"(\d+) rows", stat)
    return (
        int(size.group(1)) if size else None,
        int(rows.group(1)) if rows else None,
    )


def refresh_stats(
    spark: SparkSession, name: str, columns: bool = False
) -> tuple[int | None, int | None]:
    """Post-ingest ANALYZE — the stats LIFECYCLE beyond bootstrap
    (VERDICT r10 item 2: ``bootstrap_cbo_tables``'s idempotence guard
    skips tables that already carry stats, so an appended table would
    otherwise be costed with pre-append row counts forever). Run after
    every append/compaction batch; returns the refreshed (sizeInBytes,
    rowCount) so callers can assert the planner now sees the new data.

    ``columns=False`` (table-level: row count + size, one count-style
    scan) is the per-ingest default; ``columns=True`` adds per-column
    NDV/min/max (the full bootstrap scan) and is worth it on the cadence
    at which join-reorder decisions drift, not every batch. At 100 TB:
    table-level ANALYZE on each ingest batch, FOR ALL COLUMNS weekly or
    after major skew shifts — stats live in the metastore, so both
    amortize across every query that consults them."""
    suffix = " FOR ALL COLUMNS" if columns else ""
    spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS{suffix}")
    return table_stats(spark, name)
