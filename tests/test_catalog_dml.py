"""The SQL statement front door (``catalog.resolve_dml``), pinned form by
form without running a Spark job: every table verb is replaced by a
recorder, so each statement shows which verb it reaches and with which
parsed arguments. The last test checks the ``table detail`` /
``table partitions`` CLI verbs against DESCRIBE DETAIL / SHOW PARTITIONS
on a real table."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import DataFrame

from s3_kinesis_replay_spark import catalog as cat
from s3_kinesis_replay_spark.operators import table_format as tf

S, R = "spark", "/pin/t"  # recorded stand-ins: the session, t's root

_RECORDED = (
    "snapshot_write", "snapshot_create_table", "snapshot_convert",
    "snapshot_clone", "snapshot_delete_where", "snapshot_update_where",
    "snapshot_overwrite_where", "snapshot_merge", "snapshot_merge_clauses",
    "snapshot_set_constraint", "snapshot_drop_constraint",
    "snapshot_add_column", "snapshot_evolve_partition_spec",
    "snapshot_widen_column", "snapshot_rename_column", "snapshot_drop_column",
    "matview_create", "matview_refresh", "matview_drop", "snapshot_restore",
    "snapshot_history", "snapshot_files", "snapshot_row_changes",
    "snapshot_vacuum", "snapshot_compact_small", "snapshot_cluster",
    "cdc_start_version", "refresh_dependent_views", "snapshot_read",
)
_FRAME = object()  # what the recorded frame-returning verbs hand back
_RETURNS = {
    "snapshot_history": _FRAME,
    "snapshot_files": _FRAME,
    "snapshot_row_changes": _FRAME,
    "snapshot_vacuum": {
        "deleted_files": 3, "kept_files": 4, "skipped_young": 1,
        "dropped_versions": [1, 2],
    },
    "matview_drop": None,
    "refresh_dependent_views": {},
}
# the live snapshot of every registered root, served to the manifest reads
_MANIFEST = {
    "version": 5,
    "operation": "append",
    "schema": [["a", "int"], ["b", "string"]],
    "partition_spec": ["d"],
    "constraints": {"pos": "a > 0"},
}
_ENTRIES = [
    {"path": "d=x/f1", "bytes": 100, "partition": {"d": "x"}},
    {"path": "d=x/f2", "bytes": 50, "partition": {"d": "x"}},
    {"path": "f3", "bytes": 7},
]


class _View:
    def createOrReplaceTempView(self, name):
        pass


def _done(root=R):
    """The calls every committing verb ends with: refresh dependent
    views, then re-register the name at the new snapshot."""
    return [
        ("refresh_dependent_views", (S, root), {}),
        ("snapshot_read", (S, root), {}),
    ]


def _registered(root):
    return [("snapshot_read", (S, root, None), {"branch": None})]


def _df(*cols):
    return ("df", cols)


_TS = "'2026-01-01 00:00:00'"

# (id, statement, recorded calls, result rows or _FRAME, statement on an
# unregistered name or None when the form creates its target)
_CASES = [
    ("ctas", "CREATE TABLE pin_new LOCATION '/pin/new' AS SELECT 1 AS a",
     [("snapshot_write", (S, _df("a"), "/pin/new", "overwrite"), {}),
      *_registered("/pin/new")],
     [("create", "pin_new", 7)], None),
    ("create_schema", "CREATE TABLE pin_new LOCATION '/pin/new' "
     "(a INT, b STRING)",
     [("snapshot_create_table", (S, "/pin/new", "a INT, b STRING"), {}),
      *_registered("/pin/new")],
     [("create", "pin_new", 7)], None),
    ("convert", "CONVERT TO TABLE pin_new LOCATION '/pin/new'",
     [("snapshot_convert", (S, "/pin/new"), {}), *_registered("/pin/new")],
     [("convert", "pin_new", 7)], None),
    ("shallow_clone", "CREATE TABLE pin_new LOCATION '/pin/new' SHALLOW "
     "CLONE t VERSION AS OF 'gold'",
     [("snapshot_clone", (R, "/pin/new", "gold"), {}),
      *_registered("/pin/new")],
     [("clone", "pin_new", 7)], None),
    ("delete", "DELETE FROM t WHERE a > 1",
     [("snapshot_delete_where", (S, R, "a > 1"), {}), *_done()],
     [("delete", "t", 7)], ""),
    ("update", "UPDATE t SET a = a + 1, b = concat(b, 'x, y') WHERE a > 1",
     [("snapshot_update_where",
       (S, R, "a > 1", {"a": "a + 1", "b": "concat(b, 'x, y')"}), {}),
      *_done()],
     [("update", "t", 7)], ""),
    ("insert", "INSERT INTO t VALUES (1, 'x')",
     [("snapshot_write", (S, _df("a", "b"), R, "append"),
       {"partition_by": "table"}), *_done()],
     [("insert", "t", 7)], ""),
    ("replace_where", "INSERT INTO t REPLACE WHERE a = 1 SELECT 1 AS a, "
     "'x' AS b",
     [("snapshot_overwrite_where", (S, R, _df("a", "b"), "a = 1"), {}),
      *_done()],
     [("replace_where", "t", 7)], ""),
    ("insert_overwrite", "INSERT OVERWRITE TABLE t SELECT 1 AS a",
     [("snapshot_write", (S, _df("a"), R, "overwrite"),
       {"partition_by": "table"}), *_done()],
     [("insert_overwrite", "t", 7)], ""),
    # unregistered MERGE returns None before its ON clause is parsed
    ("merge", "MERGE INTO t USING (SELECT 1 AS a) ON a",
     [("snapshot_merge", (S, R, _df("a"), "a"), {}), *_done()],
     [("merge", "t", 7)],
     "MERGE INTO nosuch USING (SELECT 1 AS a) ON t.a = s.b"),
    ("merge_clauses", "MERGE INTO t USING (SELECT 1 AS a, 'x' AS b) ON "
     "t.a = s.a AND t.b = s.b WHEN MATCHED AND s.a > 0 THEN UPDATE SET "
     "b = s.b WHEN NOT MATCHED THEN INSERT *",
     [("snapshot_merge_clauses", (S, R, _df("a", "b"), ["a", "b"], [
         {"kind": "update", "cond": "s.a > 0", "sets": {"b": "s.b"}},
         {"kind": "insert", "cond": None, "cols": None, "values": None},
     ]), {}), *_done()],
     [("merge", "t", 7)], ""),
    ("add_constraint", "ALTER TABLE t ADD CONSTRAINT pos CHECK (a > 0)",
     [("snapshot_set_constraint", (S, R, "pos", "a > 0"), {}), *_done()],
     [("add_constraint", "t", 7)], ""),
    ("drop_constraint", "ALTER TABLE t DROP CONSTRAINT pos",
     [("snapshot_drop_constraint", (R, "pos"), {}), *_done()],
     [("drop_constraint", "t", 7)], ""),
    ("add_column", "ALTER TABLE t ADD COLUMN c decimal(10,2) DEFAULT 0",
     [("snapshot_add_column", (S, R, "c", "decimal(10,2)"),
       {"default": "0"}), *_done()],
     [("add_column", "t", 7)], ""),
    ("add_columns_parenthesized", "ALTER TABLE t ADD COLUMNS "
     "(c decimal(10,2))",
     [("snapshot_add_column", (S, R, "c", "decimal(10,2)"),
       {"default": None}), *_done()],
     [("add_column", "t", 7)], ""),
    ("set_partition_spec", "ALTER TABLE t SET PARTITION SPEC "
     "(a, bucket(4, b))",
     [("snapshot_evolve_partition_spec", (S, R, ["a", "bucket(4, b)"]),
       {}), *_done()],
     [("evolve_partition_spec", "t", 7)], ""),
    ("alter_column_type", "ALTER TABLE t ALTER COLUMN a TYPE bigint",
     [("snapshot_widen_column", (S, R, "a", "bigint"), {}), *_done()],
     [("widen_column", "t", 7)], ""),
    ("rename_column", "ALTER TABLE t RENAME COLUMN a TO z",
     [("snapshot_rename_column", (S, R, "a", "z"), {}), *_done()],
     [("rename_column", "t", 7)], ""),
    ("drop_column", "ALTER TABLE t DROP COLUMN b",
     [("snapshot_drop_column", (S, R, "b"), {}), *_done()],
     [("drop_column", "t", 7)], ""),
    ("create_matview", "CREATE MATERIALIZED VIEW pin_mv LOCATION '/pin/mv' "
     "REFRESH ON COMMIT AS SELECT a, COUNT(*) AS n, SUM(b * 2) AS sb "
     "FROM t GROUP BY a",
     [("matview_create", (S, R, "/pin/mv", ["a"], [
         {"fn": "count", "expr": None, "alias": "n"},
         {"fn": "sum", "expr": "b * 2", "alias": "sb"},
     ]), {"refresh_on_commit": True}), *_registered("/pin/mv")],
     [("create_matview", "pin_mv", 7)], None),
    ("refresh_matview", "REFRESH MATERIALIZED VIEW t",
     [("matview_refresh", (S, R), {}), *_done()],
     [("refresh_matview", "t", 7)], ""),
    ("drop_matview", "DROP MATERIALIZED VIEW t",
     [("matview_drop", (R,), {})],
     [("drop_matview", "t", 0)], ""),
    ("restore", "RESTORE TABLE t TO VERSION AS OF 2",
     [("snapshot_restore", (R, 2), {}), *_done()],
     [("restore", "t", 7)], ""),
    ("describe_history", "DESCRIBE HISTORY t",
     [("snapshot_history", (S, R), {})], _FRAME, ""),
    ("describe_detail", "DESCRIBE DETAIL t", [],
     [("t", R, 5, "append", 3, 157, 2, 1, '["d"]', '{"pos": "a > 0"}', 2)],
     ""),
    ("table_files", "SELECT * FROM TABLE_FILES(t, 3)",
     [("snapshot_files", (S, R, 3), {})], _FRAME, ""),
    ("table_changes", f"SELECT * FROM TABLE_CHANGES(t, TIMESTAMP {_TS}, 4)",
     [("cdc_start_version", (R, tf.timestamp_to_epoch(_TS)), {}),
      ("snapshot_row_changes", (S, R, 7, 4), {})], _FRAME, ""),
    ("vacuum", "VACUUM t RETAIN 3 VERSIONS DRY RUN",
     [("snapshot_vacuum", (R,), {"keep_last": 3, "dry_run": True})],
     [("t", 3, 4, 1, 2)], ""),
    ("show_partitions", "SHOW PARTITIONS t", [],
     [("d=x", 2, 150), (None, 1, 7)], ""),
    ("optimize_binpack", "OPTIMIZE t BINPACK (1024, 3) WHERE d = 'x'",
     [("snapshot_compact_small", (S, R),
       {"small_bytes": 1024, "min_files": 3, "partition": {"d": "x"}}),
      *_done()],
     [("optimize_binpack", "t", 7)], ""),
    ("optimize_zorder", "OPTIMIZE t ZORDER BY (a, b)",
     [("snapshot_cluster", (S, R, ["a", "b"]), {"zorder": True}), *_done()],
     [("optimize", "t", 7)], ""),
]


@pytest.fixture
def calls(spark, monkeypatch):
    """Replace the table verbs with recorders over a fake manifest; ``t``
    is registered at ``/pin/t``, every other root is empty."""
    log: list = []

    def norm(a):
        if a is spark:
            return S
        if isinstance(a, DataFrame):
            return _df(*a.columns)
        return a

    def recorder(verb):
        def rec(*args, **kwargs):
            log.append((verb, tuple(norm(a) for a in args),
                        {k: norm(v) for k, v in kwargs.items()}))
            if verb == "snapshot_read":
                return _View()
            return _RETURNS.get(verb, 7)
        return rec

    for verb in _RECORDED:
        monkeypatch.setattr(tf, verb, recorder(verb))
    monkeypatch.setattr(
        tf, "latest_version", lambda root, branch=None: 5 if root == R else 0
    )
    monkeypatch.setattr(tf, "_read_manifest", lambda root, v, branch=None: _MANIFEST)
    monkeypatch.setattr(tf, "_entries", lambda m, root=None: _ENTRIES)
    monkeypatch.setattr(tf, "_delete_entries", lambda m, root=None: [{}, {}])
    monkeypatch.setattr(tf, "_pos_delete_entries", lambda m, root=None: [{}])
    monkeypatch.setattr(cat, "_SNAPSHOT_ROOTS", {"t": R})
    return log


@pytest.mark.parametrize(
    "sql,want_calls,want", [c[1:4] for c in _CASES], ids=[c[0] for c in _CASES]
)
def test_statement_reaches_its_verb(spark, calls, sql, want_calls, want):
    out = cat.resolve_dml(spark, sql)
    assert calls == want_calls
    if want is _FRAME:
        assert out is _FRAME
    else:
        assert [tuple(r) for r in out.collect()] == want


_UNREGISTERED = [
    (c[0], c[4] or re.sub(r"\bt\b", "nosuch", c[1], count=1))
    for c in _CASES
    if c[4] is not None
]


@pytest.mark.parametrize(
    "sql", [u[1] for u in _UNREGISTERED], ids=[u[0] for u in _UNREGISTERED]
)
def test_statement_on_unregistered_name_returns_none(spark, calls, sql):
    assert cat.resolve_dml(spark, sql) is None
    assert calls == []


_SHADOW = "already names a registered view"
_REFUSALS = [
    ("ctas_shadow", "CREATE TABLE pin_shadow LOCATION '/pin/new' AS SELECT 1",
     f"CREATE TABLE: 'pin_shadow' {_SHADOW} (a fixture table or other temp "
     "view) — pick another name or drop the view first"),
    ("ctas_nonempty", "CREATE TABLE pin_new LOCATION '/pin/t' AS SELECT 1",
     "CREATE TABLE: /pin/t already holds snapshots (latest v5) — INSERT "
     "INTO a registered view, or point LOCATION at an empty dir"),
    ("create_schema_shadow", "CREATE TABLE pin_shadow LOCATION '/pin/new' "
     "(a INT)",
     f"CREATE TABLE: 'pin_shadow' {_SHADOW} — pick another name or drop "
     "the view first"),
    ("convert_shadow", "CONVERT TO TABLE pin_shadow LOCATION '/pin/new'",
     f"CONVERT: 'pin_shadow' {_SHADOW} — pick another name or drop the "
     "view first"),
    ("clone_shadow", "CREATE TABLE pin_shadow LOCATION '/pin/new' SHALLOW "
     "CLONE t",
     f"SHALLOW CLONE: 'pin_shadow' {_SHADOW} — pick another name or drop "
     "the view first"),
    ("clone_unregistered_source", "CREATE TABLE pin_new LOCATION '/pin/new' "
     "SHALLOW CLONE nosuch",
     "SHALLOW CLONE: 'nosuch' is not a registered snapshot table"),
    ("matview_shadow", "CREATE MATERIALIZED VIEW pin_shadow LOCATION "
     "'/pin/mv' AS SELECT a, COUNT(*) AS n FROM t GROUP BY a",
     f"CREATE MATERIALIZED VIEW: 'pin_shadow' {_SHADOW} (a fixture table "
     "or other temp view) — pick another name or drop the view first"),
    ("matview_unregistered_source", "CREATE MATERIALIZED VIEW pin_new "
     "LOCATION '/pin/mv' AS SELECT a, COUNT(*) AS n FROM nosuch GROUP BY a",
     "CREATE MATERIALIZED VIEW: source 'nosuch' is not a registered "
     "snapshot table — row-level CDC drives the refresh, so the source "
     "must be a manifest table"),
]


@pytest.mark.parametrize(
    "sql,msg", [r[1:] for r in _REFUSALS], ids=[r[0] for r in _REFUSALS]
)
def test_creating_statement_refusals(spark, calls, sql, msg):
    spark.range(1).createOrReplaceTempView("pin_shadow")
    try:
        with pytest.raises(ValueError) as e:
            cat.resolve_dml(spark, sql)
    finally:
        spark.catalog.dropTempView("pin_shadow")
    assert str(e.value) == msg
    assert calls == []


def test_cli_detail_and_partitions_match_sql(spark, capsys, tmp_path):
    """``table detail`` / ``table partitions`` print the values DESCRIBE
    DETAIL / SHOW PARTITIONS return for the same table."""
    from s3_kinesis_replay_spark.cli import build_parser, run_table_cmd

    root = str(tmp_path / "cli_sql")
    tf.snapshot_write(
        spark,
        spark.createDataFrame(
            [(d, i) for d in ("a", "b") for i in range(4)] + [("c", 9)],
            "day string, v long",
        ),
        root, "overwrite", partition_by=["day"],
    )
    cat.register_snapshot_table(spark, "cli_sql_t", root)
    for stmt in (
        "ALTER TABLE cli_sql_t SET PARTITION SPEC (day)",
        "ALTER TABLE cli_sql_t ADD CONSTRAINT v_ok CHECK (v >= 0)",
        "DELETE FROM cli_sql_t WHERE v = 3",
    ):
        cat.resolve_dml(spark, stmt)

    def cli(verb):
        assert run_table_cmd(
            build_parser().parse_args(["table", verb, "--root", root])
        ) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    sql = cat.resolve_dml(spark, "DESCRIBE DETAIL cli_sql_t").collect()[0]
    sql = sql.asDict()
    assert sql.pop("name") == "cli_sql_t"
    sql["partition_spec"] = json.loads(sql["partition_spec"])
    sql["constraints"] = json.loads(sql["constraints"])
    detail = cli("detail")
    assert detail.pop("verb") == "detail"
    assert detail == sql
    assert detail["partition_spec"] == ["day"]
    assert detail["num_pos_delete_files"] >= 1

    rows = cat.resolve_dml(spark, "SHOW PARTITIONS cli_sql_t").collect()
    parts = cli("partitions")
    assert parts["verb"] == "partitions"
    assert parts["partitions"] == [r.asDict() for r in rows]
    assert [p["partition"] for p in parts["partitions"]] == [
        "day=a", "day=b", "day=c",
    ]
