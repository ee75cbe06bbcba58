"""CLI parity layer: the reference is a command-line replay tool, so the
engine exposes the same surface as ``python -m s3_kinesis_replay_spark``.

Flag mapping (reference CLI semantics → here, SURVEY §1.1/§3):

  bucket/prefix           → --archive-root (path to the staged archive)
  key-prefix filter       → --path-glob (leaf-file glob, file-index pruned)
  key-range filter        → --dt-start/--dt-end (partition-dir pruned)
  partition-key JSON path → --partition-key-path (JMESPath subset)
  sanitize rules          → --sanitize PATTERN=REPLACEMENT (repeatable)
  rate limit/concurrency  → --max-files-per-trigger / --num-writers
  stream name             → --stream
  resume                  → --checkpoint (offset/commit WAL dir; reuse to
                            resume, point elsewhere to restart)
  run mode                → drain-and-stop by default; --continuous keeps
                            a processing-time trigger running

The sink defaults to the in-process capture client (prints a JSON summary
— useful for dry runs); ``--sink moto`` publishes against a moto-mocked
Kinesis endpoint when moto/boto3 are available; ``--sink factory`` builds
the client from an importable ``--client-factory MODULE:CALLABLE`` in
every publishing process — the sink that supports ``--distributed``
(executor-side publishing, workers construct their own clients).
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile


def _parse_sanitize(rules: list[str]) -> list[tuple[str, str]]:
    out = []
    for r in rules:
        if "=" not in r:
            raise SystemExit(f"--sanitize expects PATTERN=REPLACEMENT, got: {r!r}")
        pat, repl = r.split("=", 1)
        out.append((pat, repl))
    return out


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m s3_kinesis_replay_spark",
        description="Replay an S3-style archive into a Kinesis-style stream.",
    )
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("replay", help="run the replay pipeline")
    r.add_argument("--archive-root", help="staged archive root (dt=/hr= layout)")
    r.add_argument(
        "--from-sf-dir",
        help="derive the archive from a fixture dir (events.parquet) instead",
    )
    r.add_argument("--stream", required=True, help="target stream name")
    r.add_argument("--checkpoint", help="checkpoint dir (default: fresh temp dir)")
    r.add_argument("--partition-key-path", default="$.k")
    r.add_argument(
        "--sanitize",
        action="append",
        default=[],
        metavar="PATTERN=REPLACEMENT",
        help="regex payload rewrite, repeatable, applied in order",
    )
    r.add_argument("--path-glob", help="leaf-file glob (key-prefix predicate)")
    r.add_argument("--dt-start", help="inclusive dt= lower bound, YYYY-MM-DD")
    r.add_argument("--dt-end", help="inclusive dt= upper bound, YYYY-MM-DD")
    r.add_argument("--max-files-per-trigger", type=int, default=4)
    r.add_argument(
        "--trigger-interval",
        help="continuous-mode micro-batch interval, e.g. '5 seconds' — "
        "with --max-files-per-trigger this caps sustained throughput",
    )
    r.add_argument("--num-writers", type=int, default=8)
    r.add_argument(
        "--continuous",
        action="store_true",
        help="processing-time trigger instead of drain-and-stop",
    )
    r.add_argument(
        "--timeout",
        type=float,
        default=600.0,
        help="max seconds to wait (continuous mode stops cleanly at timeout)",
    )
    r.add_argument(
        "--sink",
        choices=["capture", "moto", "factory"],
        default="capture",
        help="capture = in-process summary client; moto = mocked AWS "
        "Kinesis; factory = client built from --client-factory (the only "
        "sink that supports --distributed)",
    )
    r.add_argument(
        "--client-factory",
        metavar="MODULE:CALLABLE",
        help="importable client factory for --sink factory; each process "
        "that publishes (driver, or every executor worker under "
        "--distributed) imports and calls it to build its own client "
        "(e.g. s3_kinesis_replay_spark.streaming.kinesis_sink:"
        "file_client_factory)",
    )
    r.add_argument(
        "--client-arg",
        default="",
        help="optional string argument passed to --client-factory",
    )
    r.add_argument(
        "--distributed",
        action="store_true",
        help="publish from executor tasks (sink client built per-partition "
        "from --client-factory). Requires --sink factory: the built-in "
        "capture/moto sinks are driver-process clients (capture "
        "accumulates in worker copies; moto's mock is not active in "
        "executor workers).",
    )

    q = sub.add_parser(
        "query",
        help="run a declared query (registry.py) against a fixture dir",
    )
    q.add_argument("name", help="registry entry name, e.g. q1_pricing_summary")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--limit", type=int, default=20, help="rows to print (JSONL)")
    q.add_argument(
        "--output", help="write the FULL result as parquet here instead of printing"
    )
    q.add_argument(
        "--explain", action="store_true", help="print the physical plan instead"
    )

    ls = sub.add_parser("list-queries", help="list every declared query")
    ls.add_argument("--survey-id", help="filter by SURVEY §2 row, e.g. I5")

    tb = sub.add_parser(
        "table",
        help="inspect/maintain a manifest-versioned table "
        "(operators/table_format.py): history, time-travel reads, "
        "vacuum, compaction",
    )
    tb.add_argument(
        "verb",
        choices=[
            "history", "read", "vacuum", "compact", "fold",
            "delete-where", "update", "tag", "tags", "drop-tag",
            "restore", "cluster", "set-constraint", "drop-constraint",
            "constraints", "add-column", "changes", "files", "detail",
            "branch", "branches", "publish", "drop-branch",
            "clone", "convert", "partitions", "binpack",
        ],
        help="history = one row per retained snapshot (metadata only); "
        "read = the table AS OF --version/--as-of (default latest); "
        "vacuum = drop old manifests + reap unreachable files "
        "(age-graced; tagged versions are retention roots); compact = "
        "copy-on-write materialize (drops MOR delete rent); fold = "
        "metadata-only manifest compaction; delete-where = "
        "position-delete rows matching --where; update = rewrite rows "
        "matching --where per --set (atomic, MOR); tag = pin --name at "
        "--version (default latest); tags = list named refs; drop-tag = "
        "remove --name (releases retention, deletes nothing); restore = "
        "roll back to --to (version or tag; metadata-only, "
        "history-preserving); cluster = OPTIMIZE rewrite sorted on --by "
        "(or a 2-column Morton key with --zorder) so manifest stats "
        "prune; set-constraint = add CHECK --name with --expr (validates "
        "existing data; writers then refuse violating batches); "
        "drop-constraint = remove --name; constraints = list; "
        "add-column = metadata-only schema evolution: append column "
        "--name of --type (readers NULL-fill pre-evolution files); "
        "changes = row-level CDC between --from-version and "
        "--to-version (insert/delete/update_preimage/update_postimage "
        "+ _commit_version; refuses overwrite/restore in range); "
        "files = one row per live data file (path/seq/bytes/partition/"
        "stats — pure metadata); detail = one-row table summary "
        "(version/op/files/bytes/delete state/spec/constraints); "
        "branch = "
        "fork --name at --version (default latest) for write-audit-"
        "publish; branches = list; publish = fast-forward main to "
        "--name's head (refuses if main advanced since the fork); "
        "drop-branch = remove --name's lineage (staged files reaped by "
        "the next vacuum); read honors --branch; clone = SHALLOW CLONE "
        "into --dest at --version (hard-linked files + verbatim "
        "metadata chain, zero data copied); convert = adopt a plain "
        "parquet dir at --root in place (zero rewrite; hive layouts "
        "refuse); partitions = recorded partition values with "
        "file/byte counts (pure metadata); binpack = minor compaction "
        "of files under --small-bytes (optionally scoped to "
        "--partition SPEC=VALUE)",
    )
    tb.add_argument("--root", required=True, help="table root directory")
    tb.add_argument(
        "--where", help="SQL predicate for delete-where/update"
    )
    tb.add_argument(
        "--set",
        action="append",
        default=[],
        metavar="COL=EXPR",
        help="update assignment, repeatable (SQL expression RHS)",
    )
    tb.add_argument(
        "--version",
        help="read/tag: VERSION AS OF — a number, or (read) a tag name",
    )
    tb.add_argument(
        "--name", help="tag/drop-tag/set-constraint/drop-constraint: name"
    )
    tb.add_argument(
        "--expr", help="set-constraint: SQL CHECK expression"
    )
    tb.add_argument(
        "--type", dest="col_type",
        help="add-column: the new column's SQL type, e.g. bigint",
    )
    tb.add_argument(
        "--from-version", dest="from_version", type=int,
        help="changes: exclusive lower version bound",
    )
    tb.add_argument(
        "--to-version", dest="to_version", type=int,
        help="changes: inclusive upper version bound",
    )
    tb.add_argument(
        "--branch", help="read: read a WAP branch's head instead of main"
    )
    tb.add_argument(
        "--to", help="restore: target version number or tag name"
    )
    tb.add_argument(
        "--dest", help="clone: destination root (must be empty)"
    )
    tb.add_argument(
        "--dry-run",
        action="store_true",
        help="vacuum: identical walk and counts, delete nothing",
    )
    tb.add_argument(
        "--small-bytes", type=int, default=32 << 20,
        help="binpack: files below this size are rewritten",
    )
    tb.add_argument(
        "--min-files", type=int, default=4,
        help="binpack: skip unless at least this many files qualify",
    )
    tb.add_argument(
        "--partition",
        action="append",
        default=[],
        metavar="SPEC=VALUE",
        help="binpack: scope to entries whose recorded partition "
        "value matches (repeatable)",
    )
    tb.add_argument(
        "--by",
        action="append",
        default=[],
        help="cluster: layout column, repeatable (exactly 2 with --zorder)",
    )
    tb.add_argument(
        "--zorder",
        action="store_true",
        help="cluster: interleaved-bit Morton layout over two columns",
    )
    tb.add_argument(
        "--target-files", type=int, default=8, help="cluster: output files"
    )
    tb.add_argument(
        "--replace",
        action="store_true",
        help="tag: move an existing tag instead of refusing",
    )
    tb.add_argument(
        "--as-of",
        help="read: TIMESTAMP AS OF — epoch seconds or ISO-8601 (UTC)",
    )
    tb.add_argument("--limit", type=int, default=20, help="rows to print (JSONL)")
    tb.add_argument(
        "--output", help="write the FULL result as parquet here instead of printing"
    )
    tb.add_argument("--keep-last", type=int, default=2, help="vacuum: manifests kept")
    tb.add_argument(
        "--min-age-s",
        type=float,
        help="vacuum: age grace in seconds (default: 1h — protects "
        "in-flight writers and mid-scan time travelers)",
    )

    sq = sub.add_parser(
        "sql",
        help="run ad-hoc Spark SQL with the fixture tables as temp views",
    )
    sq.add_argument(
        "statement",
        help="SQL text, or @FILE to read the statement from a file",
    )
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument(
        "--snapshot-table",
        action="append",
        default=[],
        metavar="NAME=ROOT",
        help="register a manifest-versioned table as view NAME "
        "(repeatable); the statement may then use NAME, "
        "'NAME VERSION AS OF n', or \"NAME TIMESTAMP AS OF 'ts'\"",
    )
    sq.add_argument("--limit", type=int, default=20, help="rows to print (JSONL)")
    sq.add_argument(
        "--output", help="write the FULL result as parquet here instead of printing"
    )
    sq.add_argument(
        "--explain", action="store_true", help="print the physical plan instead"
    )
    return p


def run_query_cmd(args: argparse.Namespace) -> int:
    from s3_kinesis_replay_spark.registry import all_queries
    from s3_kinesis_replay_spark.session import get_spark

    registry = all_queries()
    if args.name not in registry:
        close = [n for n in registry if args.name.split("_")[0] in n][:8]
        raise SystemExit(
            f"unknown query {args.name!r}; close matches: {close or list(registry)[:8]}"
        )
    spark = get_spark(app_name="skr-query")
    spark.sparkContext.setLogLevel("ERROR")
    df = registry[args.name].fn(spark, args.sf_dir)
    if args.explain:
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"query": args.name, "output": args.output}))
        return 0
    rows = df.limit(args.limit).collect()
    for r in rows:
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def run_sql_cmd(args: argparse.Namespace) -> int:
    """Ad-hoc SQL over the fixture tables — the 'switch your queries over'
    surface: anything expressible against the registered views runs
    through the same Catalyst planner as the declared registry entries."""
    from s3_kinesis_replay_spark.catalog import load_tables
    from s3_kinesis_replay_spark.session import get_spark

    stmt = args.statement
    if stmt.startswith("@"):
        with open(stmt[1:]) as f:
            stmt = f.read()
    spark = get_spark(app_name="skr-sql")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, args.sf_dir, register_views=True)
    df = None
    if args.snapshot_table:
        from s3_kinesis_replay_spark.catalog import (
            register_snapshot_table,
            resolve_dml,
            resolve_time_travel,
        )

        for spec in args.snapshot_table:
            if "=" not in spec:
                raise SystemExit(
                    f"--snapshot-table expects NAME=ROOT, got: {spec!r}"
                )
            name, root = spec.split("=", 1)
            register_snapshot_table(spark, name, root)
        # DML statements on registered snapshot tables run through the
        # table operators (atomic MOR commits)
        df = resolve_dml(spark, stmt)
        if df is None:
            stmt = resolve_time_travel(spark, stmt)
    if df is None:
        df = spark.sql(stmt)
    if args.explain:
        print(df._jdf.queryExecution().executedPlan().toString())
        return 0
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"sql": stmt[:120], "output": args.output}))
        return 0
    for r in df.limit(args.limit).collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def run_table_cmd(args: argparse.Namespace) -> int:
    """Manifest-table verbs — the CLI face of the a15 lakehouse tier
    (VERDICT r12 item 1): history/read are pure snapshot queries;
    vacuum/compact/fold are the maintenance verbs, printing a JSON
    summary. ``read`` honors --version (VERSION AS OF) and --as-of
    (TIMESTAMP AS OF, epoch or ISO-8601 UTC)."""
    from s3_kinesis_replay_spark.operators import table_format as tf
    from s3_kinesis_replay_spark.session import get_spark

    if args.verb == "detail":  # metadata only, no session
        m = tf._read_manifest(args.root, tf.latest_version(args.root))
        ents = tf._entries(m, args.root)
        print(json.dumps({
            "verb": "detail",
            "location": args.root,
            "version": m["version"],
            "last_operation": m["operation"],
            "num_files": len(ents),
            "size_bytes": sum(e.get("bytes") or 0 for e in ents),
            "num_delete_files": len(tf._delete_entries(m, args.root)),
            "num_pos_delete_files": len(
                tf._pos_delete_entries(m, args.root)
            ),
            "partition_spec": m.get("partition_spec"),
            "constraints": m.get("constraints") or {},
            "schema_width": len(m.get("schema") or []),
        }))
        return 0
    if args.verb == "vacuum":  # metadata + filesystem only, no session
        kwargs = {"keep_last": args.keep_last, "dry_run": args.dry_run}
        if args.min_age_s is not None:
            kwargs["min_age_s"] = args.min_age_s
        print(json.dumps({"verb": "vacuum", **tf.snapshot_vacuum(args.root, **kwargs)}))
        return 0
    if args.verb == "clone":  # metadata + hard links only, no session
        if not args.dest:
            raise SystemExit("clone requires --dest")
        at = (
            int(args.version)
            if args.version is not None and args.version.isdigit()
            else args.version
        )
        v = tf.snapshot_clone(args.root, args.dest, at)
        print(json.dumps({"verb": "clone", "dest": args.dest, "version": v}))
        return 0
    if args.verb == "partitions":  # pure metadata, no session
        m = tf._read_manifest(args.root, tf.latest_version(args.root))
        agg = {}
        for e in tf._entries(m, args.root):
            pv = e.get("partition")
            key = (
                ", ".join(f"{k}={pv[k]}" for k in sorted(pv))
                if pv
                else None
            )
            n, b = agg.get(key, (0, 0))
            agg[key] = (n + 1, b + (e.get("bytes") or 0))
        print(json.dumps({
            "verb": "partitions",
            "partitions": [
                {"partition": k, "n_files": n, "n_bytes": b}
                for k, (n, b) in sorted(
                    agg.items(), key=lambda kv: (kv[0] is None, kv[0])
                )
            ],
        }))
        return 0
    if args.verb == "fold":
        v = tf.snapshot_fold_metadata(args.root)
        print(json.dumps({"verb": "fold", "version": v}))
        return 0
    if args.verb == "tag":
        if not args.name:
            raise SystemExit("tag requires --name")
        if args.version is not None and not args.version.isdigit():
            raise SystemExit(
                f"tag pins a version NUMBER, got {args.version!r}"
            )
        pin = int(args.version) if args.version is not None else None
        v = tf.snapshot_tag(args.root, args.name, pin, replace=args.replace)
        print(json.dumps({"verb": "tag", "name": args.name, "version": v}))
        return 0
    if args.verb == "tags":
        print(json.dumps({"verb": "tags", "tags": tf.list_tags(args.root)}))
        return 0
    if args.verb == "drop-tag":
        if not args.name:
            raise SystemExit("drop-tag requires --name")
        tf.snapshot_drop_tag(args.root, args.name)
        print(json.dumps({"verb": "drop-tag", "name": args.name}))
        return 0
    if args.verb == "restore":
        if not args.to:
            raise SystemExit("restore requires --to VERSION|TAG")
        target = int(args.to) if args.to.isdigit() else args.to
        v = tf.snapshot_restore(args.root, target)
        print(json.dumps({"verb": "restore", "to": args.to, "version": v}))
        return 0
    if args.verb == "branch":
        if not args.name:
            raise SystemExit("branch requires --name")
        if args.version is not None and not args.version.isdigit():
            raise SystemExit(
                f"branch forks at a version NUMBER, got {args.version!r}"
            )
        at = int(args.version) if args.version is not None else None
        v = tf.snapshot_branch(args.root, args.name, at)
        print(json.dumps(
            {"verb": "branch", "name": args.name, "branch_version": v}
        ))
        return 0
    if args.verb == "branches":
        print(json.dumps(
            {"verb": "branches", "branches": tf.list_branches(args.root)}
        ))
        return 0
    if args.verb == "publish":
        if not args.name:
            raise SystemExit("publish requires --name")
        v = tf.snapshot_publish(args.root, args.name)
        print(json.dumps(
            {"verb": "publish", "name": args.name, "version": v}
        ))
        return 0
    if args.verb == "drop-branch":
        if not args.name:
            raise SystemExit("drop-branch requires --name")
        tf.snapshot_drop_branch(args.root, args.name)
        print(json.dumps({"verb": "drop-branch", "name": args.name}))
        return 0
    if args.verb == "constraints":
        print(json.dumps(
            {"verb": "constraints",
             "constraints": tf.table_constraints(args.root)}
        ))
        return 0
    if args.verb == "drop-constraint":
        if not args.name:
            raise SystemExit("drop-constraint requires --name")
        v = tf.snapshot_drop_constraint(args.root, args.name)
        print(json.dumps(
            {"verb": "drop-constraint", "name": args.name, "version": v}
        ))
        return 0

    spark = get_spark(app_name="skr-table")
    spark.sparkContext.setLogLevel("ERROR")
    if args.verb == "convert":
        v = tf.snapshot_convert(get_spark(), args.root)
        print(json.dumps({"verb": "convert", "version": v}))
        return 0
    if args.verb == "binpack":
        part = None
        if args.partition:
            part = dict(kv.split("=", 1) for kv in args.partition)
        v = tf.snapshot_compact_small(
            get_spark(), args.root,
            small_bytes=args.small_bytes,
            min_files=args.min_files,
            partition=part,
        )
        print(json.dumps({"verb": "binpack", "version": v}))
        return 0
    if args.verb == "compact":
        v = tf.snapshot_compact(spark, args.root)
        print(json.dumps({"verb": "compact", "version": v}))
        return 0
    if args.verb == "add-column":
        if not args.name or not args.col_type:
            raise SystemExit("add-column requires --name and --type")
        v = tf.snapshot_add_column(spark, args.root, args.name, args.col_type)
        print(json.dumps(
            {"verb": "add-column", "name": args.name, "version": v}
        ))
        return 0
    if args.verb == "set-constraint":
        if not args.name or not args.expr:
            raise SystemExit("set-constraint requires --name and --expr")
        v = tf.snapshot_set_constraint(spark, args.root, args.name, args.expr)
        print(json.dumps(
            {"verb": "set-constraint", "name": args.name, "version": v}
        ))
        return 0
    if args.verb == "cluster":
        if not args.by:
            raise SystemExit("cluster requires >=1 --by COLUMN")
        v = tf.snapshot_cluster(
            spark, args.root, args.by,
            target_files=args.target_files, zorder=args.zorder,
        )
        print(json.dumps({"verb": "cluster", "by": args.by, "version": v}))
        return 0
    if args.verb == "delete-where":
        if not args.where:
            raise SystemExit("delete-where requires --where PREDICATE")
        v = tf.snapshot_delete_where(spark, args.root, args.where)
        print(json.dumps({"verb": "delete-where", "version": v}))
        return 0
    if args.verb == "update":
        if not args.where or not args.set:
            raise SystemExit("update requires --where and >=1 --set COL=EXPR")
        assignments = {}
        for s in args.set:
            if "=" not in s:
                raise SystemExit(f"--set expects COL=EXPR, got: {s!r}")
            col, expr = s.split("=", 1)
            assignments[col.strip()] = expr
        v = tf.snapshot_update_where(spark, args.root, args.where, assignments)
        print(json.dumps({"verb": "update", "version": v}))
        return 0
    if args.verb == "files":
        v = args.version
        if v is not None and v.replace(".", "", 1).isdigit():
            v = int(float(v))
        df = tf.snapshot_files(spark, args.root, v)
    elif args.verb == "changes":
        if args.from_version is None or args.to_version is None:
            raise SystemExit("changes requires --from-version and --to-version")
        df = tf.snapshot_row_changes(
            spark, args.root, args.from_version, args.to_version
        )
    elif args.verb == "history":
        df = tf.snapshot_history(spark, args.root)
    else:  # read
        if args.version is not None and args.as_of is not None:
            raise SystemExit("pass --version OR --as-of, not both")
        if args.as_of is not None:
            from s3_kinesis_replay_spark.catalog import _parse_as_of_spec

            spec = args.as_of
            if not spec.replace(".", "", 1).isdigit():
                spec = f"'{spec}'"  # ISO form: quote for the parser
            df = tf.snapshot_as_of(spark, args.root, _parse_as_of_spec(spec))
        else:
            # numeric --version = snapshot number; anything else = tag
            v = args.version
            if v is not None and v.isdigit():
                v = int(v)
            df = tf.snapshot_read(spark, args.root, v, branch=args.branch)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"verb": args.verb, "output": args.output}))
        return 0
    for r in df.limit(args.limit).collect():
        print(json.dumps({k: str(v) for k, v in r.asDict().items()}))
    return 0


def list_queries_cmd(args: argparse.Namespace) -> int:
    from s3_kinesis_replay_spark.registry import all_queries

    for name, q in sorted(all_queries().items()):
        if args.survey_id and q.survey_id != args.survey_id:
            continue
        print(
            json.dumps(
                {
                    "name": name,
                    "survey_id": q.survey_id,
                    "check": q.check,
                    "oracle": q.oracle is not None,
                }
            )
        )
    return 0


def run_replay_cmd(args: argparse.Namespace) -> dict:
    from s3_kinesis_replay_spark.session import get_spark
    from s3_kinesis_replay_spark.sources.archive import stage_archive
    from s3_kinesis_replay_spark.streaming.kinesis_sink import CapturingClient
    from s3_kinesis_replay_spark.streaming.replay import ReplayConfig, run_replay

    if bool(args.archive_root) == bool(args.from_sf_dir):
        raise SystemExit("exactly one of --archive-root / --from-sf-dir is required")
    if args.distributed and args.sink != "factory":
        # Both built-in sinks hold driver-process state: pickling the capture
        # client to executors silently publishes into worker copies
        # (summary reads 0), and boto3/moto clients don't survive the
        # pickle boundary at all. Executor-side publishing needs a client
        # each worker can build itself — an importable factory.
        raise SystemExit(
            "--distributed requires --sink factory with --client-factory "
            "MODULE:CALLABLE (capture/moto are driver-side clients; the "
            "summary would be wrong)."
        )
    if args.sink == "factory" and not args.client_factory:
        raise SystemExit("--sink factory requires --client-factory MODULE:CALLABLE")
    root = args.archive_root or stage_archive(args.from_sf_dir, gz=True)

    if args.sink == "factory":
        from s3_kinesis_replay_spark.streaming.kinesis_sink import (
            validate_client_factory,
        )

        ctx = None
        client = args.client_factory  # importable path, resolved per-process

        def summary_from_sink():
            return {
                "client_factory": args.client_factory,
                "distributed": args.distributed,
            }

        # fail fast in the driver if the path doesn't import/resolve —
        # resolve WITHOUT constructing a client (a real factory may open
        # connections or register consumers as a side effect)
        validate_client_factory(args.client_factory)
    elif args.sink == "moto":
        try:
            import boto3
            from moto import mock_aws
        except ImportError as e:  # pragma: no cover - moto is installed here
            raise SystemExit(f"--sink moto needs moto+boto3: {e}")
        ctx = mock_aws()
        ctx.start()
        client = boto3.client("kinesis", region_name="us-east-1")
        client.create_stream(StreamName=args.stream, ShardCount=4)

        def summary_from_sink():
            resp = client.describe_stream_summary(StreamName=args.stream)
            return {"shards": resp["StreamDescriptionSummary"]["OpenShardCount"]}
    else:
        ctx = None
        client = CapturingClient()

        def summary_from_sink():
            return {
                "published": len(client.records),
                "put_calls": len(client.calls),
            }

    spark = get_spark(app_name="skr-cli-replay")
    spark.sparkContext.setLogLevel("ERROR")
    cfg = ReplayConfig(
        archive_root=str(root),
        stream_name=args.stream,
        checkpoint_dir=args.checkpoint or tempfile.mkdtemp(prefix="skr_cli_ckpt_"),
        partition_key_path=args.partition_key_path,
        sanitize_rules=_parse_sanitize(args.sanitize),
        max_files_per_trigger=args.max_files_per_trigger,
        num_writers=args.num_writers,
        available_now=not args.continuous,
        trigger_interval=args.trigger_interval,
        path_glob=args.path_glob,
        dt_start=args.dt_start,
        dt_end=args.dt_end,
    )
    # factory sink: pass the importable path through so each publishing
    # process (driver, or every executor worker when --distributed)
    # resolves its own client; other sinks publish via the driver client.
    if args.sink == "factory":
        q = run_replay(
            spark,
            cfg,
            client,
            distributed=args.distributed,
            client_arg=args.client_arg,
        )
    else:
        q = run_replay(spark, cfg, lambda: client, distributed=False)
    finished = q.awaitTermination(args.timeout)
    if not finished:
        q.stop()
        q.awaitTermination(60)
    out = {
        "stream": args.stream,
        "archive_root": str(root),
        "checkpoint": cfg.checkpoint_dir,
        "mode": "continuous" if args.continuous else "drain",
        **summary_from_sink(),
    }
    if ctx is not None:
        ctx.stop()
    return out


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "replay":
        print(json.dumps(run_replay_cmd(args)))
        return 0
    if args.cmd == "query":
        return run_query_cmd(args)
    if args.cmd == "list-queries":
        return list_queries_cmd(args)
    if args.cmd == "sql":
        return run_sql_cmd(args)
    if args.cmd == "table":
        return run_table_cmd(args)
    return 2  # pragma: no cover


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
