"""Expected-output digests for the analytics and table_writes entries.

A digest is the sha256 of an entry's result, canonicalized the way the
repo's DuckDB oracle harness compares results (``oracle.canon_rows``:
columns in sorted-name order, values canonicalized, rows sorted), plus its
row count, computed here from each entry's DuckDB oracle SQL.

Regenerate the committed file from the oracle SQL (run from the repo root;
the all-pairs similarity oracles i3, i3f and p1 take tens of minutes each).
An oracle that reads an artifact the Spark entry exports under a fixed
``/tmp`` path (i14's cell assignment) first runs the entry in a Spark
session, with that path rebased into the work directory as in the
benchmark itself:

    python3 perfbench/digests.py                 # every entry
    python3 perfbench/digests.py --only i3_minhash_lsh_neardup
    python3 perfbench/digests.py --step spark    # fingerprints only

The ``spark`` step runs each entry once, checks that its canonical digest
equals the oracle's, and records the entry's result fingerprint (see
``suites.py``), which is what each benchmark run compares against.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import re
import sys
import time

from entries import ANALYTICS, REPO_ROOT, SF, SF_DIR, TABLE_WRITES, BENCH_DIR

EXPECTED = BENCH_DIR / "expected_digests.json"


def digest(cols: list[str], rows: list[tuple]) -> dict:
    """Row count and sha256 of the canonical form of one result."""
    from s3_kinesis_replay_spark.oracle import canon_rows

    h = hashlib.sha256("\x1f".join(sorted(cols)).encode())
    for row in canon_rows(cols, rows):
        h.update(b"\x1e" + "\x1f".join(row).encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_expected() -> dict:
    return json.loads(EXPECTED.read_text())["digests"]


def _store(name: str, **fields) -> None:
    # re-read before writing so concurrent regenerations of disjoint
    # entries do not drop each other's results
    doc = (
        json.loads(EXPECTED.read_text())
        if EXPECTED.exists()
        else {"sf": SF, "digests": {}}
    )
    doc["digests"].setdefault(name, {}).update(fields)
    doc["digests"] = dict(sorted(doc["digests"].items()))
    EXPECTED.write_text(json.dumps(doc, indent=1) + "\n")


class _Session:
    """A benchmark-configured Spark session, started on first use."""

    def __init__(self):
        self.spark = self.rebase = None

    def get(self):
        if self.spark is None:
            import harness

            work = BENCH_DIR.parent / ".bench_work" / "digests"
            harness.pin_environment(work)
            self.rebase = harness.redirect_fixed_tmp_paths(work)
            self.spark = harness.start_spark(work, "perfbench-digests")
        return self.spark

    def stop(self):
        if self.spark is not None:
            import harness

            harness.stop_spark(self.spark)


def oracle_digest(name: str, query, session: _Session, threads: int) -> None:
    from s3_kinesis_replay_spark.oracle import duck_connect

    sql = query.oracle
    if "'/tmp/" in sql:
        spark = session.get()
        query.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        sql = re.sub(r"'(/tmp/[^']*)'", lambda m: repr(session.rebase(m.group(1))), sql)
    con = duck_connect(SF_DIR)
    if threads:
        con.execute(f"SET threads = {threads}")
    t0 = time.perf_counter()
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    d = digest(cols, cur.fetchall())
    con.close()
    _store(name, **d)
    print(f"{name}: oracle {d['rows']} rows in {time.perf_counter() - t0:.1f} s", flush=True)


def spark_fingerprint(name: str, query, session: _Session, expected: dict) -> bool:
    """Run the entry once, compare its canonical digest with the oracle's,
    and store the Spark-side fingerprint only when they match."""
    from suites import fingerprint_of, observe_fingerprint

    df, obs = observe_fingerprint(query.fn(session.get(), SF_DIR))
    rows = [tuple(r) for r in df.collect()]
    got = digest(list(df.columns), rows)
    want = expected.get(name, {})
    ok = got["sha256"] == want.get("sha256") and got["rows"] == want.get("rows")
    _store(name, fingerprint=fingerprint_of(obs) if ok else None)
    print(f"{name}: spark {'MATCHES' if ok else 'DIFFERS FROM'} the oracle", flush=True)
    return ok


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--only", nargs="*", help="entries to regenerate")
    ap.add_argument(
        "--step",
        choices=["oracle", "spark", "all"],
        default="all",
        help="oracle digests, Spark fingerprints, or both",
    )
    ap.add_argument("--threads", type=int, default=0, help="DuckDB threads")
    args = ap.parse_args()
    sys.path.insert(0, str(REPO_ROOT))
    from s3_kinesis_replay_spark.registry import all_queries

    registry = all_queries()
    names = args.only or ANALYTICS + TABLE_WRITES
    session = _Session()
    mismatched = []
    try:
        if args.step in ("oracle", "all"):
            for name in names:
                oracle_digest(name, registry[name], session, args.threads)
        if args.step in ("spark", "all"):
            expected = load_expected()
            for name in names:
                if not spark_fingerprint(name, registry[name], session, expected):
                    mismatched.append(name)
    finally:
        session.stop()
    if mismatched:
        sys.exit(f"Spark results differ from the oracle: {mismatched}")


if __name__ == "__main__":
    main()
