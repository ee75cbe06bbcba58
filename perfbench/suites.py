"""The analytics and table_writes workloads: registry entries run one after
another, each forced through the noop sink and checked against its
expected output.

Every execution carries an ``observe()`` fingerprint of its result, taken
inside the same Spark job as the noop write: the row count, the XOR and the
sum (mod 2^31-1) of a 64-bit hash of every row. ``digests.py`` records the
fingerprint of a result whose canonical digest equals the DuckDB oracle's,
so a matching fingerprint ties each timed execution to the oracle without
collecting its rows.
"""

from __future__ import annotations

import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

P31 = 2**31 - 1


def observe_fingerprint(df):
    """``df`` with a fingerprint observation attached, and the observation."""
    obs = Observation()
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.bit_xor(h).alias("xor"),
            F.sum(F.pmod(h, F.lit(P31))).alias("sum"),
        ),
        obs,
    )


def fingerprint_of(obs) -> dict:
    got = obs.get
    return {"rows": int(got["rows"]), "xor": int(got["xor"] or 0), "sum": int(got["sum"] or 0)}


def run_entry(spark, query, sf_dir: str, tracer=None) -> dict:
    """One operation: build the entry's plan, force it, fingerprint it.

    With a tracer, the registry call, physical planning and the noop write
    are separate spans (planning is forced explicitly, so a traced
    execution plans twice)."""
    traced = tracer is not None and tracer.enabled
    t0 = time.perf_counter()
    if traced:
        with tracer.span("queries.fn"):
            df = query.fn(spark, sf_dir)
        df, obs = observe_fingerprint(df)
        with tracer.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()
    else:
        df, obs = observe_fingerprint(query.fn(spark, sf_dir))
        df.write.format("noop").mode("overwrite").save()
    seconds = time.perf_counter() - t0
    return {"seconds": seconds, "fingerprint": fingerprint_of(obs)}
