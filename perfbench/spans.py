"""In-memory spans around the package's public functions (traced runs only).

Wrappers replace module attributes, so calls that look the attribute up at
call time are reached too: ``catalog`` calls ``tf.<verb>``, and
``table_format`` calls its own verbs through module globals. Each span has
a name, start and end (``time.perf_counter`` seconds), a parent span index
and an operation id. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import json
import threading
import time

TABLE_FORMAT_VERBS = [
    "snapshot_write",
    "snapshot_merge_clauses",
    "snapshot_overwrite_where",
    "snapshot_compact_small",
    "snapshot_row_changes",
    "matview_refresh",
    "refresh_dependent_views",
]


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def add(self, name: str, start: float, end: float, op: str | None) -> None:
        """Record a span measured elsewhere (e.g. by another process)."""
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": None, "op": op}
        )

    def dump(self, path) -> None:
        path.write_text(json.dumps(self.spans))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        t = self.tracer
        stack = t._local.__dict__.setdefault("stack", [])
        self.rec = {
            "name": self.name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "op": t.op,
        }
        t.spans.append(self.rec)
        stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.tracer._local.stack.pop()
        return False


def instrument(tracer: Tracer) -> None:
    """Wrap the package functions the benchmark reports on."""
    from s3_kinesis_replay_spark import catalog, engine
    from s3_kinesis_replay_spark.operators import table_format
    from s3_kinesis_replay_spark.streaming import replay

    tracer.wrap(engine.Engine, "sql", "Engine.sql")
    tracer.wrap(catalog, "resolve_dml", "catalog.resolve_dml")
    for verb in TABLE_FORMAT_VERBS:
        tracer.wrap(table_format, verb, f"table_format.{verb}")
    tracer.wrap(table_format, "_commit", "table_format.commit")
    tracer.wrap(replay, "run_replay", "replay.run_replay")


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus its direct children's durations."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


def outermost_total(spans: list[dict], name: str) -> float:
    """Total time inside ``name``, not counting calls nested in a call of
    the same name."""
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        p = s["parent"]
        while p is not None and spans[p]["name"] != name:
            p = spans[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


def covered_seconds(spans: list[dict], start: float, end: float) -> float:
    """Length of the union of span intervals, clipped to ``[start, end]``."""
    ivs = sorted(
        (max(s["start"], start), min(s["end"], end))
        for s in spans
        if s["end"] > start and s["start"] < end
    )
    total, cur_s, cur_e = 0.0, None, None
    for a, b in ivs:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
