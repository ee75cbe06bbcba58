"""The replay pipeline (SURVEY §3.2 E3): archive → transform → publish.

This is the reference tool's whole purpose re-expressed as Structured
Streaming: consume an S3-style archive incrementally (paced), extract
partition keys from JSON payloads, sanitize, and publish to a
Kinesis-style sink with checkpointed at-least-once delivery.

Config maps 1:1 to the reference CLI's flags:
  bucket/prefix      → archive root path
  key range filter   → pathGlobFilter / dt= partition pruning
  partition-key path → JSON path into the payload (get_json_object)
  sanitize rules     → regexp_replace chain
  concurrency        → num_writers (single-writer-per-key)
  rate limit         → max_files_per_trigger + trigger interval
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.sources.archive import stream_archive
from s3_kinesis_replay_spark.streaming.kinesis_sink import kinesis_foreach_batch


@dataclass
class ReplayConfig:
    archive_root: str
    stream_name: str
    checkpoint_dir: str
    partition_key_path: str = "$.k"  # JSON path into props (JMESPath subset)
    sanitize_rules: list[tuple[str, str]] = field(default_factory=list)
    max_files_per_trigger: int | None = 4
    num_writers: int = 8
    available_now: bool = True  # drain-and-stop replay (vs continuous)
    trigger_interval: str | None = None  # continuous-mode pacing, e.g. "5 seconds"
    path_glob: str | None = None  # key-prefix predicate (leaf-file glob)
    dt_start: str | None = None  # inclusive dt= partition lower bound
    dt_end: str | None = None  # inclusive dt= partition upper bound


def build_replay_stream(spark: SparkSession, cfg: ReplayConfig) -> DataFrame:
    """Source + transform half of the pipeline (testable without a sink)."""
    df = stream_archive(
        spark,
        cfg.archive_root,
        cfg.max_files_per_trigger,
        glob=cfg.path_glob,
        dt_start=cfg.dt_start,
        dt_end=cfg.dt_end,
    )
    # partition key: reference extracts via configured JSON path from the
    # payload; fall back to user_id when the path misses
    key = F.coalesce(
        F.get_json_object("props", cfg.partition_key_path),
        F.col("user_id").cast("string"),
    )
    data = F.to_json(F.struct(*df.columns))
    for pat, repl in cfg.sanitize_rules:
        data = F.regexp_replace(data, pat, repl)
    records = df.select(
        key.alias("partition_key"),
        F.col("event_id").alias("seq"),
        data.alias("data"),
        F.get_json_object("props", cfg.partition_key_path)
        .isNull()
        .alias("_key_fallback"),
    )
    # per-micro-batch pipeline metrics, surfaced in every
    # StreamingQueryProgress under observedMetrics['replay_metrics'] —
    # the operator dashboard numbers (records, payload volume, how often
    # the configured partition-key path missed and the user_id fallback
    # fired). Computed inside the stream: zero extra passes.
    return records.observe(
        "replay_metrics",
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.length("data")).alias("payload_bytes"),
        F.sum(F.col("_key_fallback").cast("bigint")).alias("n_key_fallback"),
    ).drop("_key_fallback")


def run_replay(
    spark: SparkSession,
    cfg: ReplayConfig,
    client_factory,
    distributed: bool = False,
    client_arg: str = "",
):
    """Wire source → kinesis sink; returns the started StreamingQuery.

    ``client_factory`` may be a callable (driver-mode) or an importable
    ``"module:callable"`` path — the only form that works with
    ``distributed=True``, where each executor worker builds its own
    client (see kinesis_sink.resolve_client_factory)."""
    records = build_replay_stream(spark, cfg)
    sink_fn = kinesis_foreach_batch(
        client_factory,
        cfg.stream_name,
        num_writers=cfg.num_writers,
        distributed=distributed,
        client_arg=client_arg,
    )
    writer = (
        records.writeStream.foreachBatch(sink_fn)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .outputMode("append")
    )
    writer = _apply_trigger(writer, cfg)
    return writer.start()


def _apply_trigger(writer, cfg: ReplayConfig):
    """Trigger policy: drain-and-stop (availableNow) by default; in
    continuous mode an optional processingTime interval is the second
    half of the reference CLI's rate limit — maxFilesPerTrigger bounds
    batch VOLUME, the interval bounds batch FREQUENCY, so the product
    caps sustained replay throughput."""
    if cfg.available_now:
        return writer.trigger(availableNow=True)
    if cfg.trigger_interval:
        return writer.trigger(processingTime=cfg.trigger_interval)
    return writer


def _add_observed(totals: dict, observed) -> None:
    om = (observed or {}).get("replay_metrics")
    if om is None:
        return
    d = om.asDict() if hasattr(om, "asDict") else dict(om)
    for k in totals:
        v = d.get(k)
        if v is not None:
            totals[k] += int(v)


def replay_metrics(query) -> dict:
    """Aggregate the observed replay metrics across a (finished or
    running) StreamingQuery's recentProgress: total records published,
    total payload bytes, and partition-key-path fallback count.

    EXACTNESS CAVEAT (ADVICE r7): recentProgress is a bounded ring buffer
    (spark.sql.streaming.numRecentProgressUpdates, default 100 events) —
    totals are exact only for drains of <= that many micro-batches, i.e.
    the availableNow replay runs this repo uses it for. A long-running
    continuous replay must attach :class:`ReplayMetricsListener` instead,
    which accumulates on every progress event and never rolls off."""
    totals = {"n_records": 0, "payload_bytes": 0, "n_key_fallback": 0}
    for p in query.recentProgress:
        _add_observed(totals, p.get("observedMetrics"))
    return totals


try:  # pragma: no cover - import shape differs across pyspark minors
    from pyspark.sql.streaming import StreamingQueryListener as _SQL_Listener
except ImportError:  # pragma: no cover
    _SQL_Listener = object


class ReplayMetricsListener(_SQL_Listener):
    """Unbounded replay-metrics accumulator: register with
    ``spark.streams.addListener(listener)`` BEFORE starting the replay
    query, then read ``listener.totals``. Unlike :func:`replay_metrics`
    this sums every progress event as it arrives, so totals stay exact
    past the 100-event recentProgress ring buffer — the right monitoring
    surface for a continuous (non-availableNow) replay."""

    def __init__(self):
        self.totals = {"n_records": 0, "payload_bytes": 0, "n_key_fallback": 0}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        om = getattr(p, "observedMetrics", None)
        if om is None:  # json fallback for pyspark versions without attr
            import json

            om = (json.loads(p.json) or {}).get("observedMetrics") or {}
        _add_observed(self.totals, om)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
