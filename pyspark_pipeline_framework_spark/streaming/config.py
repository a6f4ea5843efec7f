"""Config-declarable streaming pipelines.

The reference declares streaming components in HOCON like batch ones
(runtime/streaming adapters + mode="streaming" pipelines); this module
gives the registry a ``stream`` operator with the same property: one
config block names a source adapter, an optional SQL transform (over
the view ``stream``), and a sink adapter, plus trigger / output mode /
watermark / checkpoint — and runs the whole thing through
:class:`~pyspark_pipeline_framework_spark.streaming.base.StreamingPipeline`
with zero Python code.

Blocking by design: the operator uses ``run`` (awaitTermination), so a
``once`` / ``available_now`` trigger processes everything available and
completes like a batch component — the shape a scheduled 100 TB
ingestion job wants. Long-running ``processing_time`` streams belong in
their own driver process, not inside a batch pipeline's component list;
pass ``timeout_s`` when a bounded run of one is genuinely wanted.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from pyspark_pipeline_framework_spark.streaming.base import (
    OutputMode,
    StreamingPipeline,
    Trigger,
    TriggerType,
)
from pyspark_pipeline_framework_spark.streaming import sinks as _sinks
from pyspark_pipeline_framework_spark.streaming import sources as _sources

SOURCE_TYPES = {
    "kafka": _sources.KafkaStreamingSource,
    "file": _sources.FileStreamingSource,
    "delta": _sources.DeltaStreamingSource,
    "iceberg": _sources.IcebergStreamingSource,
    "rate": _sources.RateStreamingSource,
    "eventhubs": _sources.EventHubsStreamingSource,
    "kinesis": _sources.KinesisStreamingSource,
}

SINK_TYPES = {
    "kafka": _sinks.KafkaStreamingSink,
    "delta": _sinks.DeltaStreamingSink,
    "console": _sinks.ConsoleStreamingSink,
    "iceberg": _sinks.IcebergStreamingSink,
    "file": _sinks.FileStreamingSink,
    "cloud": _sinks.CloudStorageStreamingSink,
    "memory": _sinks.MemoryStreamingSink,
}


class StreamingConfigError(ValueError):
    pass


def _build(kind: str, registry: dict, block: dict[str, Any]):
    if not isinstance(block, dict) or "type" not in block:
        raise StreamingConfigError(f"{kind} block must be a dict with a 'type' field")
    d = dict(block)
    t = d.pop("type")
    # isinstance gate before the dict lookup: an unhashable type value
    # (e.g. a list where a string belongs) must be a clean config
    # error, not a TypeError traceback (hoconfuzz finding)
    cls = registry.get(t) if isinstance(t, str) else None
    if cls is None:
        raise StreamingConfigError(f"unknown {kind} type {t!r} (known: {sorted(registry)})")
    try:
        return cls(**d)
    except TypeError as exc:
        raise StreamingConfigError(f"{kind} {t!r}: {exc}") from exc


def build_source(block: dict[str, Any]):
    return _build("source", SOURCE_TYPES, block)


def build_sink(block: dict[str, Any]):
    return _build("sink", SINK_TYPES, block)


def build_trigger(block: dict[str, Any] | str | None) -> Trigger | None:
    if block is None:
        return None
    if isinstance(block, str):
        block = {"type": block}
    if not isinstance(block, dict):
        raise StreamingConfigError(
            f"trigger must be a name or dict, got {type(block).__name__}"
        )
    d = dict(block)
    if "type" not in d:
        raise StreamingConfigError(
            f"trigger block must carry a 'type' field, got {sorted(d)}"
        )
    t = d.pop("type")
    try:
        ttype = TriggerType(t)
    except (ValueError, TypeError):  # TypeError: unhashable type value
        raise StreamingConfigError(
            f"unknown trigger type {t!r} (known: {[m.value for m in TriggerType]})"
        ) from None
    interval = d.pop("interval", None)
    if d:
        raise StreamingConfigError(
            f"unknown trigger fields {sorted(d)} (allowed: type, interval)"
        )
    return Trigger(trigger_type=ttype, interval=interval)


_STREAM_PARAMS = {
    "source", "sink", "transform_sql", "output_mode", "trigger",
    "watermark", "checkpoint", "query_name", "timeout_s", "output",
    "dedup_keys", "neardup", "ivf_add",
}

_NEARDUP_REQUIRED = {"store", "pairs"}
_NEARDUP_OPTIONAL = {"id_col", "text_col", "num_hashes", "bands",
                     "shingle_k", "hash_fn", "partition_by"}


def _check_partition_by(blk: Any, what: str) -> None:
    """Shared shape check for the optional ``partition_by`` of the
    incremental-store blocks: the layout-mirroring list passed through
    to the writer (r9 ADVICE — must match a compacted store's nesting)."""
    pb = blk.get("partition_by")
    if pb is not None and (
        not isinstance(pb, list) or not pb
        or not all(isinstance(c, str) and c for c in pb)
    ):
        raise StreamingConfigError(
            f"{what} partition_by must be a non-empty list of column "
            f"names (the batch_id=N sub-partition layout), got {pb!r}"
        )


def _check_neardup(nd: Any, *, has_sink: bool, checkpoint: Any) -> None:
    """Invariants of the ``neardup`` block — enforced both at config
    load (validate_stream_params) and at runtime (run_stream_component,
    which is itself a public API and must not run a checkpoint-less
    near-dup stream: on restart batch ids would reset to 0, clobbering
    the band store and silently skipping new-vs-history pairs)."""
    if not isinstance(nd, dict) or not _NEARDUP_REQUIRED <= set(nd):
        raise StreamingConfigError(
            f"neardup block requires 'store' and 'pairs' paths, got {nd!r}"
        )
    unknown_nd = set(nd) - _NEARDUP_REQUIRED - _NEARDUP_OPTIONAL
    if unknown_nd:
        raise StreamingConfigError(
            f"unknown neardup fields {sorted(unknown_nd)} (allowed: "
            f"{sorted(_NEARDUP_REQUIRED | _NEARDUP_OPTIONAL)})"
        )
    _check_partition_by(nd, "neardup")
    if has_sink:
        raise StreamingConfigError(
            "neardup and sink are mutually exclusive — the near-dup "
            "operator IS the sink (foreachBatch writing the pairs and "
            "band-store parquet)"
        )
    if not checkpoint:
        raise StreamingConfigError(
            "neardup requires a checkpoint — without one a restarted "
            "stream's batch ids reset to 0, clobbering the band store's "
            "existing batch partitions and silently skipping all "
            "new-vs-history pairs"
        )


_IVF_ADD_REQUIRED = {"store", "centroids", "dim"}
_IVF_ADD_OPTIONAL = {"id_col", "vec_col", "partition_by", "codebooks"}


def _check_ivf_add(blk: Any, *, has_sink: bool, has_neardup: bool,
                   checkpoint: Any) -> None:
    """Invariants of the ``ivf_add`` block (streaming ANN-index growth
    under a frozen quantizer) — same contract as ``neardup``: the
    operator IS the sink, and a checkpoint is mandatory because a
    restarted checkpoint-less stream resets batch ids to 0 and
    overwrites the store's existing batch partitions with DIFFERENT
    data (silent index loss)."""
    if not isinstance(blk, dict) or not _IVF_ADD_REQUIRED <= set(blk):
        raise StreamingConfigError(
            "ivf_add block requires 'store', 'centroids' (parquet path "
            f"of the frozen quantizer) and 'dim', got {blk!r}"
        )
    unknown = set(blk) - _IVF_ADD_REQUIRED - _IVF_ADD_OPTIONAL
    if unknown:
        raise StreamingConfigError(
            f"unknown ivf_add fields {sorted(unknown)} (allowed: "
            f"{sorted(_IVF_ADD_REQUIRED | _IVF_ADD_OPTIONAL)})"
        )
    # bool subclasses int: `dim: true` must not pass as dim=1 (r9 ADVICE)
    if not isinstance(blk["dim"], int) or isinstance(blk["dim"], bool) or blk["dim"] <= 0:
        raise StreamingConfigError(
            f"ivf_add dim must be a positive int, got {blk['dim']!r}"
        )
    _check_partition_by(blk, "ivf_add")
    # optional `codebooks` switches the block to IVFPQ growth (assign +
    # PQ-encode in one map-only pass)
    if "codebooks" in blk and (
        not isinstance(blk["codebooks"], str) or not blk["codebooks"]
    ):
        raise StreamingConfigError(
            "ivf_add codebooks must be a parquet path string, "
            f"got {blk['codebooks']!r}"
        )
    if has_sink or has_neardup:
        raise StreamingConfigError(
            "ivf_add is mutually exclusive with sink/neardup — the "
            "index-growth operator IS the sink (foreachBatch appending "
            "cell-assigned batch partitions to the store)"
        )
    if not checkpoint:
        raise StreamingConfigError(
            "ivf_add requires a checkpoint — without one a restarted "
            "stream's batch ids reset to 0 and overwrite the store's "
            "existing batch partitions with different data"
        )


def validate_stream_params(params: dict[str, Any]) -> None:
    """Load-time validation of an ``op: stream`` component's params —
    every malformed block fails when the config is parsed, never
    mid-run. Builds the source/sink/trigger specs (pure dataclasses, no
    Spark) and checks output_mode/watermark shapes."""
    unknown = set(params) - _STREAM_PARAMS
    if unknown:
        raise StreamingConfigError(
            f"unknown stream params {sorted(unknown)} (allowed: {sorted(_STREAM_PARAMS)})"
        )
    nd = params.get("neardup")
    if nd is not None:
        _check_neardup(nd, has_sink="sink" in params,
                       checkpoint=params.get("checkpoint"))
    iva = params.get("ivf_add")
    if iva is not None:
        _check_ivf_add(iva, has_sink="sink" in params,
                       has_neardup=nd is not None,
                       checkpoint=params.get("checkpoint"))
    if "source" not in params:
        raise StreamingConfigError("stream component requires a 'source' block")
    if "sink" not in params and nd is None and iva is None:
        raise StreamingConfigError(
            "stream component requires a 'sink' block (or a 'neardup' / "
            "'ivf_add' block in its place)"
        )
    build_source(params["source"])
    if "sink" in params:
        build_sink(params["sink"])
    build_trigger(params.get("trigger", "available_now"))
    mode = params.get("output_mode", "append")
    try:
        OutputMode(mode)
    except (ValueError, TypeError):  # TypeError: unhashable type value
        raise StreamingConfigError(
            f"unknown output_mode {mode!r} (known: {[m.value for m in OutputMode]})"
        ) from None
    wm = params.get("watermark")
    if wm is not None:
        if not isinstance(wm, dict) or set(wm) != {"column", "delay"}:
            raise StreamingConfigError(
                "watermark block must be {'column': ..., 'delay': ...}, "
                f"got {wm!r}"
            )
    dk = params.get("dedup_keys")
    if dk is not None:
        if not isinstance(dk, list) or not dk or not all(isinstance(c, str) for c in dk):
            raise StreamingConfigError(
                f"dedup_keys must be a non-empty list of column names, got {dk!r}"
            )
        if wm is None:
            raise StreamingConfigError(
                "dedup_keys requires a watermark block — "
                "dropDuplicatesWithinWatermark bounds its state by the "
                "watermark (unbounded dedup state is a 100 TB outage)"
            )


def run_stream_component(
    spark: SparkSession,
    *,
    source: dict[str, Any],
    sink: dict[str, Any] | None = None,
    transform_sql: str | None = None,
    output_mode: str = "append",
    trigger: dict[str, Any] | str | None = "available_now",
    watermark: dict[str, str] | None = None,        # {column, delay}
    checkpoint: str | None = None,
    query_name: str | None = None,
    timeout_s: float | None = None,
    dedup_keys: list[str] | None = None,
    neardup: dict[str, Any] | None = None,
    ivf_add: dict[str, Any] | None = None,
) -> None:
    """Assemble + run one declarative streaming pipeline. The optional
    ``transform_sql`` sees the (watermarked, deduped) stream as view
    ``stream``. ``dedup_keys`` inserts ``dropDuplicatesWithinWatermark``
    (Spark 3.5+ native; the reference lists it as not-implemented,
    SURVEY §2.6) between watermark and transform: first row per key
    wins, suppression state expires with the watermark — state is
    bounded by keys-per-watermark-window, not stream history."""

    def _transform(df: DataFrame) -> DataFrame:
        if dedup_keys:
            df = df.dropDuplicatesWithinWatermark(dedup_keys)
        if not transform_sql:
            return df
        df.createOrReplaceTempView("stream")
        return spark.sql(transform_sql)

    try:
        mode = OutputMode(output_mode)
    except ValueError:
        raise StreamingConfigError(
            f"unknown output_mode {output_mode!r} (known: {[m.value for m in OutputMode]})"
        ) from None
    wm = None
    if watermark:
        wm = (watermark["column"], watermark["delay"])
    if neardup is not None:
        from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
        from pyspark_pipeline_framework_spark.streaming.stateful import (
            incremental_neardup_batch,
        )

        _check_neardup(neardup, has_sink=sink is not None, checkpoint=checkpoint)
        if ivf_add is not None:
            _check_ivf_add(ivf_add, has_sink=sink is not None,
                           has_neardup=True, checkpoint=checkpoint)
        nd = dict(neardup)
        built_sink = ForeachBatchSink(
            incremental_neardup_batch(nd.pop("store"), nd.pop("pairs"), **nd)
        )
    elif ivf_add is not None:
        from pyspark_pipeline_framework_spark.streaming.sinks import ForeachBatchSink
        from pyspark_pipeline_framework_spark.streaming.stateful import (
            streaming_ivf_add_batch,
        )

        _check_ivf_add(ivf_add, has_sink=sink is not None, has_neardup=False,
                       checkpoint=checkpoint)
        blk = dict(ivf_add)
        if "codebooks" in blk:
            from pyspark_pipeline_framework_spark.streaming.stateful import (
                streaming_ivfpq_add_batch,
            )

            built_sink = ForeachBatchSink(
                streaming_ivfpq_add_batch(
                    blk.pop("store"), blk.pop("centroids"),
                    blk.pop("codebooks"), blk.pop("dim"), **blk
                )
            )
        else:
            built_sink = ForeachBatchSink(
                streaming_ivf_add_batch(
                    blk.pop("store"), blk.pop("centroids"), blk.pop("dim"), **blk
                )
            )
    else:
        if sink is None:
            raise StreamingConfigError("stream component requires a 'sink' block")
        built_sink = build_sink(sink)
    pipeline = StreamingPipeline(
        source=build_source(source),
        sink=built_sink,
        output_mode=mode,
        trigger=build_trigger(trigger),
        checkpoint_location=checkpoint,
        query_name=query_name,
        watermark=wm,
        transform_fn=_transform,
    ).set_spark_session(spark)
    pipeline.run(timeout_s=timeout_s)
