"""Spark Connect compatibility shims (r9 VERDICT item 1).

Under Spark Connect (``SparkSession.builder.remote(...)``) the client
has NO ``SparkContext`` and DataFrames have no ``.rdd`` — every
classic-only touch must either degrade to a conf/plan-metadata
equivalent or fail with a typed, actionable error instead of an
``AttributeError`` deep inside an operator. Mirrors the reference's
session wrapper, which special-cases its Connect mode the same way
(reference ``runtime/session/wrapper.py:99-115``).

The shims here are the ONLY sanctioned way for package code to reach
``sparkContext`` / ``.rdd`` — ``tests/test_connect_clean.py`` drives a
proxy session that raises on any other touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class ConnectUnsupportedError(RuntimeError):
    """A capability this operator needs is genuinely unavailable over
    Spark Connect with the current server configuration; the message
    says what to configure server-side."""


def is_connect(spark: SparkSession) -> bool:
    """True when ``spark`` is a Connect session (no SparkContext)."""
    try:
        spark.sparkContext
        return False
    except Exception:
        return True


def session_parallelism(spark: SparkSession, default: int = 200) -> int:
    """The session's target parallelism for CPU-bound map stages.

    Classic: ``sparkContext.defaultParallelism`` (cluster core count).
    Connect: ``spark.sql.leafNodeDefaultParallelism`` when the server
    sets it, else ``spark.sql.shuffle.partitions`` — the same knob
    every keyed exchange in the job already uses, so spreading a scan
    to it never exceeds the job's own shuffle width."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no client-side SparkContext
        for key in ("spark.sql.leafNodeDefaultParallelism",
                    "spark.sql.shuffle.partitions"):
            try:
                v = spark.conf.get(key, None)
            except Exception:
                v = None
            if v:
                try:
                    return int(v)
                except ValueError:
                    continue
        return default


def scan_partitions(df: DataFrame) -> int | None:
    """Best-effort count of the DataFrame's output partitions, from plan
    metadata only — no job runs.

    Classic, adaptive plan (AQE on and the plan has an exchange): the
    count is decided at run time, and asking the RDD for it
    (``df.rdd.getNumPartitions()``) executes every shuffle-map stage
    of the input — one extra upstream job per call. Instead apply
    AQE's own coalescing rule to the optimizer's size estimate: with
    ``parallelismFirst`` AQE coalesces below the target parallelism
    only when the shuffled data is under target ×
    ``coalescePartitions.minPartitionSize``, so
    ``ceil(sizeInBytes / minPartitionSize)`` compares with the target
    the way the final partition count would. It is an estimate: with
    coalescing off, or a plan whose output is not a shuffle, a small
    input may be spread that was already wide enough (one extra
    keyed exchange, never a correctness issue).

    Classic, non-adaptive plan: the RDD's partition count — a scan's
    splits or a shuffle's width, metadata both (a non-adaptive
    broadcast join still builds its broadcast here).

    Connect: the client cannot see partitioning, so fall back to
    ``inputFiles()`` (Connect-supported) as a LOWER BOUND — files over
    ``maxPartitionBytes`` split further, so this under-counts large
    files and the caller may repartition a scan that was already wide
    enough. ``None`` when nothing can be determined (non-file source
    over Connect): callers should leave the plan unchanged."""
    if is_connect(df.sparkSession):
        try:
            return len(df.inputFiles()) or 1
        except Exception:
            return None
    qe = df._jdf.queryExecution()
    if qe.executedPlan().nodeName() != "AdaptiveSparkPlan":
        return df.rdd.getNumPartitions()
    spark = df.sparkSession
    min_size = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    size = int(qe.optimizedPlan().stats().sizeInBytes())
    return max(1, -(-size // max(1, min_size)))


def reliable_checkpoint(df: DataFrame, checkpoint_dir: str, eager: bool = False) -> DataFrame:
    """Connect-side reliable ``df.checkpoint()``: the server honors the
    ``spark.checkpoint.dir`` conf (the Spark 4 alternative to
    ``SparkContext.setCheckpointDir``). If the server already has the
    requested root configured, checkpoint directly; otherwise attempt
    a runtime ``conf.set`` and raise :class:`ConnectUnsupportedError`
    with the server-side fix when Spark refuses (core confs are not
    runtime-settable on every deployment)."""
    spark = df.sparkSession
    try:
        current = spark.conf.get("spark.checkpoint.dir", None)
    except Exception:
        current = None
    if current is not None and current.rstrip("/") == checkpoint_dir.rstrip("/"):
        return df.checkpoint(eager=eager)
    try:
        spark.conf.set("spark.checkpoint.dir", checkpoint_dir)
    except Exception as ex:
        raise ConnectUnsupportedError(
            "reliable checkpointing over Spark Connect needs the server "
            f"started with spark.checkpoint.dir={checkpoint_dir!r} (the "
            "client cannot call SparkContext.setCheckpointDir and this "
            f"server refuses a runtime override: {ex}). Either configure "
            "the server, or pass checkpoint_dir=None to use "
            "localCheckpoint (executor-local, not fault-tolerant)."
        ) from ex
    return df.checkpoint(eager=eager)
