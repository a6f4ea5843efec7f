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

from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


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


def truncate_lineage(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage — the package's one lineage cut: the
    pipeline runner once per shared dataset, connected components every
    round, ``jaccard_verify`` on its candidates and the incremental
    span operators on their batch-sized intermediates.

    Where the cut lives follows the session, never the call site.
    Without ``spark.checkpoint.dir``: ``localCheckpoint`` — blocks live
    on executors, no extra I/O, but an executor loss fails the job
    because truncated lineage cannot be recomputed. With it: a reliable
    ``checkpoint()`` under that fault-tolerant path (HDFS/S3/DBFS on a
    real cluster), which survives executor loss and preemption for one
    write and read of the checkpointed data.

    A session built with the conf already has its SparkContext's
    checkpoint directory (classic) or its server's (Connect). A
    classic context without one — the conf was set after start — gets
    it from the conf here, once; the directory is SparkContext-wide
    from then on. ``eager=False`` applies to ``localCheckpoint`` only,
    and defers only its final stage: building the checkpointed RDD runs
    the plan's broadcast stages and, under AQE, its shuffle stages. A
    reliable cut is always eager: lazily, Spark writes the files with a
    second job after the first action, which computes the plan again
    (a counting UDF behind a lazy reliable cut ran twice per row)."""
    spark = df.sparkSession
    root = spark.conf.get("spark.checkpoint.dir", None)
    if root is None:
        return df.localCheckpoint(eager=eager)
    if not is_connect(spark) and spark.sparkContext.getCheckpointDir() is None:
        spark.sparkContext.setCheckpointDir(root)
    return df.checkpoint(eager=True)


def client_local_path(spark: SparkSession, path: str) -> str | None:
    """Where Spark resolves ``path`` on this process's own filesystem,
    or ``None`` when the client may not see what Spark sees: a Connect
    session, a non-``file:`` URI, or a scheme-less path under a remote
    ``fs.defaultFS`` (HDFS, S3, DBFS)."""
    if is_connect(spark):
        return None
    u = urlparse(path)
    if u.scheme:
        return u.path if u.scheme == "file" and u.netloc in ("", "localhost") else None
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    return path if urlparse(default_fs or "file:///").scheme == "file" else None
