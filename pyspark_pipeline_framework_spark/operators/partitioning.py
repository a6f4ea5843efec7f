"""Partitioning utilities for CPU-bound map stages.

Parquet splits are row-group based: a 100 TB table carries thousands of
row groups and parallelizes naturally, but a small single-row-group
file (exactly what a local bench or a sampled extract reads) collapses
to ONE input partition — and then every expression-heavy map stage
(shingling, hashing, vectorized UDFs) runs single-threaded no matter
how many cores the session has.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Repartition ``df`` up to the session's default parallelism — but
    ONLY when the scan actually under-splits (fewer input partitions
    than the target). On a production-scale input this is a metadata
    check and a no-op: no job runs, no shuffle is added. On an
    under-split input the one-time shuffle of the payload buys a
    cores-wide downstream pipeline, which dominates for CPU-bound ops.

    ``key``: when the downstream pipeline ends in a ``groupBy(key)``,
    pass the column name so the spread is HASH partitioning on that key
    instead of round-robin — the aggregate's required distribution is
    then already satisfied and Spark plans ONE exchange instead of two
    (repartition + agg shuffle). Same parallelism, one fewer shuffle
    wave; skew behavior is identical to what the aggregate's own
    exchange would produce.
    """
    from pyspark_pipeline_framework_spark.connect_compat import (
        scan_partitions,
        session_parallelism,
    )

    target = min_partitions or session_parallelism(df.sparkSession)
    # plan metadata only, no job (an adaptive input is sized by AQE's
    # coalescing rule); Connect: inputFiles lower bound, or None for a
    # non-file source — leave those plans alone
    current = scan_partitions(df)
    if current is not None and current < target:
        if key is not None:
            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df
