"""Event-analytics operators: ordered funnels and cohort retention.

Generalized from the suite's fixed 3-stage shapes (suite/events.py —
reference parity target: the product-analytics SqlTransform SQL at
examples/batch.py:238-293) into parameterized operators, so arbitrary
step sequences / cohort granularities run through ONE implementation
(and the differential fuzzer can sweep the parameter space).

Scale notes: the funnel is one Exchange on the user column + a single
Window operator stack (each stage is a conditional MIN over the same
unordered partition — no re-shuffle, no sort between stages);
retention is two aggregations and a join that reuses the first agg's
user partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: days per supported cohort-granularity bucket — offsets are computed
#: with datediff on DATES of the truncated timestamps, so they are
#: DST-immune in any session timezone (calendar units like month would
#: need interval arithmetic instead)
_GRANULARITY_DAYS = {"day": 1, "week": 7}


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion counts: one row with ``n_step{i}`` =
    users who completed the first i stages IN ORDER (each stage's
    event STRICTLY after the previous stage's first qualifying event,
    matching the classic product-analytics funnel).

    Stage i's timestamp is ``MIN(ts) WHERE type = steps[i] AND
    ts > t_{i-1}`` over the user's partition — chained conditional-min
    windows on one ``user_col`` partitioning, planned as a single
    Exchange + Window stack."""
    if len(steps) < 1:
        raise ValueError("funnel needs at least one step")
    w = Window.partitionBy(user_col)
    out = df
    prev: F.Column | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
        out = out.withColumn(f"__t{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(f"__t{i}")
    per_user = out.groupBy(user_col).agg(
        *[F.max(f"__t{i}").alias(f"__t{i}") for i in range(len(steps))]
    )
    return per_user.agg(
        *[F.count(f"__t{i}").alias(f"n_step{i + 1}") for i in range(len(steps))]
    )


def cohort_retention(
    df: DataFrame,
    granularity: str = "week",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: cohort = ``granularity`` bucket of the user's
    first event; each (cohort, offset) row counts distinct users active
    that many buckets after their cohort start. Offsets are exact
    integer arithmetic — ``datediff`` on the DATES of the truncated
    timestamps divided by the bucket's day width — so they are
    bit-identical in any engine AND immune to DST: both endpoints are
    granularity-aligned, so the day difference is always an exact
    multiple of the bucket width regardless of session timezone
    (epoch-second subtraction would be off by 3600s across a DST
    transition in non-UTC sessions and truncate into the wrong
    bucket)."""
    if granularity not in _GRANULARITY_DAYS:
        raise ValueError(
            f"granularity must be one of {sorted(_GRANULARITY_DAYS)}, "
            f"got {granularity!r}"
        )
    days = _GRANULARITY_DAYS[granularity]
    firsts = df.groupBy(user_col).agg(
        F.date_trunc(granularity, F.min(ts_col)).alias("cohort_start")
    )
    offset = (
        F.datediff(
            F.to_date(F.date_trunc(granularity, F.col(ts_col))),
            F.to_date(F.col("cohort_start")),
        )
        / days
    ).cast("int")
    return (
        df.join(firsts, user_col)
        .groupBy("cohort_start", offset.alias("bucket_offset"))
        .agg(F.count_distinct(user_col).alias("n_active"))
        .orderBy("cohort_start", "bucket_offset")
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
    keep_all: bool = False,
) -> DataFrame:
    """Median/MAD robust outlier detection — the standard
    data-quality screen for metric streams (robust to the outliers it
    hunts, unlike mean/stddev z-scores): a row is an outlier when
    ``|x - median| > k * MAD`` within its group, where MAD is the
    median absolute deviation and BOTH medians are discrete
    (``percentile_disc(0.5)`` — an actual element of the data, exact
    integer-position semantics identical in any engine, no
    interpolation arithmetic to drift).

    Returns the input columns plus ``med``, ``mad``, ``is_outlier``;
    ``keep_all=False`` (default) returns only the flagged rows. NULL
    values are never flagged (no deviation evidence). A zero MAD
    (over half the group identical) flags ANY deviation from the
    median — the conventional degenerate-case reading.

    Scale: two grouped disc-quantile aggregations shuffling only the
    group-key cardinality, each joined back; the corpus itself
    shuffles on nothing. The grouped join-back carries no hint: the
    aggregate is tiny when groups are few and AQE broadcasts it at
    runtime, but a high-cardinality group key degrades gracefully to a
    shuffle join instead of an oversized forced broadcast. The global
    (no-group) aggregate is provably one row and always broadcast."""
    if k < 0:
        raise ValueError(f"k must be non-negative, got {k}")
    group_cols = list(group_cols or [])

    # Pre-project the value into a fixed-name column so arbitrary
    # identifiers (spaces, hyphens, dots) never reach SQL text; the
    # backtick quoting keeps "." a literal name char instead of a
    # struct-field access.
    quoted = "`" + value_col.replace("`", "``") + "`"
    base = df.withColumn("__val", F.col(quoted).cast("double"))
    med_agg = F.expr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY __val)"
    ).alias("med")
    if group_cols:
        meds = base.groupBy(*group_cols).agg(med_agg)
        with_med = base.join(meds, group_cols)
    else:
        with_med = base.crossJoin(F.broadcast(base.agg(med_agg)))
    dev = F.abs(F.col("__val") - F.col("med"))
    mad_agg = F.expr(
        "percentile_disc(0.5) WITHIN GROUP (ORDER BY __dev)"
    ).alias("mad")
    devd = with_med.withColumn("__dev", dev)
    if group_cols:
        mads = devd.groupBy(*group_cols).agg(mad_agg)
        scored = devd.join(mads, group_cols)
    else:
        scored = devd.crossJoin(F.broadcast(devd.agg(mad_agg)))
    out = scored.withColumn(
        "is_outlier",
        F.coalesce(F.col("__dev") > F.lit(float(k)) * F.col("mad"), F.lit(False)),
    ).drop("__dev", "__val")
    return out if keep_all else out.filter(F.col("is_outlier"))
