"""TPC-H-shaped queries, part 2 (Q4/Q7/Q8/Q12/Q13/Q15/Q17/Q21/Q22).

The driver star schema (TESTDATA.md) omits several canonical TPC-H
columns (l_commitdate/l_receiptdate, l_shipmode, c_phone, p_container),
so the affected queries are *shape-preserving adaptations*: each keeps
the canonical plan shape — EXISTS / NOT-EXISTS (anti) correlation,
conditional aggregation, scalar-subquery thresholds, group-then-
distribute — re-expressed over the available columns. Money/quantity
aggregates go through DECIMAL(38,6) (order-independent, oracle-exact).

Reference parity: the reference reaches all of these through SQL
passthrough (SqlTransform -> spark.sql, examples/batch.py:238-293);
here each is a first-class, plan-shape-asserted operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_pipeline_framework_spark.io.readers import table
from pyspark_pipeline_framework_spark.suite import case
from pyspark_pipeline_framework_spark.suite._util import dsum, o_dsum

_REV = o_dsum("l.l_extendedprice * (1 - l.l_discount)")


@case(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking: EXISTS with a non-equi correlated term
    (l_shipdate > o_orderdate) becomes a single left-semi join — the
    quarter filter prunes orders before the shuffle, and the semi join
    never materializes lineitem payload columns (adapted: shipped-after-
    order stands in for the missing commit/receipt dates)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(l, (l.l_orderkey == o.o_orderkey) & (l.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@case(
    "q_tpch_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {_REV} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between a nation pair, both directions, by year.
    Both nation sides broadcast (25 rows each); the pair disjunction is
    applied after the broadcasts so only the orders<->lineitem equi-join
    shuffles. At 100 TB the disjunction cannot prune the fact scan, but
    it prunes every post-broadcast row before the aggregation shuffle."""
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("_sn_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("_cn_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@case(
    "q_tpch_q8",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST((CASE WHEN n2.n_name = 'NATION_3'
                     THEN l.l_extendedprice * (1 - l.l_discount)
                     ELSE 0.0 END) AS DECIMAL(38,6))) AS DOUBLE)
             / {_REV} AS mkt_share
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n1.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE r.r_name = 'ASIA'
      AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share: NATION_3's fraction of ASIA's ECONOMY-part
    revenue per year. The p_type filter prunes `part` before broadcast,
    which prunes lineitem at the broadcast-hash probe — the earliest
    possible point since the predicate lives on the dim side. Numerator
    and denominator are decimal sums; the share is one IEEE division."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_regionkey").alias("_cn_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
        .join(o, o.o_orderkey == l.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("_cn_key") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("_cn_region"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("_sn_key") == F.col("s_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                dsum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0.0)))
                / dsum(vol)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@case(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-delay priority counts (Q12 shape; 60-days-late on
    shipdate stands in for the missing commit/receipt dates). The year
    filter is fact-side and pushes to the scan; the cross-table lateness
    predicate runs as the join's residual condition. Conditional counts
    are map-side partial sums — one shuffle total after the join."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            o,
            (l.l_orderkey == o.o_orderkey)
            & (l.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@case(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution: left join with an ON-clause
    (not WHERE) filter so orderless customers survive as c_count=0, then
    a second, tiny aggregation over the distinct counts. First agg
    shuffles on c_custkey; the distribution agg moves ~distinct(count)
    rows — nothing at scale."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@case(
    "q_tpch_q15",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(38,6))) AS trd
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(rev.trd AS DOUBLE) AS total_revenue
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.trd = (SELECT MAX(trd) FROM rev)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by quarterly revenue: the scalar MAX subquery is a
    1-row broadcast joined back against the per-supplier aggregate —
    the quarter of lineitem shuffles once (on l_suppkey) and is reused
    for both the candidates and the MAX. Revenue stays DECIMAL through
    the equality (exact tie semantics, same in DuckDB) and is cast to
    double only for output."""
    s = table(spark, sf_dir, "supplier")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = l.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")).alias(
            "trd"
        )
    )
    mx = rev.agg(F.max("trd").alias("_mx"))
    return (
        rev.join(F.broadcast(mx), rev.trd == F.col("_mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", F.col("trd").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@case(
    "q_tpch_q17",
    oracle="""
    WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
    li AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN bp ON l.l_partkey = bp.p_partkey
    ),
    thr AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
      FROM li GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM li JOIN thr ON li.l_partkey = thr.l_partkey
    WHERE li.l_quantity < 0.2 * thr.avg_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue: the correlated AVG subquery becomes
    a per-partkey aggregate joined back (self-join on the narrowed
    slice). The brand dim filter broadcasts FIRST, so only Brand#23's
    lineitem rows (≈1/25 of the fact) enter the per-part aggregation and
    rejoin — the canonical 'decorrelate then prune early' plan. The
    per-part average is a deterministic decimal-sum / count division."""
    bp = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    l = table(spark, sf_dir, "lineitem")
    li = l.join(F.broadcast(bp), l.l_partkey == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    thr = li.groupBy("l_partkey").agg(
        (dsum("l_quantity") / F.count("l_quantity")).alias("avg_qty")
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@case(
    "q_tpch_q21",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_name = 'NATION_1'
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers-who-kept-orders-waiting (Q21 shape; latest-shipping
    line of a multi-supplier order stands in for the missing
    receipt/commit dates).

    The EXISTS/NOT EXISTS correlated subqueries are folded into ONE
    per-order aggregate instead of semi/anti joins against two more
    lineitem scans: a row of supplier s qualifies iff the order has a
    second distinct supplier (EXISTS) and no OTHER supplier shipped
    strictly later (NOT EXISTS) — and "max shipdate over the other
    suppliers" is derivable from the top-2 per-supplier max-shipdate
    structs (``other_max = m1`` unless s IS the unique top supplier,
    then ``m2``; a tie at m1 makes both branches m1). lineitem is
    scanned ONCE and exchanged ONCE on l_orderkey: the orders semi-join
    runs BEFORE the shared repartition — equivalent, because the
    per-order aggregate is only ever consulted for orders that survive
    the probe's own semi-join — so the probe and aggregate branches
    are canonically identical up to the exchange and AQE executes the
    scan→semi→shuffle stage once (the explicit repartition also
    pre-satisfies the (l_orderkey, l_suppkey) aggregate, clustering on
    a key subset). Versus the subquery form's three scans plus two
    lineitem-sized broadcast builds (or, past the broadcast threshold,
    two extra l_orderkey shuffles). r13 interleaved A/B, results
    identical at every SF: 1.13s → 0.92s at sf0.1, and ~3.5× at ×10
    (min 5.95s → 1.61s) where the duplicate scans and 6M-row broadcast
    builds dominate.

    Null semantics match the subquery form exactly: null-suppkey rows
    can never witness EXISTS (``_s2 != s`` is NULL) so they are
    excluded from the per-supplier groups; a null shipdate can never
    out-ship anything (``_d3 > d`` is NULL) so the row is kept when
    the other-supplier max is NULL, and a null-shipdate probe row is
    kept unconditionally (both via the isNull disjuncts)."""
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    shared = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .filter(F.col("l_suppkey").isNotNull())
        .join(o, o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .repartition(F.col("l_orderkey"))
    )
    per_supp = shared.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("__smax")
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("__n_supp"),
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__smax"), F.col("l_suppkey"))),
                    False,
                ),
                1,
                2,
            ).alias("__top2"),
        )
        .withColumnRenamed("l_orderkey", "__ok")
    )
    top1 = F.col("__top2")[0]
    top2 = F.try_element_at("__top2", F.lit(2))  # NULL when the order has 1 supplier
    other_max = F.when(
        F.col("l_suppkey") == top1["l_suppkey"], top2["__smax"]
    ).otherwise(top1["__smax"])
    qual = (
        shared.join(
            F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(per_order, F.col("__ok") == F.col("l_orderkey"))
        .filter(
            (F.col("__n_supp") >= 2)
            & (
                F.col("l_shipdate").isNull()
                | other_max.isNull()
                | (F.col("l_shipdate") >= other_max)
            )
        )
    )
    return (
        qual.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@case(
    "q_tpch_q22",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(c_acctbal) AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT CAST(c.c_nationkey % 5 AS INT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_nationkey % 5 IN (0, 1, 2)
      AND c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-sales-opportunity (Q22 shape; nationkey mod 5 stands in
    for the missing phone country code, and 'no order since 1999'
    stands in for never-ordered — this testdata gives every customer at
    least one order). The positive-balance average is a 1-row broadcast
    (scalar subquery); lapsed customers are a left-anti join against
    orders filtered on the pushable date predicate and projected to
    o_custkey only. The anti join is the only shuffle; at scale the
    orders side should be pre-projected exactly like this so the
    shuffle moves one long per order, not the row."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_nationkey") % 5 < 3)
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .agg((dsum("c_acctbal") / F.count("c_acctbal")).alias("_ab"))
    )
    return (
        c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("_ab"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
