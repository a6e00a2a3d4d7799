"""Relational joins + aggregations at scale (SURVEY.md §2.8 X6).

The reference has no multi-table joins; these TPC-H-style queries over
the driver's star schema exercise the join strategies Spark gives us:
broadcast-hash for the FIXED-SIZE dimensions (region/nation/part —
their cardinality does not grow with SF), shuffle-hash/sort-merge for
orders⋈lineitem (AQE picks and can convert at runtime), with filter
pushdown to the parquet scans.

Scale notes: only fixed-size dims carry an explicit broadcast hint.
customer SCALES with SF (~150k rows/SF unit — TBs at 100 TB
workloads), so it carries NO hint: AQE broadcasts it at small SF and
falls back to a shuffle join when the runtime size exceeds the
threshold — a forced hint would override that forever and OOM at
scale. orders⋈lineitem co-shuffles on orderkey once — at 100 TB,
bucketing both tables by orderkey removes even that. Aggregates are
partial (map-side combine) before the single group-by shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..io import load_table
from .common import r6, stage


def _r2(c):
    return F.round(c, 2)


# round(sum(money_term), 2) entirely in integer arithmetic (the
# common.exact_sum6 discipline, specialized to NON-NEGATIVE money
# terms that are exact short rationals — price 2dp, x discount = 4dp,
# x tax = 6dp): quantize each term to its unscaled integer in pure
# double arithmetic — floor(x*10^s + 0.5) recovers the true integer
# exactly because the double product's error (~1e-11 relative) is
# far below 0.5 and a short rational never lands ON .5 in binary —
# then sum primitive BIGINTs (the DECIMAL-cast and DECIMAL-sum
# variants benched 1.8x / 3x slower on Q1's full-scan aggregate;
# this stays whole-stage-codegen-primitive end to end) and half-away
# round to cents by integer division. One template, both engines
# (floor, not CAST: DuckDB's double->BIGINT cast rounds, Spark's
# truncates). Overflow bound: unscaled group sums stay exact below
# 2^63/10^scale money units (~9.2e12 at 6dp — sf1000-equivalent
# headroom; beyond that, widen to DECIMAL).
_MONEY_TEMPLATE = (
    "CAST((2 * sum(CAST(floor(({term}) * {p}.0 + 0.5) AS BIGINT))"
    " + {d}) {div} (2 * {d}) AS DOUBLE) / 100.0"
)


def _money_sum2(term_sql: str, scale: int) -> F.Column:
    p = 10**scale
    return F.expr(
        _MONEY_TEMPLATE.format(term=term_sql, p=p, d=p // 100, div="div")
    )


def _money_sum2_sql(term_sql: str, scale: int) -> str:
    p = 10**scale
    return _MONEY_TEMPLATE.format(term=term_sql, p=p, d=p // 100, div="//")


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary on lineitem (single wide agg,
    fully map-side-combinable)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    # at sf10 the raw double sums cross cent boundaries at ~3e11
    # magnitude; _money_sum2 sums exactly in unscaled BIGINT
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money_sum2("l_quantity", 2).alias("sum_qty"),
            _money_sum2("l_extendedprice", 2).alias("sum_base_price"),
            _money_sum2("l_extendedprice * (1 - l_discount)", 4).alias(
                "sum_disc_price"
            ),
            _money_sum2(
                "l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6
            ).alias("sum_charge"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            r6(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority top-10: two joins + group-by +
    deterministic top-k (revenue DESC, orderkey ASC)."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(cust, orders.o_custkey == cust.c_custkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(_r2(F.sum(revenue)).alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def tpch_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style revenue per nation: 3-way join with broadcast
    dims, one co-shuffle on orderkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    # per-term decimal cast + DECIMAL-domain round: at sf1 this group's
    # double sum is order-dependent across the last rounded cent (the
    # playbook pairing; rounding the exact decimal sum is engine-exact,
    # rounding a double near a .xx5 boundary is not)
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,15)"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(revenue), 2).cast("double").alias("revenue")
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast revenue: pure scan+filter+single-row agg
    — the pushdown showcase (all three predicates reach the scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue"))
    return out


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-order top-k — semi-join the fact against
    an aggregated HAVING subquery of itself, then join dims and rank.
    Exercises agg->semi-join->join->top-k in one plan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
    )
    joined = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
            _r2(F.col("o_totalprice")).alias("o_totalprice"),
            _r2(F.col("sum_qty")).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — broadcast dim join +
    conditional aggregate ratio in a single pass."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-08-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            r6(F.lit(100.0) * F.sum(promo) / F.sum(rev)).alias("promo_pct"),
            _r2(F.sum(rev)).alias("total_revenue"),
        )
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 proper: local-supplier revenue per nation within one
    region-year — the suite's hardest join topology (5-way: two
    SF-scaling equi-joins on DIFFERENT keys plus the c_nationkey =
    s_nationkey locality predicate riding the supplier join; the
    Q5-style q_tpch_join_agg lacks the region and supplier legs).

    Scale shape: region⋈nation collapses to a FIXED 5-row broadcast
    frame, and because c_nationkey = s_nationkey ∧ s_nationkey ∈
    region implies c_nationkey ∈ region, the region predicate is
    pushed onto BOTH scaling dimensions before any fact join —
    supplier and customer each shed ~4/5 of their rows in a broadcast
    join at the scan, instead of carrying them through the orderkey
    shuffle. customer/supplier carry no hints (they scale with SF;
    AQE broadcasts while small, shuffles at 100 TB)."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    asian = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asian), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asian.select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey", "c_nationkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    # sf1 gate: decimal per-term sum + DECIMAL-domain round (the
    # q_tpch_join_agg pairing — this row's double sum crossed a cent)
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,15)"
    )
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(revenue), 2).cast("double").alias("revenue")
    )


def tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: minimum-cost supplier per part — the correlated
    scalar subquery (`WHERE cost = (SELECT min(cost) ... WHERE
    partkey = outer.partkey)`) decorrelated the way Catalyst does it:
    aggregate the subquery once, equi-join back on (partkey, min).
    Stand-in cost relation: each supplier's cheapest sale price per
    part from lineitem (the testdata has no partsupp table). Promoted
    to an oracle-checked contract tail row in round 8 (was
    library-only, DuckDB-checked in tests/test_tpch_shapes.py).

    Scale shape (round-15 rewrite): the per-part min and the
    join-back were a second consumer of the lazy cost aggregate, so
    lineitem was scanned and aggregated twice; a WINDOW min per
    partkey over the aggregated cost table computes the identical
    per-part minimum from one scan and one aggregate — the window
    input is the (part, supp)-grained table, already reduced, and the
    equality filter keeps exactly the rows the equi-join kept. At
    100 TB bucketing lineitem by partkey removes the remaining
    exchange pair."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    best = (
        cost.withColumn(
            "min_cost",
            F.min("cost").over(Window.partitionBy("l_partkey")),
        )
        .where(F.col("cost") == F.col("min_cost"))
        .select(F.col("l_partkey").alias("p_key"), "l_suppkey", "cost")
    )
    return (
        # no hint: supplier scales with SF (like customer); AQE decides
        best.join(supplier, best.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("p_key").alias("partkey"),
            F.col("s_name").alias("supplier"),
            _r2(F.col("cost")).alias("cost"),
        )
    )


def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers whose lineitems were the ONLY late
    ones on a multi-supplier order — EXISTS (another supplier on the
    order) AND NOT EXISTS (another LATE supplier on the order), i.e. a
    left-semi then a left-anti against the same fact, both plain hash
    joins. Late = shipped after the order date + 60 days. Promoted to
    an oracle-checked contract tail row in round 8.

    Scale shape (round-15 rewrite): the EXISTS/NOT-EXISTS pair is a
    pure per-order census — a late pair survives iff its order has
    >= 2 distinct suppliers AND exactly 1 distinct late supplier (in
    which case that supplier IS the survivor). Deriving both
    predicates from ONE per-orderkey aggregate over the distinct-pair
    reduction removes the semi/anti self-joins entirely: the previous
    shape re-derived the lineitem⋈orders subtree once per self-join
    branch (pruning made the exchanges non-canonical so ReuseExchange
    could not merge them — 3 fact joins / 12 scans in the before
    plan); now the fact is scanned and joined exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    flagged = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        # timestamp + INTERVAL (not date_add, which truncates to DATE):
        # keeps any time-of-day on o_orderdate, matching the oracle's
        # `+ INTERVAL 60 DAY` exactly instead of only on midnight data
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # distinct-pair reduction (map-side partial agg eats the fact
    # fan-in), then ONE per-orderkey census replaces both self-joins:
    # EXISTS(other supplier)      <=> n_supp >= 2
    # NOT EXISTS(other late supp) <=> n_late == 1   (the pair itself
    # is late, so "no other late" means it is the only one — and then
    # max(late suppkey) IS the surviving supplier). Both exchanges
    # move the distinct-pair frame, orders of magnitude below fact
    # cardinality; the fact join happens exactly once.
    per_pair = flagged.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("late"), F.lit(1))).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    sole_late = per_order.where(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    ).select(F.col("late_supp").alias("l_suppkey"))
    return sole_late.groupBy("l_suppkey").agg(F.count("*").alias("numwait"))


ORACLE = {
    "q_tpch_q1": f"""
SELECT l_returnflag, l_linestatus,
       {_money_sum2_sql("l_quantity", 2)} AS sum_qty,
       {_money_sum2_sql("l_extendedprice", 2)} AS sum_base_price,
       {_money_sum2_sql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc_price,
       {_money_sum2_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    "q_tpch_q3": """
SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms, revenue
FROM (
  SELECT l.l_orderkey, o.o_orderdate,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
  GROUP BY l.l_orderkey, o.o_orderdate
  ORDER BY revenue DESC, l_orderkey ASC
  LIMIT 10
) t
""",
    "q_tpch_join_agg": """
SELECT n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(25,15))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
""",
    "q_tpch_q6": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
}

ORACLE["q_tpch_q18"] = """
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       epoch_ms(o.o_orderdate) AS o_orderdate_ms,
       round(o.o_totalprice, 2) AS o_totalprice,
       round(t.sum_qty, 2) AS sum_qty
FROM orders o
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) t ON o.o_orderkey = t.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
"""

ORACLE["q_tpch_q14"] = """
SELECT round(100.0 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS promo_pct,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l.l_shipdate < TIMESTAMP '1997-08-01 00:00:00'
"""

ORACLE["q_tpch_q5"] = """
SELECT n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(25,15))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""

QUERIES = {
    "q_tpch_q1": tpch_q1,
    "q_tpch_q3": tpch_q3,
    "q_tpch_join_agg": tpch_join_agg,
    "q_tpch_q6": tpch_q6,
    "q_tpch_q18": tpch_q18,
    "q_tpch_q14": tpch_q14,
}

def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority census over a quarter, counting
    only orders where EXISTS a qualifying lineitem (the testdata has
    no commit/receipt dates, so 'late delivery' becomes 'high-value
    item' — the PLAN shape is identical: correlated EXISTS
    decorrelated to a left-semi join feeding a small aggregate).
    Promoted to an oracle-checked contract tail row in round 8
    (was library-only, DuckDB-checked in tests/test_tpch_shapes.py)."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice") > 1500.0
    )
    hit = orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_semi"
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive OR-of-ANDs predicate across the
    lineitem⋈part join — three (brand, size-range, quantity-range)
    clauses OR-ed together. Catalyst extracts the common conjuncts
    (the join key) and pushes per-table residuals (p_brand IN (...),
    l_quantity bounds) to the scans; the OR itself evaluates post-join
    in one pass. Broadcast on part (fixed-size dim)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 40))
            & (F.col("l_quantity").between(20, 50))
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(clause).agg(
        _r2(F.sum(rev)).alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE["q_tpch_q4"] = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_extendedprice > 1500.0)
GROUP BY o.o_orderpriority
"""

ORACLE["q_tpch_q19"] = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 40
       AND l.l_quantity BETWEEN 20 AND 50)
"""

def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue between two nations in both
    directions, grouped by (supplier nation, customer nation, ship
    year). The interesting plan problem: the qualifying predicate is a
    DISJUNCTION ACROSS DIMENSIONS — (n1=A AND n2=B) OR (n1=B AND n2=A)
    — which Catalyst cannot push into either nation leg by itself. The
    implied SUPERSET conjunct (n1 IN (A,B) AND n2 IN (A,B)) is pushed
    manually onto both broadcast legs, so supplier/customer (and via
    the joins, the lineitem probe side) shrink ~25x at the scans
    BEFORE the fact join; the OR itself evaluates post-join as a cheap
    residual on already-tiny rows. At 100 TB that manual superset is
    the difference between joining the full fact table and joining a
    2-nation slice."""
    n_a, n_b = "NATION_1", "NATION_2"
    nations = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(n_a, n_b)
    )
    n1 = nations.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nations.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key")
    )
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(
            ((F.col("supp_nation") == n_a) & (F.col("cust_nation") == n_b))
            | ((F.col("supp_nation") == n_b) & (F.col("cust_nation") == n_a))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(_r2(F.sum(vol)).alias("revenue"))
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by lost
    revenue from returned lineitems over one quarter — a 4-way join
    (returnflag pushed to the lineitem scan, quarter filter to orders,
    broadcast nation) into a grouped aggregate capped by
    TakeOrderedAndProject (no global sort materializes)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_r2(F.sum(rev)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): average yearly revenue
    lost if small orders of one brand's parts weren't filled. The
    correlated scalar subquery (0.2 * per-part avg quantity) runs as a
    WINDOW average per partkey over the part-filtered join (round 15):
    the broadcast brand filter keeps every lineitem row of a
    qualifying part, so the window sees exactly the rows the
    decorrelated per-partkey aggregate saw — but lineitem is scanned
    ONCE instead of twice, and the shuffle carries only the ~1/|brands|
    filtered slice instead of the all-parts aggregate. The threshold
    compare is engine-exact: quantities are integer-valued doubles, so
    sum/count/0.2* are bit-identical in any order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("qty_lim", F.lit(0.2) * F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < F.col("qty_lim"))
        .agg(_r2(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): of all ECONOMY-type parts
    sold to AMERICA-region customers over two years, what fraction of
    the volume did NATION_1 suppliers ship, per year? The suite's
    WIDEST join tree — lineitem⋈part⋈supplier⋈orders⋈customer plus
    three dimension legs — collapsed so that every leg but
    orders⋈customer is a broadcast at a scan:

    - part is filtered to one type BEFORE the join (the fact probe
      shrinks ~6x at the lineitem scan);
    - the region constraint lives on the CUSTOMER side only, so it
      broadcasts onto customer as a left-semi (no nation columns
      carried through the fact joins);
    - the supplier nation name is needed only for the numerator CASE,
      so it rides the supplier broadcast as a single string column.

    The share is a conditional-sum ratio per year — partial-aggregable,
    one exchange on o_year."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    nation = load_table(spark, sf_dir, "nation")
    in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(in_region),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("c_custkey")
    )
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
    )
    # exact DECIMAL accumulation (the tpch_q9 pattern): each per-row
    # volume term is one double multiply (bit-identical across
    # engines), but the SUM of doubles is accumulation-order-sensitive
    # and a last-ulp difference at the 6dp rounding boundary would
    # flake the oracle hash; decimal(18,6) terms make both sums
    # engine-exact, then the ratio divides as double
    vol_dec = vol.cast("decimal(18,6)")
    target = F.when(
        F.col("supp_nation") == "NATION_1", vol_dec
    ).otherwise(F.lit(0).cast("decimal(18,6)"))
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            r6(
                F.sum(target).cast("double") / F.sum(vol_dec).cast("double")
            ).alias("mkt_share")
        )
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit per supplier nation and
    order year over all parts whose name matches a pattern. The
    testdata has no partsupp, so supply cost is the stand-in
    0.5 * p_retailprice (a per-part constant, exactly what
    ps_supplycost is) — the PLAN shape is identical: a non-anchored
    LIKE that canNOT become a scan-range predicate (it stays a
    post-scan filter on the part dim), a five-table join, and a
    two-key aggregate.

    Scale shape: the LIKE-filtered part dim broadcasts (~13% of a
    fixed-size dim); supplier's nation name broadcasts onto the fact
    rows; orders joins on the orderkey co-shuffle. One exchange for
    the (nation, year) aggregate."""
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # per-row profit is a deterministic double (same IEEE op order in
    # any engine); the SUM is order-sensitive at the cent boundary, so
    # accumulate in exact decimal — Spark and DuckDB both sum decimals
    # exactly, making the rounded total engine-independent
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    joined = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_retailprice")),
            li.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(_r2(F.sum(profit)).cast("double").alias("sum_profit"))
    )


def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode priority census): for each shipping
    class, how many late line items carried urgent vs non-urgent
    orders? The testdata has no l_shipmode or commit/receipt dates, so
    the class is l_returnflag (restricted to two values, as Q12's
    IN-list does) and 'late' is shipped >90 days after the order date
    — the PLAN shape is identical: per-table residuals (flag IN-list +
    ship-year range) pushed to the lineitem scan, a fact⋈fact join
    whose date-arithmetic predicate can only evaluate post-join, and a
    two-way conditional census per class.

    Scale shape: both residuals reach the parquet scan (the join
    carries ~1/3 of lineitem); orders⋈lineitem co-shuffles on
    orderkey; the census is partial-aggregable with a 2-row result."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "A")
        & (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).where(
        # timestamp + INTERVAL, not date_add: see tpch_q21_shape
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose inventory value
    held by one nation's suppliers exceeds a fixed fraction of that
    nation's TOTAL inventory value — the global-scalar HAVING
    (`HAVING value > (SELECT sum(...) * fraction ...)`). The testdata
    has no partsupp, so inventory value is the stand-in
    sum(l_extendedprice * l_quantity) over the nation's lineitems.

    The threshold compare is made engine-exact by (a) accumulating in
    decimal (exact in both engines, any order) and (b) comparing
    `value * 1000 > total` — integer-scaled decimal on both sides, no
    float division anywhere.

    Scale shape (round-15 fix): the nation's supplier set broadcasts
    as a left-semi onto the lineitem scan; per-part values take one
    partkey exchange. The grand total is a distributed single-row
    aggregate over the per-part frame — which STAGES through
    per-sf_dir scratch parquet first, because the executed plan
    disproved this docstring's old reuse claim (0 ReusedExchange:
    column pruning makes the total's subtree non-canonical, so the
    lazy shape scanned lineitem and re-ran the supplier semi-join
    TWICE). The staged table is bounded by |parts| and 2 columns;
    a global-window total was rejected because it funnels the whole
    per-part frame through one task at corpus scale, while the
    aggregate keeps the map-side partial reduction."""
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(supp.select("s_suppkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_semi",
    )
    val = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)")
        ).alias("value")
    )
    val = stage(val, sf_dir, "tpch", "q11_val")
    total = val.agg(F.sum("value").alias("grand_total"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("value") * 1000 > F.col("grand_total"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("value"), 2).cast("double").alias("value"),
        )
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose quarterly
    revenue equals the maximum quarterly revenue — the scalar-max
    subquery over a derived view, decorrelated as agg -> single-row
    max -> broadcast equality join back onto the same aggregate.

    The equality compares the ROUNDED per-supplier revenue (both
    engines round the same double sum to cents before the max and the
    compare), so the tie-set is engine-independent.

    Scale shape (round-15 fix): one suppkey exchange builds the
    revenue view, which STAGES through per-sf_dir scratch parquet —
    the executed plan showed the max's lazy subtree re-deriving the
    aggregate from a SECOND lineitem scan (0 ReusedExchange; the old
    "scanned once" claim held only for the staged shape). The max is
    then a distributed reduce of the bounded staged frame and a
    one-row broadcast filters it — the fact table is scanned once."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_revenue"
        )
    )
    rev = stage(rev, sf_dir, "tpch", "q15_rev")
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == F.col("max_revenue"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (part/supplier relationship census): how many
    DISTINCT suppliers can deliver each qualifying (brand, type, size)
    bucket, excluding a denylisted supplier set — the NOT IN
    anti-join feeding a count-distinct aggregate. Stand-ins: the
    part-supplier relation is the distinct (l_partkey, l_suppkey)
    pairs observed in lineitem (no partsupp table), and the denylist
    is suppliers whose name contains '7' (no comment column).

    Scale shape (round-15 rewrite): the old (l_partkey, l_suppkey)
    DISTINCT pre-pass shuffled the FULL fact's pair set before any
    filter — pure waste, because count_distinct(l_suppkey) is
    set-valued per bucket and dedups regardless of pair multiplicity.
    Now the broadcast part join (the ~10%-selective predicate) and the
    broadcast denylist anti-join run scan-side FIRST, and the only
    exchanges are count_distinct's own two-stage dedup ladder over the
    filtered rows: 3 exchanges -> 2, and the first one carries the
    filtered, map-side-deduped (bucket, suppkey) set instead of every
    fact pair."""
    li = load_table(spark, sf_dir, "lineitem")
    excl = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_name").like("%7%"))
        .select("s_suppkey")
    )
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
    )
    kept = (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(excl), F.col("l_suppkey") == excl.s_suppkey, "left_anti")
    )
    return (
        kept.groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one
    nation who shipped MORE than half of a qualifying part's total
    1996 volume — the nested IN-subquery chain (supplier IN (... part
    IN (...))) decorrelated to: per-(part,supp) volume ⋈ per-part
    total (same-key co-shuffle), the >half filter, then a left-semi
    into supplier gated by a broadcast nation. The half-volume
    compare is exact: quantities are integer-valued doubles, so both
    sums and 0.5* are bit-identical in any accumulation order.

    Scale shape: the part-name filter broadcasts onto the lineitem
    scan as a left-semi; the per-part total is a WINDOW sum over the
    per-(part,supp) aggregate (round 15 — sums of disjoint
    per-supplier sums ARE the part total, so the second corpus scan
    and aggregate the lazy `shipped` re-derivation paid is gone); the
    final supplier probe is a broadcast semi of the (tiny) qualifying
    suppkey set."""
    parts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
    )
    per_ps = shipped.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    qual = (
        per_ps.withColumn(
            "part_total",
            F.sum("qty").over(Window.partitionBy("l_partkey")),
        )
        .where(F.col("qty") > 0.5 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .join(F.broadcast(qual), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


def tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): count and total
    balance of well-funded customers in selected country codes who
    placed no order since 1999 — the anti-join against the fact plus
    the positive-balance scalar-avg subquery. (Q22 proper anti-joins
    ALL orders; this corpus gives every customer at least one order
    ever, which would make the result — and the oracle check —
    vacuously empty, so the anti side is date-scoped: same plan, a
    pushed scan predicate, nonempty result.) Stand-in country code:
    c_nationkey % 10 (the phone-prefix substring doesn't exist) — a
    computed expression, like the original, so it cannot push to the
    scan as a column predicate.

    The avg compare is made engine-exact without dividing:
    `acctbal * n_positive > sum_positive` in integer-scaled decimal.

    Scale shape: the two scalars come from one aggregate over the
    code-filtered customers and broadcast back; the no-orders check
    is a left-anti against the orders scan projected to o_custkey
    (at 100 TB: the one shuffle pair in the query, on custkey)."""
    code = (F.col("c_nationkey") % 10).alias("cntrycode")
    cust = (
        load_table(spark, sf_dir, "customer")
        .withColumn("cntrycode", code)
        .where(F.col("cntrycode").isin(1, 3, 5, 7))
        .withColumn("bal", F.col("c_acctbal").cast("decimal(18,2)"))
    )
    pos = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.count("*").alias("n_pos"), F.sum("bal").alias("sum_pos")
    )
    rich = cust.join(F.broadcast(pos)).where(
        F.col("bal") * F.col("n_pos") > F.col("sum_pos")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    silent = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        silent.groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("bal"), 2).cast("double").alias("totacctbal"),
        )
    )


ORACLE["q_tpch_q11"] = """
WITH natsupp AS (
  SELECT s_suppkey FROM supplier
  WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_3')
), val AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS value
  FROM lineitem
  WHERE l_suppkey IN (SELECT s_suppkey FROM natsupp)
  GROUP BY 1
)
SELECT l_partkey AS partkey, CAST(round(value, 2) AS DOUBLE) AS value
FROM val
WHERE value * 1000 > (SELECT sum(value) FROM val)
"""

ORACLE["q_tpch_q15"] = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
"""

ORACLE["q_tpch_q16"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand != 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                           WHERE s_name LIKE '%7%')
GROUP BY 1, 2, 3
"""

ORACLE["q_tpch_q20"] = """
WITH shipped AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
), per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM shipped GROUP BY 1, 2
), per_p AS (
  SELECT l_partkey, sum(l_quantity) AS part_total
  FROM shipped GROUP BY 1
)
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_2')
  AND s.s_suppkey IN (
    SELECT a.l_suppkey FROM per_ps a
    JOIN per_p b ON a.l_partkey = b.l_partkey
    WHERE a.qty > 0.5 * b.part_total)
"""

ORACLE["q_tpch_q22"] = """
WITH cust AS (
  SELECT c_custkey, c_nationkey % 10 AS cntrycode,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal, c_acctbal
  FROM customer
  WHERE c_nationkey % 10 IN (1, 3, 5, 7)
), pos AS (
  SELECT count(*) AS n_pos, sum(bal) AS sum_pos FROM cust WHERE c_acctbal > 0.0
)
SELECT cntrycode, count(*) AS numcust,
       CAST(round(sum(bal), 2) AS DOUBLE) AS totacctbal
FROM cust, pos
WHERE bal * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = cust.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY 1
"""


ORACLE["q_tpch_q8"] = """
SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(CAST(sum(CASE WHEN n1.n_name = 'NATION_1'
                      THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                AS DECIMAL(18,6))
                      ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE), 6) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
JOIN region r ON n2.n_regionkey = r.r_regionkey
WHERE r.r_name = 'AMERICA'
  AND p.p_type = 'ECONOMY'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""

ORACLE["q_tpch_q9"] = """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           - 0.5 * p.p_retailprice * l.l_quantity
                           AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""

ORACLE["q_tpch_q12"] = """
SELECT l.l_returnflag AS ship_class,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag IN ('R', 'A')
  AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""


ORACLE["q_tpch_q7"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""

ORACLE["q_tpch_q10"] = """
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""

ORACLE["q_tpch_q17"] = """
WITH pa AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_lim
  FROM lineitem GROUP BY 1
)
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN pa ON l.l_partkey = pa.l_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < pa.qty_lim
"""


ORACLE["q_tpch_q2"] = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT c.l_partkey AS partkey, s.s_name AS supplier, round(c.cost, 2) AS cost
FROM cost c
JOIN supplier s ON c.l_suppkey = s.s_suppkey
WHERE c.cost = (SELECT min(c2.cost) FROM cost c2 WHERE c2.l_partkey = c.l_partkey)
"""

ORACLE["q_tpch_q21"] = """
WITH flagged AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), late AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM flagged WHERE late
), supps AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM flagged
)
SELECT a.l_suppkey, count(*) AS numwait
FROM late a
WHERE EXISTS (SELECT 1 FROM supps b
              WHERE b.l_orderkey = a.l_orderkey AND b.l_suppkey != a.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late c
                  WHERE c.l_orderkey = a.l_orderkey AND c.l_suppkey != a.l_suppkey)
GROUP BY a.l_suppkey
"""


# round-7/8 promotions (append after the frozen first-50 window): Q5
# in round 7; Q4 (EXISTS -> left-semi census), Q19 (disjunctive
# OR-of-ANDs residual pushdown), Q7 (cross-dimension disjunction with
# manual superset pushdown), Q10 (top-N over 4-way join), Q17
# (decorrelated scalar-avg subquery), Q2 (correlated scalar-min
# decorrelation), Q21 (EXISTS + NOT EXISTS self-join pair) in round 8
# — plan shapes no other contract row covers
QUERIES_TAIL = {
    "q_tpch_q5": tpch_q5,
    "q_tpch_q4": tpch_q4_shape,
    "q_tpch_q19": tpch_q19_shape,
    "q_tpch_q7": tpch_q7,
    "q_tpch_q10": tpch_q10,
    "q_tpch_q17": tpch_q17,
    "q_tpch_q2": tpch_q2_shape,
    "q_tpch_q21": tpch_q21_shape,
    "q_tpch_q8": tpch_q8,
    "q_tpch_q9": tpch_q9,
    "q_tpch_q12": tpch_q12_shape,
    "q_tpch_q11": tpch_q11_shape,
    "q_tpch_q15": tpch_q15,
    "q_tpch_q16": tpch_q16_shape,
    "q_tpch_q20": tpch_q20_shape,
    "q_tpch_q22": tpch_q22_shape,
}
