"""Market-basket co-occurrence analysis (SURVEY.md §2.8 adjunct):
pairwise item co-occurrence with support and lift — association-rule
mining's counting core (the A-priori first pass), and the relational
cousin of the X34 PMI table (PMI reasons over row counts; lift over
basket membership).

Scale notes: the corpus reduces to one row per basket (a single
grouped collect_set whose width is bounded by the item vocabulary —
here brands, |V| = 25), pairs then expand IN-TASK via posexplode +
slice (sorted array → upper-triangle pairs), so there is NO self-join
and the per-basket fanout is bounded by |basket| choose 2 — never
corpus x corpus. Item marginals and the basket total ride the SAME
exploded stream as the pairs (NULL / sentinel markers in the b slot),
so one grouped census feeds all three legs and the corpus is scanned
exactly once — the pair leg then broadcast-joins the bounded
(<= |V| rows) marginal slice. Round 15 replaced an EAGER driver-side
marginal collect (a second full corpus pass at plan-build time, ~60%
of the row's wall) with this single lazy plan; Spark's ReuseExchange
dedupes the census shuffle across the three consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import r6, stage
from ..io import load_table


def cooccurrence_lift(
    items: DataFrame, basket_col: str, item_col: str, materialize=None
) -> DataFrame:
    """Pairwise co-occurrence over (basket, item) rows: for every
    unordered item pair {a < b} the number of baskets containing
    both, the pair's support n_ab / n_baskets, and its lift
    n_ab·N / (n_a·n_b) (lift > 1 = the items co-occur more often
    than independence predicts). Returns
    (item_a, item_b, n_ab, support, lift).

    ``materialize``, if given, is ``fn(df, name) -> df`` applied to
    the combined census: it has THREE consumers (pairs, marginals,
    total) and the group-key filters that split them push below the
    aggregate, so without a cut the lazy plan re-runs the corpus scan
    per consumer (measured: 8 parquet scans in the executed plan —
    ReuseExchange cannot merge the non-canonical legs). The census is
    bounded by the item vocabulary (≤ |V|² + |V| + 1 rows), so the
    cut is pennies."""
    baskets = items.groupBy(F.col(basket_col).alias("bk")).agg(
        F.array_sort(F.collect_set(F.col(item_col))).alias("arr")
    )
    # pin the expansion stage's parallelism: basket rows are BYTES-
    # small, so AQE coalesces the post-aggregate stage to a few tasks
    # and the CPU-bound higher-order pair expansion serializes (the
    # winnow_near_dup hazard, text.py:398 — input-byte estimates are
    # blind to explode fan-out). Measured at 32x sf0.1: the pair
    # census leg dropped 109 s -> ~14 s.
    n_shuffle = int(
        items.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    baskets = baskets.repartition(n_shuffle, "bk")
    # upper-triangle pairs from the sorted array, expanded in-task:
    # posexplode each element, pair it with the array's tail past its
    # position (slice clamps at the end). A nested
    # transform/flatten/struct formulation computes the same pairs
    # but runs ~7x slower — higher-order lambdas are interpreted
    # per-element while posexplode+slice stays in codegen.
    #
    # The marginals and the basket total ride the SAME stream: every
    # position also emits (item_a, NULL) — one marginal occurrence —
    # and position 0 additionally emits (item_a, sentinel) — one
    # basket. A single grouped census then feeds the pair, marginal
    # and total legs; the census exchange is shared (ReuseExchange)
    # so the corpus-sized part of the plan runs once. NULL and the
    # NUL-prefixed sentinel cannot collide with real items (collect_set
    # never emits NULL).
    sentinel = "\x00__baskets__"
    b_stream = F.concat(
        F.slice("arr", F.col("i") + F.lit(2), F.size("arr")),
        F.array(F.lit(None).cast("string")),
        F.when(F.col("i") == 0, F.array(F.lit(sentinel))).otherwise(
            F.array().cast("array<string>")
        ),
    )
    census = (
        baskets.select(F.posexplode("arr").alias("i", "item_a"), "arr")
        .select("item_a", F.explode(b_stream).alias("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("n"))
    )
    if materialize is not None:
        census = materialize(census, "census")
    pair = census.where(
        F.col("item_b").isNotNull() & (F.col("item_b") != F.lit(sentinel))
    )
    marg = census.where(F.col("item_b").isNull()).select(
        "item_a", F.col("n").cast("double").alias("n_marg")
    )
    tot = census.where(F.col("item_b") == F.lit(sentinel)).agg(
        F.sum("n").cast("double").alias("n_tot")
    )
    n_ab = F.col("n").cast("double")
    return (
        pair.join(
            F.broadcast(marg.select("item_a", F.col("n_marg").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(
                marg.select(
                    F.col("item_a").alias("item_b"),
                    F.col("n_marg").alias("n_b"),
                )
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "item_a",
            "item_b",
            F.col("n").cast("bigint").alias("n_ab"),
            r6(n_ab / F.col("n_tot")).alias("support"),
            r6((n_ab * F.col("n_tot")) / (F.col("n_a") * F.col("n_b"))).alias(
                "lift"
            ),
        )
    )


def q_cooccur_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): brand co-occurrence over order
    baskets — lineitem⋈part derives (order, brand) membership, lift
    against brand marginals. The bounded census is staged through
    deterministic per-sf_dir scratch parquet (the q_ccnet_buckets
    idiom — overwrite every run, recomputed from the inputs) so the
    corpus is scanned once, not once per census consumer."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    items = li.join(part, li.l_partkey == part.p_partkey).select(
        "l_orderkey", "p_brand"
    )

    def mat(df: DataFrame, name: str) -> DataFrame:
        # the census is vocabulary-bounded (|V|=25 brands → ≤ ~700
        # rows): one output file, not one per shuffle partition.
        # repartition, not coalesce — coalesce(1) would propagate up
        # and serialize the census aggregate itself into one task
        return stage(df.repartition(1), sf_dir, "cooc", name)

    return cooccurrence_lift(items, "l_orderkey", "p_brand", materialize=mat)


_COOCCUR_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS bk, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), census AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
  FROM items a JOIN items b ON a.bk = b.bk AND a.item < b.item
  GROUP BY 1, 2
), marg AS (
  SELECT item, count(*) AS n FROM items GROUP BY 1
), tot AS (
  SELECT count(DISTINCT bk) AS n_tot FROM items
)
SELECT c.item_a, c.item_b, CAST(c.n_ab AS BIGINT) AS n_ab,
       round(CAST(c.n_ab AS DOUBLE) / CAST(n_tot AS DOUBLE), 6)
         AS support,
       round((CAST(c.n_ab AS DOUBLE) * CAST(n_tot AS DOUBLE))
             / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)), 6)
         AS lift
FROM census c
JOIN marg ma ON ma.item = c.item_a
JOIN marg mb ON mb.item = c.item_b
CROSS JOIN tot
"""

QUERIES: dict = {}

QUERIES_TAIL = {"q_cooccur_lift": q_cooccur_lift}

ORACLE = {"q_cooccur_lift": _COOCCUR_ORACLE}
