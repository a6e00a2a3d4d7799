"""Grouped aggregates (SURVEY.md §2.3, A1-A12).

Reference citations (/root/reference/):
  A1-A4 count/sum/mean/stddev_pop  analyzer/Analyzer.scala:48-52
  A6  latest value per group       Analyzer.scala:139-140 (+ schema.sql:10)
  A7  min/max extents              resources/dashboard/js/main.js:44-53
  A8  quantiles (q1/median/q3)     resources/dashboard/js/box.js:293-299
  A9  IQR whiskers + outliers      main.js:182-193; box.js:26-34
  A10 share-of-total               analyzer/Endpoint.scala:105-109
  A12 union-all across per-key scans  lib/CassandraClient.scala:16-21

Scale notes: all single-shuffle hash aggregates with map-side partial
aggregation. share_of_total is two-level: aggregate first (tiny frame),
then the single-partition total window runs over #groups rows, not the
raw data. iqr_outliers broadcasts the per-group bounds back onto the
fact scan — no second shuffle of the big side. Exact percentile is kept
at test SF for oracle parity; at 100 TB swap to percentile_approx
(documented in bench notes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import (
    EVENT_TYPES,
    events,
    exact_sum6,
    exact_sum6_sql,
    r6,
    ts_ms,
)


def group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4 in one hash aggregate: count / sum / mean / POPULATION
    std-dev. The reference divides by n, not n-1 (Analyzer.scala:51-52),
    so ``stddev_pop``, never ``stddev``. One shuffle, map-side partial
    aggregation for all four measures."""
    return (
        events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("cnt"),
            # exact integer-domain sum: Spark's parallel double sum
            # drifted 2e-6 over a 2M-row group at the sf10 gate
            exact_sum6("value").alias("sum_value"),
            r6(F.avg("value")).alias("avg_value"),
            r6(F.stddev_pop("value")).alias("sd_pop"),
        )
    )


def latest_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 + A7 in one hash aggregate: newest value per key
    (``values.head`` over a ts-DESC store — tie-broken on event_id via
    a struct max, so no row_number window is needed) plus the min/max
    extents the dashboard's y-domain uses. Single shuffle; at 100 TB
    this beats the window formulation because there is no per-partition
    sort — just a streaming max of a (ts, event_id, value) struct."""
    latest = F.max(F.struct(F.col("ts"), F.col("event_id"), F.col("value")))
    return (
        events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            latest.alias("l"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.unix_millis(F.min("ts")).alias("min_ts_ms"),
            F.unix_millis(F.max("ts")).alias("max_ts_ms"),
        )
        .select(
            "event_type",
            F.col("l.value").alias("latest_value"),
            F.unix_millis(F.col("l.ts")).alias("ts_ms"),
            "min_value",
            "max_value",
            "min_ts_ms",
            "max_ts_ms",
        )
    )


def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: recentAll() — concat of per-key newest-50 scans. The
    reference loops its configured sensor list; the round-15 shape
    computes the SAME per-type newest-50 rows (deterministic total
    order: ts desc, event_id desc) as one ranked window — Spark's
    WindowGroupLimit pushes the rank<=50 limit map-side, so one scan
    and a 50·|types|-row shuffle replace one sorted scan per type
    (measured 5 events scans → 1 in the executed plan)."""
    df = events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    out = (
        df.where(F.col("event_type").isin(list(EVENT_TYPES)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 50)
        .drop("_rn")
    )
    return out.select("event_type", "event_id", ts_ms().alias("ts_ms"), "value")


def quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: exact q1/median/q3 with linear interpolation (d3.quantile ≡
    SQL percentile_cont ≡ Spark ``percentile``)."""
    return (
        events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.expr("percentile(value, array(0.25D, 0.5D, 0.75D))").alias("q"))
        .select(
            "event_type",
            r6(F.col("q")[0]).alias("q1"),
            r6(F.col("q")[1]).alias("median"),
            r6(F.col("q")[2]).alias("q3"),
        )
    )


def iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: points outside [q1 - 1.5*IQR, q3 + 1.5*IQR] per group.

    The measure is the per-user event count (a right-skewed series, like
    the dashboard's response times); bounds computed per event_type.

    The per-user count table stays lazy although the bounds aggregate
    and the outlier filter both consume it (events is scanned twice):
    the sf1 A/B measured a scratch-staged copy 1.17x SLOWER at sf1
    (1.09->1.27 s; also slower at sf0.1) — the re-derived scan+shuffle
    run as cheap parallel stages while the write is a barrier. A
    per-type window for the bounds stays rejected: it would funnel
    every user of a type through one task.
    """
    per_user = (
        events(spark, sf_dir)
        .groupBy("event_type", "user_id")
        .agg(F.count("*").alias("cnt"))
    )
    bounds = (
        per_user.groupBy("event_type")
        .agg(F.expr("percentile(cnt, array(0.25D, 0.75D))").alias("q"))
        .select(
            "event_type",
            (F.col("q")[0] - 1.5 * (F.col("q")[1] - F.col("q")[0])).alias("lo"),
            (F.col("q")[1] + 1.5 * (F.col("q")[1] - F.col("q")[0])).alias("hi"),
        )
    )
    return (
        per_user.join(F.broadcast(bounds), "event_type")
        .where((F.col("cnt") < F.col("lo")) | (F.col("cnt") > F.col("hi")))
        .select("event_type", "user_id", "cnt")
    )


def share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-group count / grand total. Round-15: the total is a
    window sum over the aggregated counts — the old crossJoin-of-a-
    scalar-aggregate shape claimed to share the single raw-data pass,
    but the executed plan showed the total's lazy subtree re-deriving
    the aggregate from a SECOND events scan (0 ReusedExchange). The
    window's single-partition stage sees only the |event_types|-row
    count frame, so the WindowExec single-partition warning it trades
    for is bounded by construction."""
    from pyspark.sql.window import Window

    counts = events(spark, sf_dir).groupBy("event_type").agg(F.count("*").alias("cnt"))
    total = F.sum("cnt").over(Window.partitionBy())
    return counts.select(
        "event_type",
        "cnt",
        r6(F.col("cnt") / total).alias("share"),
    )


def _union_all_sql() -> str:
    scans = "\nUNION ALL\n".join(
        f"SELECT * FROM (SELECT event_type, event_id, ts, value FROM events "
        f"WHERE event_type = '{t}' ORDER BY ts DESC, event_id DESC LIMIT 50) u{i}"
        for i, t in enumerate(EVENT_TYPES)
    )
    return (
        "SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value FROM (\n"
        + scans
        + "\n) t"
    )


ORACLE = {
    "q_group_stats": f"""
SELECT event_type,
       count(*) AS cnt,
       {exact_sum6_sql("value")} AS sum_value,
       round(avg(value), 6) AS avg_value,
       round(stddev_pop(value), 6) AS sd_pop
FROM events GROUP BY event_type
""",
    "q_latest_extents": """
WITH newest AS (
  SELECT event_type, value AS latest_value, epoch_ms(ts) AS ts_ms
  FROM (
    SELECT event_type, value, ts,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) t WHERE rn = 1
), extents AS (
  SELECT event_type,
         min(value) AS min_value,
         max(value) AS max_value,
         epoch_ms(min(ts)) AS min_ts_ms,
         epoch_ms(max(ts)) AS max_ts_ms
  FROM events GROUP BY event_type
)
SELECT n.event_type, n.latest_value, n.ts_ms,
       e.min_value, e.max_value, e.min_ts_ms, e.max_ts_ms
FROM newest n JOIN extents e ON n.event_type = e.event_type
""",
    "q_union_all": _union_all_sql(),
    "q_quantiles": """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS q1,
       round(quantile_cont(value, 0.5), 6) AS median,
       round(quantile_cont(value, 0.75), 6) AS q3
FROM events GROUP BY event_type
""",
    "q_iqr_outliers": """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY event_type, user_id
), bounds AS (
  SELECT event_type,
         quantile_cont(cnt, 0.25) - 1.5 * (quantile_cont(cnt, 0.75) - quantile_cont(cnt, 0.25)) AS lo,
         quantile_cont(cnt, 0.75) + 1.5 * (quantile_cont(cnt, 0.75) - quantile_cont(cnt, 0.25)) AS hi
  FROM per_user GROUP BY event_type
)
SELECT p.event_type, p.user_id, p.cnt
FROM per_user p JOIN bounds b ON p.event_type = b.event_type
WHERE p.cnt < b.lo OR p.cnt > b.hi
""",
    "q_share_of_total": """
WITH counts AS (
  SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
)
SELECT event_type, cnt, round(cnt / (sum(cnt) OVER ()), 6) AS share
FROM counts
""",
}

QUERIES = {
    "q_group_stats": group_stats,
    "q_latest_extents": latest_extents,
    "q_union_all": union_all,
    "q_quantiles": quantiles,
    "q_iqr_outliers": iqr_outliers,
    "q_share_of_total": share_of_total,
}
