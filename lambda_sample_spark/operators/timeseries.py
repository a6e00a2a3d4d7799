"""Time-series finance/telemetry staples (SURVEY.md §2.8 adjuncts):
OHLC bars, time-weighted average (TWAP), and the cross-sensor
correlation matrix — the three canonical shapes for "what did this
signal do over time / how do signals move together" that a sensor
analytics engine (the reference domain) is expected to answer.

All three are pure relational algebra with DuckDB oracles; every
order-sensitive double accumulation goes through the exact-DECIMAL
per-term seam (the tpch_q9 pattern) so the cross-engine hash compare
can never flake on accumulation order.

100 TB notes: OHLC is a single grouped pass (arg-min/max by a bigint
ordering key — no window, no sort); TWAP is one lead() window + one
grouped sum, both on the series key; the correlation matrix reduces
the fact table to |keys| × |hours| means FIRST (one grouped pass),
so the pairwise join is over the bounded series table, never the raw
events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import events, r6, ts_ms, r6z, stage

HOUR_MS = 3_600_000

def _ord():
    """Deterministic within-group ordering key: ms timestamp scaled
    to make room for the unique event_id tiebreaker (ts_ms ~ 1.7e12,
    so ts_ms * 1e6 + event_id stays < 9.2e18 for event ids < 1e6 at
    any driver SF; bigint on both engines). A function, not a module
    constant — Column construction needs an active SparkContext."""
    return (F.unix_millis(F.col("ts")) * F.lit(1_000_000)) + F.col("event_id")


def ohlc_bars(ev: DataFrame) -> DataFrame:
    """Per (event_type, hour) OHLC bar: open/close are the first/last
    values by (ts, event_id), high/low the extremes, n the volume.
    One grouped pass — open/close via min_by/max_by on the scaled
    ordering key, no window, no per-group sort; raw double cells only
    (no sums), so there is no accumulation seam at all."""
    hour = (F.floor(ts_ms() / HOUR_MS) * HOUR_MS).cast("bigint")
    return (
        ev.select(
            "event_type",
            hour.alias("hour_ms"),
            "value",
            _ord().alias("ord"),
        )
        .groupBy("event_type", "hour_ms")
        .agg(
            F.expr("min_by(value, ord)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, ord)").alias("close"),
            F.count("*").cast("bigint").alias("n"),
        )
    )


def twap(ev: DataFrame) -> DataFrame:
    """Per-key time-weighted average: each observation holds its value
    until the next one, so TWAP = Σ value_i · Δt_i / (t_last −
    t_first) — the irregular-sampling-proof mean (a burst of readings
    in one second no longer dominates a quiet hour, which the plain
    mean gets wrong on event-driven feeds). The final observation of
    each key carries no interval and drops out, exactly as in the
    textbook definition.

    Σ value·Δt accumulates per-term in DECIMAL(28,10); Σ Δt telescopes
    to (max − min) ms exactly in BIGINT."""
    w = Window.partitionBy("event_type").orderBy(ts_ms(), "event_id")
    seg = ev.select(
        "event_type",
        "value",
        ts_ms().alias("t"),
        (F.lead(ts_ms()).over(w) - ts_ms()).alias("dt"),
    ).where(F.col("dt").isNotNull())
    return seg.groupBy("event_type").agg(
        F.sum((F.col("value") * F.col("dt")).cast("decimal(28,10)"))
        .cast("double")
        .alias("wsum"),
        F.sum("dt").alias("span"),
    ).select(
        "event_type",
        r6(F.col("wsum") / F.col("span").cast("double")).alias("twap"),
        F.col("span").cast("bigint").alias("span_ms"),
    )


def sensor_correlation(ev: DataFrame, materialize=None) -> DataFrame:
    """Pairwise Pearson correlation between event types over their
    hourly-mean series (types joined on shared hours, pairs kept once
    as a < b). The raw facts reduce to a |types| × |hours| series
    table first; the pair join runs over that bounded frame —
    ``materialize`` (round-15) cuts the series table's lineage before
    the self-join, because left lazy each join side re-derived the
    corpus-sized mean aggregate from its own raw scan (executed plan:
    events scanned twice, 0 ReusedExchange); the contract row passes
    the per-sf_dir scratch-parquet stager. The five
    moment sums (Σx, Σy, Σxy, Σx², Σy²) each accumulate per-term in
    DECIMAL(28,10) and the closed-form correlation is then a fixed
    double expression over exact inputs — both engines fold identical
    bits in identical order, so round(…, 6) compares exactly."""
    hour = (F.floor(ts_ms() / HOUR_MS) * HOUR_MS).cast("bigint")
    means = (
        ev.select("event_type", hour.alias("hour_ms"), "value")
        .groupBy("event_type", "hour_ms")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
                / F.count("value")
            ).alias("m")
        )
    )
    if materialize is not None:
        means = materialize(means, "hourly_means")
    a = means.select(
        F.col("event_type").alias("ta"),
        "hour_ms",
        F.col("m").alias("x"),
    )
    b = means.select(
        F.col("event_type").alias("tb"),
        "hour_ms",
        F.col("m").alias("y"),
    )
    dec = lambda c: c.cast("decimal(28,10)")  # noqa: E731
    moments = (
        a.join(b, "hour_ms")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(dec(F.col("x"))).cast("double").alias("sx"),
            F.sum(dec(F.col("y"))).cast("double").alias("sy"),
            F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
            F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
            F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return moments.select(
        "ta",
        "tb",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            # r6z: negative-zero pairing (common.py)
            r6z(cov / F.sqrt(vx) / F.sqrt(vy)),
        ).alias("corr"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): hourly OHLC bars per event type."""
    return ohlc_bars(events(spark, sf_dir))


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): per-type time-weighted average."""
    return twap(events(spark, sf_dir))


def q_sensor_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): pairwise hourly-mean correlations.
    Round-15: the |types|×|hours| series table stages through
    per-sf_dir scratch parquet so the raw scan + mean aggregate run
    once, not once per self-join side."""

    def mat(df: DataFrame, name: str) -> DataFrame:
        return stage(df.repartition(1), sf_dir, "corr", name)

    return sensor_correlation(events(spark, sf_dir), materialize=mat)


ORACLE = {
    "q_ohlc_bars": f"""
SELECT event_type,
       CAST(floor(epoch_ms(ts) / {HOUR_MS}) * {HOUR_MS} AS BIGINT)
         AS hour_ms,
       arg_min(value, epoch_ms(ts) * 1000000 + event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, epoch_ms(ts) * 1000000 + event_id) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
""",
    "q_twap": """
WITH seg AS (
  SELECT event_type, value,
         lead(epoch_ms(ts)) OVER (
           PARTITION BY event_type ORDER BY epoch_ms(ts), event_id
         ) - epoch_ms(ts) AS dt
  FROM events
)
SELECT event_type,
       round(CAST(sum(CAST(value * dt AS DECIMAL(28,10))) AS DOUBLE)
             / CAST(sum(dt) AS DOUBLE), 6) AS twap,
       CAST(sum(dt) AS BIGINT) AS span_ms
FROM seg WHERE dt IS NOT NULL
GROUP BY 1
""",
    "q_sensor_corr": f"""
WITH means AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / {HOUR_MS}) * {HOUR_MS} AS BIGINT)
           AS hour_ms,
         CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(value)
           AS m
  FROM events GROUP BY 1, 2
), moments AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(a.m AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(b.m AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         CAST(sum(CAST(a.m * b.m AS DECIMAL(28,10))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(a.m * a.m AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(b.m * b.m AS DECIMAL(28,10))) AS DOUBLE) AS syy
  FROM means a JOIN means b USING (hour_ms)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ta, tb, n,
       CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
             AND CAST(n AS DOUBLE) * syy - sy * sy > 0
            THEN round((CAST(n AS DOUBLE) * sxy - sx * sy)
                       / sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                       / sqrt(CAST(n AS DOUBLE) * syy - sy * sy), 6) + CAST(0.0 AS DOUBLE)
       END AS corr
FROM moments
""",
}

QUERIES: dict = {}

QUERIES_TAIL = {
    "q_ohlc_bars": q_ohlc_bars,
    "q_twap": q_twap,
    "q_sensor_corr": q_sensor_corr,
}
