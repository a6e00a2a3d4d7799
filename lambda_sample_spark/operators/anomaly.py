"""The reference's flagship query: per-sensor fast anomaly analysis.

Reference semantics (file:line in /root/reference/):
  - per sensor, take the newest ``recent=200`` readings
    (CassandraClient.scala:23-25,38-43; application.conf:13);
  - mean + POPULATION std-dev over the window (Analyzer.scala:47-52);
  - score the newest value: ``(|v - avg| - sd) / (2*sd)`` clamped to
    [0,1] (Analyzer.scala:54-58);
  - the per-sensor loop (Analyzer.scala:105-109) is ``groupBy`` here.

Spark plan shape: scan -> window row_number (one shuffle by key) ->
partial+final aggregate -> scalar expression. At 100 TB the window
shuffle is the only wide stage; with the store partitioned by key and
sorted by ts (as the reference's Cassandra layout guarantees) the
row_number degenerates to a per-partition streaming pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scoring import clamp01, heuristic_score
from .common import RECENT_N, events, r6, ts_ms

def recent_window():
    return Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )


def recent_per_key(df: DataFrame, n: int = RECENT_N) -> DataFrame:
    """W1: newest-n-rows-per-key (the clustering-order + LIMIT idiom,
    schema.sql:9-10 + CassandraClient.scala:41)."""
    return df.withColumn("rn", F.row_number().over(recent_window())).where(F.col("rn") <= n)


def fast_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: the full fast-analysis pipeline (Analyzer.scala:47-59,138-151)."""
    recent = recent_per_key(events(spark, sf_dir))
    agg = recent.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.avg("value").alias("avg_raw"),
        F.stddev_pop("value").alias("sd_raw"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("latest_value"),
    )
    score = heuristic_score(
        F.col("latest_value"), F.col("avg_raw"), F.col("sd_raw")
    )
    return agg.select(
        "event_type",
        "n",
        r6(F.col("avg_raw")).alias("avg_value"),
        r6(F.col("sd_raw")).alias("sd_value"),
        F.col("latest_value"),
        r6(score).alias("fast_anomaly"),
    )


def clamp_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: clamp-to-[0,1] as a standalone scalar operator."""
    df = events(spark, sf_dir)
    return df.select(
        "event_id",
        r6(clamp01((F.col("value") - F.lit(100.0)) / F.lit(300.0))).alias("clamped"),
    )


def robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sensor robust-statistics outlier census: median + MAD
    (median absolute deviation) per event_type, and the count of
    events whose |value - median| exceeds 3σ under the normal-
    consistency scaling (1.4826 · MAD) — the breakdown-resistant twin
    of the mean/stddev sweep in ``fast_anomaly`` (a single wild value
    shifts a mean; it cannot shift a median). Cf. reference
    Analyzer.scala:79-96, which scores against mean ± 3·stddev.

    Shape: two grouped exact-percentile passes over the fact table
    (median, then MAD on the deviations) + one filtered count; the
    per-type stats frames are |types| rows, so both join legs
    broadcast and the fact table never shuffles on anything but its
    group key. Exact ``percentile`` is the oracle-parity choice at
    test SF; at 100 TB swap to ``percentile_approx`` exactly as the
    quantile rows document.

    The lazy broadcast legs re-run every earlier percentile pass (5
    events scans in the executed plan vs the sequentially-dependent
    minimum of 3), but at sf0.1 those scans run as cheap parallel
    stages of one job: collecting the stats frames between passes
    measured slower (interleaved A/B: 0.94 lazy vs 1.86 s eager).
    Outlier resistance and oracle parity are pinned in
    tests/test_robust_inverted.py."""
    ev = events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(ad, 0.5D)").alias("mad")
    )
    flagged = (
        ev.join(F.broadcast(mad), "event_type")
        .where(
            F.abs(F.col("value") - F.col("med")) > 4.4478 * F.col("mad")
        )
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_outliers"))
    )
    return (
        mad.join(flagged, "event_type", "left")
        .select(
            "event_type",
            r6(F.col("med")).alias("median"),
            r6(F.col("mad")).alias("mad"),
            F.coalesce(F.col("n_outliers"), F.lit(0).cast("bigint")).alias(
                "n_outliers"
            ),
        )
    )


ORACLE = {
    "q_fast_anomaly": """
WITH recent AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
), agg AS (
  SELECT event_type,
         count(*) AS n,
         avg(value) AS avg_raw,
         stddev_pop(value) AS sd_raw,
         max(CASE WHEN rn = 1 THEN value END) AS latest_value
  FROM recent WHERE rn <= 200
  GROUP BY event_type
)
SELECT event_type, n,
       round(avg_raw, 6) AS avg_value,
       round(sd_raw, 6) AS sd_value,
       latest_value,
       CASE WHEN sd_raw = 0 THEN NULL
            ELSE round(least(greatest((abs(latest_value - avg_raw) - sd_raw)
                                      / (2 * sd_raw), 0.0), 1.0), 6)
       END AS fast_anomaly
FROM agg
""",
    "q_clamp_score": """
SELECT event_id,
       round(least(greatest((value - 100.0) / 300.0, 0.0), 1.0), 6) AS clamped
FROM events
""",
}

def seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly census: learn a per-(sensor,
    hour-of-day) baseline (mean + population stddev) from the FIRST
    half of the corpus's time range, then count second-half events
    deviating more than 2σ from their slot's baseline — the
    diurnal-profile upgrade of the flagship flat mean±3σ sweep
    (reference Analyzer.scala:79-96): a sensor that legitimately runs
    hot at noon no longer alarms every noon.

    Determinism: the split point is (min+max)/2 of the epoch-ms range
    — a single-row aggregate joined in as a scalar (exact BIGINT
    halving in both engines); baseline mean and variance come from
    exact DECIMAL sums (Σx, Σx² per-term cast) so the 2σ comparison
    folds identical doubles on both sides.

    Shape: one scalar aggregate + two grouped passes over the fact
    table + a broadcast baseline join — |types| × 24 baseline rows,
    never a data-sized second shuffle. The executed plan holds 4
    lazily re-derived events scans against the sequentially-dependent
    minimum of 3, but collecting the split and the baseline between
    passes measured slower at sf0.1 (interleaved A/B: 0.88 lazy vs
    1.19 s eager)."""
    ev = events(spark, sf_dir).select(
        "event_type", "value", ts_ms().alias("t")
    )
    # floor() explicitly: a bare cast-to-BIGINT truncates in Spark but
    # ROUNDS in DuckDB — on an odd (min+max) the two engines would
    # split one ms apart (the hour-bucketing seam, same fix)
    split = ev.agg(
        F.floor((F.min("t") + F.max("t")) / F.lit(2))
        .cast("bigint")
        .alias("mid")
    )
    ev = ev.join(F.broadcast(split))
    mid = F.col("mid")
    hod = (F.floor(F.col("t") / 3_600_000) % 24).cast("bigint")
    train = ev.where(F.col("t") < mid)
    base = train.groupBy("event_type", hod.alias("hod")).agg(
        F.sum(F.col("value").cast("decimal(28,10)"))
        .cast("double")
        .alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,10)"))
        .cast("double")
        .alias("sxx"),
        F.count("value").cast("double").alias("n"),
    )
    base = base.select(
        "event_type",
        "hod",
        (F.col("sx") / F.col("n")).alias("mu"),
        F.sqrt(
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("sigma"),
    )
    test = ev.where(F.col("t") >= mid).select(
        "event_type", hod.alias("hod"), "value"
    )
    return (
        test.join(F.broadcast(base), ["event_type", "hod"])
        .groupBy("event_type", "hod", "mu", "sigma")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mu"))
                    > 2.0 * F.col("sigma"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_flagged"),
        )
        .select(
            "event_type",
            "hod",
            "n_test",
            "n_flagged",
            r6(F.col("mu")).alias("mu"),
            r6(F.col("sigma")).alias("sigma"),
        )
    )


ORACLE["q_seasonal_baseline"] = """
WITH ev AS (
  SELECT event_type, value, epoch_ms(ts) AS t FROM events
), split AS (
  SELECT CAST(floor((min(t) + max(t)) / 2) AS BIGINT) AS mid FROM ev
), base AS (
  SELECT event_type,
         CAST(floor(t / 3600000) AS BIGINT) % 24 AS hod,
         CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
         CAST(count(value) AS DOUBLE) AS n
  FROM ev, split WHERE t < mid
  GROUP BY 1, 2
), stats AS (
  SELECT event_type, hod, sx / n AS mu,
         sqrt(sxx / n - (sx / n) * (sx / n)) AS sigma
  FROM base
)
, test AS (
  SELECT e.event_type,
         CAST(floor(e.t / 3600000) AS BIGINT) % 24 AS hod,
         e.value
  FROM ev e, split WHERE e.t >= split.mid
)
SELECT t.event_type, t.hod,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN abs(t.value - s.mu) > 2.0 * s.sigma
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(s.mu, 6) AS mu,
       round(s.sigma, 6) AS sigma
FROM test t JOIN stats s USING (event_type, hod)
GROUP BY t.event_type, t.hod, s.mu, s.sigma
"""

ORACLE["q_robust_zscore"] = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY 1
), mad AS (
  SELECT e.event_type, m.med, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY 1, 2
), flagged AS (
  SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_outliers
  FROM events e JOIN mad USING (event_type)
  WHERE abs(e.value - mad.med) > 4.4478 * mad.mad
  GROUP BY 1
)
SELECT mad.event_type,
       round(mad.med, 6) AS median,
       round(mad.mad, 6) AS mad,
       coalesce(flagged.n_outliers, 0) AS n_outliers
FROM mad LEFT JOIN flagged USING (event_type)
"""

QUERIES = {
    "q_fast_anomaly": fast_anomaly,
    "q_clamp_score": clamp_score,
}

QUERIES_TAIL = {
    "q_robust_zscore": robust_zscore,
    "q_seasonal_baseline": seasonal_baseline,
}
