"""The serving layer: the reference's flagship ``GET /`` query
(SURVEY.md §3.1) as one DataFrame composition over the streaming entry
store — speed layer (heuristic over newest-200) ⋈ batch layer (per-
sensor RandomForest) → weighted ensemble → ``AllMeta`` JSON envelope.

Reference lifecycle being reproduced (/root/reference/):
  per-sensor fan-out          analyzer/Analyzer.scala:104-115
  heuristic score             Analyzer.scala:47-59
  model posterior             Analyzer.scala:72-83
  blend + absent-model path   Analyzer.scala:143-150 (fullAnomaly = -1
                              sentinel when no model)
  result envelope             Analyzer.scala:24-32; JSON via
                              lib/JsonSerializer.scala:13-15

Spark shape: one scan of the store and one window+agg over it. Each
sensor's forest arrives compiled into an exact step table
(``ml.forest.compile_forest``: sorted split thresholds + the posterior
of each region between them); a broadcast left join puts the table on
its sensor's aggregate row, and ONE projection computes both the
heuristic and the model score (``ml.forest.step_lookup``: count the
thresholds below the newest reading) — no MLlib in the plan. The blend
is pure column expressions too, so the whole "query" is a single plan;
serving under load is reading its cached result (T7 /stress
semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.scoring import heuristic_score, weighted_ensemble
from ..ml.forest import step_lookup
from .pipeline import lww_entries

NO_MODEL_SENTINEL = -1.0  # Analyzer.scala:148


def speed_layer_agg(entries: DataFrame, recent_n: int = 200) -> DataFrame:
    """Newest-N window stats per sensor: avg, population sd, latest."""
    w = Window.partitionBy("sensor").orderBy(F.col("ts").desc(), F.col("value"))
    recent = entries.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= recent_n
    )
    return recent.groupBy("sensor").agg(
        F.avg("value").alias("avg_value"),
        F.stddev_pop("value").alias("sd_value"),
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("latest_value"),
        F.max("ts").alias("ts"),
    )


def snapshot_from_agg(agg: DataFrame, *extra: Column) -> DataFrame:
    """The fast-analysis projection over a speed-layer aggregate:
    (sensor, ts, fast_anomaly, avg_anomaly, *extra). Shared by the
    serving query (which adds its model score as an extra column of the
    same projection) AND pipeline.refresh_snapshot — ONE definition of
    the heuristic select, so the snapshot table and the live query
    cannot drift."""
    return agg.select(
        "sensor",
        "ts",
        heuristic_score(
            F.col("latest_value"), F.col("avg_value"), F.col("sd_value")
        ).alias("fast_anomaly"),
        F.col("avg_value").alias("avg_anomaly"),
        *extra,
    )


def speed_snapshot(entries: DataFrame, recent_n: int = 200) -> DataFrame:
    """speed_layer_agg + snapshot_from_agg in one call (the refresh
    path's whole recompute)."""
    return snapshot_from_agg(speed_layer_agg(entries, recent_n))


def serve_analysis(
    spark: SparkSession,
    entry_dir: str,
    forests: dict | None = None,
    recent_n: int = 200,
) -> DataFrame:
    """The flagship composition: SensorMeta rows
    (name, ts, fast_anomaly, full_anomaly, avg_anomaly). ``forests``
    maps sensor -> ``ml.forest.compile_forest`` step table; a sensor
    without one, or whose newest reading is NULL, gets no model score
    (the ``-1`` sentinel)."""
    steps = spark.createDataFrame(
        [(s, t, p) for s, (t, p) in sorted((forests or {}).items())],
        "sensor STRING, thresholds ARRAY<DOUBLE>, posteriors ARRAY<DOUBLE>",
    )
    agg = speed_layer_agg(lww_entries(spark, entry_dir), recent_n)
    scored = snapshot_from_agg(
        agg.join(F.broadcast(steps), on="sensor", how="left"),
        step_lookup(
            F.col("latest_value"), F.col("thresholds"), F.col("posteriors")
        ).alias("full_anomaly"),
    )
    return scored.select(
        F.col("sensor").alias("name"),
        F.unix_millis("ts").alias("ts"),
        F.round("fast_anomaly", 6).alias("fast_anomaly"),
        F.round(
            F.coalesce(F.col("full_anomaly"), F.lit(NO_MODEL_SENTINEL)), 6
        ).alias("full_anomaly"),
        F.round(
            weighted_ensemble(F.col("fast_anomaly"), F.col("full_anomaly")), 6
        ).alias("avg_anomaly"),
    )


def serve_json(spark: SparkSession, entry_dir: str, forests: dict | None = None) -> str:
    """``GET /`` end to end: analysis → AllMeta JSON envelope."""
    from ..sources.json_codec import all_meta_json

    return all_meta_json(serve_analysis(spark, entry_dir, forests))
