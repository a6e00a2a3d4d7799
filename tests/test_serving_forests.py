"""Compiled serving forests: ``ml.forest.compile_forest`` turns a
one-feature MLlib forest into an exact step table, and ``GET /``
scores it with ``ml.forest.step_lookup`` in one projection over one
scan of the entry store."""

from __future__ import annotations

import datetime as dt
import json
import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from lambda_sample_spark.ml.forest import (
    compile_forest,
    predict_posterior,
    step_lookup,
    train_models,
)
from lambda_sample_spark.plans import audit
from lambda_sample_spark.sources.generator import SENSORS, gen_regimes
from lambda_sample_spark.streaming.http_endpoint import ServingEndpoint
from lambda_sample_spark.streaming.pipeline import ENTRY_SCHEMA
from lambda_sample_spark.streaming.serving import NO_MODEL_SENTINEL, serve_analysis


@pytest.fixture(scope="module")
def models(spark):
    """Two forests over a seeded sample of the reference producer's two
    regimes (``±rand(0, 100)``, and ``±(100 + rand(0, 50))`` at 3.4%):
    ``regimes`` learns the reference's label (a few breakpoints);
    ``stripes`` learns 15-wide alternating bands of value, which needs
    many more."""
    sample = gen_regimes(spark, n_per_sensor=3000, seed=7)
    regimes = sample.where(F.col("sensor") == SENSORS[0]).select(
        F.lit("regimes").alias("event_type"), "value", "anomaly"
    )
    stripes = sample.where(F.col("sensor") == SENSORS[1]).select(
        F.lit("stripes").alias("event_type"),
        "value",
        (F.pmod(F.floor(F.col("value") / 15), F.lit(2)) == 1).cast("int").alias("anomaly"),
    )
    fitted = train_models(regimes.unionByName(stripes))
    assert set(fitted) == {"regimes", "stripes"}
    return fitted


def test_compiled_forest_equals_mllib_posterior(spark, models):
    from pyspark.ml.linalg import Vectors

    rng = np.random.default_rng(11)
    for key, model in sorted(models.items()):
        thresholds, posteriors = compile_forest(model)
        assert thresholds == sorted(set(thresholds))
        assert len(posteriors) == len(thresholds) + 1
        points = [
            *rng.uniform(-200.0, 200.0, 5000).tolist(),
            *thresholds,
            *(math.nextafter(t, -math.inf) for t in thresholds),
            *(math.nextafter(t, math.inf) for t in thresholds),
            -0.0,
            math.inf,
            -math.inf,
        ]
        probes = spark.createDataFrame(list(enumerate(points)), "i INT, value DOUBLE")
        want = {r.i: r.p_anomaly for r in predict_posterior(model, probes).collect()}
        # VectorAssembler rejects NaN, so NaN's reference is MLlib's own
        # single-vector scorer (the same tree walk transform runs)
        nan_i = len(points)
        want[nan_i] = float(model.predictProbability(Vectors.dense([math.nan]))[1])
        probes = probes.unionByName(
            spark.createDataFrame([(nan_i, math.nan)], "i INT, value DOUBLE")
        )
        table = spark.createDataFrame(
            [(thresholds, posteriors)], "thresholds ARRAY<DOUBLE>, posteriors ARRAY<DOUBLE>"
        )
        got = {
            r.i: r.p
            for r in probes.crossJoin(F.broadcast(table))
            .select("i", step_lookup(F.col("value"), F.col("thresholds"), F.col("posteriors")).alias("p"))
            .collect()
        }
        assert len(got) == len(want) == len(points) + 1
        mismatches = [
            (points[i] if i < len(points) else math.nan, got[i], want[i])
            for i in want
            if got[i].hex() != want[i].hex()
        ]
        assert not mismatches, (key, len(thresholds), mismatches[:5])


def test_compile_forest_rejects_two_feature_model(spark):
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    train = spark.createDataFrame(
        [(float(i), float(i % 3), int(i > 5)) for i in range(12)],
        "value DOUBLE, other DOUBLE, anomaly INT",
    )
    assembled = VectorAssembler(inputCols=["value", "other"], outputCol="features").transform(train)
    model = RandomForestClassifier(labelCol="anomaly", numTrees=2, maxDepth=2, seed=1).fit(assembled)
    with pytest.raises(ValueError, match="one-feature"):
        compile_forest(model)


def _write_store(spark, path: str, rows: list[tuple]) -> None:
    spark.createDataFrame(rows, ENTRY_SCHEMA + ", batch_id LONG").write.parquet(path)


def _store_rows(newest_regimes_value):
    """Ten readings per sensor, one a minute; the newest ``regimes``
    reading carries ``newest_regimes_value``. ``unmodelled`` has no
    forest."""
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for s, sensor in enumerate(("regimes", "stripes", "unmodelled")):
        for i in range(10):
            value = float((i * 37 + s * 11) % 90 - 45)
            if sensor == "regimes" and i == 9:
                value = newest_regimes_value
            rows.append((sensor, t0 + dt.timedelta(minutes=i), value, 0, 0))
    return rows


def test_null_newest_reading_serves_sentinel(spark, models, tmp_path):
    store = str(tmp_path / "entries")
    rows = _store_rows(None)
    _write_store(spark, store, rows)
    ep = ServingEndpoint(spark, store, models, ttl_secs=0.0)
    try:
        served = {e["name"]: e for e in json.loads(ep.fresh_json())["entries"]}
    finally:
        ep.stop()
    assert set(served) == {"regimes", "stripes", "unmodelled"}
    for name in ("regimes", "unmodelled"):
        assert served[name]["full_anomaly"] == NO_MODEL_SENTINEL
        assert served[name]["avg_anomaly"] == served[name]["fast_anomaly"]
    # the sensor whose newest reading is not NULL keeps its model score
    stripes = served["stripes"]
    latest = max((r for r in rows if r[0] == "stripes"), key=lambda r: r[1])[2]
    thresholds, posteriors = compile_forest(models["stripes"])
    want = posteriors[sum(1 for t in thresholds if latest > t)]
    assert stripes["full_anomaly"] == round(want, 6)
    assert stripes["avg_anomaly"] == pytest.approx(
        (35.0 * stripes["fast_anomaly"] + 65.0 * want) / 100.0, abs=2e-6
    )


def test_serve_analysis_scans_store_once(spark, models, tmp_path):
    store = str(tmp_path / "entries")
    _write_store(spark, store, _store_rows(12.0))
    forests = {sensor: compile_forest(model) for sensor, model in models.items()}
    meta = serve_analysis(spark, store, forests)
    plan = audit.simple_plan(meta)
    assert audit.scan_count(plan) == 1, plan
    assert "Union" not in plan, plan
    rows = {r.name: r for r in meta.collect()}
    assert rows["unmodelled"].full_anomaly == NO_MODEL_SENTINEL
    assert 0.0 <= rows["regimes"].full_anomaly <= 1.0
