"""Full lambda-architecture loop (SURVEY.md §3): streaming ingest ->
keyed entry store -> speed-layer snapshot + batch-layer models ->
ensemble serving -> AllMeta JSON. One test = the reference's whole
runtime, re-expressed."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from lambda_sample_spark.ml.forest import compile_forest, train_models
from lambda_sample_spark.sources.generator import SENSORS
from lambda_sample_spark.streaming.pipeline import lww_entries, start_ingest
from lambda_sample_spark.streaming.serving import (
    NO_MODEL_SENTINEL,
    serve_analysis,
    serve_json,
)


def test_full_lambda_cycle(spark, tmp_path):
    entry_dir = str(tmp_path / "entry")
    ckpt = str(tmp_path / "ckpt")

    # 1. speed-layer ingest (S1/T1/T4/S5): rate stream -> append log
    q = start_ingest(spark, entry_dir, ckpt, rows_per_second=200, trigger_ms=200)
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            time.sleep(1)
            try:
                if lww_entries(spark, entry_dir).count() >= 400:
                    break
            except Exception:
                continue
    finally:
        q.stop()

    entries = lww_entries(spark, entry_dir)
    assert entries.count() >= 400

    # 2. batch layer (M1): one forest per sensor on the full store;
    # generator labels let the fit see both classes eventually — skip
    # sensors that happened to stay single-class (Trainer.scala:47-49)
    labeled = entries.withColumnRenamed("sensor", "event_type")
    models = train_models(labeled)
    forests = {sensor: compile_forest(model) for sensor, model in models.items()}

    # 3. serving (§3.1): speed ⋈ batch -> SensorMeta rows
    meta = serve_analysis(spark, entry_dir, forests)
    rows = {r.name: r for r in meta.collect()}
    assert set(rows) == set(SENSORS)
    for r in rows.values():
        assert r.fast_anomaly is None or 0.0 <= r.fast_anomaly <= 1.0
        assert r.full_anomaly == NO_MODEL_SENTINEL or 0.0 <= r.full_anomaly <= 1.0
        # ensemble: fallback == fast when no model, else a blend in [0,1]
        if r.full_anomaly == NO_MODEL_SENTINEL:
            assert r.avg_anomaly == r.fast_anomaly
        else:
            assert 0.0 <= r.avg_anomaly <= 1.0

    # 4. the GET / response: AllMeta envelope, Jackson field order
    js = serve_json(spark, entry_dir, forests)
    payload = json.loads(js)
    assert set(payload) == {"entries"}
    assert len(payload["entries"]) == len(SENSORS)
    first = js.index('"name"')
    assert js.index('"fast_anomaly"') > first
    assert js.index('"avg_anomaly"') > js.index('"full_anomaly"')
