"""``lambda_serving``: the reference's ingest -> speed layer -> ``GET /``
loop over a growing entry store.

Set-up stages an initial entry store of readings in the reference's
two regimes, trains the per-sensor forests on it while a warm tick's
triggers run, and starts a ``ServingEndpoint`` whose cache always
counts as expired (``ttl 0``). A tick lands one bridge file in the envelope
``MqttFileBridge`` writes, then runs:

1. an ``availableNow`` trigger of ``mqtt_stream`` that appends the tick
   to the entry store (the append log ``lww_entries`` reads);
2. an ``availableNow`` trigger of ``stateful_windowed_bottomk`` over the
   same files, whose event times close many (window, sensor) groups;
3. one ``GET /``, which recomputes over the whole store.

A tick's time, from its file landing to the ``GET /`` answer, is its
freshness. One round is ``TICKS_PER_ROUND`` ticks. Checks: every
``GET /`` equals a numpy recomputation from the generated readings, and
every emitted bottom-k window equals a DuckDB ``md5(event_id)`` bottom-k.
"""

from __future__ import annotations

import math
import os
import sys
import time
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from base import Workload, tail

STORE_READINGS = 20_000
PER_TICK = 2_000
TICK_SPAN_MS = 600_000  # ten minutes of event time per tick
TICKS_PER_ROUND = 1
WINDOW_MINUTES = 1
BOTTOM_K = 16
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
FEED_SCHEMA = "sensor STRING, value DOUBLE, anomaly INT, seq LONG"


class LambdaServing(Workload):
    name = "lambda_serving"
    # One shuffle partition per core. The stateful bottom-k keeps one
    # state store per shuffle partition, and at the session default of
    # 32 one availableNow trigger costs ~14 s on 4 cores against ~3 s
    # at 4, whatever the tick's size; a run at the default does not fit
    # the benchmark's run plan next to the other two workloads.
    shuffle_partitions = len(os.sched_getaffinity(0))

    def __init__(self, run):
        super().__init__(run)
        d = run.rundir
        self.entries = os.path.join(d, "entries")
        self.bridge = os.path.join(d, "bridge")
        self.bottomk_out = os.path.join(d, "bottomk")
        self.ckpt = os.path.join(d, "checkpoints")
        self.ticks: list[gen.Tick] = []
        self.landed = 0
        self.gets: list[tuple[int, str]] = []  # (ticks landed, body)
        self.endpoint = None
        self.models = {}
        self.store = None
        self.progress = None
        self.n_windows = 0
        self.warm_s: dict[str, float] = {}

    # --- set-up -------------------------------------------------------------
    def stage(self) -> None:
        """The initial store: STORE_READINGS readings over the hour
        before T0, written straight to the append log as batch -1."""
        import shutil

        rng = np.random.default_rng([self.run.seed, 5])
        n = STORE_READINGS
        ts = T0_MS - 3_600_000 + np.sort(rng.choice(3_600_000, n, replace=False))
        sensor = rng.integers(0, len(gen.SENSORS), n)
        value, anomaly = gen.readings(rng, n)
        self.store = (ts.astype(np.int64), sensor, value, np.full(n, -1, np.int64))
        shutil.rmtree(self.entries, ignore_errors=True)
        os.makedirs(self.entries)
        pq.write_table(pa.table({
            "sensor": np.array(gen.SENSORS)[sensor],
            "ts": pa.array(ts * 1000, type=pa.timestamp("us", tz="UTC")),
            "value": value,
            "anomaly": anomaly,
            "batch_id": np.full(n, -1, np.int64),
        }), os.path.join(self.entries, "part-initial.parquet"))
        # the warm tick, then enough rounds for a traced run (three) or
        # for one round per second measured (a tick takes longer)
        n = 1 + TICKS_PER_ROUND * (3 + math.ceil(self.run.seconds))
        self.ticks = gen.ticks(self.run.seed, n, PER_TICK, TICK_SPAN_MS, T0_MS)
        os.makedirs(self.bridge, exist_ok=True)

    def warm(self) -> None:
        """The per-sensor forests train on the initial store while the
        warm tick's two triggers run, as the reference's batch layer
        trains beside its speed layer; the warm tick's ``GET /`` waits
        for the forests."""
        from concurrent.futures import ThreadPoolExecutor

        from lambda_sample_spark.ml import forest
        from lambda_sample_spark.streaming.http_endpoint import ServingEndpoint
        from lambda_sample_spark.streaming.pipeline import ENTRY_SCHEMA

        spark = self.run.spark
        # lists the store's files now, before the warm tick appends
        train = spark.read.schema(ENTRY_SCHEMA + ", batch_id LONG").parquet(self.entries)
        with ThreadPoolExecutor(max_workers=1) as pool:
            t0 = time.perf_counter()
            models = pool.submit(forest.train_models, train, key_col="sensor")
            gen.write_bridge_file(self.bridge, "tick-00000", self.ticks[0])
            self.landed = 1
            self._mqtt_trigger()
            self._bottomk_trigger()
            self.warm_s["triggers"] = time.perf_counter() - t0
            self.models = models.result()
            self.warm_s["forests"] = time.perf_counter() - t0
        self.endpoint = ServingEndpoint(spark, self.entries, self.models, ttl_secs=0.0)
        self.gets.append((self.landed, self._get()))
        self.warm_s["tick"] = time.perf_counter() - t0

    def wrap_setup(self, tracer) -> None:
        from lambda_sample_spark.ml import forest

        tracer.wrap_everywhere(forest.train_models, "ml.forest.train_models")

    def wrap(self, tracer) -> None:
        from lambda_sample_spark.ml import forest
        from lambda_sample_spark.streaming import serving
        from sparkstats import ProgressLog

        tracer.wrap_everywhere(serving.serve_json, "serving.serve_json")
        tracer.wrap_everywhere(forest.predict_posterior, "ml.forest.predict_posterior")
        self.progress = ProgressLog()
        self.run.spark.streams.addListener(self.progress)
        tracer.on_unwrap(lambda: self.run.spark.streams.removeListener(self.progress))

    # --- the loop -------------------------------------------------------------
    def _mqtt_trigger(self) -> None:
        from pyspark.sql import functions as F

        from lambda_sample_spark.streaming.mqtt import mqtt_stream

        entries = self.entries

        def append(batch_df, batch_id):
            batch_df.select("sensor", "ts", "value", "anomaly").withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(entries)

        q = (
            mqtt_stream(self.run.spark, self.bridge).writeStream.foreachBatch(append)
            .queryName("perfbench_mqtt")
            .option("checkpointLocation", os.path.join(self.ckpt, "mqtt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"mqtt trigger failed: {q.exception()}")

    def _bottomk_trigger(self) -> None:
        from pyspark.sql import functions as F

        from lambda_sample_spark.streaming.stateful import stateful_windowed_bottomk

        env = self.run.spark.readStream.schema("ts_ms LONG, raw STRING").json(self.bridge)
        feed = env.select(
            F.from_json("raw", FEED_SCHEMA).alias("r"),
            F.timestamp_millis("ts_ms").alias("ts"),
        ).select(
            "ts", F.col("r.sensor").alias("event_type"),
            F.col("r.seq").alias("event_id"), F.col("r.value").alias("value"),
        )
        q = (
            stateful_windowed_bottomk(
                feed, k=BOTTOM_K, window_minutes=WINDOW_MINUTES,
                watermark_delay=f"{TICK_SPAN_MS // 60_000} minutes",
            ).writeStream.format("parquet")
            .queryName("perfbench_bottomk")
            .option("path", self.bottomk_out)
            .option("checkpointLocation", os.path.join(self.ckpt, "bottomk"))
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"bottom-k trigger failed: {q.exception()}")

    def _get(self) -> str:
        url = f"http://{self.endpoint.host}:{self.endpoint.port}/"
        with urllib.request.urlopen(url, timeout=170) as r:
            if r.status != 200:
                raise RuntimeError(f"GET / returned {r.status}")
            return r.read().decode("utf-8")

    def tick(self, traced: bool, tracer) -> None:
        """One measured tick; a tick that fails is counted."""
        from sparkstats import drain_listener_bus

        k = self.landed
        if k >= len(self.ticks):
            raise RuntimeError(f"only {len(self.ticks)} ticks staged")
        t_land = time.perf_counter()
        gen.write_bridge_file(self.bridge, f"tick-{k:05d}", self.ticks[k])
        self.landed += 1
        try:
            with tracer.op("bench.tick"):
                with tracer.span("mqtt.inbound_trigger"):
                    self._mqtt_trigger()
                with tracer.span("stateful.bottomk_trigger"):
                    self._bottomk_trigger()
                t_get = time.perf_counter()
                with tracer.span("http_endpoint.get"):
                    body = self._get()
            t_done = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            print(f"perfbench: tick {k} failed: {exc!r}", file=sys.stderr)
            self.run.record("tick", time.perf_counter() - t_land, False, traced)
            return
        self.gets.append((self.landed, body))
        extra = {}
        if traced:
            drain_listener_bus(self.run.spark)
            ev = self.progress.events.get("perfbench_bottomk", [])
            extra["state_rows"] = ev[-1]["state_rows"] if ev else 0
        self.run.record("tick", t_done - t_land, True, traced,
                        items=len(self.ticks[k].ts_ms), latency=t_done - t_land,
                        get_s=t_done - t_get, **extra)

    def run_round(self, traced: bool, tracer) -> None:
        for _ in range(TICKS_PER_ROUND):
            self.tick(traced, tracer)

    def close(self) -> None:
        if self.endpoint is not None:
            self.endpoint.stop()
        if self.run.spark is not None:
            for q in self.run.spark.streams.active:
                q.stop()

    # --- checks and metrics -----------------------------------------------
    def _readings(self, n_ticks: int):
        ts, sensor, value, batch = self.store
        parts = [(ts, sensor, value, batch)]
        for j, t in enumerate(self.ticks[:n_ticks]):
            parts.append((t.ts_ms, t.sensor, t.value, np.full(len(t.ts_ms), j, np.int64)))
        return [np.concatenate([p[i] for p in parts]) for i in range(4)]

    def check(self) -> list[str]:
        import pandas as pd

        from checks import check_bottomk, check_get, expected_meta

        problems = []
        for n_ticks, body in self.gets:
            want = expected_meta(*self._readings(n_ticks), gen.SENSORS)
            newest = int(self.ticks[n_ticks - 1].ts_ms.max())
            if max(w["ts"] for w in want.values()) != newest:
                problems.append(f"tick {n_ticks - 1}: recomputation misses its newest reading")
            problems += [f"GET / after tick {n_ticks - 1}: {p}" for p in check_get(body, want)]
        emitted = self.run.spark.read.parquet(self.bottomk_out).select(
            "window_start_ms", "event_type", "event_id").toPandas()
        landed = self.ticks[: self.landed]
        feed = pd.DataFrame({
            "ts_ms": np.concatenate([t.ts_ms for t in landed]),
            "sensor": np.array(gen.SENSORS)[np.concatenate([t.sensor for t in landed])],
            "event_id": np.concatenate([t.seq for t in landed]),
        })
        problems += check_bottomk(emitted, feed, BOTTOM_K, WINDOW_MINUTES * 60_000)
        self.n_windows = len(emitted.groupby(["window_start_ms", "event_type"]))
        return problems

    def log_footprint(self) -> tuple[int, int]:
        files = rows = 0
        for f in os.listdir(self.entries):
            if f.endswith(".parquet"):
                files += 1
                rows += pq.ParquetFile(os.path.join(self.entries, f)).metadata.num_rows
        return files, rows

    def layer_values(self, tracer, ops: list[dict]) -> dict[str, float]:
        get_total = tracer.total("http_endpoint.get")
        serve_total = tracer.total("serving.serve_json")
        files, rows = self.log_footprint()
        return {
            "mqtt.inbound_trigger_s": self.per_op(tracer, "mqtt.inbound_trigger", ops),
            "stateful.bottomk_trigger_s": self.per_op(tracer, "stateful.bottomk_trigger", ops),
            "stateful.state_rows": self.mean(ops, "state_rows"),
            "serving.serve_json_s": serve_total / max(1, len(ops)),
            "http_endpoint.get_overhead_ms": 1e3 * (get_total - serve_total) / max(1, len(ops)),
            "pipeline.log_files": files,
            "pipeline.log_rows": rows,
        }

    def report(self) -> list[str]:
        ops = self.untraced_ops()
        files, rows = self.log_footprint()
        lines = [
            f"inputs: store of {STORE_READINGS} readings, {PER_TICK} readings per tick "
            f"({int(PER_TICK * 0.05)} re-sends), {TICKS_PER_ROUND} ticks per round",
            "warm: " + " ".join(f"{k}={v:.3f}s" for k, v in self.warm_s.items()),
            f"ticks landed: {self.landed}; store at end: {files} files, {rows} rows; "
            f"bottom-k windows emitted: {self.n_windows}",
        ]
        lines.append("tick walls: " + " ".join(f"{o['wall']:.3f}" for o in self.run.ops))
        if ops:
            lines.append(f"freshness_s {tail([o['latency'] for o in ops])}")
            lines.append(f"get_ms {tail([1e3 * o['get_s'] for o in ops])}")
            lines.append(
                f"readings_per_s {sum(o['items'] for o in ops) / sum(o['wall'] for o in ops):.2f}"
            )
        return lines
