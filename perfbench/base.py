"""What every workload shares: the metric catalogue and the base class
the harness drives (stage, warm, run_round, check, metrics)."""

from __future__ import annotations

import statistics

# Every per-layer metric a traced run prints, with its unit. A workload
# fills the ones its operations exercise; a layer it bypasses reads 0.
LAYER_METRICS = {
    "session.get_spark_s": "s",
    "ml.forest.train_s": "s",
    "io.load_table_s": "s",
    "io.load_table_calls": "count",
    "contract.build_s": "s",
    "contract.build_jobs": "count",
    "spark.analysis_s": "s",
    "spark.optimization_s": "s",
    "spark.planning_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "incremental_dedup.ingest_batch_s": "s",
    "incremental_substring.scrub_batch_s": "s",
    "graph.cc_ingest_s": "s",
    "warehouse.merge_versioned_s": "s",
    "warehouse.write_versioned_s": "s",
    "pq.append_index_s": "s",
    "classifier.nb_update_s": "s",
    "state.bytes_per_doc": "B",
    "state.files": "count",
    "mqtt.inbound_trigger_s": "s",
    "stateful.bottomk_trigger_s": "s",
    "stateful.state_rows": "count",
    "serving.serve_json_s": "s",
    "http_endpoint.get_overhead_ms": "ms",
    "pipeline.log_files": "count",
    "pipeline.log_rows": "count",
    "trace.overhead_pct": "%",
}
# Layers whose self time a traced run reports (span name up to its last
# dot); ``bench`` is the harness's own share of an operation.
SELF_LAYERS = [
    "bench", "contract", "io", "spark", "nightly", "incremental_dedup",
    "incremental_substring", "substring", "graph", "warehouse", "pq",
    "classifier", "mqtt", "stateful", "serving", "http_endpoint", "ml.forest",
]
for _layer in SELF_LAYERS:
    LAYER_METRICS[f"self.{_layer}_s"] = "s"


def tail(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, with the sample count."""
    n = len(values)
    s = sorted(values)
    out = f"p50={statistics.median(s):.4f} (n={n})"
    for q in (0.99, 0.9, 0.75):
        if n * (1 - q) >= 10:
            out += f" p{int(q * 100)}={s[int(q * n)]:.4f}"
            break
    return out


class Workload:
    name = ""
    # None keeps session.get_spark's default number of shuffle partitions
    shuffle_partitions: int | None = None

    def __init__(self, run):
        self.run = run

    # --- hooks the harness calls -----------------------------------------
    def stage(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def run_round(self, traced: bool, tracer) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def wrap_setup(self, tracer) -> None:
        """Wrap what the warm pass calls (traced runs only)."""

    def wrap(self, tracer) -> None:
        """Wrap what a traced round calls."""

    def close(self) -> None:
        """Release what the workload holds open (servers, queries)."""

    def report(self) -> list[str]:
        return []

    # --- metrics -----------------------------------------------------------
    def untraced_ops(self) -> list[dict]:
        return [o for o in self.run.ops if not o["traced"] and o["ok"]]

    def traced_ops(self) -> list[dict]:
        return [o for o in self.run.ops if o["traced"] and o["ok"]]

    def end_to_end(self, setup_s: float) -> dict:
        ops = self.untraced_ops()
        work = sum(o["items"] for o in ops)
        wall = sum(o["wall"] for o in ops)
        return {
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (work / wall, "1/s"),
            "latency_s": (self.latency(ops), "s"),
        }

    def latency(self, ops: list[dict]) -> float:
        """The median operation latency."""
        return statistics.median(o["latency"] for o in ops)

    def layer_values(self, tracer, ops: list[dict]) -> dict[str, float]:
        """Per-operation means of this workload's own layer metrics."""
        return {}

    def layer_metrics(self, tracer) -> dict:
        ops = self.traced_ops()
        out = {k: (0.0, u) for k, u in LAYER_METRICS.items()}
        out["session.get_spark_s"] = (tracer.total("session.get_spark"), "s")
        out["ml.forest.train_s"] = (tracer.total("ml.forest.train_models"), "s")
        for k, v in self.layer_values(tracer, ops).items():
            out[k] = (v, LAYER_METRICS[k])
        own = tracer.self_times(in_ops=True)
        for layer in SELF_LAYERS:
            out[f"self.{layer}_s"] = (own.get(layer, 0.0) / max(1, len(ops)), "s")
        return out

    @staticmethod
    def per_op(tracer, name: str, ops: list[dict]) -> float:
        return tracer.total(name) / max(1, len(ops))

    @staticmethod
    def mean(ops: list[dict], key: str) -> float:
        return statistics.mean(o[key] for o in ops) if ops else 0.0
