"""``queries``: read-only analyst rows over generated sf0.1 tables.

One round is one pass over ``ROWS`` in a seeded order. Each operation
builds a contract row (``contract.queries()[name](spark, sf_dir)``) and
collects it to the driver. The warm pass runs every row once over the
same tables: it compiles every row's code paths and lets the JIT settle
on full-size scans. Checks: every collected result equals
DuckDB running the row's ``oracle_sql()`` over the same parquet files,
cell for cell.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

import numpy as np

import gen
from base import Workload, tail
from checks import compare_rows, duckdb_views

# Rows from every bench family, none of which runs iterative
# materialization inside its build. q_hll_rollup is left out: its
# oracle's DuckDB approx_count_distinct misses the row's 4% bound on
# some seeds, so the cell check would fail by seed.
ROWS = [
    "q_fast_anomaly",                                             # core
    "q_tumbling_window", "q_lookup_join_left",                    # temporal/join
    "q_tpch_q1", "q_tpch_q9",                                     # TPC-H
    "q_text_stats",                                               # text
    "q_similarity_topk",                                          # similarity
    "q_cms_heavy_hitters",                                        # sketch
]
SF = 0.1


class Queries(Workload):
    name = "queries"

    def __init__(self, run):
        super().__init__(run)
        from lambda_sample_spark import contract

        self.builders = contract.queries()
        self.oracle = contract.oracle_sql()
        missing = [r for r in ROWS if r not in self.builders or r not in self.oracle]
        if missing:
            raise KeyError(f"contract rows without builder or oracle: {missing}")
        self.data = os.path.join(run.rundir, "sf0.1")
        self.results: list[tuple[str, object]] = []
        self.table_rows: dict[str, int] = {}
        self.warm_s: dict[str, float] = {}

    def stage(self) -> None:
        self.table_rows = gen.write_tables(self.data, self.run.seed, SF)

    def warm(self) -> None:
        """One pass over the measured tables. A pass over sf0.01 tables
        costs as much (rows are bound by per-job overhead, not data) and
        leaves the first full-size pass ~35% slower while the JIT
        settles on the larger scans."""
        for name in ROWS:
            t0 = time.perf_counter()
            self.builders[name](self.run.spark, self.data).toPandas()
            self.warm_s[name] = time.perf_counter() - t0

    def wrap(self, tracer) -> None:
        from lambda_sample_spark import io

        tracer.wrap_everywhere(io.load_table, "io.load_table")

    def run_round(self, traced: bool, tracer) -> None:
        from sparkstats import job_counts, phase_seconds

        spark, sc = self.run.spark, self.run.spark.sparkContext
        order = np.random.default_rng([self.run.seed, self.run.round_no]).permutation(ROWS)
        for name in map(str, order):
            tag = f"q{len(self.run.ops)}"
            t0 = time.perf_counter()
            try:
                with tracer.op("bench.query"):
                    if traced:
                        sc.setJobGroup(tag + "b", name)
                    with tracer.span("contract.build"):
                        df = self.builders[name](spark, self.data)
                    if traced:
                        sc.setJobGroup(tag + "e", name)
                    with tracer.span("spark.exec"):
                        pdf = df.toPandas()
                wall = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - counted, not raised
                print(f"perfbench: {name} failed: {exc!r}", file=sys.stderr)
                self.run.record(name, time.perf_counter() - t0, False, traced)
                continue
            extra = {}
            if traced:
                sc.setJobGroup("perfbench", "between operations")
                bj, bs, bt = job_counts(sc, tag + "b")
                ej, es, et = job_counts(sc, tag + "e")
                extra = {"build_jobs": bj, "jobs": bj + ej, "stages": bs + es,
                         "tasks": bt + et, **phase_seconds(df)}
            self.results.append((name, pdf))
            self.run.record(name, wall, True, traced, items=1, latency=wall, **extra)

    def check(self) -> list[str]:
        con = duckdb_views(self.data)
        want = {}
        problems = []
        for name, got in self.results:
            if name not in want:
                want[name] = con.execute(self.oracle[name]).fetchdf()
            problems += compare_rows(name, got, want[name])
        return problems

    def row_walls(self, ops: list[dict]) -> list[float]:
        """Each row's median wall over the run's passes."""
        by_row: dict[str, list[float]] = {}
        for o in ops:
            by_row.setdefault(o["kind"], []).append(o["wall"])
        return [statistics.median(w) for w in by_row.values()]

    def end_to_end(self, setup_s: float) -> dict:
        walls = self.row_walls(self.untraced_ops())
        return {
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (len(walls) / sum(walls), "1/s"),
            "latency_s": (statistics.geometric_mean(walls), "s"),
        }

    def layer_values(self, tracer, ops: list[dict]) -> dict[str, float]:
        return {
            "io.load_table_s": self.per_op(tracer, "io.load_table", ops),
            "io.load_table_calls": tracer.count("io.load_table") / max(1, len(ops)),
            "contract.build_s": self.per_op(tracer, "contract.build", ops),
            "contract.build_jobs": self.mean(ops, "build_jobs"),
            "spark.analysis_s": self.mean(ops, "analysis"),
            "spark.optimization_s": self.mean(ops, "optimization"),
            "spark.planning_s": self.mean(ops, "planning"),
            "spark.exec_s": self.per_op(tracer, "spark.exec", ops),
            "spark.jobs": self.mean(ops, "jobs"),
            "spark.stages": self.mean(ops, "stages"),
            "spark.tasks": self.mean(ops, "tasks"),
        }

    def report(self) -> list[str]:
        ops = self.untraced_ops()
        lines = [
            f"inputs: generated sf{SF} tables {self.table_rows}",
            "warm pass: " + " ".join(f"{k}={v:.3f}" for k, v in self.warm_s.items()),
            "pass: " + " ".join(f"{o['kind']}={o['wall']:.3f}" for o in ops),
        ]
        if ops:
            lines.append(f"query_s {tail([o['wall'] for o in ops])}")
            lines.append(f"queries_per_s {len(ops) / sum(o['wall'] for o in ops):.4f}")
        return lines
