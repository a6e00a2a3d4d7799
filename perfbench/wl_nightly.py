"""``nightly``: seeded nights through ``examples/nightly_ingest`` against
one persisted state directory.

Set-up stages every night as parquet files (docs + embeddings), then
runs a small bootstrap night, which creates the state (first index
versions, the ANN index, the quality model) and warms the code paths.
One round is one further night on the steady-state path (index match,
``cc_ingest``, ``merge_versioned``, ``ivfpq_append_index``,
``nb_update``). Checks: every planted duplicate is absent from the
corpus, every planted unique doc survives, corpus doc_ids are unique and
were all ingested, and the ANN index holds exactly the corpus ids.
"""

from __future__ import annotations

import math
import os
import sys
import time

import gen
from base import Workload, tail

DOCS_PER_NIGHT = 200
BOOTSTRAP_DOCS = 30


class Nightly(Workload):
    name = "nightly"

    def __init__(self, run):
        super().__init__(run)
        import examples.nightly_ingest as ni

        self.ni = ni
        self.state = os.path.join(run.rundir, "state")
        self.night_dir = os.path.join(run.rundir, "nights")
        self.nights: list[gen.Night] = []
        self.done: list[gen.Night] = []

    def stage(self) -> None:
        # bootstrap + three traced-run nights + one per 5 s (a night
        # takes longer than that)
        self.nights = [
            gen.night(self.run.seed, k, DOCS_PER_NIGHT, BOOTSTRAP_DOCS if k == 0 else None)
            for k in range(4 + math.ceil(self.run.seconds / 5))
        ]
        for k, night in enumerate(self.nights):
            gen.write_night(os.path.join(self.night_dir, str(k)), night)

    def _ingest(self, k: int) -> dict:
        spark = self.run.spark
        d = os.path.join(self.night_dir, str(k))
        docs = spark.read.parquet(f"{d}/docs.parquet")
        emb = spark.read.parquet(f"{d}/emb.parquet")
        stats = self.ni.nightly_ingest(spark, self.state, docs, emb, night_id=f"n{k}")
        self.done.append(self.nights[k])
        return stats

    def warm(self) -> None:
        self._ingest(0)

    def wrap(self, tracer) -> None:
        from lambda_sample_spark.operators import (
            classifier, graph, incremental_dedup, incremental_substring, pq, substring,
        )
        from lambda_sample_spark.sources import warehouse

        for func, name in [
            (incremental_dedup.ingest_batch, "incremental_dedup.ingest_batch"),
            (incremental_substring.scrub_batch, "incremental_substring.scrub_batch"),
            (substring.remove_dup_spans, "substring.remove_dup_spans"),
            (graph.cc_ingest, "graph.cc_ingest"),
            (graph.connected_components, "graph.connected_components"),
            (warehouse.merge_versioned, "warehouse.merge_versioned"),
            (warehouse.write_versioned, "warehouse.write_versioned"),
            (warehouse.read_versioned, "warehouse.read_versioned"),
            (pq.ivfpq_append_index, "pq.ivfpq_append_index"),
            (pq.ivfpq_write_index, "pq.ivfpq_write_index"),
            (classifier.nb_update, "classifier.nb_update"),
            (classifier.nb_commit, "classifier.nb_commit"),
            (classifier.nb_census, "classifier.nb_census"),
        ]:
            tracer.wrap_everywhere(func, name)

    def run_round(self, traced: bool, tracer) -> None:
        from sparkstats import job_counts

        sc = self.run.spark.sparkContext
        k = len(self.done)
        if k >= len(self.nights):
            raise RuntimeError(f"only {len(self.nights) - 1} nights staged")
        n_docs = len(self.nights[k].doc_ids)
        tag = f"night{k}"
        t0 = time.perf_counter()
        try:
            with tracer.op("bench.night"):
                if traced:
                    sc.setJobGroup(tag, "night")
                with tracer.span("nightly.nightly_ingest"):
                    stats = self._ingest(k)
            wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - counted, not raised
            print(f"perfbench: night {k} failed: {exc!r}", file=sys.stderr)
            self.done.append(self.nights[k])
            self.run.record("night", time.perf_counter() - t0, False, traced)
            return
        extra = {}
        if traced:
            sc.setJobGroup("perfbench", "between operations")
            jobs, stages, tasks = job_counts(sc, tag)
            extra = {"jobs": jobs, "stages": stages, "tasks": tasks}
        self.run.record("night", wall, True, traced, items=n_docs, latency=wall,
                        stats=stats, **extra)

    def check(self) -> list[str]:
        from checks import check_nightly
        from lambda_sample_spark.sources.warehouse import read_versioned

        spark = self.run.spark
        corpus = [r[0] for r in read_versioned(
            spark, os.path.join(self.state, "corpus")).select("doc_id").collect()]
        ann = [r[0] for r in spark.read.parquet(
            os.path.join(self.state, "ann_index", "cells")).select("vec_id").collect()]
        return check_nightly(
            {i for n in self.done for i in n.doc_ids},
            {i for n in self.done for i in n.planted_unique},
            {i for n in self.done for i in n.planted_dup},
            corpus, ann,
        )

    def state_footprint(self) -> tuple[int, int]:
        files = size = 0
        for root, _dirs, names in os.walk(self.state):
            for f in names:
                files += 1
                size += os.path.getsize(os.path.join(root, f))
        return files, size

    def layer_values(self, tracer, ops: list[dict]) -> dict[str, float]:
        files, size = self.state_footprint()
        return {
            "incremental_dedup.ingest_batch_s": self.per_op(tracer, "incremental_dedup.ingest_batch", ops),
            "incremental_substring.scrub_batch_s": self.per_op(tracer, "incremental_substring.scrub_batch", ops),
            "graph.cc_ingest_s": self.per_op(tracer, "graph.cc_ingest", ops),
            "warehouse.merge_versioned_s": self.per_op(tracer, "warehouse.merge_versioned", ops),
            "warehouse.write_versioned_s": self.per_op(tracer, "warehouse.write_versioned", ops),
            "pq.append_index_s": self.per_op(tracer, "pq.ivfpq_append_index", ops),
            "classifier.nb_update_s": self.per_op(tracer, "classifier.nb_update", ops),
            "state.bytes_per_doc": size / sum(len(n.doc_ids) for n in self.done),
            "state.files": files,
            "spark.jobs": self.mean(ops, "jobs"),
            "spark.stages": self.mean(ops, "stages"),
            "spark.tasks": self.mean(ops, "tasks"),
        }

    def report(self) -> list[str]:
        ops = self.untraced_ops()
        files, size = self.state_footprint()
        lines = [
            f"inputs: bootstrap night of {BOOTSTRAP_DOCS}+4 docs, then nights of "
            f"{DOCS_PER_NIGHT} docs + 4 planted unique + 4 planted duplicates",
            f"nights ingested: {len(self.done)}; state: {files} files, {size} bytes",
        ]
        for o in self.run.ops:
            lines.append(f"night wall {o['wall']:.3f}s stats {o.get('stats')}")
        if ops:
            lines.append(f"night_s {tail([o['wall'] for o in ops])}")
        return lines
