"""Benchmark harness: runs EVERY contract query plus the
composite workloads at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:
  {"metric": "...", "value": N, "unit": "sec", "sf": ..., ...}

The complete per-query map lives in bench_detail.json (committed to
the repo): 145 query names at ms precision do not fit the driver's
~2000 char stdout tail window (round 7 overflowed it and the driver's
parse failed), so stdout carries aggregates (per-family totals,
slowest queries, headline) plus a PINNED 43-row "queries" subset
(STDOUT_QUERIES: flagship + most expensive rows, 63% of total wall;
additions-only) and the detail file carries the complete {query: sec}
map plus per-repeat maxima and sweep walls.

Isolation: queries run in per-FAMILY subprocess sessions (a fresh JVM
per ~10-15 queries) instead of one 91-query session. The round-9 A/B
(docs/ROUND9.md: same 68 queries, same host, single-JVM vs per-family)
REFUTED the round-8 crowding hypothesis — median single/family ratio
0.949, i.e. one shared JVM costs <= ~5% at 68 queries — and pinned the
round-8 "uniform ~1.2-1.4x inflation" on cross-day host drift instead
(today's numbers are ~1.27x r7 in BOTH modes; this box has measured
~1.3x zero-source-change drift before). Family sessions are kept
anyway: they bound JVM state growth as coverage widens (91 rows now)
for ~2 min of extra unmeasured startup wall, and make per-family walls
comparable across rounds. SPARK_GRAFT_BENCH_SINGLE_SESSION=1 restores
the one-JVM mode for future A/Bs.

Each query is forced end-to-end with a noop sink (full computation, no
driver materialization) and run REPEATS times interleaved (whole-family
sweep per repeat); the reported per-query number is the MIN across
repeats — host interference on this box inflates single runs 1.4-2.7x
and min-of-N is the reproducible statistic. The flagship
q_fast_anomaly time is the headline metric (BASELINE.md: the
reference's `GET /` recompute path).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Every contract query, grouped into families that share one worker
# JVM. Grouping is by domain (shared input tables warm each other's
# page cache) and balanced by expected runtime so no single worker
# dominates the wall clock.
FAMILIES: dict[str, list[str]] = {
    "core": [
        "q_fast_anomaly",
        "q_clamp_score",
        "q_group_stats",
        "q_latest_extents",
        "q_union_all",
        "q_quantiles",
        "q_iqr_outliers",
        "q_share_of_total",
        "q_scan_filter_limit",
        "q_recent_topk",
        "q_upsert_lww",
        "q_change_detect",
        "q_csv_scan",
        "q_gen_regimes",
        "q_json_codec",
    ],
    "temporal_join": [
        "q_sessionize",
        "q_tumbling_window",
        "q_moving_stats",
        "q_window_funcs",
        "q_range_window_stats",
        "q_lookup_join_left",
        "q_weighted_ensemble",
        "q_semi_anti_join",
        "q_outer_custdist",
        "q_asof_join",
        "q_range_join",
        "q_salted_agg",
        "q_resample_gapfill",
        "q_ewma_smooth",
        "q_funnel",
        "q_cohort_retention",
        "q_markov_transitions",
        "q_attribution",
        "q_interval_flag",
        "q_robust_zscore",
        "q_ohlc_bars",
        "q_twap",
        "q_sensor_corr",
        "q_seasonal_baseline",
        "q_ab_welch",
        "q_pmi_association",
        "q_data_profile",
        "q_data_checks",
        "q_entity_match",
        "q_pareto_front",
    ],
    "tpch_a": [
        "q_tpch_q1",
        "q_tpch_q2",
        "q_tpch_q3",
        "q_tpch_q4",
        "q_tpch_q5",
        "q_tpch_q6",
        "q_tpch_q7",
        "q_tpch_q8",
        "q_tpch_q9",
        "q_tpch_q10",
        "q_tpch_join_agg",
    ],
    "tpch_b": [
        "q_tpch_q11",
        "q_tpch_q12",
        "q_tpch_q14",
        "q_tpch_q15",
        "q_tpch_q16",
        "q_tpch_q17",
        "q_tpch_q18",
        "q_tpch_q19",
        "q_tpch_q20",
        "q_tpch_q21",
        "q_tpch_q22",
    ],
    "text": [
        "q_text_stats",
        "q_token_count",
        "q_doc_profile",
        "q_lang_id",
        "q_winnowing",
        "q_winnow_near_dup",
        "x_winnow_neardup_prod",
        "q_tfidf_topterms",
        "q_repetition_stats",
        "q_unigram_logprob",
        "q_ccnet_buckets",
        "q_nb_quality",
        "x_nbq_prod",
        "q_classifier_eval",
        "q_calibration",
        "q_chunk_windows",
        "q_vocab_topn",
        "q_inverted_index",
        "q_bm25_topk",
        "x_winnow_prod",
        "q_dsir_scores",
        "q_bpe_tokens",
        "q_quality_rules",
        "q_html_extract",
    ],
    "dedup_curation": [
        "q_dedup_exact",
        "q_ngram_jaccard",
        "q_dedup_near",
        "q_simhash",
        "q_semantic_dedup",
        "q_contamination",
        "x_contamination_prod",
        "q_bloom_contamination",
        "x_bloom_prod",
        "q_redact_pii",
        "q_blocklist_hits",
        "q_source_cap",
        "q_shard_order",
        "q_pack_documents",
        "q_temperature_shares",
        "q_span_corruption",
        "q_substring_dedup",
        "x_substring_prod",
        "q_data_mixture",
    ],
    "similarity": [
        "q_similarity_topk",
        "q_embed_near_dup",
        "x_embed_prod",
        "q_ann_lsh_topk",
        "q_pq_adc_topk",
        "q_stratified_sample",
        "q_weighted_sample",
        "q_split_assign",
        "q_label_centroids",
        "q_image_dhash",
        "q_image_phash_dedup",
        "q_audio_fingerprint",
        "q_audio_near_dup",
        "q_video_frame_hashes",
        "q_video_near_dup",
    ],
    "sketch_ml": [
        "q_rollup_day",
        "q_cube_type_user",
        "q_pivot_types",
        "q_distinct_users",
        "q_approx_distinct_users",
        "q_hll_rollup",
        "q_cms_heavy_hitters",
        "q_sampled_quantiles",
        "q_drift_psi",
        "q_drift_categorical",
        "q_cooccur_lift",
        "q_rf_train",
        "q_rf_predict",
        "q_histogram_models",
    ],
    "heavy": [
        "q_connected_components",
        "q_pagerank_nations",
        "q_multimodal_features",
        "x_ingest_batch",
        "x_stream_bottomk",
        "x_serving_sla",
    ],
}


# Per-family repeat floors: the heavy family's committed numbers moved
# 44% between rounds 10 and 11 on pure host noise (q_connected_
# components 6.0 -> 8.66 s in a sweep whose spread hit 1.88x; the
# round-12 isolated rerun measured 4.84 s min-of-5, refuting any code
# cause). min-of-N only rejects noise N-1 times per query — the
# longest-running family gets more samples so one stalled sweep can't
# move a committed number by tens of percent.
FAMILY_MIN_REPEATS = {"heavy": 5}

# The per-query names echoed INSIDE the stdout JSON line (round-16,
# verdict task 7). Pinned once — the flagship plus the 42 most
# expensive rows by the committed r15 min-merge (63% of total wall) —
# because the driver parses the line from a 2000-char stdout tail and
# the full 145-row map cannot fit (round 7 proved the overflow breaks
# the parse). Additions-only per the driver contract: names may be
# appended, never removed or renamed.
STDOUT_QUERIES = [
    "q_fast_anomaly",
    "x_ingest_batch",
    "x_stream_bottomk",
    "q_winnow_near_dup",
    "q_connected_components",
    "q_substring_dedup",
    "x_winnow_neardup_prod",
    "x_serving_sla",
    "x_substring_prod",
    "q_ccnet_buckets",
    "q_nb_quality",
    "x_nbq_prod",
    "q_bloom_contamination",
    "x_bloom_prod",
    "q_dsir_scores",
    "q_pagerank_nations",
    "q_ngram_jaccard",
    "q_range_window_stats",
    "q_cooccur_lift",
    "q_dedup_near",
    "q_tpch_q21",
    "q_lang_id",
    "q_image_phash_dedup",
    "q_rf_predict",
    "q_video_near_dup",
    "q_semantic_dedup",
    "q_tpch_q2",
    "q_sampled_quantiles",
    "q_contamination",
    "q_data_checks",
    "q_repetition_stats",
    "q_audio_near_dup",
    "q_pq_adc_topk",
    "q_blocklist_hits",
    "q_data_profile",
    "q_bpe_tokens",
    "q_ann_lsh_topk",
    "q_drift_psi",
    "q_simhash",
    "q_tpch_q11",
    "q_semi_anti_join",
    "q_tpch_q5",
    "q_resample_gapfill",
]

# contract row -> its production twin (same semantics, no oracle
# seam); seam_overhead in bench_detail.json is contract/production
SEAM_TWINS = {
    "q_winnowing": "x_winnow_prod",
    "q_winnow_near_dup": "x_winnow_neardup_prod",
    "q_embed_near_dup": "x_embed_prod",
    "q_contamination": "x_contamination_prod",
    "q_substring_dedup": "x_substring_prod",
    "q_bloom_contamination": "x_bloom_prod",
    "q_nb_quality": "x_nbq_prod",
}


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Per-leg walls for composite rows (verdict-14 task 5): a composite
# that can attribute its cost appends {leg: sec} samples here; the
# detail artifact records min-of-repeats per leg so a future
# regression lands on a named leg, not the opaque composite total.
# Cleared after the warmup sweep so legs match the measured repeats.
LEG_TIMES: dict[str, dict[str, list[float]]] = {}


def _record_legs(name: str, legs: dict[str, float]) -> None:
    slot = LEG_TIMES.setdefault(name, {})
    for leg, sec in legs.items():
        slot.setdefault(leg, []).append(sec)


def bench_ingest_batch(spark, sf_dir: str) -> None:
    """Composite: the X14 steady-state ingest workflow end-to-end —
    commit half the corpus as the initial minhash index, then ingest
    the other half against it (match + fixpoint + merge + maintenance).
    A fresh index root per invocation keeps every repeat identical
    work; ingest_batch materializes its own outputs (scratch rounds +
    ingest log + index merge), so no extra force() is needed. Each
    call reports per-phase walls for BOTH batches (initial.* = the
    cold index commit, incr.* = the steady-state leg a nightly
    pipeline pays per batch)."""
    from pyspark.sql import functions as F

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators import incremental_dedup as inc

    root = tempfile.mkdtemp(prefix="bench_mhidx_")
    t_initial: dict[str, float] = {}
    t_incr: dict[str, float] = {}
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        inc.ingest_batch(
            spark, root, docs.where(F.col("doc_id") % 2 == 0), timings=t_initial
        )
        inc.ingest_batch(
            spark, root, docs.where(F.col("doc_id") % 2 == 1), timings=t_incr
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    _record_legs(
        "x_ingest_batch",
        {f"initial.{k}": v for k, v in t_initial.items()}
        | {f"incr.{k}": v for k, v in t_incr.items()},
    )


def bench_winnow_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION winnowing path (vectorized numpy
    rolling hash, O(n) per doc) — q_winnowing is the md5
    oracle-contract twin, which pays interpreted-HOF + O(n^2)
    substring extraction for DuckDB replayability; this trail records
    what real callers pay."""
    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.text import winnow_fingerprints_fast

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    force(winnow_fingerprints_fast(docs))


def bench_contamination_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION decontamination path (xxhash64 gram
    hashing, the module default) — q_contamination is the md5
    oracle-contract twin, which pays a crypto hash + hex-word
    conversion per gram for DuckDB replayability; this trail records
    what real callers pay (the same benchmark-broadcast, zero
    corpus-shuffle plan)."""
    from pyspark.sql import functions as F

    from lambda_sample_spark.operators.curation import _DECON_N, contamination_check
    from lambda_sample_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    force(contamination_check(docs, bench, n=_DECON_N))


def bench_nbq_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION NB-classifier path (xxhash64 gram
    buckets, scratch-staged census/model — train_nb's materialize
    hook) — q_nb_quality is the md5 oracle twin."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.classifier import score_nb, train_nb

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    base = tempfile.mkdtemp(prefix="bench_nbq_")
    try:

        def mat(df, name):
            p = os.path.join(base, name)
            df.write.mode("overwrite").parquet(p)
            return spark.read.parquet(p)

        w, c = train_nb(
            docs.where(F.col("doc_id") % 10 < 8),
            F.col("lang") == "en",
            materialize=mat,
        )
        force(
            score_nb(docs.select("doc_id", "text"), mat(w, "w"), mat(c, "c"))
        )
    finally:
        # min-of-3 repeats would otherwise leave model parquet dirs in
        # /tmp per invocation (the scale_oneoff-workdir lesson)
        shutil.rmtree(base, ignore_errors=True)


def bench_bloom_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION Bloom decontamination path (xxhash64
    K-M pair, inline bitmap) — q_bloom_contamination is the md5
    oracle twin; this trail records the real build+inline+probe cost
    (the build/collect is part of the op, so it is timed too)."""
    from pyspark.sql import functions as F

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.bloom import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    force(bloom_probe(docs, bloom_build(bench)))


def bench_embed_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION embedding near-dup path
    (``near_dup_pairs(vectorized=True)`` — one Arrow batch + numpy
    matmul per label block) — q_embed_near_dup is the oracle-contract
    twin, which keeps the interpreted JVM fold so scores stay
    bit-aligned with DuckDB's sequential list_dot_product; this trail
    records what real callers pay."""
    from pyspark.sql import functions as F

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.similarity import as_double, near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("vec")
    )
    force(near_dup_pairs(emb, vectorized=True))


_STREAM_SRC: dict[str, str] = {}


def bench_stream_bottomk(spark, sf_dir: str) -> None:
    """Composite: the X10 speed layer end-to-end — stateful per-window
    bottom-k (streaming/stateful.py) over the FULL events table
    (100k rows at sf0.1) replayed as a file stream with an
    availableNow trigger to a parquet sink. The source parquet is
    staged once per process (the warmup sweep pays it); every measured
    repeat gets a fresh checkpoint + sink so the trigger does the
    complete stateful pass — events/s = table rows / this number."""
    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.streaming.stateful import stateful_windowed_bottomk

    src = _STREAM_SRC.get(sf_dir)
    if src is None:
        src = tempfile.mkdtemp(prefix="bench_stream_src_")
        atexit.register(shutil.rmtree, src, ignore_errors=True)
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts", "value"
        ).write.mode("overwrite").parquet(src)
        _STREAM_SRC[sf_dir] = src
    root = tempfile.mkdtemp(prefix="bench_stream_run_")
    try:
        stream = spark.readStream.schema(
            "event_id bigint, event_type string, ts timestamp, value double"
        ).parquet(src)
        q = (
            stateful_windowed_bottomk(stream)
            .writeStream.format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        # per-leg walls from the engine's own progress events (verdict
        # r15 task 3: name the dominant leg): durationMs is per
        # micro-batch — sum across the run's batches. addBatch is the
        # actual stateful work; the rest is trigger machinery.
        legs: dict[str, float] = {}
        n_batches = 0
        for p in q.recentProgress:
            n_batches += 1
            for leg, ms in (p.get("durationMs") or {}).items():
                legs[f"dur.{leg}"] = legs.get(f"dur.{leg}", 0.0) + ms / 1e3
            for so in p.get("stateOperators") or []:
                for leg in ("commitTimeMs",):
                    legs[f"state.{leg}"] = (
                        legs.get(f"state.{leg}", 0.0) + so.get(leg, 0) / 1e3
                    )
        legs["n_batches"] = float(n_batches)
        _record_legs("x_stream_bottomk", {k: round(v, 4) for k, v in legs.items()})
    finally:
        shutil.rmtree(root, ignore_errors=True)


_ENTRY_SRC: dict[str, str] = {}


def bench_serving_sla(spark, sf_dir: str) -> None:
    """Composite: the serving tier at the reference's published load
    shape (round-11 verdict task #7) — ServingEndpoint over an entry
    log derived from THIS sf_dir's events table, one cache-warming
    GET / (the flagship recompute is the q_fast_anomaly row; this row
    prices the tier around it), then the hey envelope's 500 requests
    at concurrency 10 against /stress, request metrics flushed through
    streaming/perf.py and the /perf box-plot aggregates forced. The 5 s
    SLA is asserted inside the run — a bench sweep where serving
    breaches the envelope must fail loudly, not record quietly."""
    import urllib.request
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.streaming.http_endpoint import ServingEndpoint
    from lambda_sample_spark.streaming.perf import perf_box_stats

    src = _ENTRY_SRC.get(sf_dir)
    if src is None:
        tmp = tempfile.mkdtemp(prefix="bench_entries_")
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
        src = tmp + "/log"
        load_table(spark, sf_dir, "events").select(
            F.col("event_type").alias("sensor"),
            "ts",
            "value",
            (F.abs("value") > 50.0).cast("int").alias("anomaly"),
            F.lit(1).cast("long").alias("batch_id"),
        ).write.parquet(src)
        _ENTRY_SRC[sf_dir] = src
    metrics_dir = tempfile.mkdtemp(prefix="bench_serving_metrics_")
    ep = ServingEndpoint(spark, src, ttl_secs=3600.0, metrics_dir=metrics_dir)
    try:
        url = f"http://{ep.host}:{ep.port}"

        def hit(path):
            t0 = time.perf_counter()
            with urllib.request.urlopen(url + path) as r:
                r.read()
                return r.status, time.perf_counter() - t0

        assert hit("/")[0] == 200
        with ThreadPoolExecutor(max_workers=10) as pool:
            out = list(pool.map(hit, ["/stress"] * 500))
        assert all(s == 200 for s, _ in out)
        lats = sorted(l for _, l in out)
        assert lats[494] < 5.0, f"/stress p99={lats[494]:.3f}s breaches SLA"
        ep.flush_metrics()
        force(perf_box_stats(spark.read.parquet(f"{metrics_dir}/requests")))
    finally:
        ep.stop()
        shutil.rmtree(metrics_dir, ignore_errors=True)


def bench_winnow_neardup_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION containment near-dup path — the
    vectorized numpy fingerprint pass plus the same capped pair join
    the contract row runs (library defaults: xxhash64-family 'fast'
    grams, fractional+absolute stop cap); q_winnow_near_dup is the md5
    oracle twin."""
    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.text import winnow_near_dup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    force(winnow_near_dup(docs, gram_hash="fast"))


def bench_substring_prod(spark, sf_dir: str) -> None:
    """Composite: the PRODUCTION exact-substring dedup path
    (xxhash64 gram hashing — 8 B/position shuffle) — q_substring_dedup
    is the oracle-contract twin, which ships the gram STRINGS so DuckDB
    can replay substr() cell-exactly; this trail records what real
    callers pay for the same 2-exchange plan."""
    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.substring import substring_dedup_census

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    force(substring_dedup_census(docs, gram_col="hash"))


# non-contract composites timed alongside the contract queries (they
# drive their own materialization instead of a noop-sink force)
COMPOSITES = {
    "x_winnow_prod": bench_winnow_prod,
    "x_winnow_neardup_prod": bench_winnow_neardup_prod,
    "x_substring_prod": bench_substring_prod,
    "x_contamination_prod": bench_contamination_prod,
    "x_bloom_prod": bench_bloom_prod,
    "x_nbq_prod": bench_nbq_prod,
    "x_embed_prod": bench_embed_prod,
    "x_ingest_batch": bench_ingest_batch,
    "x_stream_bottomk": bench_stream_bottomk,
    "x_serving_sla": bench_serving_sla,
}


def _resolve(names: list[str]):
    """Map bench names to callables(spark, sf_dir) -> None."""
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    fns = {}
    for name in names:
        if name in COMPOSITES:
            fns[name] = COMPOSITES[name]
        else:
            fns[name] = lambda s, d, _q=queries[name]: force(_q(s, d))
    return fns


def _run_names(names: list[str], sf_dir: str, repeats: int):
    """Warm + interleaved repeats for one session's worth of queries.
    Returns ({name: [secs...]}, [sweep walls])."""
    from lambda_sample_spark.session import get_spark

    spark = get_spark(app_name="lambda-sample-spark-bench")
    fns = _resolve(names)

    # full warmup sweep (unmeasured): JIT/codegen compilation and
    # file-listing caches land here instead of inflating sweep 1
    for name in names:
        fns[name](spark, sf_dir)
    LEG_TIMES.clear()  # drop warmup-sweep leg samples

    # Interleave: sweep the whole list once per repeat instead of
    # running each query's repeats back-to-back. A transient host stall
    # then inflates at most one sweep's worth of samples per query, and
    # min-of-N rejects it; back-to-back repeats let a single stall
    # poison all N samples of one query.
    runs: dict[str, list[float]] = {name: [] for name in names}
    sweeps = []
    for _ in range(repeats):
        t_sweep = time.perf_counter()
        for name in names:
            t0 = time.perf_counter()
            fns[name](spark, sf_dir)
            runs[name].append(time.perf_counter() - t0)
        sweeps.append(round(time.perf_counter() - t_sweep, 4))
    spark.stop()
    legs = {
        name: {leg: round(min(samples), 4) for leg, samples in slots.items()}
        for name, slots in LEG_TIMES.items()
    }
    return runs, sweeps, legs


def _worker(spec_path: str, out_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    runs, sweeps, legs = _run_names(spec["names"], spec["sf_dir"], spec["repeats"])
    with open(out_path, "w") as f:
        json.dump({"runs": runs, "sweeps": sweeps, "legs": legs}, f)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    single = os.environ.get("SPARK_GRAFT_BENCH_SINGLE_SESSION") == "1"

    import __spark_entry__ as entrymod

    contract = set(entrymod.queries())
    families = {f: list(names) for f, names in FAMILIES.items()}
    if only:
        keep = {n.strip() for n in only.split(",") if n.strip()}
        families = {
            f: [n for n in names if n in keep] for f, names in families.items()
        }
        families = {f: names for f, names in families.items() if names}
    else:
        # coverage guard: every contract query benched exactly once
        benched = [n for names in families.values() for n in names]
        missing = contract - set(benched)
        extra = set(benched) - contract - set(COMPOSITES)
        assert not missing, f"contract queries missing from bench: {sorted(missing)}"
        assert not extra, f"unknown bench names: {sorted(extra)}"
        assert len(benched) == len(set(benched)), "duplicate bench names"

    all_runs: dict[str, list[float]] = {}
    family_sweeps: dict[str, list[float]] = {}
    composite_legs: dict[str, dict[str, float]] = {}
    if single:
        names = [n for fam in families.values() for n in fam]
        runs, sweeps, legs = _run_names(names, sf_dir, repeats)
        all_runs.update(runs)
        family_sweeps["all"] = sweeps
        composite_legs.update(legs)
    else:
        for fam, names in families.items():
            # the floor protects COMMITTED full sweeps; ONLY-filtered
            # experiments keep the caller's explicit repeat count
            fam_repeats = (
                repeats if only else max(repeats, FAMILY_MIN_REPEATS.get(fam, 0))
            )
            with tempfile.TemporaryDirectory(prefix="bench_fam_") as td:
                spec = Path(td) / "spec.json"
                out = Path(td) / "out.json"
                spec.write_text(
                    json.dumps(
                        {"names": names, "sf_dir": sf_dir, "repeats": fam_repeats}
                    )
                )
                proc = subprocess.run(
                    [sys.executable, __file__, "--worker", str(spec), str(out)],
                    cwd=REPO,
                    capture_output=True,
                    text=True,
                    timeout=3600,
                )
                if proc.returncode != 0 or not out.exists():
                    tail = (proc.stderr or proc.stdout or "")[-2000:]
                    raise RuntimeError(
                        f"bench family {fam} worker failed "
                        f"(rc={proc.returncode}); output tail:\n{tail}"
                    )
                payload = json.loads(out.read_text())
            all_runs.update(payload["runs"])
            family_sweeps[fam] = payload["sweeps"]
            composite_legs.update(payload.get("legs", {}))

    timings = {name: round(min(rs), 4) for name, rs in all_runs.items()}
    timings_max = {name: round(max(rs), 4) for name, rs in all_runs.items()}
    fam_totals = {
        fam: round(sum(timings[n] for n in names if n in timings), 3)
        for fam, names in families.items()
    }
    slowest = dict(
        sorted(((n, round(t, 3)) for n, t in timings.items()), key=lambda kv: -kv[1])[:6]
    )
    # Oracle-seam attribution: contract rows that pay a DuckDB-
    # replayability seam (md5 hashing / interpreted JVM folds) have a
    # production twin benched alongside; record contract/production so
    # drift reads come off the numbers a real deployment would see,
    # and report the production-equivalent total per family (the
    # contract total with each twinned row priced at its twin).
    seam_overhead = {
        seam: round(timings[seam] / timings[prod], 2)
        for seam, prod in SEAM_TWINS.items()
        if seam in timings and prod in timings and timings[prod] > 0
    }
    fam_totals_prod = {
        fam: round(
            sum(
                timings.get(SEAM_TWINS.get(n, n), timings.get(n, 0.0))
                for n in names
                if n in timings
            ),
            3,
        )
        for fam, names in families.items()
    }
    spreads = [
        max(s) / max(min(s), 1e-9) for s in family_sweeps.values() if s
    ]

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver captures only the LAST ~2000 chars of stdout and
    # parses the JSON line it finds there (proven: round 7 emitted the
    # full map, the line overflowed the window and the driver's parse
    # FAILED — BENCH_r07.json parsed:null). 145 per-query times do not
    # fit, so stdout carries aggregates plus a PINNED 43-row subset of
    # the contract's per-query map (the flagship + the most expensive
    # rows by the r15 min-merge, 63% of total wall — chosen once,
    # additions-only per the driver contract) and the complete map
    # lives in bench_detail.json (COMMITTED — the judge reads it).
    stdout_queries = {
        n: round(timings[n], 2) for n in STDOUT_QUERIES if n in timings
    }
    out = {
        "metric": "fast_anomaly_sec",
        # ONLY-filtered experiment runs may exclude the flagship
        "value": timings.get("q_fast_anomaly", max(timings.values())),
        "unit": "sec",
        "n_queries": len(timings),
        "repeats": repeats,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf_dir,
        "total_sec": round(sum(timings.values()), 3),
        "families": fam_totals,
        "slowest": slowest,
        # host-noise indicator: worst within-family spread of sweep walls
        "sweep_spread": round(max(spreads), 3) if spreads else None,
        "isolation": "single" if single else "per-family-session",
        "queries": stdout_queries,
        "queries_note": "pinned 43-row subset; full 145-row map in bench_detail.json",
    }
    detail = dict(
        out,
        queries=timings,
        queries_max=timings_max,
        family_sweeps=family_sweeps,
        seam_overhead=seam_overhead,
        families_production_equiv=fam_totals_prod,
        composite_legs=composite_legs,
    )
    # SPARK_GRAFT_BENCH_DETAIL redirects the detail artifact (the sf1
    # sweep writes bench_detail_sf1.json so the committed sf0.1 detail
    # — the regression checker's baseline — is never clobbered)
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL", str(Path(REPO) / "bench_detail.json")
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    line = json.dumps(out)
    # hard guard: never exceed the driver's capture window. Degrade
    # gracefully (drop trailing pinned entries) instead of failing the
    # whole bench on an unusually wide value.
    while len(line) >= 1900 and out["queries"]:
        out["queries"].pop(next(reversed(out["queries"])))
        line = json.dumps(out)
    assert len(line) < 1900, f"bench JSON line {len(line)} chars; slim it"
    print(line)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3])
    else:
        main()
