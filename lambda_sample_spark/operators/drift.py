"""Distribution-drift detection (SURVEY.md §2.8 adjunct): the
monitoring op a long-running ingest pipeline runs between corpus
snapshots — "has the value distribution of this event type moved
since the reference window?" — as the Population Stability Index over
reference-quantile bins (the standard scorecard-monitoring metric:
PSI = sum over bins of (p_cur - p_ref) * ln(p_cur / p_ref); < 0.1
stable, 0.1-0.25 drifting, > 0.25 shifted).

Shape: decile edges come from an ntile window over the REFERENCE
slice only (deterministic total order: value, event_id), both slices
are binned against those same edges with one broadcast join + a
higher-order filter count (no per-row UDF), and the per-bin
probability terms are summed in exact DECIMAL so the reported PSI is
engine-independent (the one ln() per bin matches across engines on
the fixed corpus — the q_unigram_logprob precedent). Laplace-style
+0.5 smoothing keeps empty current-period bins finite.

100 TB: the reference pass is one window + tiny edge aggregate (10
rows/key); the current pass is a scan + broadcast bin lookup + one
(key, bin) count — nothing quadratic, nothing driver-side but the
bin grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import load_table
from .common import stage

N_BINS = 10
_SPLIT = "2024-01-16 00:00:00"


def drift_psi(
    events: DataFrame,
    split_ts: str,
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    n_bins: int = N_BINS,
    materialize=None,
) -> DataFrame:
    """PSI per key between the slice before ``split_ts`` (reference)
    and the slice at/after it (current). Returns
    (key, psi, n_ref, n_cur).

    Keys with NO reference rows have no edges and drop out (PSI
    against nothing is undefined — detect brand-new keys with a plain
    anti-join, not a distribution test); keys that vanished from the
    current slice still report (n_cur = 0, every current bin at the
    smoothed floor). NULL values are excluded from BOTH slices before
    anything else: a NULL has no position in a value distribution
    (and Spark's NULLS FIRST vs DuckDB's NULLS LAST ntile defaults
    would silently diverge the edges) — track NULL-rate drift with a
    plain conditional count, not a quantile binning."""
    nn = F.col(value_col).isNotNull()
    is_ref = F.col("ts") < F.lit(split_ts).cast("timestamp")
    ref = events.where(nn & is_ref)

    w = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    tiles = ref.withColumn("tile", F.ntile(n_bins).over(w))
    edges = (
        tiles.groupBy(key_col, "tile")
        .agg(F.max(value_col).alias("edge"))
        .where(F.col("tile") < n_bins)  # n_bins-1 interior edges
        .groupBy(key_col)
        .agg(F.sort_array(F.collect_list("edge")).alias("edges"))
    )
    # the tiny (key, edges) table feeds THREE consumers (the combined
    # binning pass and the grid); without a cut each re-runs the
    # corpus-sized reference window (round 15: the before plan carried
    # 5 event scans). Cut it when the caller provides a materializer.
    if materialize is not None:
        edges = materialize(edges, "edges")

    # one corpus pass bins BOTH slices (round 15 — was one scan per
    # slice): each non-null row carries its slice flag and the
    # per-(key, bin) aggregate splits the counts
    v = F.col(value_col)
    binned_all = (
        events.where(nn)
        .join(F.broadcast(edges), key_col)
        .select(
            key_col,
            F.size(F.filter("edges", lambda e: v > e)).alias("bin"),
            is_ref.alias("is_ref"),
        )
        .groupBy(key_col, "bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("r_cnt"),
            F.sum(F.when(~F.col("is_ref"), 1).otherwise(0)).alias("c_cnt"),
        )
    )

    grid = edges.select(
        key_col, F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin")
    )
    counts = grid.join(binned_all, [key_col, "bin"], "left").select(
        key_col,
        "bin",
        F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
        F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
    )
    # per-key totals as a WINDOW over the tiny bin-count table, not an
    # aggregate joined back — counts' lineage holds the corpus binning
    # pass, and a totals join re-ran it once per consumer (round 15)
    wk = Window.partitionBy(key_col)
    half = F.lit(0.5)
    smooth = F.lit(0.5 * n_bins)
    j = counts.withColumn("n_ref", F.sum("r_cnt").over(wk)).withColumn(
        "n_cur", F.sum("c_cnt").over(wk)
    )
    p_r = (F.col("r_cnt") + half) / (F.col("n_ref") + smooth)
    p_c = (F.col("c_cnt") + half) / (F.col("n_cur") + smooth)
    term = ((p_c - p_r) * F.log(p_c / p_r)).cast("decimal(25,15)")
    return (
        j.select(key_col, "n_ref", "n_cur", term.alias("term"))
        .groupBy(key_col, "n_ref", "n_cur")
        .agg(F.round(F.sum("term"), 6).cast("double").alias("psi"))
        .select(key_col, "psi", "n_ref", "n_cur")
    )


def drift_categorical(
    events: DataFrame,
    split_ts: str,
    cat_col: str = "event_type",
    key_col: str = "cohort",
    n_bins: int = N_BINS,
) -> DataFrame:
    """Categorical frequency-shift twin of :func:`drift_psi` (round-9
    promotion): Jensen-Shannon divergence per key between the category
    share vectors before/after ``split_ts``. PSI watches a NUMERIC
    column's value distribution; this watches a CATEGORICAL column's
    frequency mix (event-type share, source mix, language mix) — the
    other column class a training-data pipeline monitors. Returns
    (key, jsd, n_ref, n_cur); JSD is in [0, ln 2], 0 = identical mix.

    Same shape as PSI: the category grid per key is the UNION of
    categories seen in either slice (a brand-new category IS
    frequency shift, unlike a numeric bin grid which only the
    reference can define), counts fill the grid via left joins,
    Laplace +0.5 smoothing keeps log terms finite, and the per-term
    sum is exact DECIMAL so the score is engine-independent. JSD over
    chi-square because it is bounded and symmetric — a doubling of a
    rare category can't blow up the score the way the chi-square
    statistic does.

    100 TB: two (key, category) count aggregates + a grid join on the
    tiny distinct-category set — one shuffle per slice, nothing
    driver-side, no UDF. ``n_bins`` is unused (kept for signature
    symmetry with drift_psi callers that sweep both)."""
    # ONE corpus pass counts both slices (round 15 — the lazy
    # rc/cc/grid/totals lattice re-scanned events 8x in the executed
    # contract plan): every (key, cat) with a row in EITHER slice is a
    # row of this combined census, which is exactly the union grid the
    # two-sided formulation built.
    is_ref = F.col("ts") < F.lit(split_ts).cast("timestamp")
    counts = events.groupBy(key_col, cat_col).agg(
        F.sum(F.when(is_ref, 1).otherwise(0)).alias("r_cnt"),
        F.sum(F.when(~is_ref, 1).otherwise(0)).alias("c_cnt"),
    )
    return _jsd_score(counts, key_col=key_col, cat_col=cat_col)


def jsd_from_counts(
    rc: DataFrame,
    cc: DataFrame,
    key_col: str = "cohort",
    cat_col: str = "event_type",
) -> DataFrame:
    """JSD core over PRE-AGGREGATED category counts: ``rc`` =
    (key, cat, r_cnt) reference censuses, ``cc`` = (key, cat, c_cnt)
    current censuses. Split out of :func:`drift_categorical` so the
    STREAMING leg (streaming/drift.py: per-window counts persisted by
    the speed layer — counts are mergeable, JSD is not) scores its
    windows with the same math, term for term. Returns
    (key, jsd, n_ref, n_cur)."""
    grid = (
        rc.select(key_col, cat_col)
        .unionByName(cc.select(key_col, cat_col))
        .distinct()
    )
    counts = (
        grid.join(rc, [key_col, cat_col], "left")
        .join(cc, [key_col, cat_col], "left")
        .select(
            key_col,
            cat_col,
            F.coalesce("r_cnt", F.lit(0)).alias("r_cnt"),
            F.coalesce("c_cnt", F.lit(0)).alias("c_cnt"),
        )
    )
    return _jsd_score(counts, key_col=key_col, cat_col=cat_col)


def _jsd_score(
    counts: DataFrame,
    key_col: str = "cohort",
    cat_col: str = "event_type",
) -> DataFrame:
    """JSD scoring over a complete (key, cat, r_cnt, c_cnt) grid.
    Per-key totals are WINDOW sums over the tiny grid (round 15 — a
    totals aggregate joined back re-ran the grid's corpus-sized
    lineage once per consumer)."""
    wk = Window.partitionBy(key_col)
    half = F.lit(0.5)
    j = (
        counts.withColumn("n_ref", F.sum("r_cnt").over(wk))
        .withColumn("n_cur", F.sum("c_cnt").over(wk))
        .withColumn("n_cat", F.count("*").over(wk))
    )
    p = (F.col("r_cnt") + half) / (F.col("n_ref") + half * F.col("n_cat"))
    q = (F.col("c_cnt") + half) / (F.col("n_cur") + half * F.col("n_cat"))
    m = (p + q) / F.lit(2.0)
    term = (half * p * F.log(p / m) + half * q * F.log(q / m)).cast(
        "decimal(25,15)"
    )
    return (
        j.select(key_col, "n_ref", "n_cur", term.alias("term"))
        .groupBy(key_col, "n_ref", "n_cur")
        .agg(F.round(F.sum("term"), 6).cast("double").alias("jsd"))
        .select(key_col, "jsd", "n_ref", "n_cur")
    )


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round-8 promotion): PSI per event_type across a
    mid-January split of the events table — edges, bin censuses,
    smoothing, and the exact-decimal term sum all hash-compared. The
    bounded edge table stages through per-sf_dir scratch parquet (the
    q_ccnet idiom) so the reference window runs once."""

    def mat(df: DataFrame, name: str) -> DataFrame:
        return stage(df.repartition(1), sf_dir, "drift", name)

    return drift_psi(
        load_table(spark, sf_dir, "events"), _SPLIT, materialize=mat
    )


def q_drift_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round-9 promotion): JS divergence of the
    event_type mix per user cohort (user_id % 10) across the same
    mid-January split — grid, smoothing, and exact-decimal term sum
    all hash-compared."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.pmod(F.col("user_id"), F.lit(10))
    )
    return drift_categorical(ev, _SPLIT)


ORACLE = {
    "q_drift_psi": f"""
WITH ref AS (
  SELECT event_type, event_id, value FROM events
  WHERE value IS NOT NULL AND ts < TIMESTAMP '{_SPLIT}'
), cur AS (
  SELECT event_type, event_id, value FROM events
  WHERE value IS NOT NULL AND ts >= TIMESTAMP '{_SPLIT}'
), tiles AS (
  SELECT event_type, value,
         ntile({N_BINS}) OVER (PARTITION BY event_type
                               ORDER BY value NULLS LAST,
                                        event_id NULLS LAST) AS tile
  FROM ref
), edges AS (
  SELECT event_type, list_sort(list(edge)) AS edges
  FROM (SELECT event_type, tile, max(value) AS edge
        FROM tiles GROUP BY 1, 2)
  WHERE tile < {N_BINS}
  GROUP BY 1
), rbin AS (
  SELECT r.event_type, len(list_filter(e.edges, x -> r.value > x)) AS bin
  FROM ref r JOIN edges e USING (event_type)
), cbin AS (
  SELECT c.event_type, len(list_filter(e.edges, x -> c.value > x)) AS bin
  FROM cur c JOIN edges e USING (event_type)
), rc AS (
  SELECT event_type, bin, count(*) AS r_cnt FROM rbin GROUP BY 1, 2
), cc AS (
  SELECT event_type, bin, count(*) AS c_cnt FROM cbin GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(0, {N_BINS})) AS bin FROM edges
), counts AS (
  SELECT g.event_type, g.bin,
         coalesce(rc.r_cnt, 0) AS r_cnt, coalesce(cc.c_cnt, 0) AS c_cnt
  FROM grid g
  LEFT JOIN rc ON g.event_type = rc.event_type AND g.bin = rc.bin
  LEFT JOIN cc ON g.event_type = cc.event_type AND g.bin = cc.bin
), totals AS (
  SELECT event_type,
         CAST(sum(r_cnt) AS BIGINT) AS n_ref,
         CAST(sum(c_cnt) AS BIGINT) AS n_cur
  FROM counts GROUP BY 1
)
SELECT c.event_type,
       CAST(round(sum(CAST(((c.c_cnt + 0.5) / (t.n_cur + {0.5 * N_BINS})
                            - (c.r_cnt + 0.5) / (t.n_ref + {0.5 * N_BINS}))
                           * ln(((c.c_cnt + 0.5) / (t.n_cur + {0.5 * N_BINS}))
                                / ((c.r_cnt + 0.5) / (t.n_ref + {0.5 * N_BINS})))
                           AS DECIMAL(25,15))), 6) AS DOUBLE) AS psi,
       t.n_ref, t.n_cur
FROM counts c JOIN totals t USING (event_type)
GROUP BY 1, 3, 4
""",
    "q_drift_categorical": f"""
WITH ev AS (
  SELECT user_id % 10 AS cohort, event_type, ts FROM events
), rc AS (
  SELECT cohort, event_type, count(*) AS r_cnt FROM ev
  WHERE ts < TIMESTAMP '{_SPLIT}' GROUP BY 1, 2
), cc AS (
  SELECT cohort, event_type, count(*) AS c_cnt FROM ev
  WHERE ts >= TIMESTAMP '{_SPLIT}' GROUP BY 1, 2
), grid AS (
  SELECT cohort, event_type FROM rc
  UNION
  SELECT cohort, event_type FROM cc
), counts AS (
  SELECT g.cohort, g.event_type,
         coalesce(rc.r_cnt, 0) AS r_cnt, coalesce(cc.c_cnt, 0) AS c_cnt
  FROM grid g
  LEFT JOIN rc ON g.cohort = rc.cohort AND g.event_type = rc.event_type
  LEFT JOIN cc ON g.cohort = cc.cohort AND g.event_type = cc.event_type
), totals AS (
  SELECT cohort,
         CAST(sum(r_cnt) AS BIGINT) AS n_ref,
         CAST(sum(c_cnt) AS BIGINT) AS n_cur,
         count(*) AS n_cat
  FROM counts GROUP BY 1
), terms AS (
  SELECT c.cohort, t.n_ref, t.n_cur,
         (c.r_cnt + 0.5) / (t.n_ref + 0.5 * t.n_cat) AS p,
         (c.c_cnt + 0.5) / (t.n_cur + 0.5 * t.n_cat) AS q
  FROM counts c JOIN totals t USING (cohort)
)
SELECT cohort,
       CAST(round(sum(CAST(0.5 * p * ln(p / ((p + q) / 2.0))
                           + 0.5 * q * ln(q / ((p + q) / 2.0))
                           AS DECIMAL(25,15))), 6) AS DOUBLE) AS jsd,
       n_ref, n_cur
FROM terms
GROUP BY 1, 3, 4
""",
}

QUERIES: dict = {}

QUERIES_TAIL = {
    "q_drift_psi": q_drift_psi,
    "q_drift_categorical": q_drift_categorical,
}
