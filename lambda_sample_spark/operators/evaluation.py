"""Model evaluation as scale operators — the readout stage after the
classifier family (X49): a threshold-sweep confusion census (the ROC
curve's points) and EXACT AUC via the Mann-Whitney U statistic, both
relational, one corpus pass each, DuckDB-replayable.

Why an operator and not a notebook: at corpus scale the scored frame
is billions of rows — the evaluation has to be a distributed
aggregate, not a collect into sklearn. The confusion census is one
partial-aggregated pass (each scored row meets the broadcast
threshold grid, combiners reduce to |grid| rows per partition); the
AUC collapses to DISTINCT SCORE LEVELS first (scores are 6dp-rounded,
so levels ≪ rows; at extreme scale bin scores coarser — the A8
percentile_approx argument), then one window over the level table:

    AUC = Σ_levels n1(s)·(cum_n0_below(s) + ½·n0(s)) / (N1·N0)

— the ties-aware Mann-Whitney identity (equal scores count half), so
the result is EXACT, not a trapezoid over grid points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

THRESHOLDS = [float(t) for t in range(-10, 11)]  # the contract grid


def confusion_grid(
    scored: DataFrame,
    thresholds: list[float] = THRESHOLDS,
    score_col: str = "logodds",
    label_col: str = "is_en",
) -> DataFrame:
    """One row per threshold: tp/fp/tn/fn and tpr/fpr (6dp) of the
    decision ``score > thr`` against the 0/1 ``label_col``. Each
    scored row joins the broadcast |grid|-row frame and partial
    aggregation reduces map-side — one corpus pass."""
    spark = scored.sparkSession
    grid = spark.createDataFrame(
        [(float(t),) for t in thresholds], "thr double"
    )
    pos = F.col(label_col) == 1
    dec = F.col(score_col) > F.col("thr")
    cells = (
        scored.select(score_col, label_col)
        .crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum((dec & pos).cast("int")).cast("bigint").alias("tp"),
            F.sum((dec & ~pos).cast("int")).cast("bigint").alias("fp"),
            F.sum((~dec & ~pos).cast("int")).cast("bigint").alias("tn"),
            F.sum((~dec & pos).cast("int")).cast("bigint").alias("fn"),
        )
    )
    return cells.select(
        "thr",
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")), 6).alias("tpr"),
        F.round(F.col("fp") / (F.col("fp") + F.col("tn")), 6).alias("fpr"),
    )


def auc_exact(
    scored: DataFrame,
    score_col: str = "logodds",
    label_col: str = "is_en",
) -> DataFrame:
    """1-row frame with the exact ties-aware AUC (Mann-Whitney). The
    window runs over distinct score LEVELS (single-partition by
    design — the level table is census-sized, not corpus-sized; the
    same argument as temperature_shares' denominator window)."""
    pos = (F.col(label_col) == 1).cast("int")
    levels = scored.groupBy(score_col).agg(
        F.sum(pos).alias("n1"), F.sum(1 - pos).alias("n0")
    )
    w = Window.orderBy(score_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum0 = F.coalesce(F.sum("n0").over(w), F.lit(0))
    terms = levels.select(
        (
            F.col("n1") * (cum0 + 0.5 * F.col("n0"))
        ).cast("decimal(38,1)").alias("u_term"),
        "n1",
        "n0",
    )
    return terms.agg(
        F.round(
            F.sum("u_term").cast("double")
            / (F.sum("n1") * F.sum("n0")),
            6,
        ).alias("auc")
    )


def calibration_census(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "logodds",
    label_col: str = "is_en",
) -> DataFrame:
    """Reliability-diagram census: sigmoid the log-odds into a
    predicted probability, bin into ``n_bins`` equal-width buckets
    (floor, top edge clamped into the last bin), and report per bin
    the count, the mean predicted probability, and the observed
    positive rate — a calibrated model's two last columns track each
    other. One partial-aggregated pass; floor() written explicitly on
    both engines (the playbook cast rule), the mean's accumulation
    decimal-cast per term."""
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(score_col)))
    bin_ = F.least(
        F.floor(prob * n_bins).cast("bigint"), F.lit(n_bins - 1)
    )
    pos = (F.col(label_col) == 1).cast("int")
    return (
        scored.select(prob.alias("p"), pos.alias("y"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("p").cast("decimal(25,15)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_prob"),
            F.round(F.sum("y") / F.count("*"), 6).alias("frac_pos"),
        )
    )


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): the evaluation readout of the NB
    quality classifier — the 21-threshold confusion census over
    q_nb_quality's scored frame, with the exact Mann-Whitney AUC as a
    constant column (one row shape; DuckDB replays the whole chain
    including the trained model via the q_nb_quality oracle as a CTE).
    Readout worth reading: the sweep runs over ALL docs (train split
    included), so AUC lands ~0.875 — the model RANKS its own training
    split well — while held-out hard decisions are chance
    (classifier.py's honesty note: the label has no learnable signal).
    That train/test gap is exactly what this readout exists to expose;
    the planted-corpus tests certify it reports real separation as
    real."""
    scored = _staged_scores(spark, sf_dir)
    grid = confusion_grid(scored)
    return grid.crossJoin(F.broadcast(auc_exact(scored)))


def _staged_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (logodds, is_en) frame staged to deterministic scratch
    parquet (the ccnet idiom — localCheckpoint would leave
    persistent-RDD residue the no-cache-leak test rightly rejects).
    The frame is a pure function of sf_dir, so BOTH evaluation rows
    share one staging: build only when the committed marker is absent
    (review catch — the first cut re-ran the full NB train+score chain
    once per row, tripling the family's wall for identical bytes).
    The cache key includes the Spark applicationId, so reuse is scoped
    to ONE session — a stale /tmp artifact from an older code version
    can never poison a fresh process. The staging is removed when the
    process exits: its key dies with the session."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .classifier import q_nb_quality

    tag = hashlib.md5(
        (spark.sparkContext.applicationId + "|" + os.path.abspath(sf_dir))
        .encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"lss_nbeval_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        q_nb_quality(spark, sf_dir).select("logodds", "is_en").write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): the reliability census over the same
    staged scored frame (10 equal-width probability bins; sigmoid /
    floor / decimal-mean seams replayed by DuckDB). On this corpus the
    model is visibly over-confident out of distribution — another
    readout the census exists to show."""
    return calibration_census(_staged_scores(spark, sf_dir))


def _eval_oracle() -> str:
    from .classifier import _NB_ORACLE

    thr_list = ", ".join(
        f"CAST({t:.1f} AS DOUBLE)" for t in THRESHOLDS
    )
    return rf"""
WITH scored_full AS ({_NB_ORACLE}),
scored AS (SELECT logodds, is_en FROM scored_full),
grid AS (SELECT unnest([{thr_list}]) AS thr),
cells AS (
  SELECT g.thr,
         CAST(sum(CASE WHEN s.logodds > g.thr AND s.is_en = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s.logodds > g.thr AND s.is_en = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN NOT s.logodds > g.thr AND s.is_en = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         CAST(sum(CASE WHEN NOT s.logodds > g.thr AND s.is_en = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM scored s, grid g
  GROUP BY 1
),
levels AS (
  SELECT logodds,
         sum(CASE WHEN is_en = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN is_en = 0 THEN 1 ELSE 0 END) AS n0
  FROM scored GROUP BY 1
),
terms AS (
  SELECT CAST(n1 * (COALESCE(sum(n0) OVER (
               ORDER BY logodds
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + 0.5 * n0) AS DECIMAL(38,1)) AS u_term,
         n1, n0
  FROM levels
),
auc AS (
  SELECT round(CAST(sum(u_term) AS DOUBLE) / (sum(n1) * sum(n0)), 6)
           AS auc
  FROM terms
)
SELECT c.thr, c.tp, c.fp, c.tn, c.fn,
       round(CAST(c.tp AS DOUBLE) / (c.tp + c.fn), 6) AS tpr,
       round(CAST(c.fp AS DOUBLE) / (c.fp + c.tn), 6) AS fpr,
       a.auc
FROM cells c, auc a
"""


def _calibration_oracle() -> str:
    from .classifier import _NB_ORACLE

    return rf"""
WITH scored_full AS ({_NB_ORACLE}),
binned AS (
  SELECT 1.0 / (1.0 + exp(-logodds)) AS p,
         CASE WHEN is_en = 1 THEN 1 ELSE 0 END AS y,
         least(CAST(floor((1.0 / (1.0 + exp(-logodds))) * 10) AS BIGINT),
               9) AS bin
  FROM scored_full
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(CAST(p AS DECIMAL(25,15))) AS DOUBLE)
             / count(*), 6) AS mean_prob,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
FROM binned GROUP BY 1
"""


QUERIES: dict = {}
QUERIES_TAIL = {
    "q_classifier_eval": q_classifier_eval,
    "q_calibration": q_calibration,
}
ORACLE = {
    "q_classifier_eval": _eval_oracle(),
    "q_calibration": _calibration_oracle(),
}
