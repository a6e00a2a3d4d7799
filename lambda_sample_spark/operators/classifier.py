"""Model-based quality classifier (fastText family, Joulin et al.
2017 — the "Wikipedia-reference classifier" stage of CCNet / LLaMA-1
curation): hash word n-grams into B buckets, train a linear model over
the bag of buckets on a LABELED TRAIN SPLIT, persist the bounded
weight table as a model artifact, then score unseen documents with a
broadcast join and keep what the model accepts.

Two trainers share one feature seam (dsir._bucketed_grams — hashed
n-gram occurrences, md5 oracle seam / xxhash64 production):

- ``train_nb`` — multinomial Naive Bayes in closed count form. The
  NB decision function IS a linear model over the bag of buckets
  (log-odds = prior + Σ per-bucket log-likelihood ratios), and the
  count form is fully relational and deterministic, so the ENTIRE
  train→persist→score pipeline replays cell-exactly in DuckDB — the
  contract row ``q_nb_quality`` checks the trained weights through to
  the held-out hard decisions.
- ``train_lr`` — MLlib LogisticRegression over the SAME hashed bag
  (the literal fastText shape: hashing trick + linear model +
  sigmoid). LBFGS float reduction order is partition-dependent, so it
  is rows-only by nature and pinned in tests by held-out AUC and a
  save/load round-trip instead of an oracle.

Distinct from DSIR (dsir.py): DSIR fits importance WEIGHTS of
target-vs-raw on the full corpus to resample it; this is a supervised
TRAIN/APPLY pipeline — disjoint class censuses on a train split, a
class prior, an unseen-bucket default, a persistable model artifact,
and a hard accept/reject on held-out documents. In a real pipeline
DSIR reweights the keep-set that this classifier (and the rule packs)
first defines.

100 TB design: training is two corpus passes (the doc-count prior scan
and the gram census groupBy, both map-side combined into ≤B+1 rows);
the model is bounded by construction (B weight rows + 1 consts row)
and broadcasts; scoring is scan → hash grams → per-(doc,bucket) count
→ broadcast weight join → per-doc sum, i.e. ONE corpus shuffle (the
narrow (doc,bucket) census) exactly like dsir_scores' scoring pass.
Nothing depends on corpus size except linear scans.

Reference tie-in: the reference has no learned text filter; this row
belongs to the north-star extension surface (SURVEY §2.8) next to
X20 (DSIR) and the ccnet.py perplexity stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import documents, fan_out, r6z, stage
from .dsir import _bucketed_grams

GRAM_N = 2  # word bigrams — the fastText default feature unit
N_BUCKETS = 1024


def train_nb(
    train_docs: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
    gram_hash: str = "xxhash64",
    materialize=None,
) -> tuple[DataFrame, DataFrame]:
    """Multinomial NB over hashed n-gram bags. ``label`` is a boolean
    Column over ``train_docs`` (True = positive / keep class).

    Returns ``(weights, consts)`` — the model artifact:

    - ``weights(bucket, w)``: per-bucket log-likelihood ratio
      ``ln((c1+1)/(t1+B)) − ln((c0+1)/(t0+B))`` (add-one smoothing
      over the B-bucket event space). ≤ B rows by construction.
    - ``consts(bias, w_def)``: the doc-count class prior
      ``ln((n1+1)/(n0+1))`` and the unseen-bucket default
      ``ln((t0+B)/(t1+B))`` (what the ratio formula yields at
      c1=c0=0, written as the two-log difference so both engines run
      the identical float ops). 1 row.

    Deterministic: counts are exact longs, the log-ratio arithmetic is
    the same IEEE ops in Spark and DuckDB. Persist both frames
    (parquet) to get a model artifact scoring can broadcast later —
    the contract row does exactly that.

    ``materialize``, if given, is ``fn(df, name) -> df`` applied to
    the ≤B-row gram census: weights AND consts both descend from it,
    so without a cut each one re-runs the corpus gram pass (measured
    2× at the 10× rung); the ccnet idiom. Callers that persist the
    returned frames separately should pass it.
    """
    census, priors = nb_census(
        train_docs, label, id_col, text_col, n, n_buckets, gram_hash
    )
    if materialize is not None:
        census = materialize(census, "nb_census")
    return nb_derive(census, priors, n_buckets)


def nb_census(
    train_docs: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
    gram_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The model's SUFFICIENT STATISTICS: the per-bucket class gram
    census ``(bucket, c1, c0)`` (≤ B rows) and the doc-count prior
    census ``(n1, n0)`` (1 row). Exact integers, so two censuses over
    disjoint batches MERGE by addition into exactly the full-corpus
    census — the property :func:`nb_update` builds on."""
    # the gram hash is CPU-bound (interpreted HOF over the token
    # array): a few-file input would leave the whole pass on a couple
    # of cores — fan under-partitioned inputs out first (the dsir
    # gate; no-op on real multi-split sources). With the census cut in
    # train_nb, the full train+persist+score rung at 50k docs (read as
    # 2 partitions) measured 75.7s → 9.2s.
    train_docs = fan_out(train_docs)
    lab = train_docs.select(
        F.col(id_col), label.cast("boolean").alias("__pos"), text_col
    )
    grams = _bucketed_grams(
        lab, id_col, text_col, n, n_buckets, gram_hash, carry_cols=("__pos",)
    )
    census = grams.groupBy("bucket").agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(~F.col("__pos"), 1).otherwise(0)).alias("c0"),
    )
    priors = lab.agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(~F.col("__pos"), 1).otherwise(0)).alias("n0"),
    )
    return census, priors


def nb_merge_census(
    a: tuple[DataFrame, DataFrame], b: tuple[DataFrame, DataFrame]
) -> tuple[DataFrame, DataFrame]:
    """Merge two (census, priors) pairs by exact integer addition —
    censuses over disjoint batches compose into the full-corpus
    census, so the merged-then-derived model EQUALS full retraining
    bit-for-bit (pinned in tests)."""
    census = (
        a[0].unionByName(b[0])
        .groupBy("bucket")
        .agg(F.sum("c1").alias("c1"), F.sum("c0").alias("c0"))
    )
    priors = (
        a[1].unionByName(b[1])
        .agg(F.sum("n1").alias("n1"), F.sum("n0").alias("n0"))
    )
    return census, priors


def nb_derive(
    census: DataFrame, priors: DataFrame, n_buckets: int = N_BUCKETS
) -> tuple[DataFrame, DataFrame]:
    """Derive (weights, consts) from the sufficient statistics — pure
    arithmetic over the bounded census, identical IEEE ops in both
    engines (the expressions the oracle replays)."""
    totals = census.agg(
        F.sum("c1").alias("t1"), F.sum("c0").alias("t0")
    )
    b = F.lit(float(n_buckets))
    weights = census.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("c1") + 1) / (F.col("t1") + b))
            - F.log((F.col("c0") + 1) / (F.col("t0") + b))
        ).alias("w"),
    )
    consts = totals.crossJoin(priors).select(
        F.log((F.col("n1") + 1) / (F.col("n0") + 1)).alias("bias"),
        (
            F.log(F.lit(1.0) / (F.col("t1") + b))
            - F.log(F.lit(1.0) / (F.col("t0") + b))
        ).alias("w_def"),
    )
    return weights, consts


def score_nb(
    docs: DataFrame,
    weights: DataFrame,
    consts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
    gram_hash: str = "xxhash64",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score ``docs`` under a trained NB model: one row per doc with

    - ``n_grams``  — gram occurrences (bag size),
    - ``logodds``  — ``bias + Σ cnt·w(bucket)``, exact-decimal summed
      per (doc,bucket) term then rounded 6dp,
    - ``pred``     — the hard decision ``logodds > 0`` as BIGINT
      (computed on the UNrounded double so the oracle's comparison
      replays bit-for-bit).

    Plan: grams → per-(doc,bucket) count (the one corpus shuffle,
    dsir_scores' shape) → LEFT broadcast join on the ≤B-row weight
    table (miss ⇒ ``w_def``) → per-doc sum. The model side never
    shuffles.
    """
    # fan-out gate for the CPU-bound gram pass (see nb_census)
    docs = fan_out(docs)
    grams = _bucketed_grams(
        docs, id_col, text_col, n, n_buckets, gram_hash, carry_cols=extra_cols
    )
    db = grams.groupBy(id_col, *extra_cols, "bucket").agg(
        F.count("*").alias("cnt")
    )
    lp = F.col("cnt") * F.coalesce(F.col("w"), F.col("w_def"))
    perdoc = (
        db.join(F.broadcast(weights), "bucket", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col, *extra_cols)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.sum(lp.cast("decimal(25,15)")).cast("double").alias("__raw"),
            F.first("bias").alias("__bias"),
        )
    )
    score = F.col("__bias") + F.col("__raw")
    return perdoc.select(
        id_col,
        *extra_cols,
        "n_grams",
        r6z(score).alias("logodds"),
        (score > 0).cast("bigint").alias("pred"),
    )


def nb_commit(
    spark: SparkSession,
    model_dir: str,
    census: DataFrame,
    priors: DataFrame,
    n_buckets: int = N_BUCKETS,
    meta: str | None = None,
    keep: int = 8,
) -> int:
    """Commit a model version: the sufficient statistics AND the
    derived scoring tables, all four under ONE model-level pointer
    (``{model_dir}/v=<n>/{census,priors,weights,consts}`` +
    ``{model_dir}/_VERSION``). A single atomic swap publishes the four
    tables together — per-table pointers would let a crash between
    swaps serve NEW weights with OLD consts, a torn model the reader
    cannot detect. A crash anywhere before the swap leaves the old
    version served intact; the retry recomputes the same version
    number and overwrites the orphan dir. ``meta`` rides inside the
    commit (warehouse.version_meta) for streaming replay checks.
    Returns the committed version."""
    from ..sources.warehouse import (
        _commit_pointer,
        _write_version_meta,
        current_version,
        vacuum_versions,
        versioned_path,
    )
    from .graph import unpersist_checkpoint

    import os

    # census/priors each feed TWO consumers (their own committed copy
    # + the derived tables): localCheckpoint cuts the batch gram pass
    # to one run; released via unpersist_checkpoint (plain unpersist()
    # is a silent no-op for checkpoint frames — graph.py:43)
    census = census.localCheckpoint(eager=True)
    try:
        priors = priors.localCheckpoint(eager=True)
        try:
            weights, consts = nb_derive(census, priors, n_buckets)
            os.makedirs(model_dir, exist_ok=True)
            v = (current_version(model_dir) or 0) + 1
            vdir = versioned_path(model_dir, v)
            # overwrite clears any orphan a pre-swap crash left behind
            census.write.mode("overwrite").parquet(f"{vdir}/census")
            priors.write.mode("overwrite").parquet(f"{vdir}/priors")
            weights.write.mode("overwrite").parquet(f"{vdir}/weights")
            consts.write.mode("overwrite").parquet(f"{vdir}/consts")
            if meta is not None:
                _write_version_meta(model_dir, v, meta)
            _commit_pointer(model_dir, v)
            vacuum_versions(model_dir, keep=keep)
            return v
        finally:
            unpersist_checkpoint(priors)
    finally:
        unpersist_checkpoint(census)


def nb_update(
    spark: SparkSession,
    model_dir: str,
    new_docs: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
    gram_hash: str = "xxhash64",
) -> None:
    """Steady-state model refresh (the X14 incremental story applied
    to the classifier): census the NEW batch only, merge into the
    persisted sufficient statistics by exact integer addition, commit
    the next version. Incrementally-updated model ≡ full retrain over
    everything ever ingested, bit-for-bit (integer counts → identical
    derived doubles; pinned in tests). The batch is the only thing
    scanned — yesterday's corpus never re-reads. Caller discipline:
    (n, n_buckets, gram_hash) must match the committed model's
    (document them with the model dir)."""
    old = load_nb_stats(spark, model_dir)
    new = nb_census(
        new_docs, label, id_col, text_col, n, n_buckets, gram_hash
    )
    census, priors = nb_merge_census(old, new)
    return nb_commit(spark, model_dir, census, priors, n_buckets)


def _model_vdir(model_dir: str) -> str:
    """Resolve the current model version's directory (one pointer read
    — every table then comes from the SAME consistent snapshot)."""
    from ..sources.warehouse import current_version, versioned_path

    v = current_version(model_dir)
    if v is None:
        raise FileNotFoundError(f"no committed model under {model_dir}")
    return versioned_path(model_dir, v)


def has_nb_model(model_dir: str) -> bool:
    """True iff ``model_dir`` holds a loadable model in ANY supported
    layout — the check callers (e.g. the nightly workflow's
    fresh-vs-refresh branch) must use instead of a bare
    ``current_version(model_dir)``: the pointer test alone reports a
    legacy per-table layout as 'no model', silently discarding the
    accumulated census by retraining from one night's batch."""
    import os

    from ..sources.warehouse import current_version

    return (
        current_version(model_dir) is not None
        or current_version(os.path.join(model_dir, "census")) is not None
        or os.path.isdir(os.path.join(model_dir, "census"))
    )


def load_nb_stats(
    spark: SparkSession, model_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read the current (census, priors) sufficient statistics — the
    frames :func:`nb_update` merges into. Same three-tier layout
    fallback as :func:`load_nb_model` (model-level pointer, legacy
    per-table versioned dirs, plain parquet dirs): the update path
    previously knew only the newest layout, so refreshing a model
    committed under the legacy layout raised — or worse, a caller
    branching on ``current_version`` silently retrained from scratch.
    The next :func:`nb_commit` migrates the model to the model-level
    pointer layout, so the fallback pays once per legacy model."""
    from ..sources.warehouse import current_version, read_versioned

    if current_version(model_dir) is not None:
        vdir = _model_vdir(model_dir)
        return (
            spark.read.parquet(f"{vdir}/census"),
            spark.read.parquet(f"{vdir}/priors"),
        )
    if current_version(f"{model_dir}/census") is not None:
        return (
            read_versioned(spark, f"{model_dir}/census"),
            read_versioned(spark, f"{model_dir}/priors"),
        )
    return (
        spark.read.parquet(f"{model_dir}/census"),
        spark.read.parquet(f"{model_dir}/priors"),
    )


def load_nb_model(
    spark: SparkSession, model_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Read the current (weights, consts) version — the frames
    :func:`score_nb` takes. Resolves the model-level pointer ONCE, so
    both frames come from the same committed snapshot (never a torn
    weights/consts pair). Falls back to the legacy per-table layout,
    then to plain parquet dirs (the contract row's scratch staging)."""
    from ..sources.warehouse import current_version, read_versioned

    if current_version(model_dir) is not None:
        vdir = _model_vdir(model_dir)
        return (
            spark.read.parquet(f"{vdir}/weights"),
            spark.read.parquet(f"{vdir}/consts"),
        )
    if current_version(f"{model_dir}/weights") is not None:
        return (
            read_versioned(spark, f"{model_dir}/weights"),
            read_versioned(spark, f"{model_dir}/consts"),
        )
    return (
        spark.read.parquet(f"{model_dir}/weights"),
        spark.read.parquet(f"{model_dir}/consts"),
    )


def bag_vectors(
    docs: DataFrame,
    label=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Hashed bag-of-n-grams as an MLlib ``features`` vector column
    (plus ``y`` when ``label`` is given) — all JVM-native (no Python
    UDF): per-(doc,bucket) counts pivot into a dense B-array via
    map_from_entries + a sequence transform, then
    ``pyspark.ml.functions.array_to_vector``. A dense B=1024 vector
    per doc is the TEST-scale shape; at corpus scale keep it sparse by
    assembling SparseVectors in a mapInPandas pass (self-contained
    closure — the playbook seam) or raise B and rely on MLlib's
    sparse-aware aggregators."""
    from pyspark.ml.functions import array_to_vector

    carry: tuple[str, ...] = ()
    if label is not None:
        docs = docs.select(
            F.col(id_col), label.cast("double").alias("y"), text_col
        )
        carry = ("y",)
    grams = _bucketed_grams(
        docs, id_col, text_col, n, n_buckets, "xxhash64", carry_cols=carry
    )
    db = grams.groupBy(id_col, *carry, "bucket").agg(
        F.count("*").cast("double").alias("cnt")
    )
    bag = db.groupBy(id_col, *carry).agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "cnt"))
        ).alias("m")
    )
    # element_at on a MAP is lookup BY KEY (bucket id), not 1-based
    # position — the first cut used i+1 (array semantics) and silently
    # dropped bucket 0 while shifting every other bucket's count into
    # the wrong slot (review catch, empirically confirmed); the key
    # must also be cast to the map's bigint key type or the lookup
    # misses entirely
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.element_at("m", i.cast("bigint")), F.lit(0.0)
        ),
    )
    return bag.select(
        id_col, *carry, array_to_vector(dense).alias("features")
    )


def train_lr(
    train_docs: DataFrame,
    label,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = GRAM_N,
    n_buckets: int = N_BUCKETS,
    reg_param: float = 0.01,
    max_iter: int = 50,
):
    """MLlib LogisticRegression over the same hashed bag — the literal
    fastText supervised shape (hashing trick + linear model + sigmoid).
    Returns the fitted ``LogisticRegressionModel``. Training is
    rows-only by nature (LBFGS treeAggregate reduction order), so the
    tests pin held-out AUC and a save/load round-trip instead of an
    oracle; score new docs with ``model.transform(bag_vectors(...))``.
    """
    from pyspark.ml.classification import LogisticRegression

    feats = bag_vectors(
        train_docs, label, id_col, text_col, n, n_buckets
    )
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="y",
        regParam=reg_param,
        maxIter=max_iter,
    )
    return lr.fit(feats)


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): the full supervised pipeline — train
    NB on the doc_id % 10 < 8 split with the English slice as the
    positive class, persist the model artifact, score EVERY document,
    emit the hard decision. md5 oracle seam; DuckDB replays census →
    smoothing → weights → per-doc sums → decisions cell-exactly.

    Honesty note: the driver's synthetic corpus draws every language
    from ONE shared vocabulary (measured per-lang unigram ratios are
    1.2-1.4x, i.e. sampling noise), so no classifier can beat chance
    on this label — the row certifies the TRAIN→PERSIST→SCORE
    machinery cell-for-cell, not accuracy. Model quality is pinned in
    tests/test_classifier.py on a planted separable corpus (held-out
    accuracy >= 0.9 NB, AUC >= 0.95 LR); production swaps in
    curated-vs-web labels.

    Model tables are staged through deterministic per-sf_dir scratch
    parquet (the ccnet idiom): weights and consts both descend from
    the gram census, and totals feeds both — without the cut the lazy
    plan re-runs the corpus census once per consumer; persisting the
    trained model is also precisely the production artifact shape.
    """
    docs = documents(spark, sf_dir).select("doc_id", "lang", "text")

    def mat(df: DataFrame, name: str) -> DataFrame:
        return stage(df, sf_dir, "nbq", name)

    weights, consts = train_nb(
        docs.where(F.col("doc_id") % 10 < 8),
        F.col("lang") == "en",
        gram_hash="md5",
        materialize=mat,
    )
    weights, consts = mat(weights, "weights"), mat(consts, "consts")
    scored = score_nb(
        docs, weights, consts, gram_hash="md5", extra_cols=("lang",)
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_grams",
        "logodds",
        "pred",
        (F.col("lang") == "en").cast("bigint").alias("is_en"),
    )


_NB_ORACLE = rf"""
WITH toks AS (
  SELECT doc_id, lang, doc_id % 10 < 8 AS is_train, lang = 'en' AS pos,
         regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang, is_train, pos,
         unnest(list_transform(
           range(1, greatest(len(t) - {GRAM_N}, 0) + 2),
           i -> (('0x' || substr(md5(array_to_string(
                   list_slice(t, i, i + {GRAM_N} - 1), ' ')), 1, 8))::BIGINT)
                % {N_BUCKETS}
         )) AS bucket
  FROM toks
),
cnts AS (
  SELECT bucket,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS c0
  FROM grams WHERE is_train GROUP BY 1
),
totals AS (SELECT sum(c1) AS t1, sum(c0) AS t0 FROM cnts),
priors AS (
  SELECT sum(CASE WHEN pos THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN NOT pos THEN 1 ELSE 0 END) AS n0
  FROM toks WHERE is_train
),
weights AS (
  SELECT bucket,
         ln((c1 + 1) / (t1 + {N_BUCKETS}.0))
           - ln((c0 + 1) / (t0 + {N_BUCKETS}.0)) AS w
  FROM cnts, totals
),
consts AS (
  SELECT ln((n1 + 1) / (n0 + 1.0)) AS bias,
         ln(CAST(1.0 AS DOUBLE) / (t1 + {N_BUCKETS}.0))
           - ln(CAST(1.0 AS DOUBLE) / (t0 + {N_BUCKETS}.0)) AS w_def
  FROM totals, priors
),
db AS (
  SELECT doc_id, lang, bucket, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.doc_id, d.lang,
         CAST(sum(d.cnt) AS BIGINT) AS n_grams,
         CAST(sum(CAST(d.cnt * COALESCE(w.w, c.w_def)
                       AS DECIMAL(25,15))) AS DOUBLE) AS raw,
         max(c.bias) AS bias
  FROM db d
  LEFT JOIN weights w USING (bucket)
  CROSS JOIN consts c
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_grams,
       round(bias + raw, 6) + CAST(0.0 AS DOUBLE) AS logodds,
       CAST((bias + raw) > 0 AS BIGINT) AS pred,
       CAST(lang = 'en' AS BIGINT) AS is_en
FROM scored
"""

QUERIES: dict = {}
QUERIES_TAIL = {"q_nb_quality": q_nb_quality}
ORACLE = {"q_nb_quality": _NB_ORACLE}
