"""Deduplication operators for training-data pipelines (SURVEY.md §2.8
X1/X2 + north star): exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design:
  - exact dedup: hash-groupBy on the text (one shuffle keyed by
    content; at 100 TB group by md5(text) so the shuffle key is 16
    bytes, not the document).
  - n-gram Jaccard: EXACT pairwise similarity via set-collapse (dedupe
    identical token sets before any quadratic work) + PPJoin prefix
    filtering over distinct sets + array_intersect verification.
  - MinHash banding: hand-rolled 8x8 banded minhash + min-propagation
    clustering — linear, no pair join ever materializes (the
    approximate 100 TB path when even exact pair output is too big).
  - SimHash: 64-bit signature via xxhash64(token) bit-voting — one
    groupBy with 64 conditional-sum aggregates, no bit explode;
    near-dups differ in few bits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import documents, r6, stage

JACCARD_THRESHOLD = 0.95


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup — keep the lowest doc_id per identical text."""
    docs = documents(spark, sf_dir)
    return (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dups"))
        .select(F.md5("text").alias("text_hash"), "doc_id", "n_dups")
    )


def dedup_exact_keep_first(docs: DataFrame) -> DataFrame:
    """Row-preserving exact dedup over an arbitrary (doc_id, text, ...)
    frame: keep the lowest-doc_id copy of each distinct text WITH all
    its other columns (16-byte md5 shuffle keys, never the bodies
    twice). The contract query ``dedup_exact`` returns the aggregated
    (text_hash, doc_id, n_dups) shape; pipelines that need the
    surviving ROWS (examples/pretrain_pipeline.py stage 2) use this.

    NULL texts pass through UNCHANGED: md5(NULL) is NULL, so without
    the guard every NULL-text row would land in one window partition
    and collapse to a single survivor — surprising general-purpose
    semantics (round-7 advice), since NULL = "no text", not "the same
    text". Callers that want NULLs gone should filter them (the
    example pipeline's quality gate does)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    withtext = docs.where(F.col("text").isNotNull())
    return (
        withtext.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .unionByName(docs.where(F.col("text").isNull()))
    )


def _distinct_tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+"))).alias("tok"),
    )


def _ngram_sets(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Level-1 set collapse for ngram_jaccard: the doc -> set_key
    membership frame and the distinct-set ``groups`` table (rep doc,
    sorted token array, size). Split out so the scale-stress test can
    feed ``_ppjoin_candidates`` directly."""
    toks = _distinct_tokens(docs)
    sets = (
        toks.groupBy("doc_id", "lang")
        .agg(F.sort_array(F.collect_set("tok")).alias("tokset"))
        .withColumn(
            "set_key",
            F.struct(
                F.xxhash64("tokset").alias("h1"),
                F.xxhash64(F.col("tokset"), F.lit(1)).alias("h2"),
            ),
        )
    )
    membership = sets.select("doc_id", "lang", "set_key")
    groups = (
        sets.groupBy("lang", "set_key")
        .agg(
            F.min("doc_id").alias("rep"),
            F.first("tokset").alias("tokset"),
            F.count("*").alias("n_docs"),
        )
        .withColumn("sz", F.size("tokset"))
    )
    return membership, groups


def _ppjoin_candidates(
    groups: DataFrame, t: float = JACCARD_THRESHOLD
) -> DataFrame:
    """PPJoin candidate set-pairs over distinct sets big enough to
    qualify while differing by >= 2 tokens: both sides must reach
    big_min_sz (derived from |A △ B| <= (1-t)/(1+t) * (|A|+|B|)).
    Exposed so the scale-stress test can count candidates directly —
    the prefix filter's promise is candidates ~ true-pair-bounded, not
    corpus-quadratic."""
    b_min = math.ceil(2.0 * (1.0 + t) / (1.0 - t) / (1.0 + t))
    big_min_sz = math.ceil(t * b_min)
    bigs = groups.where(F.col("sz") >= big_min_sz)
    gtoks = bigs.select(
        "lang", "set_key", "rep", "sz", F.explode("tokset").alias("tok")
    )
    dfreq = gtoks.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("lang", "set_key").orderBy("df", "tok")
    prefix = (
        gtoks.join(dfreq, "tok")  # no hint: vocabulary grows with corpus; AQE broadcasts while small
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1)
        .select("lang", "set_key", "rep", "sz", "tok")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.rep") < F.col("b.rep"))
            # size compatibility: J >= t forces t*|A| <= |B| <= |A|/t
            & (F.col("b.sz") >= F.lit(t) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(t) * F.col("b.sz")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("a.set_key").alias("k1"),
            F.col("b.set_key").alias("k2"),
        )
        .distinct()
    )


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard similarity >= 0.95 between same-language
    pairs — EXACT result via set-collapse + prefix filtering (PPJoin).

    Three-level adaptive design (each level exact; each kicks in only
    where the previous can't apply — the 100 TB-safe exact variant).
    Prefix filtering follows PPJoin (Xiao et al., WWW 2008); the
    deletion-signature level applies deletion neighborhoods (cf.
    PassJoin, PVLDB 2012) to the regime where the Jaccard threshold
    caps the symmetric difference at one token:

    1. **Collapse identical token SETS first.** Docs sharing a token
       set are J=1.0 pairs by construction; everything below runs over
       DISTINCT sets only. On a heavily-duplicated corpus this shrinks
       the universe before any join; on an all-unique corpus it costs
       one extra hash aggregate.
    2. **Deletion-signature join for small sets.** For J(A,B) >= t the
       symmetric difference |A △ B| <= (1-t)/(1+t) * (|A|+|B|), so
       whenever |A|+|B| < 2(1+t)/(1-t) (= 78 at t=0.95) a qualifying
       non-identical pair differs by EXACTLY one token: B = A + {x}.
       Those pairs are found by an equi-join of each set's delete-one
       signatures against full-set signatures — linear in total
       tokens, no candidate explosion, immune to hot-vocabulary skew
       (the failure mode of prefix filtering on small-vocab corpora).
    3. **PPJoin for big sets.** Only pairs with both sides past the
       size bound (sz >= ceil(t * ceil(2(1+t)/(1-t) / (1+t)))) can
       qualify while differing by >= 2 tokens; for those the classic
       prefix filter applies — if J(A,B) >= t, the rarest
       |X| - ceil(t*|X|) + 1 tokens of each set under a global
       (set-frequency, token) order must intersect — followed by
       size-compatibility pruning and one ``array_intersect``
       verification per candidate. Long documents have long tails of
       rare tokens, exactly where prefix filtering is strong.
    4. **Expand back to doc pairs** by joining set-pair verdicts to
       the (doc -> set) membership table — output-bound, the
       irreducible cost of a pair-listing operator.

    No per-document table is ever broadcast; every join is keyed and
    shuffle-safe, and AQE may broadcast the small sides at small SF.

    Set identity is a 128-bit signature: two independent-seed
    ``xxhash64`` hashes of the sorted token array, JVM codegen all the
    way — no string serialization and no crypto hash in the hot loop.
    One 64-bit hash would birthday-collide at 100 TB deletion-key
    counts (~1e11 keys => hundreds of expected collisions => wrong
    J=1.0 pairs); two seeds put collisions at ~1e-17.

    The shared aggregate subtrees (sets, groups) stay lazy although
    the plan re-derives them 11-scans/23-exchanges wide: the sf1 A/B
    measured a scratch-staged copy 1.37x SLOWER at sf1 (7.79->10.70 s;
    +0.39 s at sf0.1 too) — the lazy re-derivations run as parallel
    stages over page-cached input while the two scratch writes
    serialize the whole row.
    """
    t = JACCARD_THRESHOLD
    docs = documents(spark, sf_dir)
    membership, groups = _ngram_sets(docs)

    # 2. identical-set pairs are (k, k) set pairs with J = 1.0 — they
    # ride the same doc-pair expansion as the verified pairs below
    # (one join tree instead of a separate membership self-join)
    self_pairs = (
        groups.where(F.col("n_docs") >= 2)
        .select(
            "lang",
            F.col("set_key").alias("k1"),
            F.col("set_key").alias("k2"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # 3a. deletion-signature join: finds every B = A + {x} pair.
    # Only the larger side needs deletion keys, and only when
    # J = (sz-1)/sz can reach t, i.e. sz >= ceil(1/(1-t)).
    #
    # Set identity here is an XOR-fold of per-token hashes (two
    # independent seeds), NOT a hash of the sorted array: XOR is
    # order-independent and SELF-INVERSE over a duplicate-free set, so
    # the key of A \ {x} is xkey(A) ^ h(x) — each deletion key is O(1)
    # off the precomputed full-set fold, making the whole branch O(s)
    # per set. The previous formulation re-hashed the remaining sorted
    # array per position (concat(slice, slice)) — O(s^2) element
    # copies per set, which grows quadratically with document length
    # even though at sf0.1's ~100-token docs it was only one cost
    # among the plan's many (measured ~10% there). Collision odds stay
    # ~2^-128-grade: two independent 64-bit folds must match AND lang
    # must match AND the explicit sz1 = sz2 - 1 guard must hold.
    del_min_sz = math.ceil(1.0 / (1.0 - t))
    _xf = "aggregate(tokset, CAST(0 AS BIGINT), (a, x) -> a ^ xxhash64(x))"
    _xf2 = "aggregate(tokset, CAST(0 AS BIGINT), (a, x) -> a ^ xxhash64(x, 1))"
    gx = groups.withColumn("xk1", F.expr(_xf)).withColumn("xk2", F.expr(_xf2))
    del_keys = (
        gx.where(F.col("sz") >= del_min_sz)
        .select(
            "lang",
            F.col("set_key").alias("k2"),
            F.col("rep").alias("rep2"),
            F.col("sz").alias("sz2"),
            F.explode(
                F.expr(
                    "transform(tokset, x -> named_struct("
                    "'h1', xk1 ^ xxhash64(x), 'h2', xk2 ^ xxhash64(x, 1)))"
                )
            ).alias("del_key"),
        )
    )
    full_keys = gx.select(
        "lang",
        F.col("set_key").alias("k1"),
        F.struct(F.col("xk1").alias("h1"), F.col("xk2").alias("h2")).alias(
            "del_key"
        ),
        F.col("rep").alias("rep1"),
        F.col("sz").alias("sz1"),
    )
    del_pairs = (
        del_keys.join(full_keys, ["lang", "del_key"])
        .where(F.col("sz1") == F.col("sz2") - 1)
        .select(
            "lang",
            # normalize the unordered set pair by rep order
            F.when(F.col("rep1") < F.col("rep2"), F.col("k1")).otherwise(F.col("k2")).alias("k1"),
            F.when(F.col("rep1") < F.col("rep2"), F.col("k2")).otherwise(F.col("k1")).alias("k2"),
            # J(A, A+{x}) = sz1 / sz2 = (sz2-1)/sz2
            (F.col("sz1") / F.col("sz2")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= t)
    )

    # 3b. PPJoin over distinct sets big enough to qualify while
    # differing by >= 2 tokens (see _ppjoin_candidates).
    cand = _ppjoin_candidates(groups, t)

    # 4. exact verification on the deduped set table
    g1 = groups.select(
        "lang", F.col("set_key").alias("k1"),
        F.col("tokset").alias("ts1"), F.col("sz").alias("sz1"),
    )
    g2 = groups.select(
        "lang", F.col("set_key").alias("k2"),
        F.col("tokset").alias("ts2"), F.col("sz").alias("sz2"),
    )
    inter = F.size(F.array_intersect("ts1", "ts2"))
    jac = inter / (F.col("sz1") + F.col("sz2") - inter)
    verified = (
        cand.join(g1, ["lang", "k1"])
        .join(g2, ["lang", "k2"])
        .withColumn("jaccard", jac)
        .where(F.col("jaccard") >= t)
        .select("lang", "k1", "k2", "jaccard")
    )
    # big-set pairs differing by exactly one token are found by BOTH
    # 3a and 3b — dedupe at the (tiny) verified-set-pair level; the
    # (k, k) identity pairs are disjoint by construction and skip it
    set_pairs = (
        del_pairs.unionByName(verified)
        .dropDuplicates(["lang", "k1", "k2"])
        .unionByName(self_pairs)
    )

    # 5. expand set pairs to doc pairs (output-bound). Identity pairs
    # (k1 = k2) expand to both orders of each doc pair — keep one.
    e1 = membership.select(
        "lang", F.col("set_key").alias("k1"), F.col("doc_id").alias("doc1")
    )
    e2 = membership.select(
        "lang", F.col("set_key").alias("k2"), F.col("doc_id").alias("doc2")
    )
    return (
        set_pairs.join(e1, ["lang", "k1"])
        .join(e2, ["lang", "k2"])
        .where((F.col("k1") != F.col("k2")) | (F.col("doc1") < F.col("doc2")))
        .select(
            F.least("doc1", "doc2").alias("d1"),
            F.greatest("doc1", "doc2").alias("d2"),
            r6(F.col("jaccard")).alias("jaccard"),
        )
    )


MINHASH_BANDS = 8
MINHASH_ROWS = 8  # 8 bands x 8 rows = 64 minhashes; S-curve threshold
# ~ (1/b)^(1/r) = 0.77 Jaccard — near-dup, not merely related
REP_ROUNDS = 2  # min-propagation rounds (transitivity closure depth)
MINHASH_P = 2147483647  # 2^31 - 1; universal-hash modulus


def _affine_params(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for minhash i — embedded as literals
    in both the Spark plan and the DuckDB oracle."""
    a = (1103515245 * (i + 1) + 12345) % MINHASH_P
    b = (69069 * (i + 1) + 1234567) % MINHASH_P
    return (a or 1), b


def _band_sig(mh_cols: list) -> "F.Column":
    """Fold one band's row minhashes into a signature:
    md5(concat_ws('|', ...)) — one tiny expression (the 128-node
    arithmetic fold it replaces dominated codegen time, recompiled for
    every lineage instance), rendered identically by DuckDB (both
    engines print BIGINT as plain decimal), with md5-grade collision
    odds."""
    return F.md5(F.concat_ws("|", *mh_cols))


def _minhash_bands(toks: DataFrame) -> DataFrame:
    """(doc_id, tok) -> (doc_id, band, sig): 64 minhash values folded
    into 8 banded signatures. Each minhash is min((a_i*h + b_i) mod p)
    over the doc's token set, where h is a 32-bit md5-derived token
    hash computed ONCE per token and the 64 universal-hash transforms
    are pure affine arithmetic — one shuffle, 64 min-aggregates
    computed map-side, and every expression replays bit-for-bit in
    DuckDB (the oracle seam; see _hex_word_spark). Two docs land in the
    same (band, sig) bucket iff all 8 of that band's minhashes agree,
    i.e. with probability ~ J^8 per band (the standard banding
    S-curve: high-Jaccard pairs collide in some band almost surely,
    low-Jaccard ones almost never)."""
    k = MINHASH_BANDS * MINHASH_ROWS
    hashed = toks.withColumn("mh", F.md5("tok")).withColumn(
        "h", F.expr(_hex_word_spark("mh", 1)) % MINHASH_P
    )
    mins = []
    for i in range(k):
        a, b = _affine_params(i)
        mins.append(F.min((F.col("h") * a + b) % MINHASH_P).alias(f"mh{i}"))
    sigs = hashed.groupBy("doc_id").agg(*mins)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            _band_sig(
                [F.col(f"mh{b * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)]
            ).alias("sig"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash-banded near-dup CLUSTERING (value-oracle-checked:
    every hash is md5/affine arithmetic DuckDB replays identically,
    and the bounded REP_ROUNDS min-propagation transcribes to nested
    CTEs — see _dedup_near_oracle).

    Emits (doc_id, rep_id, is_near_dup) — every doc mapped to the
    minimum doc_id of its near-dup neighborhood — rather than all
    near-dup PAIRS: pair output is quadratic in cluster size (this
    corpus yields ~120 neighbors/doc), which no pair-join survives at
    100 TB. The linear formulation is min-propagation over band
    buckets: per-bucket min doc_id, then per-doc min over its 16
    buckets, iterated REP_ROUNDS times for transitivity (each round is
    two hash aggregations — no pairwise join EVER materializes).
    Hand-rolled on DataFrame minhashes (affine universal-hash
    min-aggregates); deliberately not MLlib's
    MinHashLSH.approxSimilarityJoin, whose pair materialization is the
    quadratic thing we're avoiding.
    """
    docs = documents(spark, sf_dir)
    toks = _distinct_tokens(docs).select("doc_id", "tok")
    bands = _minhash_bands(toks)

    # round 0: rep = min doc_id over all buckets the doc belongs to.
    # The per-bucket min is a WINDOW over (band, sig), not an
    # aggregate joined back — the join formulation references the
    # bands lineage twice (and the 64-minhash aggregate under it re-
    # runs per reference, since nothing may stay persisted in the
    # driver's shared session — test_no_cache_leak); the window needs
    # bands exactly once, so the whole round is two shuffles total.
    w = Window.partitionBy("band", "sig")
    rep = (
        bands.withColumn("bucket_rep", F.min("doc_id").over(w))
        .groupBy("doc_id")
        .agg(F.min("bucket_rep").alias("rep_id"))
    )
    # pointer-jumping rounds: rep := rep(rep) for transitivity. Each
    # round joins rep with ITSELF, so the round-0 lineage (the whole
    # corpus-sized tokenize → 64-minhash → band-window pipeline) would
    # run once per join side without a cut — round 15: stage the
    # narrow (doc_id, rep_id) table through deterministic per-sf_dir
    # scratch parquet between rounds (the q_ccnet idiom — contract
    # paths must NOT localCheckpoint: the returned frame's blocks
    # would outlive the query in the driver's shared session,
    # test_no_cache_leak). Interleaved A/B at sf0.1: 2.04 → 1.89 s,
    # and the corpus pipeline runs once instead of once per join side.
    rep = stage(rep, sf_dir, "dnear", "rep0")
    for i in range(REP_ROUNDS - 1):
        parent = rep.select(
            F.col("doc_id").alias("p_doc"), F.col("rep_id").alias("p_rep")
        )
        rep = rep.join(
            parent, rep.rep_id == parent.p_doc, "left"
        ).select(
            "doc_id",
            F.coalesce("p_rep", "rep_id").alias("rep_id"),
        )
        if i < REP_ROUNDS - 2:
            rep = stage(rep, sf_dir, "dnear", f"rep{i + 1}")
    return rep.select(
        "doc_id",
        "rep_id",
        (F.col("doc_id") != F.col("rep_id")).alias("is_near_dup"),
    )


def _hex_word_spark(col: str, pos: int) -> str:
    """8 hex chars of ``col`` starting at 1-indexed ``pos`` as a
    BIGINT — Spark dialect (conv). The md5-derived words are what make
    these pipelines value-oracle-checkable: both engines compute the
    identical digest, then parse the same hex; only the parse syntax
    differs per dialect (values are equal)."""
    return f"CAST(conv(substr({col}, {pos}, 8), 16, 10) AS BIGINT)"


def _hex_word_duck(col: str, pos: int) -> str:
    """DuckDB twin of _hex_word_spark (hex-literal cast)."""
    return f"(('0x' || substr({col}, {pos}, 8))::BIGINT)"


def _simhash_bit(i: int) -> str:
    """Bit i of the 64-bit token hash, from precomputed 32-bit word
    columns ``lo``/``hi`` (first/second 8 hex chars of md5(tok) — see
    _hex_word_spark). Identical expression in both dialects."""
    w, s = ("lo", i) if i < 32 else ("hi", i - 32)
    return f"((({w} >> {s}) & 1) = 1)"


# bit 63 as a shift overflows signed 64-bit in DuckDB (and ANSI Spark);
# its place value is the literal min-long instead
_SIMHASH_FOLD = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {-(2**63) if i == 63 else f'CAST({2**i} AS BIGINT)'} "
    f"ELSE CAST(0 AS BIGINT) END)"
    for i in range(64)
)


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 64-bit signature by per-bit voting over a 64-bit token
    hash; near-dup docs land within small Hamming distance.

    Pure DataFrame formulation with NO bit explode: one row per token
    enters a single groupBy(doc_id) whose 64 aggregate expressions are
    conditional sums — bit i votes +1 if hash-bit i is set else -1,
    evaluated map-side with partial aggregation. The signature is then
    folded from the 64 vote columns in one projection. Shuffle input =
    one row per (doc, token); at 100 TB the 64 sums travel as one
    512-byte partial-agg row per doc.

    The token hash is md5-derived (see _simhash_bit) so the identical
    expression runs in DuckDB: this query is value-oracle-checked, not
    rows-only.
    """
    docs = documents(spark, sf_dir)
    words = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+"))
            ).alias("tok"),
        )
        .withColumn("mh", F.md5("tok"))
        .select(
            "doc_id",
            F.expr(_hex_word_spark("mh", 9)).alias("lo"),
            F.expr(_hex_word_spark("mh", 1)).alias("hi"),
        )
    )
    votes = [
        F.sum(F.when(F.expr(_simhash_bit(i)), 1).otherwise(-1)).alias(f"v{i}")
        for i in range(64)
    ]
    return (
        words.groupBy("doc_id")
        .agg(*votes)
        .select("doc_id", F.expr(_SIMHASH_FOLD).alias("simhash"))
    )


def _dedup_near_oracle() -> str:
    """DuckDB transcription of dedup_near_minhash: identical md5/affine
    minhashes, band folds, bucket-rep aggregate, and exactly
    REP_ROUNDS - 1 pointer-jumping rounds as nested CTEs (the Spark
    side's iteration is bounded and deterministic, so no recursive CTE
    is needed — the oracle IS the same dataflow)."""
    assert REP_ROUNDS == 2, "oracle transcribes exactly one extra round"
    k = MINHASH_BANDS * MINHASH_ROWS
    mh_aggs = ",\n         ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS mh{i}"
        for i, (a, b) in ((j, _affine_params(j)) for j in range(k))
    )
    band_selects = []
    for b in range(MINHASH_BANDS):
        cols = ", ".join(
            f"mh{b * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, "
            f"md5(concat_ws('|', {cols})) AS sig FROM sigs"
        )
    bands_sql = "\n  UNION ALL ".join(band_selects)
    return rf"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), digests AS (
  SELECT doc_id, md5(tok) AS mh FROM toks
), hashed AS (
  SELECT doc_id, ({_hex_word_duck("mh", 1)} % {MINHASH_P}) AS h FROM digests
), sigs AS (
  SELECT doc_id, {mh_aggs}
  FROM hashed GROUP BY doc_id
), bands AS (
  {bands_sql}
), bucket_rep AS (
  SELECT band, sig, min(doc_id) AS bucket_rep FROM bands GROUP BY band, sig
), rep0 AS (
  SELECT b.doc_id, min(br.bucket_rep) AS rep_id
  FROM bands b JOIN bucket_rep br ON b.band = br.band AND b.sig = br.sig
  GROUP BY b.doc_id
), rep1 AS (
  SELECT r.doc_id, coalesce(p.rep_id, r.rep_id) AS rep_id
  FROM rep0 r LEFT JOIN rep0 p ON r.rep_id = p.doc_id
)
SELECT doc_id, rep_id, doc_id <> rep_id AS is_near_dup FROM rep1
"""


ORACLE = {
    "q_dedup_exact": """
SELECT md5(text) AS text_hash,
       CAST(min(doc_id) AS BIGINT) AS doc_id,
       count(*) AS n_dups
FROM documents GROUP BY text
""",
    # The length filter inside the pairs join (20*sz_min >= 19*sz_max) is
    # the classic size lower bound from the set-similarity-join
    # literature (Arasu et al. VLDB'06 / Bayardo et al. WWW'07):
    # jaccard = inter/union <= sz_min/sz_max, so jaccard >= 0.95 forces
    # sz_min/sz_max >= 19/20 — an exact integer predicate implied by the
    # final WHERE, never changing the result. Without it the token
    # self-join is ~1.45e9 rows at sf1 (6.3x the filtered 2.3e8) and
    # DuckDB's group-by spill exceeded the disk inside the recursive CC
    # replay; with it both oracles stay in memory.
    "q_ngram_jaccard": r"""
WITH toks AS (
  SELECT DISTINCT doc_id, lang,
         unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
), ts AS (
  SELECT t.doc_id, t.lang, t.tok, s.sz
  FROM toks t JOIN sizes s ON t.doc_id = s.doc_id
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM ts a
  JOIN ts b ON a.tok = b.tok AND a.lang = b.lang AND a.doc_id < b.doc_id
   AND a.sz * 20 >= b.sz * 19 AND b.sz * 20 >= a.sz * 19
  GROUP BY 1, 2
)
SELECT d1, d2,
       round(inter * 1.0 / (s1.sz + s2.sz - inter), 6) AS jaccard
FROM pairs
JOIN sizes s1 ON d1 = s1.doc_id
JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter * 1.0 / (s1.sz + s2.sz - inter) >= 0.95
""",
    # identical md5-nibble bit derivation + 64 conditional-sum votes +
    # fold — DuckDB evaluates the very same expressions (see
    # _simhash_bit / _SIMHASH_FOLD)
    "q_simhash": (
        r"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), h AS (
  SELECT doc_id, md5(tok) AS mh FROM toks
), nib AS (
  SELECT doc_id, """
        + f"{_hex_word_duck('mh', 9)} AS lo, {_hex_word_duck('mh', 1)} AS hi"
        + """
  FROM h
), votes AS (
  SELECT doc_id, """
        + ", ".join(
            f"sum(CASE WHEN {_simhash_bit(i)} THEN 1 ELSE -1 END) AS v{i}"
            for i in range(64)
        )
        + f"""
  FROM nib GROUP BY doc_id
)
SELECT doc_id, {_SIMHASH_FOLD} AS simhash FROM votes
"""
    ),
    "q_dedup_near": _dedup_near_oracle(),
}

QUERIES = {
    "q_dedup_exact": dedup_exact,
    "q_ngram_jaccard": ngram_jaccard,
    "q_dedup_near": dedup_near_minhash,
    "q_simhash": simhash,
}
