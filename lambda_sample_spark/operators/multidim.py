"""Multi-dimensional aggregates: rollup, cube, pivot, distinct
aggregation (SURVEY.md §2.3 notes these are absent in the reference —
they complete the aggregation surface a warehouse workload expects).

Scale notes: ROLLUP/CUBE expand each input row into its grouping-set
combinations BEFORE the shuffle, so partial (map-side) aggregation
still applies — one shuffle regardless of the number of grouping sets.
PIVOT with an explicit value list compiles to one groupBy with
conditional aggregates (no extra shuffle, no second pass to discover
pivot values — always pass the list at 100 TB). COUNT(DISTINCT) plans
a two-stage expand+agg; the approx variant (``approx_count_distinct``,
HyperLogLog++) is the constant-memory path when exactness isn't
required — oracle-checked via an in-query error-bound boolean (each
engine validates its OWN sketch against the exact count; raw sketch
values aren't bit-comparable across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import EVENT_TYPES, documents, events, r6


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn("day_ms", F.unix_millis(F.date_trunc("day", "ts")))


def rollup_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (event_type, day): per-type-per-day, per-type, and grand
    totals in one pass; grouping_id disambiguates the NULL levels."""
    ev = _with_day(events(spark, sf_dir))
    return (
        ev.rollup("event_type", "day_ms")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
        .select("event_type", "day_ms", "n", "sum_value", "gid")
    )


def cube_type_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (event_type, user bucket): all four grouping sets."""
    ev = events(spark, sf_dir).withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("bigint")
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(
            F.count("*").alias("n"),
            r6(F.avg("value")).alias("avg_value"),
            F.grouping_id().alias("gid"),
        )
        .select("event_type", "user_bucket", "n", "avg_value", "gid")
    )


def pivot_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT event counts per user bucket with an explicit value list
    (never let Spark scan for distinct pivot values at scale)."""
    ev = events(spark, sf_dir).withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("bigint")
    )
    out = (
        ev.groupBy("user_bucket")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    # absent combinations pivot to NULL; the relational reading is 0
    return out.select(
        "user_bucket",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per key; the HLL sketch
    (approx_count_distinct) is the documented 100 TB path."""
    return (
        events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


APPROX_DISTINCT_PCT = 0.02  # pinned bound; measured max error ~1.1%


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate, value-checked: raw sketch
    estimates aren't bit-comparable across engines (Spark HLL++ vs
    DuckDB's HLL differ per group), so the contract output folds the
    estimate into a deterministic ``within_pct`` boolean against the
    exact count and a pinned 2% bound — both engines run their OWN
    sketch and both must land inside the bound (measured max error:
    Spark 0.67%, DuckDB 1.07% on this corpus). The exact count rides
    along as the hashable value column. The HLL path still executes
    for real; at 100 TB it replaces the exact expand+agg entirely.

    Plan shape (round 15): the (event_type, user_id) pairs are
    deduplicated with a plain hash aggregate FIRST, then one grouped
    aggregate computes count(user_id) (= the exact distinct count;
    count() over deduped pairs skips NULL exactly as count_distinct
    does) and the rsd=0.01 sketch over the deduped pairs. Putting both
    functions in one aggregate instead rides Spark's distinct-rewrite,
    which evaluates partial_approx_count_distinct per (event_type,
    user_id) GROUP — the 1639-word HLL buffer travels the exchange
    once per distinct user (~1.3 GB of sketch state at sf0.1; guide
    §2.3 "aggregate before you shuffle"). HLL registers are a pure
    function of the distinct value SET, so the estimate over deduped
    pairs is bit-identical."""
    pairs = (
        events(spark, sf_dir)
        .select("event_type", "user_id")
        .groupBy("event_type", "user_id")
        .agg(F.lit(1).alias("_one"))
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("approx") - F.col("n_users_exact"))
                <= F.lit(APPROX_DISTINCT_PCT) * F.col("n_users_exact")
            ).alias("within_pct"),
        )
    )


def unpivot_types(wide: DataFrame, value_cols: list[str]) -> DataFrame:
    """UNPIVOT (melt): wide per-type count columns back to long
    (key, event_type, n) rows — the inverse of pivot_types, via the
    built-in ``unpivot`` (compiles to one Expand projection, no
    shuffle, no UDF). Round-trip equality with pivot_types is tested
    in test_multidim_extra."""
    return wide.unpivot(
        ids=["user_bucket"],
        values=value_cols,
        variableColumnName="event_type",
        valueColumnName="n",
    ).withColumn("event_type", F.expr("substring(event_type, 3)"))  # strip n_


def hierarchical_rollup(ev: DataFrame) -> dict[str, DataFrame]:
    """Hypertable-style continuous-aggregate hierarchy: hour buckets
    aggregated ONCE from raw, then day and month derived by
    re-aggregating the HOUR frame — sum/count/min/max are algebraic,
    so coarser levels never rescan raw data. At 100 TB the hour frame
    is the materialized continuous aggregate (~5 orders of magnitude
    smaller than raw); day/month queries read it, not the events.
    Tested level-equal to direct aggregation in test_multidim_extra."""
    hour = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )

    def _coarsen(finer: DataFrame, unit: str) -> DataFrame:
        return (
            finer.groupBy(
                F.date_trunc(unit, "bucket").alias("bucket"), "event_type"
            ).agg(
                F.sum("n").alias("n"),
                F.sum("sum_value").alias("sum_value"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )

    day = _coarsen(hour, "day")
    month = _coarsen(day, "month")
    return {"hour": hour, "day": day, "month": month}


def hll_sketch_rollup(ev: DataFrame) -> dict[str, DataFrame]:
    """Mergeable distinct-count sketches — the continuous-aggregate
    pattern for COUNT(DISTINCT) (which, unlike sum/count/min/max in
    ``hierarchical_rollup``, is NOT algebraic: daily distinct counts
    don't add to monthly ones). Per-(day, key) HLL sketches
    (``hll_sketch_agg``, DataSketches HllSketch) are built ONCE from
    raw events; coarser levels merge the stored sketches
    (``hll_union_agg``) without touching raw data again. At 100 TB the
    day frame is the materialized aggregate: a few KB per (day, key)
    answers any date-range distinct-users question at sketch-merge
    speed with ~2% error. Returns {"day": (day, event_type, sk,
    n_users), "month": (month, event_type, n_users)} — estimates via
    ``hll_sketch_estimate``. Accuracy + merge-consistency pinned in
    test_multidim_extra."""
    day = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(F.hll_sketch_agg("user_id", HLL_LG_K).alias("sk"))
    )
    month = (
        day.groupBy(F.date_trunc("month", "day").alias("month"), "event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "month",
            "event_type",
            F.hll_sketch_estimate("sk").alias("n_users"),
        )
    )
    return {
        "day": day.select(
            "day", "event_type", "sk", F.hll_sketch_estimate("sk").alias("n_users")
        ),
        "month": month,
    }


# q_hll_rollup bound: |estimate - exact| <= max(PCT * exact, ABS).
# Sized from measured worst-case sketch error with ~2x headroom:
# DuckDB approx_count_distinct hits 2.4% rel / 13 abs at sf0.1 day
# (~500-card groups) and 4.65% rel (= 2 abs) on ~45-card sf0.01
# groups where integer jitter dominates; Spark's merged DataSketches
# HLL at lgConfigK=14 is exact at sf0.01, <= 1.9% / 12 abs at sf0.1
# and <= 1.47% day / 0.29% month at sf1 (~5.5k-card groups). The
# relative term governs at scale; the absolute floor only matters for
# tiny test-SF groups.
#
# lgConfigK is pinned to 14 (not the default 12) after the round-11
# sf1 gate: the default sketch put one 5450-card group at 4.018% —
# ON the 4% line — and DataSketches' single-pass HIP estimator is
# merge-order sensitive, so the boolean flipped with partitioning
# luck. 14 buys ~2x tighter error (2.7x headroom under the bound),
# moving every group decisively inside; 16 KB per (day, key) sketch
# is still nothing at this granularity.
HLL_LG_K = 14
HLL_ROLLUP_PCT = 0.04
HLL_ROLLUP_ABS = 4


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail): the mergeable-sketch continuous aggregate,
    value-checked with the within-bound trick that graduated
    q_approx_distinct_users — raw sketches aren't bit-comparable
    across engines, so each engine validates its OWN estimate against
    the exact distinct count at every level and emits a deterministic
    boolean. The month rows are the real merge-consistency check: the
    Spark estimate there comes from UNION-MERGED day sketches
    (hll_union_agg — never re-scanning raw events), and it must still
    land within the pinned bound of the exact monthly count. Output:
    (level, bucket_ms, event_type, n_users_exact, within_pct).

    The day-sketch frame stays lazy although the day estimate and the
    month merge both consume it: staging it through scratch parquet
    halves the corpus sketch passes but A/B'd WORSE at sf0.1 (1.02
    lazy vs 1.36 s staged)."""
    ev = events(spark, sf_dir)
    levels = hll_sketch_rollup(ev)

    def exact(unit: str) -> DataFrame:
        return (
            ev.groupBy(F.date_trunc(unit, "ts").alias("b"), "event_type")
            .agg(F.count_distinct("user_id").alias("n_users_exact"))
            .select(
                F.unix_millis("b").alias("bucket_ms"), "event_type", "n_users_exact"
            )
        )

    def check(est: DataFrame, bucket_col: str, level: str) -> DataFrame:
        e = est.select(
            F.unix_millis(bucket_col).alias("bucket_ms"), "event_type", "n_users"
        )
        return (
            exact("day" if level == "day" else "month")
            .join(e, ["bucket_ms", "event_type"])
            .select(
                F.lit(level).alias("level"),
                "bucket_ms",
                "event_type",
                "n_users_exact",
                (
                    F.abs(F.col("n_users") - F.col("n_users_exact"))
                    <= F.greatest(
                        F.lit(HLL_ROLLUP_PCT) * F.col("n_users_exact"),
                        F.lit(float(HLL_ROLLUP_ABS)),
                    )
                ).alias("within_pct"),
            )
        )

    return check(levels["day"], "day", "day").unionByName(
        check(levels["month"], "month", "month")
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters — the mergeable FREQUENCY sketch,
# completing the sketch-aggregate family next to HLL (distinct counts)
# and GK (quantiles). A CMS is a d x w counter grid: each key increments
# one bucket per hash row; a point query reads back min over the d
# cells (always an OVERcount — collisions only add). Cells are plain
# counters, so sketches MERGE by cell-wise sum: per-source (or per-day)
# sketches roll up to global ones without rescanning raw data — the
# same continuous-aggregate shape as hll_sketch_rollup, but for
# per-key frequencies (heavy hitters / frequency capping in an LLM
# data pipeline). Hand-rolled on md5-derived bucket hashes so DuckDB
# replays the sketch bit-for-bit: unlike HLL (whose estimates differ
# per engine and need the within-bound trick), the CMS contract row is
# directly hash-green.
#
# Sizing: overcount per query <= e/CMS_W * N with failure prob ~e^-d
# (Cormode & Muthukrishnan 2005); CMS_W=1024, CMS_D=4 keep the whole
# grid at 4096 counters — constant memory at any corpus size, and the
# broadcast side of the probe join stays 4096 rows forever.

CMS_D = 4
CMS_W = 1024
CMS_TOP_N = 20


def _cms_bucket(key_sql: str, hrow: int) -> str:
    """Bucket of ``key_sql`` under hash row ``hrow``: first md5 word of
    '<hrow>:<key>' mod CMS_W — same digest text in both engines."""
    from .dedup import _hex_word_spark

    word = _hex_word_spark(f"md5(concat('{hrow}:', {key_sql}))", 1)
    return f"({word} % {CMS_W})"


def _cms_expand(key_col: str):
    """(hrow, bucket) generator columns for ``key_col`` — one row per
    hash row, computed JVM-side (posexplode over a 4-element array)."""
    buckets = F.array(*[F.expr(_cms_bucket(key_col, i)) for i in range(CMS_D)])
    return F.posexplode(buckets).alias("hrow", "bucket")


def cms_cells(
    keyed_counts: DataFrame, key_col: str, cnt_col: str, dims: list[str]
) -> DataFrame:
    """Build CMS cells (dims..., hrow, bucket, c) from pre-aggregated
    (dims..., key, cnt) rows. Expanding AFTER the per-key count agg
    keeps the explode factor d over the (dims x vocab) frame, not the
    raw token stream; the cell agg itself is over a <= |dims| * d * w
    domain — tiny, fully map-side-combinable."""
    expanded = keyed_counts.select(
        *dims, F.col(cnt_col).alias("_cnt"), _cms_expand(key_col)
    )
    return expanded.groupBy(*dims, "hrow", "bucket").agg(
        F.sum("_cnt").alias("c")
    )


def cms_merge(cells: DataFrame) -> DataFrame:
    """Merge sketches across their partition dims by cell-wise sum —
    counters add, so union-of-streams == sum-of-cells. This is the
    rollup step: per-source/per-day cells in, one global sketch out,
    raw data never rescanned."""
    return cells.groupBy("hrow", "bucket").agg(F.sum("c").alias("c"))


def cms_estimate(cells: DataFrame, probes: DataFrame, key_col: str) -> DataFrame:
    """Point-query ``probes`` against a merged (hrow, bucket, c)
    sketch: est = min over the key's d cells. The sketch side is
    broadcast — it is <= d*w = 4096 rows by construction at ANY corpus
    size, so the probe join never shuffles the probe frame. Cells no
    key ever incremented are absent from the cell frame but are ZERO
    in the sketch, so the join is LEFT with a 0 fill — a key the
    sketch can prove absent estimates 0 (an inner join would silently
    drop empty cells from the min and inflate absent keys)."""
    probe_cells = probes.select("*", _cms_expand(key_col))
    keep = [c for c in probes.columns]
    return (
        probe_cells.join(F.broadcast(cells), ["hrow", "bucket"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .groupBy(*keep)
        .agg(F.min("c").alias("n_est"))
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail): token heavy hitters via a merged Count-Min
    Sketch. Per-source sketches are built from per-(source, token)
    counts, MERGED cell-wise into the global sketch in-query, and the
    exact top-20 tokens are point-estimated against it. Output one row
    per top token: (token, n_exact, n_est, no_undercount) — n_est is
    deterministic (md5 buckets), so both engines hash identical values;
    no_undercount (est >= exact, the CMS guarantee) must be TRUE on
    every row by construction.

    The vocabulary-bounded (source, tok, cnt) census stays lazy
    although the sketch cells and the exact totals both consume it
    (documents is tokenized twice): the sf1 A/B measured a
    scratch-staged copy 1.29x SLOWER at sf1 (7.11->9.17 s; also
    slower at sf0.1)."""
    docs = documents(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(F.split(F.trim("text"), r"[ \t\n\x0B\f\r]+")).alias("tok")
    )
    per_source = toks.groupBy("source", "tok").agg(F.count("*").alias("cnt"))
    cells = cms_merge(cms_cells(per_source, "tok", "cnt", ["source"]))
    totals = per_source.groupBy("tok").agg(F.sum("cnt").alias("n_exact"))
    top = totals.orderBy(F.col("n_exact").desc(), F.col("tok").asc()).limit(
        CMS_TOP_N
    )
    est = cms_estimate(cells, top, "tok")
    return est.select(
        F.col("tok").alias("token"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_est").cast("bigint").alias("n_est"),
        (F.col("n_est") >= F.col("n_exact")).alias("no_undercount"),
    )


# ---------------------------------------------------------------------------
# Bottom-k hash sampling — the mergeable SAMPLE/QUANTILE sketch,
# completing the family: HLL answers distinct counts, CMS answers
# per-key frequencies, bottom-k answers "give me a uniform sample /
# a quantile" over any merge of stored sketches. Keep the K rows with
# the smallest md5(event_id) per group: a uniform sample (the hash is
# a random permutation of rows), MERGEABLE by construction — the K
# smallest hashes of a union are a subset of the union of each part's
# K smallest — and fully deterministic, so unlike engine-native
# percentile sketches both engines materialize the IDENTICAL sample
# and the identical quantile estimate (hash-green, no error-bound
# trick needed for the values; only the rank-accuracy claim is
# validated in-query).

BOTTOMK_K = 64
# empirical-median rank stderr from a k-sample is sqrt(.25/k) ~ 0.0625
# at k=64. Measured worst-case |rank - 0.5| across every (level,
# group) at sf0.001/0.01/0.1: 0.2184 (one sf0.1 day group, a ~3.5
# sigma sampling tail across 155 groups; tiny sf0.001 day groups also
# contribute pure small-n discreteness, e.g. median-of-3 = rank 2/3).
# The bound is 0.3 — ~1.4x headroom over the observed max, still a
# meaningful claim (estimate inside the middle 60% band) — and
# everything is deterministic, so this is a pin, not a flake guard.
BOTTOMK_RANK_TOL = 0.3


def _bottomk(
    df: DataFrame, bucket_col, k: int = BOTTOMK_K, h_col: str | None = None
) -> DataFrame:
    """K smallest-md5(event_id) rows per (bucket, event_type):
    (bucket, event_type, event_id, value, h). ``h_col`` reuses an
    already-stored hash column (the merge path — never recompute what
    the sketch persisted). NULLS LAST pinned on both sort keys: Spark
    defaults ascending NULLS FIRST while DuckDB defaults NULLS LAST,
    so an unpinned NULL event_id would enter Spark's sample but not
    the oracle's — NULL-keyed rows are deliberately excluded from
    samples (they sort behind every real hash)."""
    from pyspark.sql.window import Window

    h = F.col(h_col) if h_col else F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("bucket", "event_type").orderBy(
        F.col("h").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    return (
        df.select(
            bucket_col.alias("bucket"), "event_type", "event_id", "value",
            h.alias("h"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def bottomk_day_samples(ev: DataFrame, k: int = BOTTOMK_K) -> DataFrame:
    """Per-(day, event_type) bottom-k sample — the stored sketch rows;
    a few KB per group at any corpus size."""
    return _bottomk(ev, F.date_trunc("day", "ts"), k)


def bottomk_merge(samples: DataFrame, unit: str, k: int = BOTTOMK_K) -> DataFrame:
    """Merge stored samples to a coarser bucket by re-ranking the SAME
    hashes: the k smallest of the union are guaranteed to be among the
    union of per-part k smallest, so merging never touches raw data."""
    return _bottomk(
        samples.select(
            F.date_trunc(unit, "bucket").alias("ts"),
            "event_type", "event_id", "value", "h",
        ),
        F.col("ts"),
        k,
        h_col="h",
    )


def _sample_median(grouped: DataFrame) -> DataFrame:
    """Empirical median from each group's sample rows: the element at
    floor((n-1)/2) of the sorted sample — explicit indexing, not an
    interpolating percentile, so both engines select the same value.
    NULL values are excluded from both the list and sample_n (Spark's
    collect_list skips them implicitly; the oracle filters explicitly
    and counts count(value)) so the two engines index the same list.
    A group whose sample holds ZERO non-null values gets a NULL median
    — guarded explicitly, because idx would be 0 there and Spark's
    element_at(arr, 0) raises while DuckDB's 1-based list[0] returns
    NULL (round-7 advice: latent crash/divergence on the library
    surface even though the contract corpus can't produce it)."""
    arr = F.array_sort(F.collect_list("value"))
    idx = (F.floor((F.size(arr) - F.lit(1)) * F.lit(0.5)) + 1).cast("int")
    return grouped.groupBy("bucket", "event_type").agg(
        F.when(F.size(arr) > 0, F.element_at(arr, idx)).alias("q50_est"),
        F.count("value").cast("bigint").alias("sample_n"),
    )


def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail): the bottom-k continuous aggregate. Day sketches
    built once from raw; the month estimate comes from MERGED day
    sketches (never re-scanning events). Each level's median estimate
    is validated in-query against the exact data: rank_ok asserts the
    estimate's true rank sits within BOTTOMK_RANK_TOL of 0.5. The
    estimate values themselves are hash-compared — deterministic
    sampling makes them identical across engines."""
    ev = events(spark, sf_dir)
    # The day sketches stay lazy although they feed the day estimate
    # AND the month merge (the bottom-k window runs once per
    # consumer): sf1 A/B measured a scratch-staged copy 1.14x SLOWER
    # (2.51->2.87 s; also slower at sf0.1).
    day_s = bottomk_day_samples(ev)
    month_s = bottomk_merge(day_s, "month")

    # ONE exact validation pass for both levels (round 15, guide
    # §2.3 — was one events scan per level): every row carries its
    # day AND month bucket, both broadcast estimates join in, and the
    # day-grain partial aggregate rolls up to the month grain (long
    # sums are exact, so the month rank is bit-identical to the
    # direct per-row formulation; each (day, et) group belongs to
    # exactly one month).
    d_est = _sample_median(day_s).select(
        F.col("bucket").alias("dbucket"),
        "event_type",
        F.col("q50_est").alias("d_q50"),
        F.col("sample_n").alias("d_n"),
    )
    m_est = _sample_median(month_s).select(
        F.col("bucket").alias("mbucket"),
        "event_type",
        F.col("q50_est").alias("m_q50"),
        F.col("sample_n").alias("m_n"),
    )
    part = (
        ev.select(
            F.date_trunc("day", "ts").alias("dbucket"),
            F.date_trunc("month", "ts").alias("mbucket"),
            "event_type",
            "value",
        )
        .join(F.broadcast(d_est), ["dbucket", "event_type"])
        .join(F.broadcast(m_est), ["mbucket", "event_type"])
        .groupBy("dbucket", "mbucket", "event_type")
        .agg(
            F.first("d_q50").alias("d_q50"),
            F.first("d_n").alias("d_n"),
            F.first("m_q50").alias("m_q50"),
            F.first("m_n").alias("m_n"),
            F.count("*").alias("n"),
            F.sum((F.col("value") <= F.col("d_q50")).cast("long")).alias(
                "le_d"
            ),
            F.sum((F.col("value") <= F.col("m_q50")).cast("long")).alias(
                "le_m"
            ),
        )
    )

    def ok(rank_est):
        return F.abs(rank_est - F.lit(0.5)) <= F.lit(BOTTOMK_RANK_TOL)

    day_level = part.select(
        F.lit("day").alias("level"),
        F.unix_millis("dbucket").alias("bucket_ms"),
        "event_type",
        F.col("d_q50").alias("q50_est"),
        F.col("d_n").alias("sample_n"),
        ok(F.col("le_d") / F.col("n")).alias("rank_ok"),
    )
    month_level = (
        part.groupBy("mbucket", "event_type")
        .agg(
            F.first("m_q50").alias("q50_est"),
            F.first("m_n").alias("sample_n"),
            (F.sum("le_m") / F.sum("n")).alias("rank_est"),
        )
        .select(
            F.lit("month").alias("level"),
            F.unix_millis("mbucket").alias("bucket_ms"),
            "event_type",
            "q50_est",
            "sample_n",
            ok(F.col("rank_est")).alias("rank_ok"),
        )
    )
    return day_level.unionByName(month_level)


def quantiles_approx(
    ev: DataFrame, accuracy: int = 10000
) -> DataFrame:
    """The documented at-scale switch for exact ``percentile``:
    ``percentile_approx`` (Greenwald-Khanna sketch — fixed memory,
    mergeable across partitions, rank error <= 1/accuracy). The exact
    variant stays on the oracle-checked contract (q_quantiles); this
    one is for the >1e9-rows-per-group regime where an exact sort per
    group is the bottleneck. Error bound asserted in tests."""
    return (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)), accuracy
            ).alias("q")
        )
        .select(
            "event_type",
            F.col("q")[0].alias("q1"),
            F.col("q")[1].alias("median"),
            F.col("q")[2].alias("q3"),
        )
    )


ORACLE = {
    "q_rollup_day": """
SELECT event_type,
       epoch_ms(date_trunc('day', ts)) AS day_ms,
       count(*) AS n,
       round(sum(value), 2) AS sum_value,
       grouping(event_type, date_trunc('day', ts)) AS gid
FROM events
GROUP BY ROLLUP (event_type, date_trunc('day', ts))
""",
    "q_cube_type_user": """
SELECT event_type,
       user_id % 10 AS user_bucket,
       count(*) AS n,
       round(avg(value), 6) AS avg_value,
       grouping(event_type, user_id % 10) AS gid
FROM events
GROUP BY CUBE (event_type, user_id % 10)
""",
    "q_pivot_types": """
SELECT user_id % 10 AS user_bucket,
       count(*) FILTER (event_type = 'click')    AS n_click,
       count(*) FILTER (event_type = 'error')    AS n_error,
       count(*) FILTER (event_type = 'purchase') AS n_purchase,
       count(*) FILTER (event_type = 'signup')   AS n_signup,
       count(*) FILTER (event_type = 'view')     AS n_view
FROM events
GROUP BY 1
""",
    "q_distinct_users": """
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events
GROUP BY event_type
""",
    "q_approx_distinct_users": f"""
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        <= {APPROX_DISTINCT_PCT} * count(DISTINCT user_id)) AS within_pct
FROM events
GROUP BY event_type
""",
    "q_hll_rollup": f"""
WITH d AS (
  SELECT 'day' AS level,
         epoch_ms(date_trunc('day', ts)) AS bucket_ms,
         event_type,
         count(DISTINCT user_id) AS n_users_exact,
         (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
          <= greatest({HLL_ROLLUP_PCT} * count(DISTINCT user_id),
                      {HLL_ROLLUP_ABS})) AS within_pct
  FROM events GROUP BY 2, 3
), m AS (
  SELECT 'month' AS level,
         epoch_ms(date_trunc('month', ts)) AS bucket_ms,
         event_type,
         count(DISTINCT user_id) AS n_users_exact,
         (abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
          <= greatest({HLL_ROLLUP_PCT} * count(DISTINCT user_id),
                      {HLL_ROLLUP_ABS})) AS within_pct
  FROM events GROUP BY 2, 3
)
SELECT * FROM d UNION ALL SELECT * FROM m
""",
    # identical md5 bucket hashes + the same per-source-build ->
    # cell-wise-merge -> min-probe pipeline; sums cast back to BIGINT
    # (DuckDB widens integer SUM to HUGEINT). The probe join is LEFT
    # with coalesce(c, 0) — the operator's empty-cell-is-zero
    # semantics (absent keys estimate 0), not just the populated-cell
    # special case the top-N tokens happen to exercise
    "q_cms_heavy_hitters": rf"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
  FROM documents
), per_source AS (
  SELECT source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2
), hrows AS (
  SELECT unnest([{", ".join(str(i) for i in range(CMS_D))}]) AS hrow
), cells_src AS (
  SELECT source, hrow,
         (('0x' || substr(md5(CAST(hrow AS VARCHAR) || ':' || tok), 1, 8))::BIGINT
          % {CMS_W}) AS bucket,
         sum(cnt) AS c
  FROM per_source, hrows
  GROUP BY 1, 2, 3
), cells AS (
  SELECT hrow, bucket, sum(c) AS c FROM cells_src GROUP BY 1, 2
), totals AS (
  SELECT tok, sum(cnt) AS n_exact FROM per_source GROUP BY 1
), top AS (
  SELECT tok, n_exact FROM totals ORDER BY n_exact DESC, tok ASC LIMIT {CMS_TOP_N}
), probe AS (
  SELECT t.tok, t.n_exact, h.hrow,
         (('0x' || substr(md5(CAST(h.hrow AS VARCHAR) || ':' || t.tok), 1, 8))::BIGINT
          % {CMS_W}) AS bucket
  FROM top t, hrows h
)
SELECT p.tok AS token,
       CAST(p.n_exact AS BIGINT) AS n_exact,
       CAST(min(coalesce(c.c, 0)) AS BIGINT) AS n_est,
       (min(coalesce(c.c, 0)) >= p.n_exact) AS no_undercount
FROM probe p LEFT JOIN cells c ON c.hrow = p.hrow AND c.bucket = p.bucket
GROUP BY p.tok, p.n_exact
""",
    # identical md5 ranks -> identical samples -> identical estimates
    # in both engines; only rank_ok folds the exact data in
    "q_sampled_quantiles": f"""
WITH day_s AS (
  SELECT bucket, event_type, event_id, value, h FROM (
    SELECT date_trunc('day', ts) AS bucket, event_type, event_id, value,
           md5(CAST(event_id AS VARCHAR)) AS h,
           row_number() OVER (
             PARTITION BY date_trunc('day', ts), event_type
             ORDER BY md5(CAST(event_id AS VARCHAR)) NULLS LAST,
                      event_id NULLS LAST) AS rn
    FROM events) t WHERE rn <= {BOTTOMK_K}
), month_s AS (
  SELECT bucket, event_type, event_id, value, h FROM (
    SELECT date_trunc('month', bucket) AS bucket, event_type, event_id,
           value, h,
           row_number() OVER (
             PARTITION BY date_trunc('month', bucket), event_type
             ORDER BY h NULLS LAST, event_id NULLS LAST) AS rn
    FROM day_s) t WHERE rn <= {BOTTOMK_K}
), day_est AS (
  SELECT bucket, event_type,
         (list_sort(list(value) FILTER (value IS NOT NULL)))
             [CAST(floor((count(value) - 1) * 0.5) AS INT) + 1] AS q50_est,
         CAST(count(value) AS BIGINT) AS sample_n
  FROM day_s GROUP BY 1, 2
), month_est AS (
  SELECT bucket, event_type,
         (list_sort(list(value) FILTER (value IS NOT NULL)))
             [CAST(floor((count(value) - 1) * 0.5) AS INT) + 1] AS q50_est,
         CAST(count(value) AS BIGINT) AS sample_n
  FROM month_s GROUP BY 1, 2
), d AS (
  SELECT 'day' AS level, epoch_ms(x.bucket) AS bucket_ms, x.event_type,
         x.q50_est, x.sample_n,
         (abs(sum(CASE WHEN e.value <= x.q50_est THEN 1 ELSE 0 END)::DOUBLE
              / count(*) - 0.5) <= {BOTTOMK_RANK_TOL}) AS rank_ok
  FROM events e JOIN day_est x
    ON date_trunc('day', e.ts) = x.bucket AND e.event_type = x.event_type
  GROUP BY x.bucket, x.event_type, x.q50_est, x.sample_n
), m AS (
  SELECT 'month' AS level, epoch_ms(x.bucket) AS bucket_ms, x.event_type,
         x.q50_est, x.sample_n,
         (abs(sum(CASE WHEN e.value <= x.q50_est THEN 1 ELSE 0 END)::DOUBLE
              / count(*) - 0.5) <= {BOTTOMK_RANK_TOL}) AS rank_ok
  FROM events e JOIN month_est x
    ON date_trunc('month', e.ts) = x.bucket AND e.event_type = x.event_type
  GROUP BY x.bucket, x.event_type, x.q50_est, x.sample_n
)
SELECT * FROM d UNION ALL SELECT * FROM m
""",
}

QUERIES = {
    "q_rollup_day": rollup_day,
    "q_cube_type_user": cube_type_user,
    "q_pivot_types": pivot_types,
    "q_distinct_users": distinct_users,
    "q_approx_distinct_users": approx_distinct_users,
}

# round-7 promotions (append after the frozen first-50 window)
QUERIES_TAIL = {
    "q_hll_rollup": q_hll_rollup,
    "q_cms_heavy_hitters": cms_heavy_hitters,
    "q_sampled_quantiles": sampled_quantiles,
}
