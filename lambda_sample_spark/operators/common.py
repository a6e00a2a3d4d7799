"""Shared helpers for contract operators.

Contract conventions (driver compares Spark vs DuckDB by row count +
schema + order-insensitive value hash):
  - timestamps are surfaced as epoch-millis BIGINT (``*_ms``) so both
    engines hash identical integers;
  - every float aggregate is rounded to 6 decimals in BOTH engines;
  - integer outputs are cast to BIGINT to match DuckDB's wider types;
  - window orderings always carry a unique tiebreaker (event_id) so
    top-k / row_number results are deterministic in both engines.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table

# The reference loops over a configured sensor fleet
# (application.conf:7); our events table plays that role with
# event_type as the sensor key (5 known types in the driver testdata).
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# window sizes mirroring application.conf:13-14 (recent=200, full=20000)
RECENT_N = 200
FULL_N = 20000

ROUND = 6


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def ts_ms(c: Column | str = "ts") -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_millis(c)


def r6(c: Column) -> Column:
    return F.round(c, ROUND)


def scratch_path(sf_dir: str, group: str) -> str:
    """Deterministic per-sf_dir scratch root ``<tmp>/lss_<group>_<tag>``
    (tag = md5 of the absolute sf_dir), so repeated runs of a row over
    one input reuse one directory instead of accumulating temp trees."""
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"lss_{group}_{tag}")


def stage(df: DataFrame, sf_dir: str, group: str, name: str) -> DataFrame:
    """The one way to cut a shared subplan: write ``df`` to
    ``scratch_path(sf_dir, group)/name`` with mode=overwrite and hand
    back the re-read frame. Every call recomputes from the raw inputs
    — an existing directory is never reused as a cache — and nothing
    stays persisted in the session (no localCheckpoint, no cache), so
    a long-lived session gains no RDD blocks (test_no_cache_leak).
    Pass ``df.repartition(1)`` for a bounded table that should land in
    one file."""
    path = os.path.join(scratch_path(sf_dir, group), name)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def fan_out(df: DataFrame) -> DataFrame:
    """The playbook single-file fan-out gate: CPU-bound per-row passes
    (interpreted-HOF gram hashing, Python decode) over a small parquet
    input otherwise run on the 2 partitions the scan packs into —
    round-robin repartition to defaultParallelism when the input is
    under-partitioned; a no-op on real multi-split sources. Do NOT
    apply ahead of JVM-codegen map sides (measured net-negative for
    ccnet's tokenizer — see ccnet._tokens)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def exploded_ngrams(
    df: DataFrame, cols: tuple, toks: Column, n: int, alias: str = "gram"
) -> DataFrame:
    """One row per token n-gram OCCURRENCE (clamped tail gram
    included: docs shorter than ``n`` tokens emit their full-text
    gram), with ``cols`` riding along. The gram string is produced by
    CODEGEN row expressions: the sliding window is ``arrays_zip`` of
    ``n`` shifted ``slice``s of the token array, exploded BEFORE
    ``concat_ws`` — higher-order ``transform`` lambdas are
    CodegenFallback, so the previous per-element slice/concat/hash
    chains ran interpreted (guide §4.1; measured 3-6x across the
    round-15 gram kernels). ``concat_ws`` skips the NULLs arrays_zip
    pads past the end, so gram i == concat_ws(' ', slice(toks, i, n))
    exactly. Emits the BAG of grams — callers needing within-doc
    distinct dedupe downstream (count_distinct / groupBy), which every
    current consumer already does."""
    base = df.select(*cols, toks.alias("_t"))
    win = F.greatest(F.size(F.col("_t")) - n, F.lit(0)) + F.lit(1)
    zipped = F.arrays_zip(
        *[F.slice(F.col("_t"), F.lit(j + 1), win).alias(f"w{j}") for j in range(n)]
    )
    rows = base.select(*cols, F.explode(zipped).alias("_z"))
    return rows.select(
        *cols,
        F.concat_ws(" ", *[F.col(f"_z.w{j}") for j in range(n)]).alias(alias),
    )


# --- exact cross-engine average rounding ------------------------------
# round(avg(value), 6) computed ENTIRELY in integer arithmetic: the sf1
# gate (round 11) caught a group whose exact 10dp-quantized average is
# a true half-way tie at the 6th decimal (43.4728125). No double-side
# pairing can fix that class — Spark's round sees the binary-exact
# quotient (just below .5), DuckDB's sees its scaled multiply (at .5) —
# so both engines instead compute: per-value unscaled integers at
# 10dp, integer sum U, denominator D = n·10^(10-6), then half-away
# rounding as (2|U| + D) div (2D) with the sign reapplied. Every step
# is exact integer arithmetic; the only engine seam left is the
# per-VALUE double->decimal(18,k) cast, which is tie-free on any
# corpus whose doubles carry fewer than k+1 significant decimals.
#
# TWO PRECISIONS (round 13, reclaiming the DECIMAL-aggregate cost):
# the default fast path quantizes at 8dp and sums PRIMITIVE BIGINTs —
# the sum stays inside whole-stage codegen (the DECIMAL(28,0) sum
# benched 1.75x slower on q_group_stats' single hash aggregate). The
# `_wide` variants keep the round-11/12 10dp DECIMAL(28,0) machinery
# for corpora past the BIGINT bound.
#
# FAST-PATH OVERFLOW BOUND (silent-wrap failure mode): Spark's
# non-ANSI sum(BIGINT) WRAPS on overflow while DuckDB's sum(BIGINT)
# auto-widens to HUGEINT — past the bound the two legs would desync
# with no error on the Spark side. The unscaled@8dp per-row integer is
# |value|*1e8, so a group is safe while
#     n_rows * max|value| < 2^63 / 1e8  ~= 9.2e10.
# The driver corpus (events.value, 2dp, |v| <= ~600) is ~80x inside
# the bound even at sf10's 2M-row groups; tests/test_exact_rounding.py
# pins the margin on the live testdata. Above the bound, use the
# `_wide` pair.
#
# RUNTIME GUARD (round 14; rounding term round 15): the bound is
# enforced IN-QUERY, not just documented — every fast-path aggregate
# rides an assert_true(count(v) * (max(abs(v)) + 0.5e-8) <=
# EXACT_FAST_BOUND) in the same hash-aggregate pass (two extra cheap
# buffer slots; sufficient condition since each half-up-quantized
# |u_i| <= max|v|*1e8 + 0.5), so an over-bound corpus
# FAILS LOUDLY with a "use the _wide pair" message instead of
# hash-mismatching the gate (the round-13 verdict's named failure
# mode). tests/test_exact_rounding.py pins the loud failure on a
# synthetic over-bound corpus.
EXACT_AVG_IN = 8  # fast-path per-value quantization (decimal digits)
EXACT_AVG_IN_WIDE = 10  # wide-path quantization (decimal digits)
EXACT_AVG_OUT = ROUND  # output rounding (decimal digits)
# n_rows * max|value| must stay below this for the BIGINT fast path
EXACT_FAST_BOUND = (2**63 - 1) // 10**EXACT_AVG_IN
_AVG_TEMPLATE = (
    "CAST(CASE WHEN {u} >= 0 THEN (2 * {u} + {d}) {div} (2 * {d}) "
    "ELSE -((-2 * {u} + {d}) {div} (2 * {d})) END AS DOUBLE) / {pout}.0"
)


def _exact_avg_parts(
    value_sql: str, int_type: str, div_op: str, in_digits: int = EXACT_AVG_IN
) -> str:
    # the scale multiplier is cast to BIGINT so DuckDB widens the
    # decimal multiply (a bare INT32 literal keeps it in DECIMAL(18)
    # internals and overflows at 8dp x |v|>92); Spark widens either way
    u = (
        f"sum(CAST(CAST({value_sql} AS DECIMAL(18,{in_digits})) "
        f"* CAST({10 ** in_digits} AS BIGINT) AS {int_type}))"
    )
    d = f"count({value_sql}) * {10 ** (in_digits - EXACT_AVG_OUT)}"
    return _AVG_TEMPLATE.format(u=u, d=d, div=div_op, pout=10 ** EXACT_AVG_OUT)


def _fast_guarded(value_sql: str, result_sql: str) -> str:
    """Wrap a BIGINT fast-path aggregate expression with the in-query
    overflow sentinel: assert_true raises (and names the _wide escape
    hatch) when n_rows * max|value| exceeds EXACT_FAST_BOUND in any
    group. The guard aggregates ride the SAME hash-aggregate pass as
    the sum; assert_true returns NULL on pass, so coalesce yields the
    result. coalesce(cond, true) keeps all-NULL groups (count 0, max
    NULL) on the pass path.

    TWO conditions, both on the RAW DOUBLE (not the DECIMAL(18,8)
    cast): the wrap bound n*(max|v| + 0.5/10^8) <= EXACT_FAST_BOUND,
    AND the decimal RANGE bound max|v| < 10^(18-8) — in a non-ANSI
    session a |v| >= 1e10 value's decimal cast silently NULLs the row
    OUT of the sum (a desync with no wrap at all, reachable well
    inside the wrap bound), and a decimal-based guard would NULL the
    same way and wave it through. The +0.5e-8 per-row term covers the
    half-up quantization: each DECIMAL(18,8) cast adds up to 0.5
    unscaled units, so |unscaled sum| <= n*(max|v|*10^8 + 0.5) — a
    bare n*max|v| bound leaves only the ~5.48e7-unit floor slack,
    which a >~1.1e8-row group at the bound could exhaust while the
    guard passed. With the term, guard-pass implies unscaled
    |sum| <= BOUND*10^8 = 2^63-1 - 5.48e7, so the remaining floor
    slack alone dwarfs double rounding error (~2e3 units at this
    magnitude) for ANY group size. Under the ANSI default the engine
    already raises on the wrap/cast; the sentinel makes fail-loud
    independent of that conf."""
    mx = f"max(abs(CAST(({value_sql}) AS DOUBLE)))"
    cond = (
        f"coalesce(count({value_sql}) * ({mx} + 0.5e-{EXACT_AVG_IN}) "
        f"<= {EXACT_FAST_BOUND} "
        f"AND {mx} < 1e{18 - EXACT_AVG_IN}, true)"
    )
    msg = (
        "'exact6 BIGINT fast path: n_rows * max(abs(value)) exceeds "
        "EXACT_FAST_BOUND — the unscaled sum would silently wrap; "
        "use the exact_*6_wide pair for this corpus'"
    )
    return f"coalesce(assert_true({cond}, {msg}), {result_sql})"


def exact_avg6(value_sql: str = "value") -> Column:
    """Aggregate Column: round(avg(value_sql), 6) by exact integer
    half-away rounding (Spark leg; primitive BIGINT unscaled sum —
    whole-stage-codegen fast path, with the EXACT_FAST_BOUND overflow
    sentinel riding the same aggregate pass)."""
    return F.expr(
        _fast_guarded(value_sql, _exact_avg_parts(value_sql, "BIGINT", "div"))
    )


def exact_avg6_sql(value_sql: str = "value") -> str:
    """The DuckDB pairing of :func:`exact_avg6` (same BIGINT per-value
    cast; DuckDB's sum auto-widens to HUGEINT), generated from the
    SAME template so the legs cannot desync."""
    return _exact_avg_parts(value_sql, "BIGINT", "//")


def exact_avg6_wide(value_sql: str = "value") -> Column:
    """10dp DECIMAL(28,0) variant of :func:`exact_avg6` for corpora
    past EXACT_FAST_BOUND (no silent wrap; ~1.75x slower aggregate)."""
    return F.expr(
        _exact_avg_parts(value_sql, "DECIMAL(28,0)", "div", EXACT_AVG_IN_WIDE)
    )


def exact_avg6_wide_sql(value_sql: str = "value") -> str:
    """The DuckDB pairing of :func:`exact_avg6_wide`."""
    return _exact_avg_parts(value_sql, "HUGEINT", "//", EXACT_AVG_IN_WIDE)


def _exact_sum_parts(
    value_sql: str, int_type: str, div_op: str, in_digits: int = EXACT_AVG_IN
) -> str:
    # same integer half-away machinery as the average, with a CONSTANT
    # denominator (10^(in-out)): round(sum(value), 6) is exact because
    # the unscaled integer sum is exact regardless of partial-
    # aggregation order — the sf10 gate (round 12) caught Spark's
    # parallel double sum drifting 2e-6 over a 2M-row group while
    # DuckDB's sequential sum stayed on the decimal value.
    u = (
        f"sum(CAST(CAST({value_sql} AS DECIMAL(18,{in_digits})) "
        f"* CAST({10 ** in_digits} AS BIGINT) AS {int_type}))"
    )
    d = str(10 ** (in_digits - EXACT_AVG_OUT))
    return _AVG_TEMPLATE.format(u=u, d=d, div=div_op, pout=10 ** EXACT_AVG_OUT)


def exact_sum6(value_sql: str = "value") -> Column:
    """Aggregate Column: round(sum(value_sql), 6) by exact integer
    half-away rounding (Spark leg), order-independent under partial
    aggregation. Primitive BIGINT fast path with the EXACT_FAST_BOUND
    overflow sentinel riding the same aggregate pass. Pair with
    :func:`exact_sum6_sql`."""
    return F.expr(
        _fast_guarded(value_sql, _exact_sum_parts(value_sql, "BIGINT", "div"))
    )


def exact_sum6_sql(value_sql: str = "value") -> str:
    """The DuckDB pairing of :func:`exact_sum6`, from the SAME
    template so the legs cannot desync."""
    return _exact_sum_parts(value_sql, "BIGINT", "//")


def exact_sum6_wide(value_sql: str = "value") -> Column:
    """10dp DECIMAL(28,0) variant of :func:`exact_sum6` for corpora
    past EXACT_FAST_BOUND (no silent wrap; ~3x slower aggregate)."""
    return F.expr(
        _exact_sum_parts(value_sql, "DECIMAL(28,0)", "div", EXACT_AVG_IN_WIDE)
    )


def exact_sum6_wide_sql(value_sql: str = "value") -> str:
    """The DuckDB pairing of :func:`exact_sum6_wide`."""
    return _exact_sum_parts(value_sql, "HUGEINT", "//", EXACT_AVG_IN_WIDE)


# round(num/den, 6) for NON-NEGATIVE integer num, positive integer
# den, entirely in integer arithmetic: floor(num*10^6/den + 1/2) =
# (2*num*10^6 + den) div (2*den). The sf10 gate caught q_doc_profile's
# quality ratio landing on a true half-way tie at the 6th decimal —
# the same class exact_avg6 fixed for averages, here for any rational
# score whose terms are integers. Both casts below force BIGINT so
# 32-bit inputs cannot silently overflow the *10^6 scaling.
_RATIO_TEMPLATE = (
    "CAST((2 * CAST({num} AS BIGINT) * {pout} + CAST({den} AS BIGINT)) "
    "{div} (2 * CAST({den} AS BIGINT)) AS DOUBLE) / {pout}.0"
)


def exact_ratio6(num_sql: str, den_sql: str) -> Column:
    """Column: round(num/den, 6) by exact integer half-away rounding
    (Spark leg). Precondition: num >= 0, den > 0, both integral."""
    return F.expr(
        _RATIO_TEMPLATE.format(num=num_sql, den=den_sql, div="div", pout=10**ROUND)
    )


def exact_ratio6_sql(num_sql: str, den_sql: str) -> str:
    """The DuckDB pairing of :func:`exact_ratio6`, from the SAME
    template so the legs cannot desync."""
    return _RATIO_TEMPLATE.format(
        num=num_sql, den=den_sql, div="//", pout=10**ROUND
    )


def r6z(c: Column) -> Column:
    """round(c, 6) with the IEEE negative-zero pairing: a tiny
    negative rounds to -0.0 in DuckDB but +0.0 in Spark, and the
    driver's value compare distinguishes them (bit q_weighted_sample
    at sf0.1). Use for any rounded output whose input can be a tiny
    negative, PAIRED with `round(..., 6) + CAST(0.0 AS DOUBLE)` in the
    oracle (-0.0 + 0.0 = +0.0 under round-to-nearest; a no-op for
    every other value)."""
    return F.round(c, ROUND) + F.lit(0.0)
