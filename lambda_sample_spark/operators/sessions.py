"""Temporal / window-function operators over the events stream.

The reference's only window is the per-key newest-n scan (SURVEY.md
§2.5 W1); a training-data pipeline needs the full temporal toolbox:
sessionization, tumbling windows, sliding aggregates, ordered deltas,
and rank statistics. All are single-shuffle window operators — hash
partition on the key, then one ordered pass per partition.

Scale notes: every query here shuffles once on its partition key
(user_id / event_type) and streams within partitions; no driver
collects, no UDFs, all whole-stage-codegen expressions. Skewed keys
are split by AQE. The tumbling window uses ``F.window`` — the same
operator Structured Streaming uses, so the batch and streaming
formulations are literally identical code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .common import events, exact_avg6, exact_avg6_sql, r6, ts_ms

SESSION_GAP_MS = 30 * 60 * 1000  # 30 min


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is
    idle > 30 min. lag -> flag -> running sum = session id; then one
    group-by for per-session stats. (Streaming twin:
    ``F.session_window(ts, "30 minutes")``.)"""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = ts_ms() - F.lag(ts_ms()).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_MS), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = events(spark, sf_dir).withColumn(
        "session_id", F.sum(is_new).over(run).cast("bigint")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min(ts_ms()).alias("session_start_ms"),
        F.max(ts_ms()).alias("session_end_ms"),
        F.count("*").alias("n_events"),
    )


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type — the batch expression of
    the streaming windowed aggregate (identical ``F.window`` operator).

    The average is hardened TWICE against engine seams this corpus
    actually hit: decimal sums (sf0.1, round 9 — double summation is
    order-dependent and one group's mean landed a 1-ULP flip from the
    round boundary), then full exact-integer rounding (sf1, round 11 —
    the 'signup'@2024-01-18T22 group's exact quantized average is a
    TRUE half-way tie, 43.4728125, where Spark's binary-exact round
    and DuckDB's scaled-multiply round disagree no matter how the sum
    is computed). common.exact_avg6/_sql is the shared pairing: both
    engines sum per-value unscaled 10dp integers and half-away-round
    with integer division only. (The other avg-based contract rows
    never hit a knife edge on this corpus; this one is hardened
    because it did.)"""
    ev = events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            exact_avg6("value").alias("avg_value"),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n",
            "avg_value",
        )
    )


def moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding count-window stats per key: min/max/count over the
    current + 9 preceding rows in (ts, event_id) order."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        "event_type",
        ts_ms().alias("ts_ms"),
        F.min("value").over(w).alias("mov_min"),
        F.max("value").over(w).alias("mov_max"),
        F.count("*").over(w).alias("mov_n"),
        r6(F.avg("value").over(w)).alias("mov_avg"),
    )


def window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered-window function pack, one row per event:

    - lag/lead inter-arrival deltas per user (ms); NULL at the edges;
    - rank / dense_rank / percent_rank of value within each event_type
      (deterministic tie-break on event_id via the value+id ordering).

    Two window specs = two shuffles (user_id then event_type) — the
    minimum for two different partition keys; each is a single ordered
    pass, whole-stage-codegen'd, no UDFs."""
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("event_type").orderBy("value", "event_id")
    return events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_ms().alias("ts_ms"),
        (ts_ms() - F.lag(ts_ms()).over(wu)).alias("delta_prev_ms"),
        (F.lead(ts_ms()).over(wu) - ts_ms()).alias("delta_next_ms"),
        F.rank().over(wt).alias("rnk"),
        F.dense_rank().over(wt).alias("drnk"),
        r6(F.percent_rank().over(wt)).alias("pct_rank"),
    )




RANGE_WINDOW_MS = 6 * 3_600_000  # 6 h sliding range window
RANGE_CHUNK_MS = 24 * 3_600_000  # 24 h chunks (must be >= window)

# exact round(avg over frame, 6): window frames at sf0.1 already
# reach 160 rows and the double window-avg drifted in the 6th decimal
# between engines, so the frame average uses the common.exact_avg6
# integer discipline adapted to window aggregates — per-value
# unscaled 10dp BIGINT (floor(v*1e10+0.5), exact for short-rational
# values), window SUM u + window COUNT nv, then half-away integer
# rounding. One template, both engines (div vs //). BIGINT bound:
# |u| < 2^63 needs frame-sum |values| < ~9.2e8 — fine through sf100;
# widen to HUGEINT/DECIMAL beyond.
_WIN_AVG_TEMPLATE = (
    "CASE WHEN {n} = 0 THEN NULL WHEN {u} >= 0 THEN "
    "CAST((2 * {u} + {n} * 10000) {div} (2 * {n} * 10000) AS DOUBLE) / 1000000.0 "
    "ELSE -CAST(((-2) * {u} + {n} * 10000) {div} (2 * {n} * 10000) AS DOUBLE) / 1000000.0 "
    "END"
)
_WIN_AVG_U = "CAST(floor(value * 10000000000.0 + 0.5) AS BIGINT)"


def chunked_range_stats(
    ev: DataFrame,
    window_ms: int = RANGE_WINDOW_MS,
    chunk_ms: int = RANGE_CHUNK_MS,
    key_col: str = "event_type",
) -> DataFrame:
    """Per-key sliding TIME-range stats (min/max/count/avg over
    [ts - window_ms, ts]) computed scalably by ts-chunking with
    boundary replication — the concrete "per-salt windows + merge"
    mitigation docs/SCALE.md promises for the one skew case AQE
    cannot split (windows need whole partitions; a 5-value key caps
    a naive window plan at 5-way parallelism forever).

    Exact decomposition, requires ``chunk_ms >= window_ms``: every
    row computes its frame inside partition (key, chunk), where rows
    from the tail of chunk c-1 (ts within window_ms of the boundary)
    are replicated into chunk c as carry rows — precisely the rows a
    chunk-c frame can reach back to — then carry rows are dropped
    from the output. Parallelism scales with key x time-chunk count,
    not key cardinality; the replication overhead is bounded by
    window_ms/chunk_ms per row. tests/test_chunked_window.py pins
    equality against the naive single-partition-per-key window on
    hot-key corpora; the contract oracle is the naive RANGE window in
    DuckDB, so the whole decomposition is oracle-checked."""
    assert chunk_ms >= window_ms, "a frame may span at most 2 chunks"
    base = ev.select(
        "event_id", key_col, ts_ms().alias("ts_ms"), "value"
    )
    # integer FLOOR-div: exact by construction (ADVICE r12 — the
    # double-division floor was safe at epoch-ms magnitudes only by
    # float error analysis; integer arithmetic needs no such
    # argument). Spark's `div` truncates toward zero, which for
    # NEGATIVE ts_ms (pre-1970 timestamps) would break the
    # at-most-2-chunks decomposition (ADVICE r13) — the CASE corrects
    # truncation to true floor semantics on the negative non-exact
    # residues, so the carry invariants hold for any epoch sign.
    c = int(chunk_ms)
    chunk = F.expr(
        f"(ts_ms div {c}) - (CASE WHEN ts_ms < 0 AND ts_ms % {c} != 0 "
        f"THEN 1 ELSE 0 END)"
    )
    # one scan, not a Union of two: each row explodes into its own
    # (chunk, carry=false) assignment plus — iff it falls in the
    # window_ms tail of its chunk — the (chunk+1, carry=true) replica
    # (round 15: the own/tail Union read the corpus twice)
    own_cc = F.struct(chunk.alias("chunk"), F.lit(False).alias("carry"))
    tail_cc = F.struct(
        (chunk + 1).alias("chunk"), F.lit(True).alias("carry")
    )
    is_tail = F.col("ts_ms") >= (chunk + 1) * chunk_ms - window_ms
    rows = base.select(
        "event_id",
        key_col,
        "ts_ms",
        "value",
        F.explode(
            F.when(is_tail, F.array(own_cc, tail_cc)).otherwise(
                F.array(own_cc)
            )
        ).alias("cc"),
    ).select(
        "event_id",
        key_col,
        "ts_ms",
        "value",
        F.col("cc.chunk").alias("chunk"),
        F.col("cc.carry").alias("carry"),
    )
    w = (
        Window.partitionBy(key_col, "chunk")
        .orderBy("ts_ms")
        .rangeBetween(-window_ms, Window.currentRow)
    )
    return (
        rows
        .select(
            "event_id",
            key_col,
            "ts_ms",
            "carry",
            F.min("value").over(w).alias("rw_min"),
            F.max("value").over(w).alias("rw_max"),
            F.count("*").over(w).alias("rw_n"),
            F.sum(F.expr(_WIN_AVG_U)).over(w).alias("_u"),
            F.count("value").over(w).alias("_nv"),
        )
        .where(~F.col("carry"))
        .select(
            "event_id",
            key_col,
            "ts_ms",
            "rw_min",
            "rw_max",
            "rw_n",
            F.expr(
                _WIN_AVG_TEMPLATE.format(u="_u", n="_nv", div="div")
            ).alias("rw_avg"),
        )
    )


def q_range_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunked_range_stats(events(spark, sf_dir))


RESAMPLE_STEP_MS = 3_600_000  # 1 h grid


def resample_gapfill(
    ev: DataFrame,
    step_ms: int = RESAMPLE_STEP_MS,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Time-series resampling onto a fixed grid with gap-fill — the
    sensor-pipeline op between raw ingest and modeling: per key,
    bucket observations into ``step_ms`` slots (exact-decimal slot
    means), materialize EVERY slot between the key's first and last
    observation, and fill gaps two ways:

    - ``v_locf``   last observation carried forward (the monitoring
                   default; NULL before the first observation)
    - ``v_interp`` linear interpolation between the neighboring
                   observed slots; nearest-value at the edges

    Returns (key, slot_ms, n_obs, v_avg, v_locf, v_interp) — one row
    per grid slot, n_obs = 0 marks filled gaps. NULL values are
    dropped first (a NULL has no place on a value grid).

    Scale: the slot table is bounded by keys x (time-range / step) —
    NOT by event count — so everything after the first groupBy is
    small; one shuffle to slot-aggregate, one window pass per
    direction over the slot table (same partition key, same ordering:
    a single sort serves both frames). The slot-aggregate lineage is
    consumed twice (extent + join), and each consumer re-derives the
    aggregate from its own raw events scan (executed plan: events
    scanned twice, 0 ReusedExchange).

    Determinism/oracle: slot means are exact-integer-rounded 6dp
    averages (common.exact_avg6 — the q_tumbling_window hardening; the
    same 'signup' half-way tie sits in an observed slot here, so the
    sf1 gate bit this row through the identical seam); LOCF copies
    those already-exact doubles; the interpolation is one fixed-shape
    expression over two such doubles and an integer slot ratio —
    every arithmetic step mirrors the DuckDB oracle token-for-token,
    rounded 6dp only at the output edge."""
    nn = ev.where(F.col(value_col).isNotNull())
    slot = F.floor(ts_ms() / F.lit(step_ms)).cast("bigint")
    obs = nn.groupBy(F.col(key_col), slot.alias("slot")).agg(
        F.count("*").alias("n_obs"),
        exact_avg6(value_col).alias("v_raw"),
    )
    extent = obs.groupBy(key_col).agg(
        F.min("slot").alias("lo"), F.max("slot").alias("hi")
    )
    grid = extent.select(
        key_col, F.explode(F.sequence("lo", "hi")).alias("slot")
    )
    j = grid.join(obs, [key_col, "slot"], "left")
    wp = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(key_col)
        .orderBy("slot")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v_prev = F.last("v_raw", ignorenulls=True).over(wp)
    s_prev = F.last(
        F.when(F.col("v_raw").isNotNull(), F.col("slot")), ignorenulls=True
    ).over(wp)
    v_next = F.first("v_raw", ignorenulls=True).over(wf)
    s_next = F.first(
        F.when(F.col("v_raw").isNotNull(), F.col("slot")), ignorenulls=True
    ).over(wf)
    interp = (
        F.when(F.col("v_raw").isNotNull(), F.col("v_raw"))
        .when(
            v_prev.isNotNull() & v_next.isNotNull(),
            v_prev
            + (v_next - v_prev)
            * ((F.col("slot") - s_prev) / (s_next - s_prev)),
        )
        .otherwise(F.coalesce(v_prev, v_next))
    )
    return j.select(
        key_col,
        (F.col("slot") * step_ms).alias("slot_ms"),
        F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
        r6(F.col("v_raw")).alias("v_avg"),
        r6(v_prev).alias("v_locf"),
        r6(interp).alias("v_interp"),
    )


def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): hourly resample + LOCF + linear
    interpolation of the events value series per event_type. The
    bounded keys×slots aggregate stays lazy although its two consumers
    (extent + grid join) each scan events: the sf1 A/B measured a
    scratch-staged copy 1.15x SLOWER at sf1 (1.29->1.49 s; also slower
    at sf0.1)."""
    return resample_gapfill(events(spark, sf_dir))




EWMA_ALPHA = 0.2
EWMA_K = 16


def _ewma_weights(alpha: float = EWMA_ALPHA, k: int = EWMA_K) -> list[float]:
    """The truncated exponential weight ladder, computed ONCE in
    Python — both the Spark expression and the DuckDB oracle inline
    these exact doubles as literals, so the two engines multiply and
    fold the same bits in the same left-to-right order."""
    return [alpha * (1.0 - alpha) ** i for i in range(k)]


def ewma_smooth(
    ev: DataFrame,
    alpha: float = EWMA_ALPHA,
    k: int = EWMA_K,
    key_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Exponentially weighted moving average per key — the smoothing
    pass a sensor pipeline runs before thresholding (pandas
    ``ewm(adjust=True)`` semantics, truncated at ``k`` lags: the
    dropped tail weight is (1-alpha)^k ~ 2.8% of mass at the
    defaults). The true recursion is not window-expressible; the
    k-lag truncation IS — ``k`` lag() terms over ONE window spec (one
    sort pass), normalized by the weight mass actually present, so
    partition heads and NULL gaps renormalize instead of biasing
    toward zero.

    Scale: one hash shuffle on the key + one ordered pass; the k
    terms are a single whole-stage-codegen projection, no UDF, state
    O(k) per partition-stream. Weight literals come from
    ``_ewma_weights`` on both engines (see its docstring)."""
    w = Window.partitionBy(key_col).orderBy("ts", "event_id")
    num = None
    den = None
    for i, wt in enumerate(_ewma_weights(alpha, k)):
        term = F.lag(value_col, i).over(w) if i else F.col(value_col)
        num_i = F.when(term.isNotNull(), term * F.lit(wt)).otherwise(
            F.lit(0.0)
        )
        den_i = F.when(term.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = num_i if num is None else num + num_i
        den = den_i if den is None else den + den_i
    return ev.select(
        "event_id",
        key_col,
        ts_ms().alias("ts_ms"),
        value_col,
        r6(num / den).alias("ewma"),
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 9): 16-lag EWMA (alpha 0.2) of the events
    value series per event_type."""
    return ewma_smooth(events(spark, sf_dir))


def _ewma_oracle(alpha: float = EWMA_ALPHA, k: int = EWMA_K) -> str:
    num_terms = []
    den_terms = []
    for i, wt in enumerate(_ewma_weights(alpha, k)):
        t = "value" if i == 0 else f"lag(value, {i}) OVER w"
        num_terms.append(
            f"(CASE WHEN {t} IS NOT NULL THEN {t} * {wt!r} ELSE 0.0 END)"
        )
        den_terms.append(
            f"(CASE WHEN {t} IS NOT NULL THEN {wt!r} ELSE 0.0 END)"
        )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
SELECT event_id, event_type, epoch_ms(ts) AS ts_ms, value,
       round(({num}) / ({den}), 6) AS ewma
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
"""


ORACLE = {
    "q_sessionize": f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, epoch_ms(ts) AS ts_ms,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MS}
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), numbered AS (
  SELECT user_id, ts_ms,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ts_ms) AS session_start_ms,
       max(ts_ms) AS session_end_ms,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
""",
    "q_ewma_smooth": _ewma_oracle(),
    "q_resample_gapfill": f"""
WITH obs AS (
  SELECT event_type,
         CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS slot,
         count(*) AS n_obs,
         {exact_avg6_sql("value")} AS v_raw
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
), grid AS (
  SELECT event_type, unnest(range(lo, hi + 1)) AS slot
  FROM (SELECT event_type, min(slot) AS lo, max(slot) AS hi
        FROM obs GROUP BY 1)
), j AS (
  SELECT g.event_type, g.slot, o.n_obs, o.v_raw
  FROM grid g LEFT JOIN obs o USING (event_type, slot)
), f AS (
  SELECT event_type, slot, n_obs, v_raw,
         last_value(v_raw IGNORE NULLS) OVER wp AS v_prev,
         last_value(CASE WHEN v_raw IS NOT NULL THEN slot END IGNORE NULLS)
           OVER wp AS s_prev,
         first_value(v_raw IGNORE NULLS) OVER wf AS v_next,
         first_value(CASE WHEN v_raw IS NOT NULL THEN slot END IGNORE NULLS)
           OVER wf AS s_next
  FROM j
  WINDOW wp AS (PARTITION BY event_type ORDER BY slot
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY slot
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type,
       slot * 3600000 AS slot_ms,
       CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
       round(v_raw, 6) AS v_avg,
       round(v_prev, 6) AS v_locf,
       round(CASE WHEN v_raw IS NOT NULL THEN v_raw
                  WHEN v_prev IS NOT NULL AND v_next IS NOT NULL THEN
                       v_prev + (v_next - v_prev)
                              * ((slot - s_prev) / (s_next - s_prev))
                  ELSE coalesce(v_prev, v_next) END, 6) AS v_interp
FROM f
""",
    "q_tumbling_window": f"""
SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms,
       event_type,
       count(*) AS n,
       {exact_avg6_sql("value")} AS avg_value
FROM events
GROUP BY 1, 2
""",
    "q_moving_stats": """
SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
       min(value) OVER w AS mov_min,
       max(value) OVER w AS mov_max,
       count(*) OVER w AS mov_n,
       round(avg(value) OVER w, 6) AS mov_avg
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
    "q_window_funcs": """
SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms,
       epoch_ms(ts) - lag(epoch_ms(ts)) OVER wu AS delta_prev_ms,
       lead(epoch_ms(ts)) OVER wu - epoch_ms(ts) AS delta_next_ms,
       rank() OVER wt AS rnk,
       dense_rank() OVER wt AS drnk,
       round(percent_rank() OVER wt, 6) AS pct_rank
FROM events
WINDOW wu AS (PARTITION BY user_id ORDER BY ts, event_id),
       wt AS (PARTITION BY event_type ORDER BY value, event_id)
""",
    # the NAIVE per-key range window: the Spark leg's chunked
    # decomposition must reproduce it exactly (avg via the shared
    # integer template so no double drift can split the engines)
    "q_range_window_stats": f"""
SELECT event_id, event_type, ts_ms,
       rw_min, rw_max, rw_n,
       {_WIN_AVG_TEMPLATE.format(u="u", n="nv", div="//")} AS rw_avg
FROM (
  SELECT event_id, event_type, epoch_ms(ts) AS ts_ms,
         min(value) OVER w AS rw_min,
         max(value) OVER w AS rw_max,
         count(*) OVER w AS rw_n,
         sum({_WIN_AVG_U}) OVER w AS u,
         count(value) OVER w AS nv
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_ms(ts)
               RANGE BETWEEN {RANGE_WINDOW_MS} PRECEDING AND CURRENT ROW)
) t
""",
}

QUERIES = {
    "q_sessionize": sessionize,
    "q_tumbling_window": tumbling_window,
    "q_moving_stats": moving_stats,
    "q_window_funcs": window_funcs,
    "q_range_window_stats": q_range_window_stats,
}


QUERIES_TAIL = {
    "q_resample_gapfill": q_resample_gapfill,
    "q_ewma_smooth": q_ewma_smooth,
}
