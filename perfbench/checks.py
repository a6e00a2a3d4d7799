"""Correctness checks against answers computed apart from the program.

Every check returns a list of problems (empty = pass) and takes plain
pandas / numpy / Python values, so the benchmark's own tests can hand
each one a deliberately wrong answer. None compares against a stored
copy of earlier output.
"""

from __future__ import annotations

import json
import math

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


# --- queries: DuckDB oracle, cell-exact ----------------------------------


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> list[tuple]:
    """Order-insensitive, cell-exact form of a result: columns sorted by
    name, each cell its repr (floats bit-for-bit), NULL and NaN as one
    marker, rows sorted."""
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                row.append("<NULL>")
            elif not isinstance(v, (list, tuple, np.ndarray, dict)) and pd.isna(v):
                row.append("<NULL>")
            else:
                row.append(repr(v))
        rows.append(tuple(row))
    return sorted(rows)


def compare_rows(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}"]
    a, b = canon(got), canon(want)
    if a == b:
        return []
    sa, sb = set(a), set(b)
    return [
        f"{name}: {len(a)} rows vs oracle {len(b)}; spark-only "
        f"{[r for r in a if r not in sb][:2]} oracle-only {[r for r in b if r not in sa][:2]}"
    ]


# --- nightly: planted-document properties --------------------------------


def check_nightly(
    ingested_ids: set[int],
    planted_unique: set[int],
    planted_dup: set[int],
    corpus_ids: list[int],
    ann_ids: list[int],
) -> list[str]:
    problems = []
    corpus = set(corpus_ids)
    if len(corpus) != len(corpus_ids):
        problems.append(f"corpus holds {len(corpus_ids) - len(corpus)} repeated doc_ids")
    if not corpus <= ingested_ids:
        problems.append(f"corpus doc_ids never ingested: {sorted(corpus - ingested_ids)[:5]}")
    if corpus & planted_dup:
        problems.append(f"planted duplicates kept: {sorted(corpus & planted_dup)[:5]}")
    if planted_unique - corpus:
        problems.append(f"planted unique docs dropped: {sorted(planted_unique - corpus)[:5]}")
    if sorted(ann_ids) != sorted(corpus_ids):
        problems.append(
            f"ANN index rows ({len(ann_ids)}) differ from corpus survivors ({len(corpus_ids)})"
        )
    return problems


# --- lambda serving: numpy recomputation of GET / ------------------------


def expected_meta(
    ts_ms: np.ndarray, sensor: np.ndarray, value: np.ndarray, batch: np.ndarray,
    sensors: list[str], recent_n: int = 200,
) -> dict[str, dict]:
    """The reference's GET / per sensor, from the raw readings:
    last-write-wins per (sensor, ts) by batch, the newest ``recent_n``
    by (ts desc, value asc), population sd, and
    ``clamp((|latest - avg| - sd) / (2 sd))`` (NULL when sd is 0)."""
    order = np.lexsort((-batch, ts_ms, sensor))
    s, t, v = sensor[order], ts_ms[order], value[order]
    first = np.ones(len(s), bool)
    first[1:] = (s[1:] != s[:-1]) | (t[1:] != t[:-1])
    s, t, v = s[first], t[first], v[first]
    out = {}
    for i, name in enumerate(sensors):
        m = s == i
        if not m.any():
            continue
        ts_i, v_i = t[m], v[m]
        newest = np.lexsort((v_i, -ts_i))[:recent_n]
        w = v_i[newest]
        avg = w.mean()
        sd = math.sqrt(((w - avg) ** 2).mean())
        latest = w[0]
        fast = None if sd == 0 else min(1.0, max(0.0, (abs(latest - avg) - sd) / (2 * sd)))
        out[name] = {"ts": int(ts_i[newest[0]]), "fast_anomaly": fast}
    return out


def check_get(body: str, expected: dict[str, dict], tol: float = 2e-6) -> list[str]:
    """Served ``AllMeta`` JSON against ``expected_meta``; the blend is
    checked as ``(35 fast + 65 full) / 100`` from the served
    ``full_anomaly`` (rounding to 6 places on both sides allows
    ``tol``)."""
    problems = []
    entries = {e["name"]: e for e in json.loads(body)["entries"]}
    if set(entries) != set(expected):
        return [f"GET / sensors {sorted(entries)} != expected {sorted(expected)}"]
    for name, want in expected.items():
        got = entries[name]
        if got["ts"] != want["ts"]:
            problems.append(f"{name}: ts {got['ts']} != {want['ts']}")
        f_got, f_want = got["fast_anomaly"], want["fast_anomaly"]
        if (f_got is None) != (f_want is None) or (
            f_want is not None and abs(f_got - f_want) > tol
        ):
            problems.append(f"{name}: fast_anomaly {f_got} != {f_want}")
            continue
        full = got["full_anomaly"]
        if full is None or not (0.0 <= full <= 1.0):
            problems.append(f"{name}: full_anomaly {full} outside [0, 1]")
            continue
        blend = f_want if f_want is None else (35.0 * f_want + 65.0 * full) / 100.0
        avg = got["avg_anomaly"]
        if (blend is None) != (avg is None) or (blend is not None and abs(avg - blend) > tol):
            problems.append(f"{name}: avg_anomaly {avg} != 35/65 blend {blend}")
    return problems


# --- lambda serving: bottom-k windows against DuckDB ---------------------


def check_bottomk(
    emitted: pd.DataFrame, feed: pd.DataFrame, k: int, window_ms: int
) -> list[str]:
    """Every emitted (window, sensor) sample equals the ``k`` smallest
    ``md5(event_id)`` of that group in the feed, and no group is
    emitted twice. ``emitted``: window_start_ms, event_type, event_id;
    ``feed``: ts_ms, sensor, event_id."""
    problems = []
    if emitted.empty:
        return ["no bottom-k window was emitted"]
    con = duckdb.connect()
    con.register("feed", feed)
    con.register("emitted", emitted)
    dup = con.execute(
        "SELECT window_start_ms, event_type, count(*) AS n, count(DISTINCT event_id) AS d "
        "FROM emitted GROUP BY ALL HAVING n <> d"
    ).fetchall()
    if dup:
        problems.append(f"{len(dup)} windows emitted twice, e.g. {dup[0][:2]}")
    diff = con.execute(f"""
        WITH want AS (
          SELECT w, sensor, event_id FROM (
            SELECT ts_ms - ts_ms % {window_ms} AS w, sensor, event_id,
                   row_number() OVER (PARTITION BY ts_ms - ts_ms % {window_ms}, sensor
                                      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS r
            FROM feed)
          WHERE r <= {k}),
        got AS (SELECT DISTINCT window_start_ms AS w, event_type AS sensor FROM emitted)
        SELECT count(*) FROM (
          (SELECT w, sensor, event_id FROM want SEMI JOIN got USING (w, sensor)
           EXCEPT ALL SELECT window_start_ms, event_type, event_id FROM emitted)
          UNION ALL
          (SELECT window_start_ms, event_type, event_id FROM emitted
           EXCEPT ALL SELECT w, sensor, event_id FROM want))
    """).fetchone()[0]
    if diff:
        problems.append(f"{diff} sampled rows differ from the md5 bottom-{k} of their window")
    return problems
