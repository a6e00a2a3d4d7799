"""The benchmark's own tests: each correctness check rejects a wrong
answer built here, and the same seed reproduces identical inputs while
another seed changes them. No Spark session is started.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import gen  # noqa: E402


# --- queries ----------------------------------------------------------------


@pytest.fixture(scope="module")
def tables(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    gen.write_tables(d, 3, 0.001)
    return d


def _oracle(tables, name):
    from lambda_sample_spark.contract import oracle_sql

    return checks.duckdb_views(tables).execute(oracle_sql()[name]).fetchdf()


def test_query_check_accepts_the_oracle_itself(tables):
    want = _oracle(tables, "q_group_stats")
    assert len(want) > 0
    assert checks.compare_rows("q_group_stats", want.sample(frac=1.0, random_state=1), want) == []


def test_query_check_rejects_one_changed_cell(tables):
    want = _oracle(tables, "q_group_stats")
    got = want.copy()
    col = next(c for c in got.columns if got[c].dtype.kind == "f")
    got.loc[0, col] = np.nextafter(got.loc[0, col], np.inf)  # one ulp off
    assert checks.compare_rows("q_group_stats", got, want)


def test_query_check_rejects_a_missing_row_and_a_renamed_column(tables):
    want = _oracle(tables, "q_tpch_q1")
    assert checks.compare_rows("q_tpch_q1", want.iloc[1:], want)
    assert checks.compare_rows("q_tpch_q1", want.rename(columns={want.columns[0]: "x"}), want)


# --- nightly ------------------------------------------------------------------


def _nightly_ok():
    ingested = set(range(10)) | {100, 101, 200}
    corpus = [0, 3, 7, 100, 101]
    return dict(ingested_ids=ingested, planted_unique={100, 101}, planted_dup={200},
                corpus_ids=corpus, ann_ids=list(reversed(corpus)))


def test_nightly_check_accepts_a_consistent_state():
    assert checks.check_nightly(**_nightly_ok()) == []


@pytest.mark.parametrize("change", [
    {"corpus_ids": [0, 3, 7, 100, 101, 200]},   # a planted duplicate kept
    {"corpus_ids": [0, 3, 7, 100]},             # a planted unique dropped
    {"corpus_ids": [0, 3, 3, 7, 100, 101]},     # a doc_id stored twice
    {"corpus_ids": [0, 3, 7, 100, 101, 55]},    # a doc never ingested
    {"ann_ids": [0, 3, 7, 100]},                # ANN index behind the corpus
])
def test_nightly_check_rejects(change):
    args = _nightly_ok()
    if "corpus_ids" in change and "ann_ids" not in change:
        args["ann_ids"] = change["corpus_ids"]
    args.update(change)
    assert checks.check_nightly(**args)


# --- lambda serving: GET / ----------------------------------------------------


def _store():
    t = gen.ticks(5, 3, 400, 60_000, 1_700_000_000_000)
    ts = np.concatenate([x.ts_ms for x in t])
    sensor = np.concatenate([x.sensor for x in t])
    value = np.concatenate([x.value for x in t])
    batch = np.concatenate([np.full(len(x.ts_ms), j) for j, x in enumerate(t)])
    return ts, sensor, value, batch


def _served(expected, full=0.25):
    entries = []
    for name, e in sorted(expected.items()):
        f = e["fast_anomaly"]
        entries.append({
            "name": name, "ts": e["ts"], "fast_anomaly": round(f, 6),
            "full_anomaly": full, "avg_anomaly": round((35 * f + 65 * full) / 100, 6),
        })
    return json.dumps({"entries": entries})


def test_expected_meta_applies_last_write_wins_and_population_sd():
    ts = np.array([10, 20, 20, 30])
    sensor = np.zeros(4, dtype=int)
    value = np.array([1.0, 5.0, 3.0, 2.0])
    batch = np.array([0, 0, 1, 0])  # the later batch re-sends ts=20 as 3.0
    want = checks.expected_meta(ts, sensor, value, batch, ["s"])["s"]
    w = np.array([2.0, 3.0, 1.0])
    avg, sd = w.mean(), w.std()  # numpy's default std is the population sd
    assert want["ts"] == 30
    assert want["fast_anomaly"] == pytest.approx(
        min(1, max(0, (abs(2.0 - avg) - sd) / (2 * sd))))


def test_get_check_accepts_the_recomputation():
    expected = checks.expected_meta(*_store(), gen.SENSORS)
    assert checks.check_get(_served(expected), expected) == []


@pytest.mark.parametrize("field,delta", [
    ("fast_anomaly", 1e-4), ("ts", -1), ("avg_anomaly", 1e-4), ("full_anomaly", 2.0),
])
def test_get_check_rejects_a_wrong_field(field, delta):
    expected = checks.expected_meta(*_store(), gen.SENSORS)
    body = json.loads(_served(expected))
    body["entries"][0][field] += delta
    assert checks.check_get(json.dumps(body), expected)


def test_get_check_rejects_a_stale_store():
    ts, sensor, value, batch = _store()
    fresh = checks.expected_meta(ts, sensor, value, batch, gen.SENSORS)
    keep = batch < 2
    stale = checks.expected_meta(ts[keep], sensor[keep], value[keep], batch[keep], gen.SENSORS)
    assert checks.check_get(_served(stale), fresh)


# --- lambda serving: bottom-k ---------------------------------------------------


def _feed():
    rng = np.random.default_rng(0)
    n = 600
    return pd.DataFrame({
        "ts_ms": rng.integers(0, 5 * 60_000, n),
        "sensor": np.array(["a", "b"])[rng.integers(0, 2, n)],
        "event_id": np.arange(n, dtype=np.int64),
    })


def _bottomk(feed, k):
    rows = []
    for (w, s), g in feed.groupby([feed.ts_ms - feed.ts_ms % 60_000, "sensor"]):
        ids = sorted(g.event_id, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        rows += [(int(w), s, int(i)) for i in ids[:k]]
    return pd.DataFrame(rows, columns=["window_start_ms", "event_type", "event_id"])


def test_bottomk_check_accepts_python_md5_bottomk():
    feed = _feed()
    assert checks.check_bottomk(_bottomk(feed, 8), feed, 8, 60_000) == []


def test_bottomk_check_rejects_a_swapped_row_a_repeat_and_nothing():
    feed = _feed()
    good = _bottomk(feed, 8)
    swapped = good.copy()
    row = swapped.iloc[0]
    same_group = feed[(feed.ts_ms - feed.ts_ms % 60_000 == row.window_start_ms)
                      & (feed.sensor == row.event_type)]
    swapped.loc[0, "event_id"] = int(next(i for i in same_group.event_id
                                          if i not in set(good.event_id)))
    assert checks.check_bottomk(swapped, feed, 8, 60_000)
    repeated = pd.concat([good, good[good.window_start_ms == good.window_start_ms.iloc[0]]])
    assert checks.check_bottomk(repeated, feed, 8, 60_000)
    assert checks.check_bottomk(good.iloc[:0], feed, 8, 60_000)


# --- seeds ----------------------------------------------------------------------


def test_same_seed_same_tables_other_seed_other_tables(tmp_path):
    for d, seed in (("a", 1), ("b", 1), ("c", 2)):
        gen.write_tables(str(tmp_path / d), seed, 0.001)
    for t in checks.TABLES:
        a, b, c = (pq.read_table(str(tmp_path / d / f"{t}.parquet")) for d in "abc")
        assert a.equals(b), t
        if t not in ("region", "nation"):  # fixed dimension tables
            assert not a.equals(c), t
            assert a.num_rows == c.num_rows, t


def test_same_seed_same_nights_and_ticks():
    a, b, c = gen.night(1, 2, 50), gen.night(1, 2, 50), gen.night(2, 2, 50)
    assert a.doc_ids == b.doc_ids and a.texts == b.texts and (a.vecs == b.vecs).all()
    assert a.texts != c.texts and len(a.doc_ids) == len(c.doc_ids)
    ta, tb, tc = (gen.ticks(s, 3, 100, 60_000, 0) for s in (1, 1, 2))
    for x, y, z in zip(ta, tb, tc):
        assert (x.ts_ms == y.ts_ms).all() and (x.value == y.value).all()
        assert not (x.value == z.value).all()


def test_planted_documents_and_resends_keep_their_promises():
    nights = [gen.night(4, k, 40) for k in range(3)]
    uniques = {t for n in nights for i, t in zip(n.doc_ids, n.texts) if i in n.planted_unique}
    for n in nights[1:]:
        dup_texts = [t for i, t in zip(n.doc_ids, n.texts) if i in n.planted_dup]
        assert dup_texts and all(t in uniques for t in dup_texts)
    ids = [i for n in nights for i in n.doc_ids]
    assert len(ids) == len(set(ids))
    t = gen.ticks(4, 3, 200, 60_000, 0, resend_share=0.1)
    for prev, cur in zip(t, t[1:]):
        fresh = prev.ts_ms[: len(prev.ts_ms) - prev.n_resend]
        assert set(cur.ts_ms[-cur.n_resend:]) <= set(fresh)  # never two ticks old
