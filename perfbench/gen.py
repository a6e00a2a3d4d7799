"""Seeded input generators for the three workloads.

Everything here is a pure function of its seed: the same seed writes
byte-identical tables and yields identical nights and ticks; another
seed changes every value but no size. Nothing here imports Spark.

``write_tables`` reproduces the schema and value distributions of the
engine's TPC-H-ish testdata (region nation customer supplier part
orders lineitem events documents embeddings, one parquet file each,
naive microsecond timestamps) at a given scale factor, so the contract
rows and their DuckDB oracles run unchanged over it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "green", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64
US_PER_DAY = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return _ts(rng.integers(lo, hi + 1, n) * US_PER_DAY)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def doc_texts(rng, n: int) -> list[str]:
    """Documents in the testdata style: 10-100 words drawn from a
    31-word vocabulary."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, off = [], 0
    for ln in lens:
        out.append(" ".join(VOCAB[w] for w in words[off : off + ln]))
        off += ln
    return out


def unit_vectors(rng, n: int) -> np.ndarray:
    x = rng.standard_normal((n, EMB_DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _emb_array(mat: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(
        pa.array(mat.reshape(-1), type=pa.float32()), EMB_DIM
    ).cast(pa.list_(pa.float32()))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf``; returns rows per
    table. Sizes follow the testdata: lineitem = 6M x sf rows."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    n_users = int(15_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(t0 + np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = doc_texts(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": _emb_array(unit_vectors(rng, n_emb)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb,
    }


# --- nightly ------------------------------------------------------------

ID_POOL_NIGHTS = 64  # the seeded id split covers this many nights
PLANTED_ID0 = 10_000_000


@dataclass
class Night:
    doc_ids: list[int]
    texts: list[str]
    vecs: np.ndarray  # (n, EMB_DIM) float64, one row per doc
    planted_unique: list[int] = field(default_factory=list)
    planted_dup: list[int] = field(default_factory=list)


def _unique_texts(seed: int, k: int, n_unique: int) -> list[str]:
    """Planted unique docs of night ``k``: tokens seen nowhere else."""
    rng = np.random.default_rng([seed, 8, k])
    return [
        " ".join(f"s{seed}n{k}u{j}w{t}" for t in range(int(rng.integers(20, 40))))
        for j in range(n_unique)
    ]


def night(
    seed: int, k: int, n_docs: int, size: int | None = None,
    n_unique: int = 4, n_dup: int = 4,
) -> Night:
    """Night ``k`` of a seeded corpus; a pure function of its
    arguments, so nights can be made one at a time. Base docs take a
    seeded split of an id pool, so every night mixes the whole id
    range; ``size`` takes only the first docs of the night's share (a
    small bootstrap night). Each night also carries ``n_unique`` planted unique docs
    (which must survive) and, from night 1 on, ``n_dup`` planted exact
    copies, under new ids, of planted unique docs of earlier nights
    (which must be dropped)."""
    ids = np.random.default_rng([seed, 7]).permutation(ID_POOL_NIGHTS * n_docs)
    if k >= ID_POOL_NIGHTS:
        raise ValueError(f"night {k} is beyond the id pool of {ID_POOL_NIGHTS} nights")
    rng = np.random.default_rng([seed, 9, k])
    size = n_docs if size is None else size
    out = Night([int(i) for i in ids[k * n_docs : k * n_docs + size]],
                doc_texts(rng, size), np.empty((0, EMB_DIM)))
    pid = PLANTED_ID0 + k * (n_unique + n_dup)
    for text in _unique_texts(seed, k, n_unique):
        out.doc_ids.append(pid)
        out.texts.append(text)
        out.planted_unique.append(pid)
        pid += 1
    if k > 0:
        pool = [t for j in range(k) for t in _unique_texts(seed, j, n_unique)]
        for j in rng.choice(len(pool), min(n_dup, len(pool)), replace=False):
            out.doc_ids.append(pid)
            out.texts.append(pool[int(j)])
            out.planted_dup.append(pid)
            pid += 1
    out.vecs = unit_vectors(rng, len(out.doc_ids)).astype(np.float64)
    return out


def write_night(out_dir: str, n: Night) -> None:
    """A night lands as two parquet files: docs (doc_id, text) and
    embeddings (vec_id, vec)."""
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "docs", {
        "doc_id": np.asarray(n.doc_ids, dtype=np.int64), "text": n.texts,
    })
    _write(out_dir, "emb", {
        "vec_id": np.asarray(n.doc_ids, dtype=np.int64),
        "vec": pa.array(list(n.vecs), type=pa.list_(pa.float64())),
    })


# --- lambda serving -------------------------------------------------------

SENSORS = ["Warehouse 13", "The Forsaken Inn", "Old Mill", "Motel 6"]
BOUND = 100
ANOMALY_RATE = 0.034


@dataclass
class Tick:
    """One tick of bridge files: envelope rows (ts_ms, sensor, value,
    anomaly, seq). ``seq`` is the reading's own id, unique across the
    run; a re-send repeats an earlier (sensor, ts_ms) with a new
    value and a new seq."""

    ts_ms: np.ndarray
    sensor: np.ndarray  # index into SENSORS
    value: np.ndarray
    anomaly: np.ndarray
    seq: np.ndarray
    n_resend: int


def readings(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """The reference producer's two regimes (Producer.scala:62-66):
    ``sign * rand(0, bound)`` normally, ``sign * (bound + rand(0,
    bound/2))`` at the anomaly rate."""
    anomaly = (rng.random(n) < ANOMALY_RATE).astype(np.int32)
    sign = np.where(rng.random(n) < 0.5, -1.0, 1.0)
    mag = np.where(
        anomaly == 1,
        BOUND + np.floor(rng.random(n) * (BOUND // 2)),
        np.floor(rng.random(n) * BOUND),
    )
    return sign * mag, anomaly


def ticks(
    seed: int, n_ticks: int, per_tick: int, tick_span_ms: int,
    t0_ms: int, resend_share: float = 0.05,
) -> list[Tick]:
    """``n_ticks`` ticks of ``per_tick`` readings each. Fresh readings
    of tick k carry distinct event times spread over
    [t0 + k*span, t0 + (k+1)*span); re-sends repeat (sensor, ts_ms)
    pairs of tick k-1 only, so they land in a later micro-batch than
    their original and stay inside the watermark."""
    rng = np.random.default_rng([seed, 11])
    n_res = int(per_tick * resend_share)
    out: list[Tick] = []
    seq = 0
    prev: Tick | None = None
    for k in range(n_ticks):
        n_new = per_tick - (n_res if prev is not None else 0)
        lo = t0_ms + k * tick_span_ms
        slots = rng.choice(tick_span_ms, n_new, replace=False)
        ts = lo + np.sort(slots).astype(np.int64)
        sensor = rng.integers(0, len(SENSORS), n_new)
        value, anomaly = readings(rng, n_new)
        if prev is not None:
            # fresh readings only: a re-send of a re-send would carry an
            # event time two ticks old, behind the watermark
            pick = rng.choice(prev_fresh, n_res, replace=False)
            v2, a2 = readings(rng, n_res)
            ts = np.concatenate([ts, prev.ts_ms[pick]])
            sensor = np.concatenate([sensor, prev.sensor[pick]])
            value = np.concatenate([value, v2])
            anomaly = np.concatenate([anomaly, a2])
        n = len(ts)
        t = Tick(ts, sensor, value, anomaly,
                 np.arange(seq, seq + n, dtype=np.int64),
                 0 if prev is None else n_res)
        seq += n
        out.append(t)
        prev, prev_fresh = t, n_new
    return out


def write_bridge_file(out_dir: str, name: str, tick: Tick) -> None:
    """Land one tick as a bridge file in the envelope
    ``MqttFileBridge`` writes: ``{"ts_ms": .., "raw": "<payload>"}``
    per line, written to a dot-prefixed temp name and renamed so a
    tailing reader never sees a partial file."""
    tmp = os.path.join(out_dir, f".{name}.json.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        for ts, s, v, a, q in zip(
            tick.ts_ms.tolist(), tick.sensor.tolist(), tick.value.tolist(),
            tick.anomaly.tolist(), tick.seq.tolist(),
        ):
            raw = json.dumps(
                {"sensor": SENSORS[s], "value": v, "anomaly": a, "seq": q}
            )
            f.write(json.dumps({"ts_ms": ts, "raw": raw}) + "\n")
    os.rename(tmp, os.path.join(out_dir, f"{name}.json"))
