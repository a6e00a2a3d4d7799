"""Audio perceptual fingerprint near-dup over the multimodal WAV
column — completes the perceptual family (X43's dHash covers the image
column; this is its audio sibling over X5's PCM16 payloads).

Fingerprint (a spectral-free miniature of the Chromaprint/echoprint
idea): frame the waveform into 65 fixed-length windows, take per-frame
energy (sum of |sample|), emit one bit per adjacent frame pair —
bit = 1 iff the next frame is louder — giving a 64-bit signature
robust to re-encoding and amplitude-preserving edits. Banding and the
Hamming join are literally ``phash.phash_near_dup`` (the 8×8 banding
is exact for radius ≤ 7 by the same pigeonhole).

Oracle story (q_audio_fingerprint / q_audio_near_dup): the contract
corpus defines SAMPLES as the same ASCII-safe md5 keystream the image
rows use — byte block i is ``md5(src_text || '|' || i)``, samples are
little-endian signed int16 pairs. Spark ENCODES those samples into
real RIFF/WAV payloads, DECODES them back and fingerprints; DuckDB
reconstructs the same bytes arithmetically and replays the framing,
energies, bits and banding in SQL. Planted near-copies
(doc_id % 10 == 2 reuses the neighbor's waveform with keystream block
0 perturbed — the first 8 samples change, flipping 0-3 of the first
bits) keep the pair row non-trivially populated and inside the
radius.

100 TB: identical to the image path — payloads never shuffle (one
mapInPandas fingerprint pass), everything downstream moves 8-byte
fingerprints, the band join is bucketed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import documents, stage
from .multimodal import MEDIA_SCHEMA
from .phash import phash_near_dup

FP_SCHEMA = "doc_id BIGINT, fp BIGINT, bands ARRAY<INT>"
# N_FRAMES - 1 comparison bits must fit the BIGINT fingerprint and the
# 8x8 banding, so 65 is the only admissible value while fp is 64-bit;
# the constant is threaded through the encoder, the fingerprint pass
# and the DuckDB oracle below so the three can never desynchronize.
N_FRAMES = 65  # 64 bits + the trailing comparison frame


def synthesize_afp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic decodable WAV corpus for the afp contract rows:
    every doc becomes an 8 kHz PCM16 mono clip of
    ``200 + src_id % 120`` nominal samples (rounded down to the 65
    fingerprint frames), waveform = the ASCII keystream of the SOURCE
    doc's text (src = doc_id - 2 for the planted near-copies at
    doc_id % 10 == 2, keystream block 0 perturbed). Inline encoder
    twin of multimodal.encode_wav (self-contained closure; pinned
    byte-equal in tests)."""
    docs = documents(spark, sf_dir).select("doc_id", "text")
    src = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 2, F.col("doc_id") - 2)
        .otherwise(F.col("doc_id"))
        .alias("src_id"),
        (F.col("doc_id") % 10 == 2).alias("pert"),
    )
    joined = src.join(
        docs.select(
            F.col("doc_id").alias("src_id"), F.col("text").alias("src_text")
        ),
        "src_id",
    ).select("doc_id", "src_id", "pert", "src_text")

    n_frames = N_FRAMES  # closure-captured: workers never touch the module

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        import pandas as pd

        def keystream(seed: str, n: int, pert: bool) -> bytes:
            out = bytearray()
            block = 0
            while len(out) < n:
                key = seed + ("|p|0" if (pert and block == 0) else "|" + str(block))
                out += hashlib.md5(key.encode("utf-8")).digest()
                block += 1
            return bytes(out[:n])

        def enc_wav(rate: int, samples: list[int]) -> bytes:
            data = struct.pack(f"<{len(samples)}h", *samples)
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            body += b"data" + struct.pack("<I", len(data)) + data
            return b"RIFF" + struct.pack("<I", len(body)) + body

        for pdf in batches:
            payloads, metas = [], []
            for doc_id, src_id, pert, text in zip(
                pdf["doc_id"], pdf["src_id"], pdf["pert"], pdf["src_text"]
            ):
                fl = (200 + int(src_id) % 120) // n_frames
                n = n_frames * fl
                raw = keystream(text or "", 2 * n, bool(pert))
                samples = list(struct.unpack(f"<{n}h", raw))
                payloads.append(enc_wav(8000, samples))
                metas.append(
                    {"modality": "audio", "width": 0, "height": 0,
                     "codec": "audio/wav"}
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads, "meta": metas}
            )

    par = spark.sparkContext.defaultParallelism
    if joined.rdd.getNumPartitions() < par:
        # single-file parquet input leaves the CPU-bound encode/decode
        # mapInPandas passes on 1-2 cores (playbook hazard); round-
        # robin fan-out, no-op on real multi-split sources
        joined = joined.repartition(par)
    return joined.mapInPandas(run, schema=MEDIA_SCHEMA)


def audio_fingerprints(media: DataFrame) -> DataFrame:
    """64-bit energy-delta fingerprint per audio row: REALLY decode
    the RIFF/WAV payload (inline decoder twin of
    multimodal.decode_wav), frame into 65 equal windows, per-frame
    energy = sum(|sample|), bit i = energy[i+1] > energy[i]. Emits the
    8 LSH bands alongside (the phash convention). Non-audio rows and
    clips shorter than 65 samples are dropped."""

    n_frames = N_FRAMES  # closure-captured: workers never touch the module

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import pandas as pd

        def dec_wav(b: bytes) -> list[int]:
            pos = 12  # past RIFF<size>WAVE
            data = b""
            while pos + 8 <= len(b):
                ct = b[pos : pos + 4]
                (ln,) = struct.unpack("<I", b[pos + 4 : pos + 8])
                if ct == b"data":
                    data = b[pos + 8 : pos + 8 + ln]
                    break
                pos += 8 + ln
            return list(struct.unpack(f"<{len(data) // 2}h", data))

        for pdf in batches:
            ids, fps, bands_out = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                if meta["modality"] != "audio":
                    continue
                b = bytes(payload)
                if b[:4] != b"RIFF":
                    continue
                samples = dec_wav(b)
                fl = len(samples) // n_frames
                if fl == 0:
                    continue
                e = [
                    sum(abs(samples[i * fl + k]) for k in range(fl))
                    for i in range(n_frames)
                ]
                hsh = 0
                for i in range(n_frames - 1):
                    if e[i + 1] > e[i]:
                        hsh |= 1 << i
                bands = [(hsh >> (8 * j)) & 255 for j in range(8)]
                if hsh >= 1 << 63:
                    hsh -= 1 << 64
                ids.append(doc_id)
                fps.append(hsh)
                bands_out.append(bands)
            if ids:  # all-skipped batch: see phash.dhash_images
                yield pd.DataFrame(
                    {"doc_id": ids, "fp": fps, "bands": bands_out}
                )

    return media.mapInPandas(run, schema=FP_SCHEMA)


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): per-clip fingerprint census — every
    row certifies WAV encode → decode → fingerprint against DuckDB's
    arithmetic waveform reconstruction."""
    return audio_fingerprints(synthesize_afp_media(spark, sf_dir)).select(
        "doc_id", "fp"
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): audio near-dup pairs (Hamming <= 7,
    exact 8×8 banding) — populated by the planted near-copies. The
    per-clip fingerprint table stages once through per-sf_dir scratch
    parquet (the q_video_near_dup idiom — round 15): the band
    self-join consumes it on BOTH sides, so left lazy the
    synthesize+decode mapInPandas pipeline ran twice."""
    fp = stage(
        audio_fingerprints(synthesize_afp_media(spark, sf_dir)), sf_dir, "afp", "fp"
    )
    return phash_near_dup(fp, max_hamming=7, hash_col="fp")


def _byte(p: str) -> str:
    """DuckDB keystream byte at position ``p`` (a SQL int expression)
    — the phash hex-pair idiom with the perturbed-block-0 rule."""
    return (
        f"('0x' || substr(md5(src_text || CASE WHEN pert AND ({p}) // 16 = 0 "
        f"THEN '|p|0' ELSE '|' || (({p}) // 16)::VARCHAR END), "
        f"((({p}) % 16) * 2 + 1)::INT, 2))::BIGINT"
    )


_LO, _HI = _byte("2*j"), _byte("2*j+1")

_AFP_CTE = f"""
WITH srcm AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 10 = 2 THEN b.doc_id - 2 ELSE b.doc_id END AS src_id,
         (b.doc_id % 10 = 2) AS pert
  FROM documents b
), dims AS (
  SELECT s.doc_id, s.pert, t.text AS src_text,
         ((200 + s.src_id % 120) // {N_FRAMES})::BIGINT AS fl
  FROM srcm s JOIN documents t ON t.doc_id = s.src_id
), pts AS (
  SELECT d.doc_id, ii.i, (ii.i * d.fl + kk.k) AS j, d.src_text, d.pert
  FROM dims d,
       LATERAL (SELECT unnest(range(0, {N_FRAMES})) AS i) ii,
       LATERAL (SELECT unnest(range(0, d.fl)) AS k) kk
), samp AS (
  SELECT doc_id, i,
    abs({_LO} + 256 * {_HI}
        - CASE WHEN {_HI} >= 128 THEN 65536 ELSE 0 END) AS a
  FROM pts
), frames AS (
  SELECT doc_id, i, SUM(a) AS e FROM samp GROUP BY doc_id, i
), bits AS (
  SELECT a.doc_id, a.i, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
  FROM frames a JOIN frames b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  WHERE a.i < {N_FRAMES} - 1
), uhashes AS (
  SELECT doc_id, SUM(bit * (1::HUGEINT << i::INT))::HUGEINT AS uh
  FROM bits GROUP BY doc_id
), hashes AS (
  SELECT doc_id,
    (CASE WHEN uh >= 1::HUGEINT << 63 THEN uh - (1::HUGEINT << 64)
          ELSE uh END)::BIGINT AS fp,
    uh
  FROM uhashes
)
"""

_AFP_PAIRS_SQL = _AFP_CTE + """
, banded AS (
  SELECT doc_id, fp, bb.b AS band_idx,
         ((uh >> (8 * bb.b)::INT) & 255)::BIGINT AS band_val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS b) bb
), cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2, l.fp AS h1, r.fp AS h2
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val
  WHERE l.doc_id < r.doc_id
)
SELECT d1, d2, bit_count(xor(h1, h2))::INT AS hamming
FROM cand WHERE bit_count(xor(h1, h2)) <= 7
"""

QUERIES: dict = {}
QUERIES_TAIL = {
    "q_audio_fingerprint": q_audio_fingerprint,
    "q_audio_near_dup": q_audio_near_dup,
}
ORACLE = {
    "q_audio_fingerprint": _AFP_CTE + "SELECT doc_id, fp FROM hashes",
    "q_audio_near_dup": _AFP_PAIRS_SQL,
}
