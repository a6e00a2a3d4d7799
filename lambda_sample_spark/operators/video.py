"""Video near-dup over frame-sampled payloads — the third leg of the
perceptual family (X43 image dHash, X46 audio fingerprint): parse a
multi-frame binary payload, dHash every sampled frame, and call two
videos near-duplicates when they share enough identical frame hashes.

Container honesty: real MP4 decode needs codec libraries this
container does not have (multimodal.py documents that boundary with a
hash fallback). This module therefore defines an explicit RAW-frame
test container — ``RAWV`` magic, big-endian u32 frame count, then
length-prefixed 24-bit BMP frames — so the PLUMBING a real codec
version needs (container parse, per-frame decode, per-frame hashing,
frame-set pairing) is real and oracle-checked end to end; swapping in
a PyAV/ffmpeg frame iterator touches only the two inline decode
closures.

Pairing semantics (the shot-sampling near-dup used for video corpora):
per-frame dHashes are exact 64-bit keys; candidates join on equal
frame hash and a pair qualifies at >= ``min_shared`` DISTINCT shared
hashes. A stop-hash document-frequency cap (the winnowing lesson,
text.py:_stop_cap) drops frame hashes appearing in more than
``max_df`` videos before pairing — a black/intro frame shared by a
million videos is exactly the hot key that would otherwise fan the
join out quadratically; the cap keeps per-hash join work constant.

Oracle story: frame pixels are the ASCII md5 keystream (frame-scoped
keys ``md5(src_text || '#' || frame || '|' || block)``), Spark encodes
real BMP frames into the container and decodes them back; DuckDB
reconstructs the bytes arithmetically and replays the dHash and the
shared-frame join in SQL. Planted near-copies (doc_id % 10 == 2
reuses the neighbor's frames with frame 0's first keystream block
perturbed) share all-but-at-most-one frame hash.

100 TB: payloads never shuffle (one mapInPandas pass emits 8-byte
frame hashes); the pair join is bucketed by exact hash with the df
cap bounding fan-out; per-video state is the sampled frame count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import documents, stage

VIDEO_SCHEMA = "doc_id BIGINT, payload BINARY, n_frames INT"
FRAME_HASH_SCHEMA = "doc_id BIGINT, frame_idx INT, dhash BIGINT"


def synthesize_video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic decodable video corpus: every doc becomes a RAWV
    container of ``4 + src_id % 4`` BMP frames, frame f's pixels = the
    frame-scoped ASCII keystream of the SOURCE doc's text (src =
    doc_id - 2 and frame-0-block-0 perturbed for the planted
    near-copies at doc_id % 10 == 2). Inline encoder twins, pinned in
    tests."""
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

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        import pandas as pd

        def keystream(seed: str, frame: int, n: int, pert: bool) -> bytes:
            out = bytearray()
            block = 0
            while len(out) < n:
                if pert and frame == 0 and block == 0:
                    key = seed + "#p0|0"
                else:
                    key = seed + "#" + str(frame) + "|" + str(block)
                out += hashlib.md5(key.encode("utf-8")).digest()
                block += 1
            return bytes(out[:n])

        def enc_bmp(w: int, h: int, rgb: bytes) -> bytes:
            row_raw = w * 3
            pad = (4 - row_raw % 4) % 4
            img = (row_raw + pad) * h
            hdr = b"BM" + struct.pack("<IHHI", 54 + img, 0, 0, 54)
            dib = struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, img, 2835, 2835, 0, 0
            )
            rows = []
            for y in range(h - 1, -1, -1):
                s = rgb[y * row_raw : (y + 1) * row_raw]
                row = bytearray(row_raw)
                row[0::3] = s[2::3]
                row[1::3] = s[1::3]
                row[2::3] = s[0::3]
                rows.append(bytes(row) + b"\x00" * pad)
            return hdr + dib + b"".join(rows)

        for pdf in batches:
            payloads, counts = [], []
            for doc_id, src_id, pert, text in zip(
                pdf["doc_id"], pdf["src_id"], pdf["pert"], pdf["src_text"]
            ):
                w = 4 + int(src_id) % 13
                h = 3 + int(src_id) % 7
                nf = 4 + int(src_id) % 4
                frames = []
                for f in range(nf):
                    rgb = keystream(text or "", f, w * h * 3, bool(pert))
                    frames.append(enc_bmp(w, h, rgb))
                body = b"RAWV" + struct.pack(">I", nf) + b"".join(
                    struct.pack(">I", len(fr)) + fr for fr in frames
                )
                payloads.append(body)
                counts.append(nf)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "n_frames": counts,
                }
            )

    par = spark.sparkContext.defaultParallelism
    if joined.rdd.getNumPartitions() < par:
        # single-file parquet input leaves the CPU-bound encode/decode
        # mapInPandas passes on 1-2 cores (playbook hazard); round-
        # robin fan-out, no-op on real multi-split sources
        joined = joined.repartition(par)
    return joined.mapInPandas(run, schema=VIDEO_SCHEMA)


def decode_mp4_frames(payload: bytes) -> list[tuple[int, int, bytes]]:
    """Eager MP4 frame decode behind an OPTIONAL PyAV import (the
    Pillow/JPEG pattern from round 11, multimodal.decode_jpeg): this
    container ships no codec libraries, so without PyAV this raises
    NotImplementedError and the distributed path keeps its documented
    fallback (MP4 payloads skip, RAWV decodes) byte-identical. With
    PyAV installed, frames really decode to (w, h, rgb24) in stream
    order. tests/test_pyav_optional.py covers both legs and pins the
    inline closure twin in video_frame_hashes equal to this."""
    try:
        import av
    except ImportError as exc:  # pragma: no cover — no PyAV here
        raise NotImplementedError(
            "MP4 decode requires PyAV (pip install av)"
        ) from exc
    import io

    out = []
    with av.open(io.BytesIO(payload)) as container:
        for frame in container.decode(video=0):
            arr = frame.to_ndarray(format="rgb24")
            out.append((arr.shape[1], arr.shape[0], arr.tobytes()))
    return out


def video_frame_hashes(media: DataFrame, every_n: int = 1) -> DataFrame:
    """Parse the container, REALLY decode every ``every_n``-th frame
    and dHash it (the X43 spec: 9×8 nearest-neighbor grid, horizontal
    gradient signs). One mapInPandas pass; emits
    (doc_id, frame_idx, dhash).

    Containers: RAWV (the oracle-checked BMP test container — inline
    decoder twin of multimodal.decode_bmp) always decodes; MP4
    (``ftyp`` brand sniff) decodes when PyAV is importable ON THE
    EXECUTOR and is skipped — never a crash — without it, exactly like
    phash.dhash_images treats JPEG without Pillow. The ``av`` import
    lives inside the worker closure so the closure stays
    self-contained under cloudpickle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct

        import pandas as pd

        def dec_bmp(b: bytes) -> tuple[int, int, bytes]:
            off = struct.unpack("<I", b[10:14])[0]
            w, h = struct.unpack("<ii", b[18:26])
            row_raw = w * 3
            pad = (4 - row_raw % 4) % 4
            rgb = bytearray(w * h * 3)
            for y in range(h):
                src = b[off + (h - 1 - y) * (row_raw + pad) :][:row_raw]
                row = bytearray(row_raw)
                row[0::3] = src[2::3]
                row[1::3] = src[1::3]
                row[2::3] = src[0::3]
                rgb[y * row_raw : (y + 1) * row_raw] = row
            return w, h, bytes(rgb)

        def dhash(w: int, h: int, rgb: bytes) -> int:
            def gray(j: int, k: int) -> int:
                p = (((j * h) // 8) * w + ((k * w) // 9)) * 3
                return rgb[p] + rgb[p + 1] + rgb[p + 2]

            hsh = 0
            for j in range(8):
                for k in range(8):
                    if gray(j, k + 1) > gray(j, k):
                        hsh |= 1 << (j * 8 + k)
            return hsh - (1 << 64) if hsh >= 1 << 63 else hsh

        def frames_of(b: bytes):
            """(frame_idx, w, h, rgb24) per frame, container-sniffed.
            Unknown containers (and MP4 without PyAV) yield nothing —
            the skip fallback, never a crash."""
            if b[:4] == b"RAWV":
                (nf,) = struct.unpack(">I", b[4:8])
                pos = 8
                for f in range(nf):
                    (ln,) = struct.unpack(">I", b[pos : pos + 4])
                    frame = b[pos + 4 : pos + 4 + ln]
                    pos += 4 + ln
                    yield f, *dec_bmp(frame)
            elif len(b) >= 12 and b[4:8] == b"ftyp":
                try:
                    import av
                except ImportError:
                    return  # documented codec-library gap: skip row
                import io as _io

                with av.open(_io.BytesIO(b)) as container:
                    for f, frame in enumerate(container.decode(video=0)):
                        arr = frame.to_ndarray(format="rgb24")
                        yield f, arr.shape[1], arr.shape[0], arr.tobytes()

        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for f, w, h, rgb in frames_of(bytes(payload)):
                    if f % every_n:
                        continue
                    ids.append(doc_id)
                    idxs.append(f)
                    hashes.append(dhash(w, h, rgb))
            if ids:  # all-skipped batch: see phash.dhash_images
                yield pd.DataFrame(
                    {"doc_id": ids, "frame_idx": idxs, "dhash": hashes}
                )

    return media.mapInPandas(run, schema=FRAME_HASH_SCHEMA)


def video_near_dup(
    per_video: DataFrame, min_shared: int = 3, max_df: int = 50
) -> DataFrame:
    """Video pairs sharing >= ``min_shared`` DISTINCT frame dHashes:
    (d1, d2, shared_frames). ``per_video`` must be DISTINCT
    (doc_id, dhash) rows — callers materialize the distinct frame-hash
    table once (scratch parquet, the q_connected_components pattern)
    so the three consumers below (stop census + both join sides) re-
    scan an 16-byte-per-row table instead of re-running the decode
    pipeline, and so shared hashes appear once per video.

    Frame hashes present in more than ``max_df`` videos are dropped
    via an anti-join against the STOP list (the small side — hashes
    over the cap number <= rows/max_df; broadcasting the kept set
    would ship the whole index): an intro/black frame shared corpus-
    wide is noise AND the quadratic hot key; the cap keeps per-hash
    join fan-out <= max_df^2. Rows are unique per (doc_id, dhash), so
    the pair census is a plain count, no distinct buffers."""
    stop = (
        per_video.groupBy("dhash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("dhash")
    )
    keep = per_video.join(F.broadcast(stop), "dhash", "left_anti")
    a = keep.select(F.col("doc_id").alias("d1"), "dhash")
    b = keep.select(F.col("doc_id").alias("d2"), "dhash")
    return (
        a.join(b, "dhash")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").cast("bigint").alias("shared_frames"))
        .where(F.col("shared_frames") >= min_shared)
    )


def q_video_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): per-frame dHash census over the
    synthesized video corpus — certifies container parse + frame
    decode + hash against DuckDB's arithmetic reconstruction."""
    return video_frame_hashes(synthesize_video_media(spark, sf_dir))


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): videos sharing >= 3 distinct frame
    hashes — populated by the planted near-copies (which share all
    but at most one frame). The distinct frame-hash table is written
    once to a deterministic per-sf_dir scratch path (overwrite; the
    q_connected_components idiom — no localCheckpoint, so the
    driver's long-lived session gains zero persistent RDD blocks):
    without it the adaptive plan re-runs the decode+hash mapInPandas
    pipeline once per consumer (both join sides + the stop census =
    3x the only expensive stage)."""
    fh = video_frame_hashes(synthesize_video_media(spark, sf_dir))
    per_video = stage(
        fh.select("doc_id", "dhash").distinct(), sf_dir, "vfh", "per_video"
    )
    return video_near_dup(per_video)


_VIDEO_DHASH_CTE = """
WITH srcm AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 10 = 2 THEN b.doc_id - 2 ELSE b.doc_id END AS src_id,
         (b.doc_id % 10 = 2) AS pert
  FROM documents b
), dims AS (
  SELECT s.doc_id, s.pert, t.text AS src_text,
         (4 + s.src_id % 13)::BIGINT AS w, (3 + s.src_id % 7)::BIGINT AS h,
         (4 + s.src_id % 4)::BIGINT AS nf
  FROM srcm s JOIN documents t ON t.doc_id = s.src_id
), pts AS (
  SELECT d.doc_id, ff.f, jj.j, kk.k,
    ((((jj.j * d.h) // 8) * d.w + ((kk.k * d.w) // 9)) * 3 + cc.c) AS p,
    d.src_text, d.pert
  FROM dims d,
       LATERAL (SELECT unnest(range(0, d.nf)) AS f) ff,
       LATERAL (SELECT unnest(range(0, 8)) AS j) jj,
       LATERAL (SELECT unnest(range(0, 9)) AS k) kk,
       LATERAL (SELECT unnest(range(0, 3)) AS c) cc
), vals AS (
  SELECT doc_id, f, j, k,
    ('0x' || substr(
       md5(src_text || CASE WHEN pert AND f = 0 AND p // 16 = 0
                            THEN '#p0|0'
                            ELSE '#' || f::VARCHAR || '|' || (p // 16)::VARCHAR
                       END),
       ((p % 16) * 2 + 1)::INT, 2))::BIGINT AS byte
  FROM pts
), gray AS (
  SELECT doc_id, f, j, k, SUM(byte) AS g
  FROM vals GROUP BY doc_id, f, j, k
), bits AS (
  SELECT a.doc_id, a.f, a.j, a.k,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.f = a.f
             AND b.j = a.j AND b.k = a.k + 1
  WHERE a.k < 8
), uhashes AS (
  SELECT doc_id, f,
    SUM(bit * (1::HUGEINT << (j * 8 + k)::INT))::HUGEINT AS uh
  FROM bits GROUP BY doc_id, f
), hashes AS (
  SELECT doc_id, f::INT AS frame_idx,
    (CASE WHEN uh >= 1::HUGEINT << 63 THEN uh - (1::HUGEINT << 64)
          ELSE uh END)::BIGINT AS dhash
  FROM uhashes
)
"""

_VIDEO_PAIRS_SQL = _VIDEO_DHASH_CTE + """
, per_video AS (SELECT DISTINCT doc_id, dhash FROM hashes),
kept AS (
  SELECT doc_id, dhash FROM per_video
  WHERE dhash IN (
    SELECT dhash FROM per_video GROUP BY dhash HAVING count(*) <= 50
  )
)
SELECT a.doc_id AS d1, b.doc_id AS d2,
       count(DISTINCT a.dhash)::BIGINT AS shared_frames
FROM kept a JOIN kept b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(DISTINCT a.dhash) >= 3
"""

QUERIES: dict = {}
QUERIES_TAIL = {
    "q_video_frame_hashes": q_video_frame_hashes,
    "q_video_near_dup": q_video_near_dup,
}
ORACLE = {
    "q_video_frame_hashes": _VIDEO_DHASH_CTE
    + "SELECT doc_id, frame_idx, dhash FROM hashes",
    "q_video_near_dup": _VIDEO_PAIRS_SQL,
}
