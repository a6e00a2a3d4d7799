"""Perceptual-hash (dHash) near-dup over the multimodal image column —
extends the X2 near-dup family (dedup.py banding machinery) to X5's
binary payloads (multimodal.py codecs): decode real BMP/PNG pixels,
compute the 64-bit difference hash, band it 8×8, and join bands to
find images within a Hamming radius.

dHash (the standard perceptual fingerprint): downsample the grayscale
image to a 9×8 grid (nearest neighbor), emit one bit per horizontally
adjacent cell pair — bit = 1 iff right cell is brighter — giving a
64-bit signature that survives re-encoding, small crops and noise.
Banding: 8 bytes of the hash are 8 LSH bands; by pigeonhole, any pair
within Hamming distance ≤ 7 shares at least one intact band, so the
default ``max_hamming=7`` makes the band join EXACT (recall 1), not a
recall/cost trade.

Oracle story (q_image_dhash / q_image_phash_dedup): the contract
corpus defines pixels as an ASCII-safe md5 keystream — byte block i
of a doc's image is ``md5(src_text || '|' || i)`` (DuckDB md5 takes
VARCHAR only, so the keystream counter is appended as decimal text,
not raw bytes). Spark ENCODES those pixels into real BMP/PNG payloads,
then DECODES them back and hashes; DuckDB reconstructs the same bytes
arithmetically from the definition and replays the dHash in SQL —
cell-exact agreement certifies the entire encode→decode→hash pipeline
against an independent reconstruction. Every ``doc_id % 10 == 2`` doc
is a planted near-copy: it reuses its neighbor's pixels with keystream
block 0 perturbed, so the pair output is non-trivially populated with
genuine small-Hamming matches (large perturbed fractions on tiny
images legitimately exceed the radius).

100 TB: payloads never shuffle — the hash pass is one mapInPandas
over the binary column and everything downstream moves 8-byte hashes;
the band join is bucketed (256 values × 8 bands), all-pairs only
within a bucket, the SimHash/MinHash banding argument verbatim.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import documents, stage
from .multimodal import MEDIA_SCHEMA

HASH_SCHEMA = "doc_id BIGINT, dhash BIGINT, bands ARRAY<INT>"


def synthesize_phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic decodable image corpus for the phash contract
    rows: every doc becomes an image (doc_id % 4 == 0 → 8-bit PNG,
    else 24-bit BMP — both real codecs get exercised), pixels = the
    ASCII-keystream of the SOURCE doc's text (src = doc_id - 2 for the
    planted near-copies at doc_id % 10 == 2, with keystream block 0
    perturbed; dims always follow the source so the copy is
    comparable). Inline encoder twins of multimodal.encode_bmp /
    encode_png — mapInPandas closures must be self-contained
    (cloudpickle serializes module references by name, which executors
    cannot import); tests pin them byte-equal to the module encoders."""
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
        import zlib

        import pandas as pd

        def keystream(seed: str, n: int, pert: bool) -> bytes:
            out = bytearray()
            block = 0
            while len(out) < n:
                key = seed + ("|p|0" if (pert and block == 0) else "|" + str(block))
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

        def enc_png(w: int, h: int, rgb: bytes) -> bytes:
            def chunk(ct: bytes, data: bytes) -> bytes:
                return (
                    struct.pack(">I", len(data)) + ct + data
                    + struct.pack(">I", zlib.crc32(ct + data) & 0xFFFFFFFF)
                )

            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            raw = b"".join(
                b"\x00" + rgb[y * w * 3 : (y + 1) * w * 3] for y in range(h)
            )
            return (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 6))
                + chunk(b"IEND", b"")
            )

        for pdf in batches:
            payloads, metas = [], []
            for doc_id, src_id, pert, text in zip(
                pdf["doc_id"], pdf["src_id"], pdf["pert"], pdf["src_text"]
            ):
                w = 4 + int(src_id) % 13
                h = 3 + int(src_id) % 7
                rgb = keystream(text or "", w * h * 3, bool(pert))
                png = int(doc_id) % 4 == 0
                payloads.append((enc_png if png else enc_bmp)(w, h, rgb))
                metas.append(
                    {
                        "modality": "image",
                        "width": w,
                        "height": h,
                        "codec": "image/png" if png else "image/bmp",
                    }
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


def dhash_images(media: DataFrame) -> DataFrame:
    """64-bit dHash per image row: REALLY decode the payload (24-bit
    BMP / 8-bit truecolor PNG — inline decoder twins of
    multimodal.decode_bmp/decode_png, pinned equal in tests), gray =
    r+g+b per pixel, 9×8 nearest-neighbor grid, bit(j,k) = grid[j,k+1]
    > grid[j,k]. Also emits the 8 LSH bands (hash bytes, LSB first)
    so the band join needs no engine-specific bit ops downstream.
    Non-image rows are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

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

        def dec_png(b: bytes) -> tuple[int, int, bytes]:
            pos, idat, w = 8, b"", 0
            h = 0
            while pos < len(b):
                (ln,) = struct.unpack(">I", b[pos : pos + 4])
                ct = b[pos + 4 : pos + 8]
                data = b[pos + 8 : pos + 8 + ln]
                if ct == b"IHDR":
                    w, h, depth, color = struct.unpack(">IIBB", data[:10])
                    if depth != 8 or color != 2:
                        raise ValueError("inline decoder handles 8-bit RGB only")
                elif ct == b"IDAT":
                    idat += data
                elif ct == b"IEND":
                    break
                pos += 12 + ln
            raw = zlib.decompress(idat)
            stride = w * 3
            out = bytearray()
            prev = bytearray(stride)
            for y in range(h):
                ft = raw[y * (stride + 1)]
                line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
                for i in range(stride):
                    a = line[i - 3] if i >= 3 else 0
                    up = prev[i]
                    if ft == 1:
                        line[i] = (line[i] + a) & 255
                    elif ft == 2:
                        line[i] = (line[i] + up) & 255
                    elif ft == 3:
                        line[i] = (line[i] + ((a + up) >> 1)) & 255
                    elif ft == 4:
                        c = prev[i - 3] if i >= 3 else 0
                        p = a + up - c
                        pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else c)
                        line[i] = (line[i] + pred) & 255
                out += line
                prev = line
            return w, h, bytes(out)

        def dhash(w: int, h: int, rgb: bytes) -> tuple[int, list[int]]:
            def gray(j: int, k: int) -> int:
                p = (((j * h) // 8) * w + ((k * w) // 9)) * 3
                return rgb[p] + rgb[p + 1] + rgb[p + 2]

            hsh = 0
            for j in range(8):
                for k in range(8):
                    if gray(j, k + 1) > gray(j, k):
                        hsh |= 1 << (j * 8 + k)
            bands = [(hsh >> (8 * b)) & 255 for b in range(8)]
            if hsh >= 1 << 63:
                hsh -= 1 << 64
            return hsh, bands

        # optional JPEG decode (external lib import keeps the closure
        # self-contained; absent -> JPEG rows skip, as before round 11)
        try:
            from PIL import Image as _PILImage  # noqa: N814
        except ImportError:
            _PILImage = None

        def dec_jpeg(b: bytes) -> tuple[int, int, bytes]:
            import io as _io

            img = _PILImage.open(_io.BytesIO(b)).convert("RGB")
            return img.width, img.height, img.tobytes()

        for pdf in batches:
            ids, hashes, bands_out = [], [], []
            for doc_id, payload, meta in zip(
                pdf["doc_id"], pdf["payload"], pdf["meta"]
            ):
                if meta["modality"] != "image":
                    continue
                b = bytes(payload)
                if b[:2] == b"BM":
                    w, h, rgb = dec_bmp(b)
                elif b[:8] == b"\x89PNG\r\n\x1a\n":
                    w, h, rgb = dec_png(b)
                elif b[:3] == b"\xff\xd8\xff" and _PILImage is not None:
                    w, h, rgb = dec_jpeg(b)
                else:
                    continue
                hsh, bands = dhash(w, h, rgb)
                ids.append(doc_id)
                hashes.append(hsh)
                bands_out.append(bands)
            if ids:  # an all-skipped batch yields nothing (an empty
                # frame's object columns arrive as float64 and Arrow
                # cannot cast that to the declared ARRAY<INT>)
                yield pd.DataFrame(
                    {"doc_id": ids, "dhash": hashes, "bands": bands_out}
                )

    return media.mapInPandas(run, schema=HASH_SCHEMA)


def phash_near_dup(
    hashes: DataFrame, max_hamming: int = 7, hash_col: str = "dhash"
) -> DataFrame:
    """Hamming-radius image pairs via 8×8 banding (the SimHash idiom,
    dedup.py:453): explode the 8 hash bytes as (band_idx, band_val)
    keys, equi-join, distinct the candidate pairs, then filter by
    bit_count(xor) — XOR and popcount over two's-complement BIGINT
    are bit-identical on both engines. With ``max_hamming <= 7`` the
    band join is EXACT (<= 7 flipped bits leave >= 1 of 8 bytes
    intact, so every qualifying pair collides on some band)."""
    if max_hamming > 7:
        raise ValueError(
            "8x8 banding guarantees recall only for max_hamming <= 7; "
            "re-band (more/narrower bands) for a wider radius"
        )
    b = hashes.select(
        "doc_id", hash_col, F.posexplode("bands").alias("band_idx", "band_val")
    )
    left = b.select(
        F.col("doc_id").alias("d1"),
        F.col(hash_col).alias("h1"),
        "band_idx",
        "band_val",
    )
    right = b.select(
        F.col("doc_id").alias("d2"),
        F.col(hash_col).alias("h2"),
        "band_idx",
        "band_val",
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.where(ham <= max_hamming)
        .select("d1", "d2", ham.cast("int").alias("hamming"))
    )


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): per-image dHash census over the
    synthesized decodable corpus — every row certifies encode → decode
    → hash against DuckDB's arithmetic pixel reconstruction."""
    return dhash_images(synthesize_phash_media(spark, sf_dir)).select(
        "doc_id", "dhash"
    )


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract (tail, round 10): perceptual near-dup pairs (Hamming
    <= 7 via exact 8×8 banding) over the same corpus — non-trivially
    populated by the planted near-copies. The per-image hash table is
    written once to a deterministic per-sf_dir scratch path (the
    q_video_near_dup idiom — round 15): the band self-join consumes it
    on BOTH sides, so left lazy the synthesize+decode mapInPandas
    pipeline (the only expensive stage) ran twice."""
    hashes = stage(
        dhash_images(synthesize_phash_media(spark, sf_dir)), sf_dir, "phash", "hashes"
    )
    return phash_near_dup(hashes, max_hamming=7)


# DuckDB reconstructs pixels straight from the keystream definition —
# no decoding — and replays the dHash + banding relationally.
_DHASH_CTE = """
WITH src AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 10 = 2 THEN b.doc_id - 2 ELSE b.doc_id END AS src_id,
         (b.doc_id % 10 = 2) AS pert
  FROM documents b
), dims AS (
  SELECT s.doc_id, s.pert, t.text AS src_text,
         (4 + s.src_id % 13)::BIGINT AS w, (3 + s.src_id % 7)::BIGINT AS h
  FROM src s JOIN documents t ON t.doc_id = s.src_id
), pts AS (
  SELECT d.doc_id, jj.j, kk.k,
    ((((jj.j * d.h) // 8) * d.w + ((kk.k * d.w) // 9)) * 3 + cc.c) AS p,
    d.src_text, d.pert
  FROM dims d,
       LATERAL (SELECT unnest(range(0, 8)) AS j) jj,
       LATERAL (SELECT unnest(range(0, 9)) AS k) kk,
       LATERAL (SELECT unnest(range(0, 3)) AS c) cc
), vals AS (
  SELECT doc_id, j, k,
    ('0x' || substr(
       md5(src_text || CASE WHEN pert AND p // 16 = 0
                            THEN '|p|0' ELSE '|' || (p // 16)::VARCHAR END),
       ((p % 16) * 2 + 1)::INT, 2))::BIGINT AS byte
  FROM pts
), gray AS (
  SELECT doc_id, j, k, SUM(byte) AS g FROM vals GROUP BY doc_id, j, k
), bits AS (
  SELECT a.doc_id, a.j, a.k,
         CASE WHEN b.g > a.g THEN 1 ELSE 0 END AS bit
  FROM gray a
  JOIN gray b ON b.doc_id = a.doc_id AND b.j = a.j AND b.k = a.k + 1
  WHERE a.k < 8
), uhashes AS (
  SELECT doc_id,
    SUM(bit * (1::HUGEINT << (j * 8 + k)::INT))::HUGEINT AS uh
  FROM bits GROUP BY doc_id
), hashes AS (
  SELECT doc_id,
    (CASE WHEN uh >= 1::HUGEINT << 63 THEN uh - (1::HUGEINT << 64)
          ELSE uh END)::BIGINT AS dhash,
    uh
  FROM uhashes
)
"""

_PHASH_PAIRS_SQL = _DHASH_CTE + """
, banded AS (
  SELECT doc_id, dhash, bb.b AS band_idx,
         ((uh >> (8 * bb.b)::INT) & 255)::BIGINT AS band_val
  FROM hashes, LATERAL (SELECT unnest(range(0, 8)) AS b) bb
), cand AS (
  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2, l.dhash AS h1, r.dhash AS h2
  FROM banded l JOIN banded r
    ON l.band_idx = r.band_idx AND l.band_val = r.band_val
  WHERE l.doc_id < r.doc_id
)
SELECT d1, d2, bit_count(xor(h1, h2))::INT AS hamming
FROM cand WHERE bit_count(xor(h1, h2)) <= 7
"""

QUERIES: dict = {}
QUERIES_TAIL = {
    "q_image_dhash": q_image_dhash,
    "q_image_phash_dedup": q_image_phash_dedup,
}
ORACLE = {
    "q_image_dhash": _DHASH_CTE + "SELECT doc_id, dhash FROM hashes",
    "q_image_phash_dedup": _PHASH_PAIRS_SQL,
}
