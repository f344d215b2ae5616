"""Multimodal column handling (SURVEY.md §2-B L7, S4).

Policy: image/audio/video travel as opaque ``binary`` columns next to a
typed metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` over iterator-of-batches (never whole-partition
materialization — SURVEY.md §4.3). The container has no image/audio
libraries, so the decode step is a clearly-marked deterministic stub
(`_fake_decode`); the Spark-side plumbing — schema, batching, UDF
signatures, partitioning — is real and tested.

The binary payloads here are the documents' utf-8 bytes, standing in for
media blobs exactly the way the reference moves opaque ZIP bytes it
never parses (REPORT:200, README:11).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dock_financial_data_pipelines_spark.catalog import load
from dock_financial_data_pipelines_spark.hashing import h60_py, h60_sql
from dock_financial_data_pipelines_spark.registry import query


def to_multimodal(docs: DataFrame) -> DataFrame:
    """documents → (asset_id, content: binary, meta: struct)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.col("lang").alias("lang"),
            F.col("source").alias("source"),
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )


_DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("lang", StringType()),
        StructField("byte_len", LongType()),
        StructField("feature", LongType()),
    ]
)


def _fake_decode(content: bytes) -> int:
    """STUB decode/feature-extract. A real deployment would decode the
    media here (PIL / torchaudio / ffmpeg are not in this container).
    Deterministic fake feature: sum of the first 16 bytes."""
    return int(sum(content[:16]))


def decode_assets(assets: DataFrame) -> DataFrame:
    """mapInPandas decode: iterator-of-batches in, iterator out."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "lang": [m["lang"] for m in pdf["meta"]],
                    "byte_len": [len(c) for c in pdf["content"]],
                    "feature": [_fake_decode(c) for c in pdf["content"]],
                }
            )

    return assets.mapInPandas(decode, _DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# L7 — multimodal pipeline: encode → binary column + metadata struct →
# mapInPandas decode → aggregate. byte_len == length(text) for the ascii
# fixture text, which gives the SQL oracle.
# ---------------------------------------------------------------------------
@query(
    "l7_multimodal_decode",
    oracle="""
    SELECT lang,
           count(*) AS n_assets,
           -- strlen = UTF-8 BYTES (the binary payload's length);
           -- length() counts codepoints and diverges on multibyte text
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1
    """,
)
def l7_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = to_multimodal(load(spark, sf_dir, "documents"))
    return (
        decode_assets(assets)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("byte_len").alias("total_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# L7b — binary frame-sampling shape: slice fixed-width "frames" out of the
# binary payload JVM-side (substr on binary), no Python at all.
# ---------------------------------------------------------------------------
@query(
    "l7_binary_frame_sample",
    oracle="""
    SELECT CAST(doc_id % 10 AS BIGINT) AS shard,
           count(*) AS n_assets,
           CAST(sum(least(strlen(text), 32)) AS BIGINT) AS sampled_bytes
    FROM documents GROUP BY 1
    """,
)
def l7_binary_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = to_multimodal(load(spark, sf_dir, "documents")).withColumn(
        "frame", F.expr("substr(content, 1, 32)")
    )
    return assets.groupBy(
        (F.col("asset_id") % 10).cast("bigint").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.octet_length("frame")).alias("sampled_bytes"),
    )


# ---------------------------------------------------------------------------
# L7c — media transform (resize) plumbing: binary in → binary out with
# updated metadata, over iterator-of-batches mapInPandas. The "resize"
# is a deterministic stub (truncate payload to a byte budget — the
# container ships no image libs); the REAL parts are the contract a
# production transform drops into: binary columns both directions,
# struct metadata rewrite, Arrow batching, and per-batch bounded memory.
# ---------------------------------------------------------------------------
_RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("n_bytes_in", LongType()),
        StructField("n_bytes_out", LongType()),
    ]
)

_RESIZE_BUDGET = 64  # stub "target resolution" in bytes


def resize_assets(assets: DataFrame, budget: int = _RESIZE_BUDGET) -> DataFrame:
    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"],
                "content": [bytes(c)[:budget] for c in pdf["content"]],
                "mime": [m["mime"] for m in pdf["meta"]],
                "n_bytes_in": [int(m["n_bytes"]) for m in pdf["meta"]],
                "n_bytes_out": [min(len(bytes(c)), budget) for c in pdf["content"]],
            }
            yield pd.DataFrame(out)

    return assets.mapInPandas(resize, _RESIZE_SCHEMA)


@query(
    "l7_resize_stub",
    oracle=f"""
    SELECT count(*) AS n_assets,
           CAST(sum(least(strlen(text), {_RESIZE_BUDGET})) AS BIGINT) AS total_out_bytes,
           CAST(sum(strlen(text)) AS BIGINT) AS total_in_bytes
    FROM documents
    """,
)
def l7_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = to_multimodal(load(spark, sf_dir, "documents"))
    resized = resize_assets(assets)
    return resized.agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes_out").alias("total_out_bytes"),
        F.sum("n_bytes_in").alias("total_in_bytes"),
    )


# ---------------------------------------------------------------------------
# L7d — binary-payload dedup: group media assets by md5 of the raw
# bytes — the baseline every image/audio dedup pipeline runs before
# any perceptual hashing (exact-duplicate files are the bulk of crawl
# waste). Hashing happens ON the binary column (JVM md5 over bytes);
# the oracle hashes the same utf-8 bytes via DuckDB's md5(text). Same
# one-shuffle shape as l3 exact dedup, but over the multimodal
# carrier — at 100 TB only (hash, asset_id, n_bytes) shuffles, never
# the payload.
# ---------------------------------------------------------------------------
@query(
    "l7_binary_dedup",
    oracle="""
    SELECT md5(text) AS content_md5,
           count(*) AS n_copies,
           min(doc_id) AS kept_asset,
           -- strlen = UTF-8 BYTES (the binary payload's length);
           -- length() counts codepoints and diverges on multibyte text
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1
    """,
)
def l7_binary_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = to_multimodal(load(spark, sf_dir, "documents"))
    return (
        assets.groupBy(F.md5("content").alias("content_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("asset_id").alias("kept_asset"),
            F.sum(F.col("meta.n_bytes")).cast("long").alias("total_bytes"),
        )
    )


# ---------------------------------------------------------------------------
# L7e — perceptual-hash near-dup pipeline over the binary payload: the
# banded-Hamming plumbing every image/audio near-dup system runs, with
# the perceptual feature produced by the DECODE STUB (a real pHash
# needs the image libs this container deliberately lacks — the stub is
# the 60-bit md5 of the first 64 payload bytes, i.e. a "thumbnail"
# fingerprint; swap `_phash64` for a DCT pHash in production and
# nothing downstream changes). The near-dup machinery is real and
# scale-shaped: the 60-bit hash splits into 4×15-bit bands, candidate
# pairs come from a band equi-join (pigeonhole: Hamming ≤ 3 ⇒ at least
# one band equal — the simhash argument, dedup.py:424), and the exact
# Hamming verify is bit_count(xor) on candidates only. Only
# (asset_id, hash) ever shuffles — the payload stays at the scan.
# ---------------------------------------------------------------------------
_PHASH_PREFIX = 64  # payload bytes feeding the stub "thumbnail" hash
_PHASH_HAMMING = 3


@query(
    "l7_phash_neardup",
    oracle=f"""
    WITH ph AS (
        SELECT doc_id AS asset_id,
               {h60_sql(f"substring(text, 1, {_PHASH_PREFIX})", "duckdb")}
                   AS h
        FROM documents
    ),
    bands AS (
        SELECT asset_id, h, b, (h >> (b * 15)) & 32767 AS band_key
        FROM ph, (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
               a.h AS ha, b.h AS hb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key
         AND a.asset_id < b.asset_id
    )
    SELECT asset_a, asset_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_PHASH_HAMMING}
    ORDER BY asset_a, asset_b
    """,
)
def l7_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    assets = to_multimodal(load(spark, sf_dir, "documents"))
    ph = assets.select(
        "asset_id",
        F.expr(
            h60_sql(f"substr(content, 1, {_PHASH_PREFIX})", "spark")
        ).alias("h"),
    )
    bands = ph.select(
        "asset_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn("band_key", F.expr("shiftright(h, b * 15) % 32768"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.where(ham <= _PHASH_HAMMING)
        .select("asset_a", "asset_b", ham.cast("int").alias("hamming"))
        .orderBy("asset_a", "asset_b")
    )


# ---------------------------------------------------------------------------
# l7_modality_mix_report — magic-byte MODALITY SNIFFING over binary
# payloads: the intake report every multimodal ingest runs before
# routing (images → resize fleet, audio → resample fleet). Payloads
# get a real 4-byte magic prefix (PNG / RIFF, assigned by doc_id mod
# 3, the fixture's stand-in for genuinely mixed media); the engine
# side SNIFFS the binary prefix with hex(substring(content, 1, 4)) —
# JVM-side, payload never crosses to Python and only (modality,
# bytes) aggregates shuffle — while the oracle derives the same
# classes from the doc_id assignment rule. The two agree only if the
# sniffing logic is actually correct: an independent-formulation
# audit, not a replay.
# ---------------------------------------------------------------------------
_MAGIC_PNG = bytes([0x89, 0x50, 0x4E, 0x47])
_MAGIC_RIFF = b"RIFF"


@query(
    "l7_modality_mix_report",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'text/plain' END AS modality,
           count(*) AS n_assets,
           CAST(sum(strlen(text) + CASE WHEN doc_id % 3 = 2 THEN 0
                                        ELSE 4 END) AS BIGINT) AS total_bytes
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def l7_modality_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tagged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(_MAGIC_PNG), F.encode("text", "utf-8")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit(_MAGIC_RIFF), F.encode("text", "utf-8")),
        )
        .otherwise(F.encode("text", "utf-8"))
        .alias("content"),
    )
    sniffed = tagged.select(
        F.when(
            F.expr("hex(substring(content, 1, 4))") == "89504E47",
            "image/png",
        )
        .when(F.expr("hex(substring(content, 1, 4))") == "52494646", "audio/wav")
        .otherwise("text/plain")
        .alias("modality"),
        F.octet_length("content").alias("n_bytes"),
    )
    return (
        sniffed.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
        )
        .orderBy("modality")
    )


# ---------------------------------------------------------------------------
# L7f — REAL image decode: a complete pure-Python PNG codec (stdlib
# zlib only — the container ships no image libraries) running inside
# the same Arrow-batched mapInPandas contract as the stub decode above.
# The fixture encodes each document's utf-8 bytes as an 8-bit grayscale
# PNG (width 16, zero-padded final row) with ALTERNATING scanline
# filters (Sub on even rows, Up on odd rows), so the decoder must
# actually parse chunks, inflate IDAT and reverse the per-row filters
# to recover the pixels — a byte-shuffled payload would fail the md5
# audit. The decoder handles all five PNG filter types (None/Sub/Up/
# Average/Paeth) and reassembles multi-IDAT streams; because the
# recovered pixel buffer IS the document's utf-8 bytes, DuckDB can
# oracle the decoded-pixel fingerprints as md5(text) — an end-to-end
# proof the codec round-trips, not a replay of it.
#
# Scale shape: encode and decode are map-only (no shuffle touches the
# payload); only (asset_id, lang, md5, dims) aggregates shuffle. At
# 100 TB the PNG bytes stay in the scan→mapInPandas pipeline exactly
# like production image decode fleets.
# ---------------------------------------------------------------------------
_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_WIDTH = 16  # fixture image width in pixels (1 byte per pixel)


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _png_encode(pixels: bytes, width: int = _PNG_WIDTH) -> bytes:
    """Encode a byte buffer as an 8-bit grayscale PNG, one byte per
    pixel, zero-padding the final row. Even rows use filter 1 (Sub),
    odd rows filter 2 (Up) — deliberately non-trivial so the decoder's
    unfiltering is load-bearing."""
    import struct
    import zlib as _z

    height = max(1, -(-len(pixels) // width))
    padded = pixels + b"\x00" * (height * width - len(pixels))
    out = bytearray()
    prior = bytes(width)
    for r in range(height):
        row = padded[r * width : (r + 1) * width]
        if r % 2 == 0:  # Sub: delta vs previous byte in the row
            out.append(1)
            out.extend(
                (row[i] - (row[i - 1] if i else 0)) & 0xFF
                for i in range(width)
            )
        else:  # Up: delta vs same byte of the prior row
            out.append(2)
            out.extend((row[i] - prior[i]) & 0xFF for i in range(width))
        prior = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(out)))
        + _png_chunk(b"IEND", b"")
    )


def _png_decode(data: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit grayscale PNG: returns (width, height, pixels).
    Full scanline unfiltering — all five PNG filter types — so any
    conforming grayscale-8 encoder's output decodes, not just ours."""
    import struct
    import zlib as _z

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, width, height, idat = 8, 0, 0, bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if _z.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            width, height, depth, color = struct.unpack(
                ">IIBB", payload[:10]
            )
            if depth != 8 or color != 0:
                raise ValueError("only grayscale-8 supported")
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = _z.decompress(bytes(idat))
    pixels = bytearray()
    prior = bytes(width)
    stride = width + 1
    for r in range(height):
        ftype = raw[r * stride]
        line = bytearray(raw[r * stride + 1 : (r + 1) * stride])
        if ftype == 1:  # Sub
            for i in range(1, width):
                line[i] = (line[i] + line[i - 1]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(width):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(width):
                left = line[i - 1] if i else 0
                line[i] = (line[i] + (left + prior[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(width):
                a = line[i - 1] if i else 0
                b = prior[i]
                c = prior[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter {ftype}")
        pixels.extend(line)
        prior = bytes(line)
    return width, height, bytes(pixels)


def to_png_assets(docs: DataFrame) -> DataFrame:
    """documents → (asset_id, content: REAL PNG bytes, meta). The
    pixel payload is the utf-8 text; meta.n_bytes records the unpadded
    pixel count so the decoder can strip row padding."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "content": [_png_encode(p) for p in raw],
                    "n_bytes": [len(p) for p in raw],
                }
            )

    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("lang", StringType()),
            StructField("content", BinaryType()),
            StructField("n_bytes", LongType()),
        ]
    )
    return docs.select("doc_id", "lang", "text").mapInPandas(encode, schema)


_PNG_DECODED_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("lang", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("pixel_md5", StringType()),
    ]
)


def decode_png_assets(assets: DataFrame) -> DataFrame:
    """mapInPandas PNG decode: (asset_id, content, n_bytes) → decoded
    dimensions + the md5 fingerprint of the unpadded pixel buffer."""
    import hashlib

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, md5s = [], [], []
            for content, n in zip(pdf["content"], pdf["n_bytes"]):
                w, h, px = _png_decode(bytes(content))
                ws.append(w)
                hs.append(h)
                md5s.append(hashlib.md5(px[: int(n)]).hexdigest())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "lang": pdf["lang"],
                    "width": ws,
                    "height": hs,
                    "pixel_md5": md5s,
                }
            )

    return assets.mapInPandas(decode, _PNG_DECODED_SCHEMA)


@query(
    "l7_png_decode_audit",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(strlen(text)) AS BIGINT) AS pixel_bytes,
           CAST(sum((strlen(text) + {_PNG_WIDTH} - 1) // {_PNG_WIDTH}
                    * {_PNG_WIDTH}
                    + CASE WHEN strlen(text) = 0 THEN {_PNG_WIDTH}
                           ELSE 0 END) AS BIGINT) AS padded_bytes,
           CAST(count(*) FILTER (WHERE TRUE) AS BIGINT) AS md5_matches
    FROM (SELECT lang, text, md5(text) AS want FROM documents)
    GROUP BY 1
    """,
)
def l7_png_decode_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as a real PNG, decode it back, and audit
    the round trip per language: decoded-pixel md5 must equal the md5
    of the source bytes for EVERY asset (md5_matches == n_assets — the
    oracle pins the right-hand side to count(*), so one bad unfilter
    fails the hash compare). padded_bytes double-checks the decoded
    geometry (width*height) against the closed-form row padding."""
    docs = load(spark, sf_dir, "documents")
    decoded = decode_png_assets(to_png_assets(docs))
    audit = decoded.join(
        docs.select(
            F.col("doc_id").alias("asset_id"),
            F.md5(F.encode("text", "utf-8")).alias("want"),
            F.octet_length(F.encode("text", "utf-8")).cast("long").alias(
                "n_raw"
            ),
        ),
        "asset_id",
    )
    return (
        audit.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.sum("n_raw").cast("long").alias("pixel_bytes"),
            F.sum(F.col("width") * F.col("height"))
            .cast("long")
            .alias("padded_bytes"),
            F.count(
                F.when(F.col("pixel_md5") == F.col("want"), F.lit(1))
            ).cast("long").alias("md5_matches"),
        )
        .select(
            "lang", "n_assets", "pixel_bytes", "padded_bytes", "md5_matches"
        )
    )


@query(
    "l7_phash_decoded_neardup",
    oracle=f"""
    WITH ph AS (
        SELECT doc_id AS asset_id,
               {h60_sql("text", "duckdb")} AS h
        FROM documents
    ),
    bands AS (
        SELECT asset_id, h, b, (h >> (b * 15)) & 32767 AS band_key
        FROM ph, (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS asset_a, b.asset_id AS asset_b,
               a.h AS ha, b.h AS hb
        FROM bands a JOIN bands b
          ON a.b = b.b AND a.band_key = b.band_key
         AND a.asset_id < b.asset_id
    )
    SELECT asset_a, asset_b,
           CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {_PHASH_HAMMING}
    ORDER BY asset_a, asset_b
    """,
)
def l7_phash_decoded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l7_phash_neardup banded-Hamming pipeline with the
    fingerprint computed from DECODED PIXELS: PNG-encode → mapInPandas
    PNG decode → 60-bit md5 of the full unpadded pixel buffer → 4×15
    band pigeonhole join → exact Hamming verify. Hashing the FULL
    buffer (not a prefix) keeps the oracle byte-exact on multibyte
    text, and the oracle's md5(text) only matches if the codec
    round-tripped every pixel. Only (asset_id, h) shuffles; PNG bytes
    never leave the scan→decode stage."""
    docs = load(spark, sf_dir, "documents")
    assets = to_png_assets(docs)

    def decode_hash(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = []
            for content, n in zip(pdf["content"], pdf["n_bytes"]):
                _, _, px = _png_decode(bytes(content))
                hs.append(h60_py(px[: int(n)]))
            yield pd.DataFrame({"asset_id": pdf["asset_id"], "h": hs})

    ph = assets.mapInPandas(
        decode_hash, "asset_id long, h long"
    )
    bands = ph.select(
        "asset_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
    ).withColumn("band_key", F.expr("shiftright(h, b * 15) % 32768"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.where(ham <= _PHASH_HAMMING)
        .select("asset_a", "asset_b", ham.cast("int").alias("hamming"))
        .orderBy("asset_a", "asset_b")
    )
