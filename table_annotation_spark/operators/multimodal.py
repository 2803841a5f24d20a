"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

Two decode tiers:

- **Real decoders for uncompressed formats** (pure numpy/struct — no
  external media libs needed): 24-bit BMP (`decode_bmp`) and 16-bit PCM WAV
  (`decode_wav`), plus a real nearest-neighbor BMP resize (`resize_bmp`).
  These parse the actual byte layout (headers, bottom-up padded BMP rows,
  RIFF chunk walk) and are hash-verified end-to-end by the driver gate
  `multimodal_decode_real`: the oracle restates the features from the
  *generating formula*, so a decoder that misparses a single padding byte
  fails the gate.
- **Stub for compressed formats** (`_fake_decode`): JPEG/MP3/H.264 need
  codec libs this container doesn't ship; the stand-in derives deterministic
  features from the payload digest so the Spark-side plumbing — schema,
  batching, partitioning, UDF signatures — is still real and tested.
  Swapping it for a PIL/ffmpeg call is the only change needed on a cluster.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),   # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),  # opaque bytes
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("sha256", StringType(), False),
        StructField("feature", ArrayType(FloatType()), False),
    ]
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for a real decoder: 16 floats derived from the
    sha256 of the payload. Replace with PIL/torchvision/ffmpeg on a cluster.

    Raises on empty payloads the way a real decoder would on corrupt media.
    """
    if not payload:
        raise ValueError("empty media payload (corrupt input)")
    h = hashlib.sha256(payload).digest()
    return (
        np.frombuffer(h[:FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
        / 65535.0
    )


# --------------------------------------------------------- real codecs (BMP)
def encode_bmp(pixels: np.ndarray) -> bytes:
    """Minimal 24-bit uncompressed BMP writer. ``pixels`` is (h, w, 3) uint8
    RGB, top-down; the file stores BGR rows bottom-up, padded to 4 bytes."""
    h, w, _ = pixels.shape
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    img_size = (row_raw + pad) * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + img_size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    bgr = pixels[:, :, ::-1]
    for y in range(h - 1, -1, -1):
        body += bgr[y].tobytes() + b"\x00" * pad
    return header + info + bytes(body)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP into (h, w, 3) uint8 RGB (top-down).
    Validates magic/bpp/compression and raises ValueError on corrupt input
    (the decoder contract `extract` relies on for its skip path)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant")
    bottom_up = h > 0
    h = abs(h)
    row_raw = w * 3
    stride = row_raw + (4 - row_raw % 4) % 4
    if len(payload) < off + stride * h:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=off)
    rows = rows.reshape(h, stride)[:, :row_raw].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1]  # BGR → RGB


def resize_bmp_bytes(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor resize of a BMP payload (decode → index-sample →
    re-encode), all numpy — no media libs."""
    px = decode_bmp(payload)
    h, w, _ = px.shape
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return encode_bmp(np.ascontiguousarray(px[ys][:, xs]))


# ----------------------------------------------------- real codecs (WAV PCM)
def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Canonical RIFF/WAVE container around 16-bit mono PCM samples."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + len(fmt) + 8 + len(data), b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Generic RIFF chunk walk → (sample_rate, int16 sample array). Only
    uncompressed 16-bit mono PCM is accepted; anything else raises
    ValueError."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = struct.unpack_from("<4sI", payload, pos)
        pos += 8
        chunk = payload[pos : pos + size]
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("truncated fmt chunk")
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", chunk)
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need 16-bit mono PCM)")
        elif cid == b"data":
            samples = np.frombuffer(chunk[: size - size % 2], dtype="<i2")
        pos += size + size % 2  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


def extract_features(media: DataFrame, on_error: str = "skip") -> DataFrame:
    """mapInPandas feature extraction over binary payloads. Arrow moves the
    bytes in batches; rows with corrupt payloads are skipped (on_error='skip')
    or raise (on_error='raise')."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    feat = _fake_decode(bytes(payload) if payload is not None else b"")
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                out["media_id"].append(int(mid))
                out["kind"].append(kind)
                out["n_bytes"].append(len(payload))
                out["sha256"].append(hashlib.sha256(bytes(payload)).hexdigest())
                out["feature"].append([float(x) for x in feat])
            yield pd.DataFrame(out)

    return media.select(
        "media_id", "kind", "payload"
    ).mapInPandas(run, schema=FEATURE_SCHEMA)


# --------------------------------------------- real-decode pipeline + gate
DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("width", LongType(), True),        # image
        StructField("height", LongType(), True),       # image
        StructField("sample_rate", LongType(), True),  # audio
        StructField("duration_ms", LongType(), True),  # audio
        StructField("n_units", LongType(), False),     # RGB channel values / samples
        StructField("unit_sum", LongType(), False),
        StructField("unit_min", LongType(), False),
        StructField("unit_max", LongType(), False),
    ]
)


def synth_media_real(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media corpus: each doc_id becomes a valid 24-bit
    BMP (even ids) or 16-bit PCM WAV (odd ids) whose content follows a
    closed-form formula — so an independent oracle can restate the decoded
    features without ever parsing bytes. Every 97th payload is truncated to
    exercise the corrupt-row skip path. Encoding runs distributed (Arrow
    mapInPandas), one payload per row."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "kind": [], "mime": [], "payload": []}
            for mid in pdf["media_id"]:
                mid = int(mid)
                if mid % 2 == 0:
                    w, h = 4 + mid % 13, 3 + mid % 7
                    y, x, c = np.ogrid[0:h, 0:w, 0:3]
                    px = ((mid * 7 + x * 3 + y * 5 + c * 11) % 256).astype(np.uint8)
                    payload, kind, mime = encode_bmp(px), "image", "image/bmp"
                else:
                    n = 200 + mid % 800
                    i = np.arange(n, dtype=np.int64)
                    smp = (mid * 31 + i * 17) % 65536 - 32768
                    payload, kind, mime = encode_wav(smp), "audio", "audio/wav"
                if mid % 97 == 0:
                    payload = payload[:10]  # corrupt: decoder must skip
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["mime"].append(mime)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return docs.select(F.col("doc_id").cast("long").alias("media_id")).mapInPandas(
        gen, schema="media_id long, kind string, mime string, payload binary"
    )


def decode_features(media: DataFrame, on_error: str = "skip") -> DataFrame:
    """REAL decode over binary payloads: parses BMP pixel arrays / WAV PCM
    chunks with the pure-numpy codecs above and emits integer stats of the
    decoded content. Corrupt payloads are skipped (on_error='skip') or raise."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {f.name: [] for f in DECODED_SCHEMA.fields}
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    raw = bytes(payload) if payload is not None else b""
                    if kind == "image":
                        px = decode_bmp(raw).astype(np.int64)
                        h, w, _ = px.shape
                        vals = (w, h, None, None, px.size, int(px.sum()),
                                int(px.min()), int(px.max()))
                    elif kind == "audio":
                        rate, smp = decode_wav(raw)
                        s = smp.astype(np.int64)
                        vals = (None, None, rate, len(s) * 1000 // rate, len(s),
                                int(s.sum()), int(s.min()), int(s.max()))
                    else:
                        raise ValueError(f"no real decoder for kind={kind}")
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                out["media_id"].append(int(mid))
                out["kind"].append(kind)
                for name, v in zip(
                    ("width", "height", "sample_rate", "duration_ms",
                     "n_units", "unit_sum", "unit_min", "unit_max"),
                    vals,
                ):
                    out[name].append(v)
            yield pd.DataFrame(out)

    return media.select("media_id", "kind", "payload").mapInPandas(
        run, schema=DECODED_SCHEMA
    )


def multimodal_decode_real(spark, sf_dir: str) -> DataFrame:
    """The REAL-decode gate: encode a formula-defined BMP/WAV corpus, decode
    it back with the byte-level parsers, emit integer content stats. The
    DuckDB oracle recomputes the same stats from the generating formula —
    never touching the bytes — so encoder and decoder must agree on every
    header field, padding byte and sample to hash-match."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synth_media_real(docs)
    return decode_features(media, on_error="skip").orderBy("media_id")


MULTIMODAL_DECODE_REAL_SQL = """
WITH ids AS (
  SELECT doc_id::BIGINT AS media_id FROM documents WHERE doc_id % 97 != 0
),
img AS (
  SELECT media_id, (4 + media_id % 13)::BIGINT AS w, (3 + media_id % 7)::BIGINT AS h
  FROM ids WHERE media_id % 2 = 0
),
pix AS (
  SELECT i.media_id, i.w, i.h,
         ((i.media_id*7 + gx.x*3 + gy.y*5 + gc.c*11) % 256)::BIGINT AS v
  FROM img i
  JOIN (SELECT unnest(range(0,16)) AS x) gx ON gx.x < i.w
  JOIN (SELECT unnest(range(0,9))  AS y) gy ON gy.y < i.h
  CROSS JOIN (SELECT unnest(range(0,3)) AS c) gc
),
img_stats AS (
  SELECT media_id, 'image' AS kind, any_value(w) AS width, any_value(h) AS height,
         NULL::BIGINT AS sample_rate, NULL::BIGINT AS duration_ms,
         count(*)::BIGINT AS n_units, sum(v)::BIGINT AS unit_sum,
         min(v)::BIGINT AS unit_min, max(v)::BIGINT AS unit_max
  FROM pix GROUP BY media_id
),
aud AS (
  SELECT media_id, (200 + media_id % 800)::BIGINT AS n FROM ids WHERE media_id % 2 = 1
),
smp AS (
  SELECT a.media_id, a.n, (((a.media_id*31 + g.i*17) % 65536) - 32768)::BIGINT AS v
  FROM aud a JOIN (SELECT unnest(range(0,1000)) AS i) g ON g.i < a.n
),
aud_stats AS (
  SELECT media_id, 'audio' AS kind, NULL::BIGINT AS width, NULL::BIGINT AS height,
         8000::BIGINT AS sample_rate, (any_value(n) * 1000) // 8000 AS duration_ms,
         count(*)::BIGINT AS n_units, sum(v)::BIGINT AS unit_sum,
         min(v)::BIGINT AS unit_min, max(v)::BIGINT AS unit_max
  FROM smp GROUP BY media_id
)
SELECT * FROM img_stats UNION ALL SELECT * FROM aud_stats ORDER BY media_id
"""


# ------------------------------------------------------------- driver gate
def multimodal_features(spark, sf_dir: str) -> DataFrame:
    """The multimodal pipeline under the DuckDB value-hash gate: synthesize a
    media table from documents (payload = UTF-8 bytes of text, kind cycling
    image/audio/video), run the REAL mapInPandas feature extraction, and emit
    byte-count, sha256 and the 16 u16 feature components (the deterministic
    stub decoder derives them from the digest, so the whole derivation is
    restatable in SQL). Empty payloads exercise the corrupt-row skip path."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    media = d.select(
        F.col("doc_id").cast("long").alias("media_id"),
        kind.alias("kind"),
        F.lit(None).cast("string").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = extract_features(media, on_error="skip")
    return feats.select(
        "media_id", "kind", "n_bytes", "sha256",
        F.array_join(
            F.transform(
                "feature",
                lambda x: F.round(x * 65535).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("feature_u16"),
    ).orderBy("media_id")


def _mm_sql() -> str:
    # u16 little-endian pairs of the sha256 digest, restated over the hex
    # string: byte k = 16*hex[2k] + hex[2k+1]; u16 j = byte(2j) + 256*byte(2j+1)
    def hexval(pos: int) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {pos}, 1)) - 1)"

    def byte(k: int) -> str:
        return f"(16*{hexval(2 * k + 1)} + {hexval(2 * k + 2)})"

    u16s = [f"CAST({byte(2 * j)} + 256*{byte(2 * j + 1)} AS VARCHAR)"
            for j in range(FEATURE_DIM)]
    feature = " || ',' || ".join(u16s)
    return f"""
WITH m AS (
  SELECT doc_id::BIGINT AS media_id,
         CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         octet_length(encode(text))::BIGINT AS n_bytes,
         sha256(text) AS h
  FROM documents
  WHERE octet_length(encode(text)) > 0
)
SELECT media_id, kind, n_bytes, h AS sha256, {feature} AS feature_u16
FROM m ORDER BY media_id
"""


MULTIMODAL_FEATURES_SQL = _mm_sql()

ORACLES = {
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "multimodal_decode_real": MULTIMODAL_DECODE_REAL_SQL,
}
QUERIES = {
    "multimodal_features": multimodal_features,
    "multimodal_decode_real": multimodal_decode_real,
}


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """REAL image resize for BMP payloads (decode → nearest-neighbor sample →
    re-encode, pure numpy, Arrow-batched); non-BMP payloads pass through
    unchanged with resized=false — the hook where PIL would slot in."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, resized = [], []
            for payload in pdf["payload"]:
                raw = bytes(payload) if payload is not None else b""
                try:
                    payloads.append(resize_bmp_bytes(raw, width, height))
                    resized.append(True)
                except ValueError:
                    payloads.append(raw)
                    resized.append(False)
            out = pdf.copy()
            out["payload"] = payloads
            out["resized"] = resized
            out["width"] = pd.array(
                [width if r else None for r in resized], dtype="Int32"
            )
            out["height"] = pd.array(
                [height if r else None for r in resized], dtype="Int32"
            )
            yield out

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in media.schema.fields
        if f.name not in ("width", "height")
    )
    cols = [c for c in media.columns if c not in ("width", "height")]
    return media.select(*cols).mapInPandas(
        run, schema=f"{fields}, resized boolean, width int, height int"
    )
