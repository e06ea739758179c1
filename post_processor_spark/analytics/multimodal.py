"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata. The Spark-side plumbing (schema, partitioning, Arrow
batch shape, UDF signatures) is real and tested.

Strict-mode decode is REAL for four public container formats that need
no external codec library — BMP (uncompressed BI_RGB 8/24/32-bit,
palette-mapped at 8 bpp), PNG (non-interlaced 8/16-bit gray/RGB(A):
stdlib zlib inflate + spec unfilter), PNM (P2/P3 ascii, P5/P6 binary,
8/16-bit) and WAV PCM (stdlib `wave`) — all parsed with struct/zlib/
numpy from their published specs. Formats needing external codec
libraries (JPEG/MP4/...) still raise NotImplementedError with a clear
message: that boundary is where a real deployment plugs PIL/ffmpeg in.
Test mode keeps the deterministic fake (payload bytes = decoded
samples) so oracle-gated queries stay engine-independent.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),       # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("payload", T.BinaryType(), True),      # opaque bytes
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


def synthetic_media(
    documents: DataFrame, id_col: str = "doc_id", arithmetic: bool = False
) -> DataFrame:
    """Deterministic fake media table derived from doc ids — payload bytes
    are a hash-expanded pattern so tests have real binary columns.

    arithmetic=True derives kind/width/height/duration by modular
    arithmetic on a NUMERIC id instead of xxhash64 — same shape, but
    every derived field (and the sha256 payload) is reproducible in an
    external ANSI-SQL engine, which is what lets q_media_features run
    under the full DuckDB value-hash gate instead of rows-only."""
    if arithmetic:
        kind_sel = F.pmod(F.col(id_col).cast("long"), F.lit(3)) + 1
        width = F.pmod(F.col(id_col).cast("long"), F.lit(1920)) + 1
        height = F.pmod(F.col(id_col).cast("long"), F.lit(1080)) + 1
        duration = F.pmod(F.col(id_col).cast("long"), F.lit(60000))
    else:
        kind_sel = F.pmod(F.xxhash64(id_col), F.lit(3)) + 1
        width = F.pmod(F.xxhash64(id_col, F.lit(1)), F.lit(1920)) + 1
        height = F.pmod(F.xxhash64(id_col, F.lit(2)), F.lit(1080)) + 1
        duration = F.pmod(F.xxhash64(id_col, F.lit(3)), F.lit(60000))
    return documents.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            kind_sel.cast("int"),
        ).alias("kind"),
        F.lit("application/octet-stream").alias("mime"),
        width.cast("int").alias("width"),
        height.cast("int").alias("height"),
        duration.cast("long").alias("duration_ms"),
        F.to_binary(F.sha2(F.col(id_col).cast("string"), 256), F.lit("hex")).alias("payload"),
    )


_GRAY = np.array([0.299, 0.587, 0.114])  # ITU-R BT.601 luma weights


def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed Windows BMP (BITMAPINFOHEADER, BI_RGB, 8/24/32 bpp)
    → 2-D float64 grayscale, top-down row order. Pure struct/numpy from
    the published layout: 14-byte file header (pixel offset at byte 10),
    40+-byte info header (dims at 18, bpp at 28, compression at 30),
    rows padded to 4 bytes, stored bottom-up when height > 0, BGR(A)
    channel order."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(data) < 54:
        raise ValueError(f"truncated BMP: {len(data)} bytes, headers need 54")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    (hdr_size,) = struct.unpack_from("<I", data, 14)
    if hdr_size < 40:
        # BITMAPCOREHEADER (12 bytes) packs 16-bit dims at other offsets
        raise NotImplementedError(
            f"BMP info header of {hdr_size} bytes not supported; "
            "only BITMAPINFOHEADER (40+ bytes)"
        )
    w, h = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (comp,) = struct.unpack_from("<I", data, 30)
    if comp != 0 or bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"BMP variant not supported (compression={comp}, bpp={bpp}); "
            "only uncompressed BI_RGB 8/24/32-bit"
        )
    bottom_up, h = h > 0, abs(h)
    row_bytes = ((bpp * w + 31) // 32) * 4
    if w < 0 or pix_off < 14 + hdr_size or len(data) < pix_off + row_bytes * h:
        raise ValueError(
            f"truncated or malformed BMP: {len(data)} bytes for a {w}x{h} "
            f"{bpp}-bpp raster at offset {pix_off}"
        )
    raster = np.frombuffer(
        data, dtype=np.uint8, count=row_bytes * h, offset=pix_off
    ).reshape(h, row_bytes)
    if bpp == 8:
        # 8-bpp pixels are COLOR TABLE indices, not samples: the palette
        # (BGRX quads, biClrUsed entries or 256 when 0) sits between the
        # info header and the pixel array and is mandatory for indexed
        # BMPs. Map indices through the palette's luma; a writer that
        # omitted the table (pixel data immediately after the header)
        # gets the identity-grayscale reading.
        (clr_used,) = struct.unpack_from("<I", data, 46)
        n_colors = min(clr_used or 256, max((pix_off - 14 - hdr_size) // 4, 0))
        idx = raster[:, :w]
        if n_colors == 0:
            gray = idx.astype(np.float64)
        else:
            pal = np.frombuffer(
                data, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
            ).reshape(n_colors, 4).astype(np.float64)
            luma = pal[:, 2] * _GRAY[0] + pal[:, 1] * _GRAY[1] + pal[:, 0] * _GRAY[2]
            if len(luma) < 256:  # out-of-table indices read as identity
                luma = np.concatenate([luma, np.arange(len(luma), 256.0)])
            gray = luma[idx]
    else:
        ch = bpp // 8
        px = raster[:, : w * ch].reshape(h, w, ch).astype(np.float64)
        gray = px[..., 2] * _GRAY[0] + px[..., 1] * _GRAY[1] + px[..., 0] * _GRAY[2]
    return gray[::-1] if bottom_up else gray


def encode_bmp(gray: np.ndarray) -> bytes:
    """2-D uint8 grayscale → 24-bit uncompressed BMP bytes (each channel
    = the gray value). The inverse fixture for decode_bmp: public format,
    no codec library, round-trips exactly for grayscale content."""
    a = np.asarray(gray, dtype=np.uint8)
    h, w = a.shape
    row_bytes = ((24 * w + 31) // 32) * 4
    raster = np.zeros((h, row_bytes), dtype=np.uint8)
    rgb = np.repeat(a[:, :, None], 3, axis=2)       # B=G=R=gray
    raster[:, : w * 3] = rgb.reshape(h, w * 3)
    pixels = raster[::-1].tobytes()                  # bottom-up
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + info + pixels


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(data: bytes) -> np.ndarray:
    """Non-interlaced PNG (bit depth 8 or 16; gray / RGB / gray+alpha /
    RGBA) → 2-D float64 grayscale, stdlib-only from the published spec
    (RFC 2083): chunk walk → concatenated IDAT → zlib inflate → per-
    scanline unfilter (None/Sub/Up/Average/Paeth) → luma reduction.
    Palette (color type 3) and interlaced images stay on the
    NotImplementedError codec boundary; alpha is ignored (the engine's
    sample contract is a gray raster, not compositing)."""
    import zlib

    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, comp, filt, interlace = ihdr
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None or depth not in (8, 16) or comp != 0 or filt != 0 or interlace != 0:
        raise NotImplementedError(
            f"PNG variant not supported (depth={depth}, color_type="
            f"{color_type}, interlace={interlace}); only non-interlaced "
            "8/16-bit gray/RGB(A)"
        )
    bpp = channels * (depth // 8)          # filter byte-offset per pixel
    stride = w * bpp
    raw = zlib.decompress(b"".join(idat))
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG pixel data truncated")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        row = np.frombuffer(raw, np.uint8, count=stride, offset=off + 1).copy()
        if ftype == 0:
            pass
        elif ftype == 2:                   # Up — fully vectorized
            row += prev
        elif ftype in (1, 3, 4):           # Sub/Average/Paeth — sequential in x
            r = row.astype(np.int32)
            p = prev.astype(np.int32)
            for x in range(stride):
                a = r[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    r[x] = (r[x] + a) & 0xFF
                elif ftype == 3:
                    r[x] = (r[x] + ((a + p[x]) >> 1)) & 0xFF
                else:
                    b, c = p[x], (p[x - bpp] if x >= bpp else 0)
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    r[x] = (r[x] + pred) & 0xFF
            row = r.astype(np.uint8)
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = row
        prev = row
    if depth == 16:                        # big-endian per spec
        px = out.reshape(h, w, channels, 2).astype(np.float64)
        samples = px[..., 0] * 256.0 + px[..., 1]
    else:
        samples = out.reshape(h, w, channels).astype(np.float64)
    if color_type in (0, 4):
        return samples[..., 0]
    return (
        samples[..., 0] * _GRAY[0]
        + samples[..., 1] * _GRAY[1]
        + samples[..., 2] * _GRAY[2]
    )


def encode_png(gray: np.ndarray) -> bytes:
    """2-D uint8 grayscale → 8-bit grayscale non-interlaced PNG (filter
    0 rows, one zlib IDAT). The inverse fixture for decode_png —
    stdlib-only, round-trips exactly."""
    import zlib

    a = np.asarray(gray, dtype=np.uint8)
    h, w = a.shape

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_pnm(data: bytes) -> np.ndarray:
    """PNM (P2/P3 ascii, P5/P6 binary; PGM grayscale or PPM RGB) → 2-D
    float64 grayscale. Header tokens are whitespace-separated with
    '#'-comment lines; 16-bit binary samples are big-endian per spec."""
    magic = data[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError("not a PNM payload")
    # tokenize header: magic, width, height, maxval (comments stripped)
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":
            while pos < len(data) and data[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    channels = 3 if magic in (b"P3", b"P6") else 1
    n = w * h * channels
    if magic in (b"P2", b"P3"):
        flat = np.array(data[pos:].split()[:n], dtype=np.float64)
    elif maxval < 256:
        flat = np.frombuffer(data, np.uint8, count=n, offset=pos).astype(np.float64)
    else:
        flat = np.frombuffer(data, ">u2", count=n, offset=pos).astype(np.float64)
    if channels == 3:
        return (flat.reshape(h, w, 3) @ _GRAY).reshape(h, w)
    return flat.reshape(h, w)


def decode_wav(data: bytes) -> np.ndarray:
    """RIFF/WAVE PCM → 1-D float64 samples (channels averaged), via the
    stdlib wave module. 8-bit PCM is unsigned per spec (recentred to
    ±128); 16/32-bit are signed little-endian."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as wf:
        n, ch, width = wf.getnframes(), wf.getnchannels(), wf.getsampwidth()
        raw = wf.readframes(n)
    if width == 1:
        samples = np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0
    elif width == 2:
        samples = np.frombuffer(raw, "<i2").astype(np.float64)
    elif width == 4:
        samples = np.frombuffer(raw, "<i4").astype(np.float64)
    else:
        raise NotImplementedError(f"WAV sample width {width} not supported")
    if ch > 1:
        samples = samples.reshape(-1, ch).mean(axis=1)
    return samples


def decode_media(payload: bytes, kind: str) -> np.ndarray:
    """Strict-mode decode: sniff the container by magic bytes and run the
    real parser. 1-D float64 sample stream (images flattened row-major) —
    the contract extract_features/perceptual_hash bucket over. Formats
    needing external codecs stay an explicit NotImplementedError."""
    if payload is None or len(payload) < 2:
        raise ValueError("empty media payload")
    if payload[:2] == b"BM":
        return decode_bmp(payload).ravel()
    if payload[:8] == _PNG_SIG:
        return decode_png(payload).ravel()
    if payload[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return decode_pnm(payload).ravel()
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise NotImplementedError(
        "media payload is not BMP/PNG/PNM/WAV — formats needing external "
        "codecs (JPEG, MP4, ...) are not decodable in this container; "
        "plug PIL/ffmpeg into decode_media here"
    )


def _decode_stub(payload: bytes, kind: str, strict: bool) -> np.ndarray:
    """Codec boundary. strict=True runs the REAL container parsers
    (decode_media: BMP/PNM/WAV). strict=False keeps the deterministic
    fake — payload bytes interpreted as the decoded sample array — which
    the engine-independent oracle queries rely on."""
    if strict:
        return decode_media(payload, kind).astype(np.float32)
    return np.frombuffer(payload or b"\x00", dtype=np.uint8).astype(np.float32)


def _bucket_means(arr: np.ndarray, dim: int) -> tuple[np.ndarray, float]:
    """Pad to a multiple of `dim`, return (`dim` bucket means, padded
    mean). Dtype-preserving: feature extraction feeds float32 (schema is
    float), perceptual_hash feeds float64 (exact /dim arithmetic for the
    oracle) — shared so the pad/reshape logic can't drift between the
    two."""
    pad = int(np.ceil(len(arr) / dim) * dim)
    padded = np.pad(arr, (0, pad - len(arr)))
    return padded.reshape(dim, -1).mean(axis=1), padded.mean()


def extract_features(
    media: DataFrame, dim: int = 8, strict: bool = False
) -> DataFrame:
    """decode → feature-extract as an Arrow-batched mapInPandas stage.

    Partitioning note: media rows are large (payload bytes); the stage is
    a narrow map — no shuffle. At 100 TB you bound Arrow batch memory via
    spark.sql.execution.arrow.maxRecordsPerBatch (set in session.py) and
    spark.sql.files.maxPartitionBytes on the scan."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, frames = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                arr = _decode_stub(payload, kind, strict)
                # 'feature' = dim bucket means over the decoded samples
                buckets, _ = _bucket_means(arr, dim)
                feats.append(buckets.astype(np.float32).tolist())
                frames.append(int(kind == "video") * 16 or 1)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_frames": frames,
                }
            )

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, max_px: int = 256, strict: bool = False) -> DataFrame:
    """Resize stage: metadata math is real (aspect-preserving target
    dims, JVM-side); pixel resampling is the stubbed decode path."""
    scale = F.least(
        F.lit(max_px) / F.greatest(F.col("width"), F.lit(1)),
        F.lit(max_px) / F.greatest(F.col("height"), F.lit(1)),
        F.lit(1.0),
    )
    return media.withColumn("target_width", F.ceil(F.col("width") * scale).cast("int")) \
                .withColumn("target_height", F.ceil(F.col("height") * scale).cast("int"))


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for videos: one row per sampled timestamp —
    pure explode on metadata (decode of the actual frame is the stub)."""
    vids = media.filter(F.col("kind") == "video")
    ts = F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
    return vids.select("media_id", F.explode(ts).alias("frame_ts_ms"))


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
    ]
)


def perceptual_hash(media: DataFrame, dim: int = 64, strict: bool = False) -> DataFrame:
    """(media_id, kind, phash) — average-hash over the decoded samples:
    decode (STUB — same codec boundary as extract_features) → pad to a
    multiple of `dim` → `dim` bucket means → bit i set iff bucket i is
    strictly above the padded-array mean → signed int64.

    The media analog of dedup.simhash: a 64-bit signature whose hamming
    distance tracks payload similarity, so near-duplicate media detection
    at 100 TB reuses dedup.simhash_near_dups' 16-bit-quarter blocking
    unchanged (pigeonhole-exact ≤3, equi-join — no all-pairs):

        sig = perceptual_hash(media).select(F.col("media_id").alias("id"),
                                            F.col("phash").alias("simhash"))
        pairs = dedup.simhash_near_dups(sig, max_hamming=3)

    Narrow Arrow-batched map, no shuffle; the bucket-mean/threshold
    arithmetic is exact in float64 (integer byte sums, /dim a power of
    two), which is what lets the DuckDB oracle reproduce the hash
    bit-for-bit on the arithmetic synthetic payloads (q_media_phash).

    dim is capped at 64: the signature is one int64, and wrapping extra
    buckets onto reused bit positions would OR unrelated buckets
    together — the hash would stop being the documented average-hash and
    hamming distances would be meaningless."""
    if not 0 < dim <= 64:
        raise ValueError(f"dim must be in [1, 64]: {dim}")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                arr = _decode_stub(payload, kind, strict).astype(np.float64)
                buckets, mu = _bucket_means(arr, dim)
                h = np.uint64(0)
                for i in range(dim):
                    if buckets[i] > mu:
                        h |= np.uint64(1) << np.uint64(i)
                hashes.append(int(h.astype(np.int64)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return media.mapInPandas(gen, schema=PHASH_SCHEMA)
