"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata.

The Spark-side contract is real and tested — schemas, Arrow batch shape,
partition-stable UDF signatures.  Codec status:

* PPM (P6), 24-bit BMP, and 8-bit-RGB PNG images (stdlib-zlib inflate +
  full five-filter scanline reconstruction) and PCM-16 WAV audio are
  decoded FOR REAL — pure-numpy spec-walking parsers (:func:`decode_ppm`,
  :func:`decode_bmp`, :func:`decode_png`, :func:`decode_wav`) feeding
  genuine pixel/sample statistics into the feature vector.  Their round trip is
  gated by an oracle that recomputes the statistics from the pixel/sample
  GENERATING FORMULA without ever touching the codec
  (``multimodal_real_decode`` in __spark_entry__).
* Every other container (JPEG/MP3/MP4…) still needs PIL/ffmpeg, which
  this container lacks: those mimes either raise ``NotImplementedError``
  (``strict=True``) or produce a deterministic content-derived fake, so
  downstream plumbing can be exercised and a real decoder drops into
  ``_feature_for`` without touching any Spark code.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

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

MEDIA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("mime", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("meta", StructType(
            [
                StructField("width", IntegerType(), True),
                StructField("height", IntegerType(), True),
                StructField("duration_ms", LongType(), True),
                StructField("sample_rate", IntegerType(), True),
            ]
        ), True),
    ]
)

FEATURE_DIM = 64


def _fake_feature(payload: bytes | None, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a decoded-feature vector: sha256 of the
    payload's HEX encoding, bytes scaled to [0,1].  Stable across
    processes; hashing the hex string (not the raw bytes) keeps the
    whole derivation expressible in the DuckDB oracle, whose sha256 only
    accepts VARCHAR."""
    if payload is None:
        return [0.0] * dim
    digest = hashlib.sha256(payload.hex().encode()).digest()
    reps = (dim // len(digest)) + 1
    raw = (digest * reps)[:dim]
    return [b / 255.0 for b in raw]


# --------------------------------------------------- real codecs (numpy)
PPM_MIME = "image/x-portable-pixmap"
WAV_MIME = "audio/x-wav"


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary P6 PPM."""
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM → (h, w, 3) uint8.  Pure numpy; handles the header's
    arbitrary whitespace and ``#`` comments per the netpbm spec."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":
            i = payload.index(b"\n", i) + 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    n = w * h * 3
    raster = np.frombuffer(payload, dtype=np.uint8, count=n, offset=i)
    return raster.reshape(h, w, 3)


BMP_MIME = "image/bmp"


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP (BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, 4-byte row stride padding)."""
    h, w = pixels.shape[:2]
    pad = (-(w * 3)) % 4
    off = 14 + 40
    data_size = (w * 3 + pad) * h
    hdr = struct.pack("<2sIHHI", b"BM", off + data_size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    bgr = np.ascontiguousarray(pixels[..., ::-1], dtype=np.uint8)
    body = b"".join(bgr[y].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1))
    return hdr + dib + body


def decode_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB.  Pure numpy
    spec-walking like :func:`decode_ppm`: pixel-array offset from the
    file header, geometry/bpp/compression from BITMAPINFOHEADER, BGR
    byte order, bottom-up rows (negative height = top-down), rows
    padded to 4-byte strides."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    off = struct.unpack("<I", payload[10:14])[0]
    _, w, h_raw, _planes, bpp, comp = struct.unpack("<IiiHHI", payload[14:34])
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed supported, got bpp={bpp} comp={comp}")
    top_down, h = h_raw < 0, abs(h_raw)
    stride = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), np.uint8)
    for r in range(h):
        row = np.frombuffer(payload, np.uint8, w * 3, off + r * stride).reshape(w, 3)
        out[r if top_down else h - 1 - r] = row[:, ::-1]
    return out


PNG_MIME = "image/png"
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 8-bit truecolor PNG (stdlib zlib deflate).

    Each scanline is written with filter type ``row % 5`` — None, Sub,
    Up, Average, Paeth in rotation — so a decoder must implement the
    ENTIRE filter suite of the spec (not just the lazy filter-0 case)
    to reproduce the pixels; the container-blind pattern oracle then
    gates all five reconstruction paths at once."""
    import zlib

    h, w = pixels.shape[:2]
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    bpp = 3
    prev = np.zeros(w * bpp, dtype=np.uint8)
    out = bytearray()
    for r in range(h):
        raw = px[r].reshape(-1)
        f = r % 5
        if f == 0:
            filt = raw
        elif f == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, np.uint8), raw[:-bpp]])
            filt = raw - left  # uint8 wraparound == mod 256
        elif f == 2:  # Up
            filt = raw - prev
        elif f == 3:  # Average
            left = np.concatenate([np.zeros(bpp, np.uint8), raw[:-bpp]])
            avg = (left.astype(np.uint16) + prev.astype(np.uint16)) // 2
            filt = raw - avg.astype(np.uint8)
        else:  # Paeth
            filt = np.empty_like(raw)
            for i in range(len(raw)):
                a = int(raw[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                filt[i] = (int(raw[i]) - _paeth(a, b, c)) % 256
        out.append(f)
        out += filt.tobytes()
        prev = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB, no interlace
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """8-bit truecolor PNG → (h, w, 3) uint8 RGB.  Pure stdlib-zlib +
    numpy spec walking, same pattern as :func:`decode_bmp`: chunk list
    (multi-IDAT concatenation), IHDR geometry checks, inflate, then
    per-scanline reconstruction of ALL FIVE filter types (None/Sub/Up/
    Average/Paeth §9 of the spec).  Interlace and non-RGB8 color types
    are out of scope and raise."""
    import zlib

    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG")
    i = len(_PNG_SIG)
    w = h = None
    idat = bytearray()
    while i + 8 <= len(payload):
        (size,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        body = payload[i + 8 : i + 8 + size]
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if (depth, color, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    f"only 8-bit RGB non-interlaced supported, got depth={depth} "
                    f"color={color} interlace={interlace}"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        i += 12 + size  # len + type + body + crc
    if w is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    raw = zlib.decompress(bytes(idat))
    bpp, stride = 3, w * 3
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT length does not match geometry")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        f = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int64)
        if f == 0:
            rec = line
        elif f == 2:  # Up — vectorized
            rec = (line + prev) % 256
        elif f in (1, 3, 4):  # Sub/Average/Paeth — sequential left dep
            rec = np.empty(stride, np.int64)
            for j in range(stride):
                a = rec[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    pred = _paeth(int(a), int(b), int(c))
                rec[j] = (line[j] + pred) % 256
        else:
            raise ValueError(f"unknown filter type {f}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, 3)


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int) -> bytes:
    """1-D int16 samples → RIFF/WAVE (PCM 16-bit mono)."""
    data = np.ascontiguousarray(samples, dtype="<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM-16 mono → (sample_rate, int16 samples).  Walks the
    chunk list properly (a conformant writer may insert LIST/fact chunks
    between fmt and data)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i, rate, samples = 12, None, None
    while i + 8 <= len(payload):
        cid, size = payload[i : i + 4], struct.unpack("<I", payload[i + 4 : i + 8])[0]
        body = payload[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            fmt, ch, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError(f"only PCM-16 mono supported, got fmt={fmt} ch={ch} bits={bits}")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    return rate, samples


def image_feature(pixels: np.ndarray, dim: int = FEATURE_DIM) -> list[float]:
    """Real pixel statistics: [w/4096, h/4096, mean RGB/255 ×3,
    std RGB/255 ×3, 8-bin luminance histogram fractions], zero-padded.
    Computed in float64, emitted float32 (the column type)."""
    h, w = pixels.shape[:2]
    px = pixels.astype(np.float64)
    lum = (px[:, :, 0] + px[:, :, 1] + px[:, :, 2]) / 3.0
    hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
    f = np.zeros(dim)
    f[0], f[1] = w / 4096.0, h / 4096.0
    f[2:5] = px.reshape(-1, 3).mean(axis=0) / 255.0
    f[5:8] = px.reshape(-1, 3).std(axis=0) / 255.0
    f[8:16] = hist / lum.size
    return [float(x) for x in f.astype(np.float32)]


def audio_feature(sample_rate: int, samples: np.ndarray, dim: int = FEATURE_DIM) -> list[float]:
    """Real sample statistics: [rate/1e5, n/1e6, rms/32768, peak/32768,
    zero-crossing rate, 16-bin amplitude histogram fractions],
    zero-padded.  Computed in float64, emitted float32."""
    x = samples.astype(np.float64)
    f = np.zeros(dim)
    f[0], f[1] = sample_rate / 1e5, x.size / 1e6
    if x.size:
        f[2] = np.sqrt((x * x).mean()) / 32768.0
        f[3] = np.abs(x).max() / 32768.0
        f[4] = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1]))) / x.size
        hist, _ = np.histogram(x, bins=16, range=(-32768.0, 32768.0))
        f[5:21] = hist / x.size
    return [float(v) for v in f.astype(np.float32)]


_IMAGE_DECODERS = {
    PPM_MIME: decode_ppm,
    BMP_MIME: decode_bmp,
    PNG_MIME: decode_png,
}


def _decode_image(mime: str, payload: bytes) -> np.ndarray | None:
    """(h, w, 3) uint8 for a real image container, None if no codec."""
    dec = _IMAGE_DECODERS.get(mime)
    return dec(bytes(payload)) if dec else None


def _feature_for(mime: str, payload: bytes | None, strict: bool) -> list[float]:
    """Dispatch: real codecs for PPM/BMP/PNG/WAV; fake (or strict raise)
    elsewhere."""
    if payload is not None:
        px = _decode_image(mime, payload)
        if px is not None:
            return image_feature(px)
        if mime == WAV_MIME:
            rate, samples = decode_wav(bytes(payload))
            return audio_feature(rate, samples)
    if strict:
        raise NotImplementedError(f"no decoder for {mime!r}: requires PIL/ffmpeg; wire it in here")
    return _fake_feature(bytes(payload) if payload is not None else None)


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample: output pixel (i, j)
    takes source pixel ``((i*h)//out_h, (j*w)//out_w)`` — integer-exact
    (no float coordinate math), so every engine that implements the
    same convention agrees bit-for-bit.  The convention is the plain
    floor(scale) map used by stb_image_resize's POINT_SAMPLE and
    OpenCV's INTER_NEAREST at integer ratios."""
    h, w = pixels.shape[:2]
    rows = (np.arange(out_h) * h) // out_h
    cols = (np.arange(out_w) * w) // out_w
    return pixels[rows][:, cols]


def resize_media(
    df: DataFrame, out_w: int, out_h: int, strict: bool = False
) -> DataFrame:
    """IMAGE rows → re-encoded thumbnails (training-pipeline resize op).

    Decodes each image payload with its real codec (PPM/BMP/PNG),
    nearest-neighbor resamples to ``(out_w, out_h)``, and re-encodes in
    the canonical P6 PPM container with updated meta — so a downstream
    consumer reads one container regardless of the input zoo.  Arrow-
    batched mapInPandas over (media_id, mime, bytes) only; non-image
    rows are filtered out before Python ever sees them.  ``strict=True``
    raises on containers without a real codec; ``strict=False`` skips
    them (emitting nothing, like a corrupt-file drop at scale).
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            out = {"media_id": [], "kind": [], "mime": [], "bytes": [], "width": [], "height": []}
            for mid, mime, payload in zip(pdf["media_id"], pdf["mime"], pdf["bytes"]):
                if payload is None:
                    continue
                px = _decode_image(mime, payload)
                if px is None:
                    if strict:
                        raise NotImplementedError(
                            f"no decoder for {mime!r}: requires PIL/ffmpeg"
                        )
                    continue
                small = resize_nearest(px, out_w, out_h)
                out["media_id"].append(mid)
                out["kind"].append("image")
                out["mime"].append(PPM_MIME)
                out["bytes"].append(encode_ppm(small))
                out["width"].append(out_w)
                out["height"].append(out_h)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("mime", StringType(), False),
            StructField("bytes", BinaryType(), False),
            StructField("width", IntegerType(), False),
            StructField("height", IntegerType(), False),
        ]
    )
    return (
        df.filter(F.col("kind") == "image")
        .select("media_id", "mime", "bytes")
        .mapInPandas(run, schema=schema)
    )


def decode_features(df: DataFrame, strict: bool = False) -> DataFrame:
    """media rows → (media_id, kind, feature array<float>).

    PPM images and PCM-16 WAV audio are decoded for real (pixel/sample
    statistics — see :func:`image_feature` / :func:`audio_feature`).
    For other containers, ``strict=True`` raises NotImplementedError
    where the PIL/ffmpeg decoder belongs; ``strict=False`` emits the
    deterministic fake so the downstream plumbing (similarity, dedup)
    can run.
    """

    def run(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [
                        _feature_for(m, b, strict)
                        for m, b in zip(pdf["mime"], pdf["bytes"])
                    ],
                }
            )

    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("kind", StringType(), False),
            StructField("feature", ArrayType(FloatType(), False), False),
        ]
    )
    return df.select("media_id", "kind", "mime", "bytes").mapInPandas(run, schema=schema)


def _pattern_image(i: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 pixel pattern for media id ``i`` —
    the DATA DEFINITION shared by the fixture encoder and the oracle
    (which computes statistics straight off this array, never through
    the PPM codec, so fixture-vs-decode equality gates the round trip)."""
    w, h = 32 + 8 * (i % 4), 24 + 8 * (i % 3)
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            (x * 7 + y * 13 + i * 29) % 256,
            (x * 3 + y * 11 + i * 17) % 256,
            (x * 5 + y * 2 + i * 23) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)


def _pattern_audio(i: int) -> tuple[int, np.ndarray]:
    """Deterministic (rate, int16 samples) for media id ``i``."""
    rate = 8000 + 4000 * (i % 3)
    n = 2048 + 512 * (i % 5)
    t = np.arange(n, dtype=np.int64)
    return rate, (((t * (i + 3) * 2654435761) % 65536) - 32768).astype(np.int16)


def synthetic_real_media(spark, n: int = 16) -> DataFrame:
    """Media table whose payloads are REAL containers (P6 PPM, 24-bit
    BMP, or 8-bit-RGB PNG images — rotating, so the gate proves ALL
    THREE image codecs — and PCM-16 WAV audio) built from the
    deterministic patterns above.  The oracle computes features straight
    from the patterns, container-blind, so swapping containers never
    changes the expected values."""
    img_codecs = [(PPM_MIME, encode_ppm), (BMP_MIME, encode_bmp), (PNG_MIME, encode_png)]
    rows = []
    for i in range(n):
        if i % 2 == 0:
            px = _pattern_image(i)
            h, w = px.shape[:2]
            mime, enc = img_codecs[(i // 2) % 3]
            rows.append(
                (i, "image", mime, bytearray(enc(px)),
                 {"width": w, "height": h, "duration_ms": None, "sample_rate": None})
            )
        else:
            rate, samples = _pattern_audio(i)
            rows.append(
                (i, "audio", WAV_MIME, bytearray(encode_wav_pcm16(samples, rate)),
                 {"width": None, "height": None,
                  "duration_ms": int(samples.size * 1000 / rate), "sample_rate": rate})
            )
    return spark.createDataFrame(rows, MEDIA)


def write_expected_real_features(out_dir: str, n: int = 16) -> None:
    """Oracle data for ``multimodal_real_decode``: feature statistics
    computed directly from the generating patterns — the encode→decode
    round trip never runs here, so Spark-vs-oracle equality proves the
    PPM/WAV codecs reproduce the source pixels/samples exactly."""
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    def r6(x: float) -> float:
        # Spark's round(col, 6) = BigDecimal.valueOf(double) (shortest
        # repr) setScale(6, HALF_UP); Python's round() is half-even and
        # diverges on exact halves (w=32 → 32/4096 = 0.0078125 → Spark
        # 0.007813 vs Python 0.007812) — replicate Spark exactly.
        return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    cols = {"media_id": [], "kind": [], "dim": []}
    for j in range(9):
        cols[f"f{j}"] = []
    for i in range(n):
        if i % 2 == 0:
            kind, feat = "image", image_feature(_pattern_image(i))
        else:
            kind, feat = "audio", audio_feature(*_pattern_audio(i))
        cols["media_id"].append(i)
        cols["kind"].append(kind)
        cols["dim"].append(FEATURE_DIM)
        for j in range(9):
            cols[f"f{j}"].append(r6(feat[j]))
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{out_dir}/.tmp-{os.getpid()}-real_features.parquet"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, f"{out_dir}/real_features.parquet")


def write_expected_resized(
    out_dir: str, n: int = 16, out_w: int = 16, out_h: int = 12
) -> None:
    """Oracle data for ``multimodal_resize``: statistics of the
    nearest-neighbor-resized generating patterns, computed pattern →
    resize → stats WITHOUT any codec — Spark-vs-oracle equality
    therefore gates decode → resize → re-encode(PPM) → decode → stats
    end to end, for every input container in the fixture."""
    import os
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    def r6(x: float) -> float:
        return float(
            Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )

    cols = {"media_id": [], "dim": []}
    for j in range(9):
        cols[f"f{j}"] = []
    for i in range(0, n, 2):  # images sit at even ids
        feat = image_feature(resize_nearest(_pattern_image(i), out_w, out_h))
        cols["media_id"].append(i)
        cols["dim"].append(FEATURE_DIM)
        for j in range(9):
            cols[f"f{j}"].append(r6(feat[j]))
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{out_dir}/.tmp-{os.getpid()}-resized_features.parquet"
    pq.write_table(pa.table(cols), tmp)
    os.replace(tmp, f"{out_dir}/resized_features.parquet")


def synthetic_media(spark, n: int = 24) -> DataFrame:
    """Deterministic fake media table for tests/demos."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"media-{i}".encode()).digest() * 4
        meta = {
            "width": 64 if kind == "image" else None,
            "height": 64 if kind == "image" else None,
            "duration_ms": 3500 if kind == "video" else (2000 if kind == "audio" else None),
            "sample_rate": 16000 if kind == "audio" else None,
        }
        rows.append((i, kind, f"application/x-fake-{kind}", bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA)
