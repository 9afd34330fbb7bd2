import numpy as np
import pytest

from sema_spark.operators.multimodal import (
    FEATURE_DIM,
    _pattern_audio,
    _pattern_image,
    audio_feature,
    decode_features,
    decode_ppm,
    decode_wav,
    encode_ppm,
    encode_wav_pcm16,
    image_feature,
    synthetic_media,
    synthetic_real_media,
)


def test_decode_features_shape_and_determinism(spark):
    media = synthetic_media(spark, 12)
    feats = decode_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r.feature) == FEATURE_DIM
        assert all(0.0 <= x <= 1.0 for x in r.feature)
    again = {r.media_id: r.feature for r in decode_features(media).collect()}
    for r in feats:
        assert again[r.media_id] == r.feature


def test_decode_strict_raises(spark):
    media = synthetic_media(spark, 3)
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        decode_features(media, strict=True).collect()


def test_ppm_round_trip():
    px = _pattern_image(5)
    assert np.array_equal(decode_ppm(encode_ppm(px)), px)
    # header with comments and arbitrary whitespace (netpbm spec)
    w, h = px.shape[1], px.shape[0]
    hdr = b"P6 # comment\n# another\n %d\t%d # dims\n255\n" % (w, h)
    assert np.array_equal(decode_ppm(hdr + px.tobytes()), px)
    with pytest.raises(ValueError, match="P6"):
        decode_ppm(b"P5\n1 1\n255\n\x00")


def test_wav_round_trip_and_chunk_walk():
    rate, samples = _pattern_audio(7)
    payload = encode_wav_pcm16(samples, rate)
    r2, s2 = decode_wav(payload)
    assert r2 == rate and np.array_equal(s2, samples)
    # a conformant writer may insert chunks between fmt and data —
    # splice an odd-sized LIST chunk (exercises word-alignment padding)
    import struct

    fmt_chunk = payload[12:36]
    data_chunk = payload[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    body = fmt_chunk + extra + data_chunk
    spliced = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    r3, s3 = decode_wav(spliced)
    assert r3 == rate and np.array_equal(s3, samples)
    with pytest.raises(ValueError, match="PCM-16 mono"):
        decode_wav(encode_wav_pcm16(samples, rate).replace(b"\x01\x00\x01\x00", b"\x01\x00\x02\x00", 1))


def test_image_feature_known_values():
    # constant-color image: std 0, mean exact, all luminance in one bin
    px = np.full((4, 8, 3), 128, dtype=np.uint8)
    f = image_feature(px)
    assert f[0] == np.float32(8 / 4096.0) and f[1] == np.float32(4 / 4096.0)
    assert all(v == np.float32(128 / 255.0) for v in f[2:5])
    assert all(v == 0.0 for v in f[5:8])
    assert f[8:16] == [0, 0, 0, 0, 1.0, 0, 0, 0]  # 128 → bin 4 of 8


def test_audio_feature_known_values():
    # alternating ±16384: rms == peak == 0.5, zcr == (n-1)/n
    samples = np.tile(np.array([16384, -16384], dtype=np.int16), 512)
    f = audio_feature(16000, samples)
    assert f[0] == np.float32(0.16) and f[1] == np.float32(1024 / 1e6)
    assert f[2] == 0.5 and f[3] == 0.5
    assert f[4] == np.float32(1023 / 1024)
    hist = f[5:21]
    # ±16384 → bins (x+32768)//4096 = 4 and 12, symmetric about bin 8
    assert hist[12] == 0.5 and hist[4] == 0.5


def test_real_decode_matches_pattern_stats(spark):
    """Spark decode of real PPM/WAV payloads == stats straight from the
    generating patterns (codec never runs on the oracle side)."""
    out = {r.media_id: r for r in decode_features(synthetic_real_media(spark, 8), strict=True).collect()}
    for i in range(8):
        expect = (
            image_feature(_pattern_image(i)) if i % 2 == 0 else audio_feature(*_pattern_audio(i))
        )
        assert out[i].kind == ("image" if i % 2 == 0 else "audio")
        assert out[i].feature == expect, f"media {i}"


def test_bmp_round_trip_and_edges():
    """24-bit BMP codec: round trip incl. non-multiple-of-4 widths
    (row padding), top-down images, and non-BMP rejection."""
    import numpy as np
    import pytest

    from sema_spark.operators.multimodal import decode_bmp, encode_bmp

    for w, h in ((33, 5), (32, 24), (1, 1), (7, 3)):
        px = ((np.arange(h * w * 3) * 31 + 7) % 256).astype(np.uint8).reshape(h, w, 3)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px), (w, h)
    # top-down variant (negative height) decodes to the same image
    px = ((np.arange(5 * 33 * 3) * 13) % 256).astype(np.uint8).reshape(5, 33, 3)
    import struct

    buf = bytearray(encode_bmp(px))
    # rewrite height to -h and re-pack rows in top-down order
    h, w = px.shape[:2]
    pad = (-(w * 3)) % 4
    bgr = px[..., ::-1]
    body = b"".join(bytes(bgr[y].tobytes()) + b"\x00" * pad for y in range(h))
    td = bytes(buf[:14]) + struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    ) + body
    assert np.array_equal(decode_bmp(td), px)
    with pytest.raises(ValueError):
        decode_bmp(b"PNG\x00whatever")


def test_real_media_includes_bmp(spark):
    """The real-media fixture alternates PPM/BMP images; features must
    match the pattern-derived oracle regardless of container."""
    from sema_spark.operators.multimodal import (
        BMP_MIME,
        PPM_MIME,
        decode_features,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, 16)
    mimes = {r.media_id: r.mime for r in media.select("media_id", "mime").collect()}
    assert mimes[2] == BMP_MIME and mimes[0] == PPM_MIME
    out = decode_features(media, strict=True)  # strict: every mime must decode for real
    assert out.count() == 16


def test_png_round_trip_all_filters():
    """PNG codec: the encoder writes scanline filter ``row % 5``, so any
    image with h >= 5 exercises None/Sub/Up/Average/Paeth; decode must
    reconstruct all five.  Plus geometry variety, unsupported-shape and
    non-PNG rejection."""
    import numpy as np
    import pytest

    from sema_spark.operators.multimodal import decode_png, encode_png

    for w, h in ((33, 7), (32, 24), (1, 1), (3, 5), (40, 6)):
        px = ((np.arange(h * w * 3) * 31 + 7) % 256).astype(np.uint8).reshape(h, w, 3)
        buf = encode_png(px)
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        assert np.array_equal(decode_png(buf), px), (w, h)
    # adversarial content for the predictors: random bytes
    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(11, 17, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)
    with pytest.raises(ValueError):
        decode_png(b"BM\x00not-a-png")
    # 16-bit depth is out of scope and must raise, not mis-decode
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)

    def chunk(t, b):
        return struct.pack(">I", len(b)) + t + b + struct.pack(">I", zlib.crc32(t + b))

    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(bad)


def test_real_media_includes_png(spark):
    """The real-media fixture rotates PPM/BMP/PNG images; strict decode
    (no fake path) must succeed for every container."""
    from sema_spark.operators.multimodal import (
        BMP_MIME,
        PNG_MIME,
        PPM_MIME,
        decode_features,
        synthetic_real_media,
    )

    media = synthetic_real_media(spark, 16)
    mimes = {r.media_id: r.mime for r in media.select("media_id", "mime").collect()}
    assert mimes[0] == PPM_MIME and mimes[2] == BMP_MIME and mimes[4] == PNG_MIME
    assert decode_features(media, strict=True).count() == 16


def test_resize_nearest_known_values():
    """Integer-exact nearest-neighbor map: out[i,j] = src[(i*h)//H, (j*w)//W]."""
    import numpy as np

    from sema_spark.operators.multimodal import resize_nearest

    src = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = resize_nearest(src, 3, 2)
    assert out.shape == (2, 3, 3)
    # rows map to (0*4)//2=0, (1*4)//2=2; cols to 0, 2, 4
    exp = src[[0, 2]][:, [0, 2, 4]]
    assert np.array_equal(out, exp)
    # identity resize is exact
    assert np.array_equal(resize_nearest(src, 6, 4), src)
    # upscale repeats pixels deterministically
    up = resize_nearest(src[:1, :1], 3, 2)
    assert np.array_equal(up, np.broadcast_to(src[0, 0], (2, 3, 3)))


def test_resize_media_end_to_end(spark):
    """decode → resize → re-encode(PPM) → decode must equal the codec-free
    pattern → resize path for every input container (PPM/BMP/PNG)."""
    import numpy as np

    from sema_spark.operators.multimodal import (
        _pattern_image,
        decode_ppm,
        resize_media,
        resize_nearest,
        synthetic_real_media,
    )

    out = resize_media(synthetic_real_media(spark, 16), 16, 12, strict=True)
    rows = {r.media_id: r for r in out.collect()}
    assert sorted(rows) == list(range(0, 16, 2))  # every image, no audio
    for i, r in rows.items():
        assert (r.width, r.height) == (16, 12) and r.mime == "image/x-portable-pixmap"
        got = decode_ppm(bytes(r.bytes))
        exp = resize_nearest(_pattern_image(i), 16, 12)
        assert np.array_equal(got, exp), i
