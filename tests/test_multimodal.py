"""Multimodal binary-column plumbing and codecs: schema, batch UDF shape,
and the REAL pure-Python PPM/BMP/PNG decode paths (asserted on actual
pixel bytes). Formats needing an absent codec library still raise the
documented NotImplementedError."""

from __future__ import annotations

import pytest

from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
    _paeth,
    attach_binary_payload,
    extract_features,
    fake_decoder,
)
from vmware_sd_wan_velocloud_bi_intake_spark.sources.tables import load_table



def ppm_encode(width: int, height: int, pixels: bytes, maxval: int = 255) -> bytes:
    """Inverse of ``ppm_decode`` (canonical single-newline header)."""
    return b"P6\n%d %d\n%d\n" % (width, height, maxval) + pixels


def png_encode(width: int, height: int, pixels: bytes, filter_type: int = 0) -> bytes:
    """Minimal stdlib RGB PNG writer (single IDAT, one filter for every
    scanline) — the round-trip partner ``png_decode``'s tests drive
    through all five filters; also a real PNG any viewer opens."""
    import struct
    import zlib

    if len(pixels) != width * height * 3:
        raise ValueError("png_encode: pixels must be RGB row-major")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    stride = width * 3
    raw = bytearray()
    for y in range(height):
        line = bytearray(pixels[y * stride : (y + 1) * stride])
        prev = pixels[(y - 1) * stride : y * stride] if y else bytes(stride)
        enc = bytearray(line)
        if filter_type == 1:
            for i in range(stride - 1, 2, -1):
                enc[i] = (line[i] - line[i - 3]) & 0xFF
        elif filter_type == 2:
            for i in range(stride):
                enc[i] = (line[i] - prev[i]) & 0xFF
        elif filter_type == 3:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif filter_type == 4:
            for i in range(stride):
                left = line[i - 3] if i >= 3 else 0
                ul = prev[i - 3] if i >= 3 else 0
                enc[i] = (line[i] - _paeth(left, prev[i], ul)) & 0xFF
        elif filter_type != 0:
            raise ValueError(f"bad filter {filter_type}")
        raw.append(filter_type)
        raw += enc
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_binary_payload_schema(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents")
    media = attach_binary_payload(docs, "doc_id", "text")
    assert dict(media.dtypes)["content"] == "binary"
    assert media.count() == docs.count()


def test_extract_features_with_fake_decoder(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").limit(50)
    media = attach_binary_payload(docs, "doc_id", "text")
    feats = extract_features(media, decoder=fake_decoder)
    rows = feats.collect()
    assert len(rows) == 50
    r = {row["media_id"]: row for row in rows}
    # features must agree with a driver-side decode of the same bytes
    sample = docs.select("doc_id", "text").limit(5).collect()
    for s in sample:
        expected = fake_decoder(s["text"].encode("utf-8"))
        got = r[s["doc_id"]]
        assert got["n_bytes"] == expected["n_bytes"]
        assert abs(got["byte_mean"] - expected["byte_mean"]) < 1e-12
        assert list(got["byte_hist"]) == expected["byte_hist"]


def test_extract_features_default_rejects_unknown_formats(spark, sf_smoke):
    # the default decoder is REAL for PPM/BMP; anything else (here: raw
    # text payloads) still raises the documented NotImplementedError — at
    # execution, surfaced through the Spark task
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    docs = load_table(spark, sf_smoke, "documents").limit(1)
    media = attach_binary_payload(docs, "doc_id", "text")
    with pytest.raises((PythonException, Py4JJavaError), match="NotImplementedError"):
        extract_features(media).collect()


# ---------------------------------------------------------------------------
# Real codecs: PPM/BMP decode to actual pixel bytes.
# ---------------------------------------------------------------------------

# 2x2 RGB image: red, green / blue, white
_PX_2X2 = bytes(
    [255, 0, 0, 0, 255, 0,
     0, 0, 255, 255, 255, 255]
)
_PPM_2X2 = b"P6\n# a comment\n2 2\n255\n" + _PX_2X2


def _bmp_2x2() -> bytes:
    import struct

    # rows bottom-up, BGR, padded to 4 bytes (2*3=6 -> pad 2)
    row_bottom = bytes([255, 0, 0, 255, 255, 255]) + b"\x00\x00"  # blue, white
    row_top = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"  # red, green
    raster = row_bottom + row_top
    info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(raster), 0, 0, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(raster), 0, 0, 14 + 40)
    return header + info + raster


def test_ppm_decode_real_pixels():
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import ppm_decode

    img = ppm_decode(_PPM_2X2)
    assert (img["width"], img["height"], img["maxval"]) == (2, 2, 255)
    assert img["pixels"] == _PX_2X2  # the actual raster, comment skipped


def test_bmp_decode_real_pixels():
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import bmp_decode

    img = bmp_decode(_bmp_2x2())
    assert (img["width"], img["height"]) == (2, 2)
    # bottom-up BGR container decodes to the same top-down RGB raster
    assert img["pixels"] == _PX_2X2


def test_extract_features_decodes_ppm_and_bmp_for_real(spark):
    media = spark.createDataFrame(
        [(1, bytearray(_PPM_2X2)), (2, bytearray(_bmp_2x2()))],
        "media_id long, content binary",
    )
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    # stats are over the DECODED raster (12 pixel bytes), not the container
    for mid in (1, 2):
        assert feats[mid]["n_bytes"] == 12
        assert feats[mid]["byte_mean"] == pytest.approx(sum(_PX_2X2) / 12)
    # same image through two containers → identical features
    assert feats[1].asDict(True) | {"media_id": 0} == feats[2].asDict(True) | {
        "media_id": 0
    }


def test_ppm_codec_roundtrip_properties():
    """Property: encode→decode is identity on the raster."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        ppm_decode,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 8),
        h=st.integers(1, 8),
        seed=st.integers(0, 2**32 - 1),
    )
    def check(w, h, seed):
        import random

        rng = random.Random(seed)
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        enc = ppm_encode(w, h, px)
        img = ppm_decode(enc)
        assert (img["width"], img["height"], img["pixels"]) == (w, h, px)

    check()


def test_pil_decode_when_available(spark):
    """Skipped-or-green by environment: with Pillow importable, PNG
    payloads decode to real pixels; without Pillow the contract is the
    NotImplementedError path (covered below)."""
    PIL = pytest.importorskip("PIL")
    import io

    from PIL import Image

    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        decode_media,
    )

    im = Image.new("RGB", (4, 2))
    im.putdata([(x * 10, y * 10, 7) for y in range(2) for x in range(4)])
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    png = buf.getvalue()

    img = decode_media(png)
    assert (img["width"], img["height"]) == (4, 2)
    assert img["pixels"] == im.tobytes()


def test_pil_absent_keeps_notimplemented_contract():
    """In THIS environment (no Pillow) the fallback must be inert: JPEG
    magic bytes still raise the documented NotImplementedError from
    decode_media (PNG no longer needs Pillow — stdlib decoder, r7).
    Skips when Pillow IS present."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed; inert-fallback case not applicable")
    except ImportError:
        pass
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        decode_media,
    )

    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_media(b"\xff\xd8\xff\xe0fake-jpeg-payload")


# ---------------------------------------------------------------------------
# Stdlib PNG decode (round 7): the most common web-corpus image format with
# no Pillow and no codec libs — zlib inflate + per-scanline unfilter.
# ---------------------------------------------------------------------------
def _gradient_rgb(w, h):
    return bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in ((x * 17) % 256, (y * 29) % 256, (x * y * 7 + 3) % 256)
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
def test_png_roundtrip_every_scanline_filter(filter_type):
    """png_decode must invert png_encode bit-for-bit under each of the five
    spec filters (None/Sub/Up/Average/Paeth) — the unfilter arithmetic is
    exercised per filter, not just on whatever a single encoder emits."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        png_decode,
    )

    w, h = 9, 5
    pixels = _gradient_rgb(w, h)
    img = png_decode(png_encode(w, h, pixels, filter_type=filter_type))
    assert (img["width"], img["height"], img["maxval"]) == (w, h, 255)
    assert img["pixels"] == pixels


def test_png_color_type_conversions():
    """Gray (0), palette (3), gray+alpha (4) and RGBA (6) payloads all
    land as row-major RGB matching the spec conversion rules (alpha
    dropped, gray replicated, palette looked up)."""
    import struct
    import zlib

    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        png_decode,
    )

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def build(w, h, color, raster, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(raster)) + chunk(b"IEND", b"")

    # 2x1 grayscale: values 10, 200 (filter 0 per line)
    img = png_decode(build(2, 1, 0, bytes([0, 10, 200])))
    assert img["pixels"] == bytes([10, 10, 10, 200, 200, 200])
    # 2x1 RGBA: alpha dropped
    img = png_decode(build(2, 1, 6, bytes([0, 1, 2, 3, 255, 4, 5, 6, 0])))
    assert img["pixels"] == bytes([1, 2, 3, 4, 5, 6])
    # 2x1 gray+alpha
    img = png_decode(build(2, 1, 4, bytes([0, 9, 255, 90, 1])))
    assert img["pixels"] == bytes([9, 9, 9, 90, 90, 90])
    # 2x1 palette: indices 1, 0 into a 2-entry palette
    img = png_decode(
        build(2, 1, 3, bytes([0, 1, 0]), plte=bytes([10, 20, 30, 40, 50, 60]))
    )
    assert img["pixels"] == bytes([40, 50, 60, 10, 20, 30])


def test_png_dispatch_and_unsupported_shapes():
    """decode_media routes PNG magic to the stdlib decoder; 16-bit and
    interlaced payloads raise NotImplementedError (the Pillow/injection
    boundary), corrupt payloads raise ValueError."""
    import struct
    import zlib

    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        decode_media,
        png_decode,
    )

    w, h = 3, 2
    pixels = _gradient_rgb(w, h)
    img = decode_media(png_encode(w, h, pixels))
    assert img["pixels"] == pixels

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(7)))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        png_decode(deep)
    with pytest.raises(ValueError, match="IHDR"):
        png_decode(b"\x89PNG\r\n\x1a\nnothing-here")
    with pytest.raises(ValueError, match="size mismatch"):
        png_decode(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(5)))
            + chunk(b"IEND", b"")
        )


def test_png_feeds_feature_extraction(spark):
    """End to end through the engine: PNG payloads ride extract_features'
    Arrow batches and produce statistics over the REAL decoded pixels."""
    from vmware_sd_wan_velocloud_bi_intake_spark.operators.multimodal import (
        extract_features,
        pixel_feature_decoder,
    )

    w, h = 4, 3
    pixels = _gradient_rgb(w, h)
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(w, h, pixels)))], "media_id long, content binary"
    )
    row = extract_features(df, decoder=pixel_feature_decoder).head()
    # statistics over the DECODED raster, not the compressed container
    assert row["n_bytes"] == w * h * 3
    exp_mean = sum(pixels) / len(pixels)
    assert abs(row["byte_mean"] - exp_mean) < 1e-6
