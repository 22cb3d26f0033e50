"""Multimodal column support: opaque binary payloads + typed metadata.

Beyond-reference surface (SURVEY.md §7 step 10). Media rides through the
engine as ``binary`` content; decode and feature extraction run as an
Arrow-batched ``mapInPandas`` operator so the heavy per-item work stays
columnar and partition-parallel.

Decode is REAL for the formats a pure-Python decoder can carry: binary PPM
(P6), uncompressed 24-bit BMP, and 8-bit PNG (stdlib ``zlib`` inflate +
all five scanline unfilters) decode to actual pixel bytes
(:func:`ppm_decode` / :func:`bmp_decode` / :func:`png_decode`, dispatched
by magic bytes in :func:`decode_media`). JPEG/WebP (and 16-bit/interlaced
PNG exotics) decode whenever Pillow is importable (optional dependency —
the engine never requires it); otherwise they raise
``NotImplementedError`` unless a decoder is injected.

Scale notes: media rows are large and skew-prone; ``repartition`` by a
size-aware bucket before decode keeps tasks balanced, and features (small)
are split from content (large) immediately after extraction so downstream
shuffles never move raw bytes.
"""
from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, n_bytes long, byte_mean double, byte_hist array<long>"
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a (media_id, content: binary, meta) table from any source column.

    Used by tests to fabricate deterministic payloads; in production the
    binary column arrives from the lake (parquet/avro binary fields).
    """
    return df.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )


def ppm_decode(content: bytes) -> dict:
    """Pure-Python binary-PPM (P6) decoder → real pixel bytes.

    Parses the netpbm header (magic, whitespace/comment-tolerant width,
    height, maxval tokens, single whitespace, then the RGB raster) and
    returns ``{"width", "height", "maxval", "pixels": bytes}`` with pixels
    in row-major RGB order — the actual image content, not a stand-in.
    """
    if not content.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    idx, vals = 2, []
    while len(vals) < 3:
        while idx < len(content) and content[idx : idx + 1].isspace():
            idx += 1
        if content[idx : idx + 1] == b"#":  # comment runs to end of line
            while idx < len(content) and content[idx] != 0x0A:
                idx += 1
            continue
        start = idx
        while idx < len(content) and not content[idx : idx + 1].isspace():
            idx += 1
        if start == idx:
            raise ValueError("truncated PPM header")
        vals.append(int(content[start:idx]))
    idx += 1  # exactly one whitespace byte separates maxval from the raster
    width, height, maxval = vals
    if not 1 <= maxval <= 255:
        # netpbm permits maxval up to 65535 (2 bytes per sample); decoding
        # that as 1-byte samples would return confidently wrong pixels
        raise NotImplementedError(
            f"only 1-byte-per-sample PPM is supported (maxval={maxval})"
        )
    n = width * height * 3
    pixels = content[idx : idx + n]
    if len(pixels) < n:
        raise ValueError(f"truncated PPM raster: {len(pixels)} < {n} bytes")
    return {"width": width, "height": height, "maxval": maxval, "pixels": pixels}


def _dib_to_rgb(
    raster: bytes, width: int, height: int, top_down: bool = False
) -> bytes:
    """Padded BGR DIB raster (the BMP pixel format) → top-down RGB."""
    row_size = (width * 3 + 3) & ~3
    out = bytearray(width * height * 3)
    for row in range(height):
        src_row = row if top_down else height - 1 - row
        start = src_row * row_size
        rowbytes = raster[start : start + width * 3]
        if len(rowbytes) < width * 3:
            raise ValueError("truncated DIB raster")
        # BGR → RGB via strided slice assignment — no per-pixel objects
        base = row * width * 3
        out[base + 0 : base + width * 3 : 3] = rowbytes[2::3]
        out[base + 1 : base + width * 3 : 3] = rowbytes[1::3]
        out[base + 2 : base + width * 3 : 3] = rowbytes[0::3]
    return bytes(out)


def bmp_decode(content: bytes) -> dict:
    """Pure-Python uncompressed 24-bit BMP decoder → real pixel bytes.

    Parses BITMAPFILEHEADER + BITMAPINFOHEADER, honors 4-byte row padding
    and bottom-up (or top-down, negative-height) row order, and returns
    pixels row-major top-down in RGB order (BMP stores BGR).
    """
    import struct

    if not content.startswith(b"BM"):
        raise ValueError("not a BMP payload")
    offset = struct.unpack_from("<I", content, 10)[0]
    width = struct.unpack_from("<i", content, 18)[0]
    height = struct.unpack_from("<i", content, 22)[0]
    bpp = struct.unpack_from("<H", content, 28)[0]
    compression = struct.unpack_from("<I", content, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP is supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = height < 0
    height = abs(height)
    out = _dib_to_rgb(content[offset:], width, height, top_down=top_down)
    return {"width": width, "height": height, "maxval": 255, "pixels": bytes(out)}


def _paeth(a: int, b: int, c: int) -> int:
    # PNG spec predictor: nearest of (left, up, up-left) to a + b − c,
    # ties broken left → up → up-left
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_decode(content: bytes) -> dict:
    """Stdlib-only PNG decoder → real pixel bytes (no Pillow, no codec
    libs): chunk walk, ``zlib`` IDAT inflate, per-scanline unfilter (all
    five spec filters — None/Sub/Up/Average/Paeth), channel conversion to
    row-major RGB. Supports the dominant web-corpus shape: 8-bit depth,
    color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA —
    alpha dropped, matching Pillow's ``convert("RGB")``), no interlace.
    16-bit and Adam7 payloads raise ``NotImplementedError`` (decode those
    via the optional Pillow path or an injected decoder).

    The unfilter loop is per-byte Python — right for the engine's
    Arrow-batched feature UDFs over test/report-sized images; route bulk
    decode through an injected codec library in production (the
    documented :func:`extract_features` contract).
    """
    import struct
    import zlib

    if not content.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG payload")
    pos, idat, plte, hdr = 8, bytearray(), None, None
    while pos + 8 <= len(content):
        length, ctype = struct.unpack_from(">I4s", content, pos)
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = hdr
    if comp != 0 or filt != 0:
        raise ValueError(f"bad PNG compression/filter method ({comp}/{filt})")
    if depth != 8 or interlace != 0 or color not in (0, 2, 3, 4, 6):
        raise NotImplementedError(
            f"png_decode supports 8-bit non-interlaced color types "
            f"0/2/3/4/6 (got depth={depth}, color={color}, "
            f"interlace={interlace})"
        )
    if color == 3 and plte is None:
        raise ValueError("palette PNG missing PLTE")
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    raw = zlib.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raster size mismatch: {len(raw)} != {h * (stride + 1)}"
        )
    out = bytearray(h * stride)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        prev = out[(y - 1) * stride : y * stride] if y else bytes(stride)
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG scanline filter {f}")
        out[y * stride : (y + 1) * stride] = line
    if color == 2:
        pixels = bytes(out)
    elif color == 6:  # RGBA → RGB (drop alpha, Pillow convert('RGB') rule)
        pixels = bytes(b for i, b in enumerate(out) if i % 4 != 3)
    elif color == 0:  # gray → replicate
        pixels = bytes(b for b in out for _ in range(3))
    elif color == 4:  # gray+alpha → replicate the gray byte
        pixels = bytes(out[i] for i in range(0, len(out), 2) for _ in range(3))
    else:  # palette
        pixels = bytes(
            plte[3 * idx + k] for idx in out for k in range(3)
        )
    return {"width": w, "height": h, "maxval": 255, "pixels": pixels}


def _pil_decode(content: bytes) -> dict | None:
    """Pillow-backed decode (JPEG/PNG/…) when PIL is importable.

    Returns the same ``{"width","height","maxval","pixels"}`` contract as
    the pure-Python decoders (RGB, row-major), or ``None`` when Pillow is
    absent or cannot identify the payload — callers then fall through to
    the documented ``NotImplementedError`` contract, so environments
    without codec libraries behave exactly as before.
    """
    try:
        from PIL import Image, UnidentifiedImageError
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(content)) as im:
            rgb = im.convert("RGB")
    except UnidentifiedImageError:
        return None
    return {
        "width": rgb.width,
        "height": rgb.height,
        "maxval": 255,
        "pixels": rgb.tobytes(),
    }


def decode_media(content: bytes) -> dict:
    """Magic-byte-dispatched decode to real pixels for supported formats.

    P6 → :func:`ppm_decode`; BM → :func:`bmp_decode`; PNG →
    :func:`png_decode` (stdlib zlib — no Pillow needed for the most
    common web-corpus image format; 16-bit/Adam7 exotics fall through to
    Pillow when importable); anything else tries Pillow if it is
    importable (:func:`_pil_decode` — JPEG/WebP/… with no injection
    needed). Only when no decoder applies does this raise
    ``NotImplementedError`` — other formats (and JPEG without Pillow)
    need a decoder injected into :func:`extract_features`.
    """
    if content.startswith(b"P6"):
        return ppm_decode(content)
    if content.startswith(b"BM"):
        return bmp_decode(content)
    if content.startswith(b"\x89PNG\r\n\x1a\n"):
        try:
            return png_decode(content)
        except NotImplementedError:
            img = _pil_decode(content)
            if img is not None:
                return img
            raise
    img = _pil_decode(content)
    if img is not None:
        return img
    raise NotImplementedError(
        "no decoder for this payload (built-ins: PPM P6, 24-bit BMP, "
        "8-bit PNG; JPEG decodes automatically when Pillow is installed); "
        "inject a codec-backed decoder for other formats"
    )


def pixel_feature_decoder(content: bytes) -> dict:
    """Default feature decoder: byte statistics over DECODED pixels.

    Same output contract as :func:`fake_decoder`, but the statistics are
    computed on the actual decoded raster (via :func:`decode_media`), not
    on the raw container bytes.
    """
    import numpy as np

    img = decode_media(content)
    arr = np.frombuffer(img["pixels"], dtype=np.uint8)
    hist = np.bincount(arr % 16, minlength=16).astype("int64")
    return {
        "n_bytes": int(arr.size),
        "byte_mean": float(arr.mean()) if arr.size else 0.0,
        "byte_hist": hist.tolist(),
    }


def fake_decoder(content: bytes) -> dict:
    """Deterministic stand-in for a codec: byte statistics as 'features'."""
    import numpy as np

    arr = np.frombuffer(content, dtype=np.uint8)
    hist = np.bincount(arr % 16, minlength=16).astype("int64")
    return {
        "n_bytes": int(arr.size),
        "byte_mean": float(arr.mean()) if arr.size else 0.0,
        "byte_hist": hist.tolist(),
    }


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Decode + feature-extract per media item via Arrow-batched UDF.

    ``decoder`` maps raw bytes → feature dict. The default is
    :func:`pixel_feature_decoder` — REAL decode for PPM/BMP payloads
    (statistics over actual decoded pixels), ``NotImplementedError`` per
    item for formats that need an absent codec library (inject a
    PIL/ffmpeg-backed decoder for those in production, or
    ``fake_decoder`` for format-agnostic plumbing tests).
    """
    import pandas as pd

    if decoder is None:
        decoder = pixel_feature_decoder

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(bytes(b)) for b in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "byte_mean": [f["byte_mean"] for f in feats],
                    "byte_hist": [f["byte_hist"] for f in feats],
                }
            )

    # features are tiny relative to content: project content away immediately
    # after this operator; never shuffle raw bytes downstream.
    return media.select("media_id", "content").mapInPandas(run, FEATURE_SCHEMA)
