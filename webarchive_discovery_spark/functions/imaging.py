"""Image codec + analysis kernels for the image+caption record store.

The reference extracts image width/height *without* pixel decode
(``warc-indexer/src/main/java/uk/bl/wa/analyser/payload/ImageAnalyser.java:92-143``)
and validates payloads by digest; our fetch-simulation additionally checks a
decoded-pixel invariant (PSNR ≥ 40 dB for lossy formats — BASELINE.json
``input_hint``).

Codecs (pure Python/numpy — no Pillow or libjpeg, so encoded bytes, decoded
pixels and every digest derived from them are the same on every host):

- ``png``  — real minimal PNG (8-bit RGB, filter 0, zlib), lossless.
- ``bmp``  — real uncompressed 24-bit BMP, lossless.
- ``jpeg`` — **real pure-numpy JPEG codec** (``functions/jpeg.py``):
  baseline + progressive decode (verified against ``javax.imageio`` on the
  reference's facedetection corpus), baseline 4:4:4 encode with optimal
  Huffman tables.  The legacy deterministic fake lossy container
  (``WDSQ``) remains decodable and is still what ``encode_fake_lossy``
  emits — gate corpora whose oracles hard-code its 5-bit quantization
  arithmetic depend on it.
- decode-only, for arbitrary crawled payloads: full-spec PNG
  (``functions/png.py`` — every filter/color type/bit depth, Adam7) and
  GIF87a/89a (``functions/gif.py`` — LZW, interlace, transparency,
  animation).  Both bit-exact against ``javax.imageio`` on the reference
  repo's image assets.

All functions operate on ``numpy`` arrays / ``bytes`` and are wrapped in
Arrow-batched pandas UDFs by the operators layer.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_image",
    "encode_fake_lossy",
    "decode_image",
    "image_dims",
    "average_hash",
    "psnr",
    "resize_nearest",
    "encode_fake_video",
    "sample_video_frames",
]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_FAKE_JPEG_SIG = b"WDSQ"  # tagged container for the deterministic fake codec


# ---------------------------------------------------------------------------
# PNG (real, lossless)
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _encode_png(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), rgb.reshape(h, w * 3)], axis=1
    ).tobytes()  # filter byte 0 per scanline
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            assert depth == 8 and ctype == 2, "only 8-bit RGB supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8).reshape(h, w * 3 + 1)
    assert (raw[:, 0] == 0).all(), "only filter 0 supported"
    return raw[:, 1:].reshape(h, w, 3).copy()


def _png_dims(data: bytes) -> tuple[int, int]:
    w, h = struct.unpack(">II", data[16:24])
    return w, h


# ---------------------------------------------------------------------------
# BMP (real, lossless, 24-bit bottom-up)
# ---------------------------------------------------------------------------

def _encode_bmp(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    row = w * 3
    pad = (4 - row % 4) % 4
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up, BGR
        body += rgb[y, :, ::-1].tobytes() + b"\x00" * pad
    size = 14 + 40 + len(body)
    return (
        b"BM"
        + struct.pack("<IHHI", size, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        + bytes(body)
    )


def _decode_bmp(data: bytes) -> np.ndarray:
    assert data[:2] == b"BM", "not a BMP"
    (offset,) = struct.unpack("<I", data[10:14])
    w, h = struct.unpack("<ii", data[18:26])
    row = w * 3
    pad = (4 - row % 4) % 4
    out = np.empty((h, w, 3), np.uint8)
    pos = offset
    for y in range(h - 1, -1, -1):
        out[y] = np.frombuffer(data[pos:pos + row], np.uint8).reshape(w, 3)[:, ::-1]
        pos += row + pad
    return out


def _bmp_dims(data: bytes) -> tuple[int, int]:
    w, h = struct.unpack("<ii", data[18:26])
    return w, abs(h)


# ---------------------------------------------------------------------------
# Deterministic fake lossy codec (the legacy "jpeg" stand-in, WDSQ container)
# ---------------------------------------------------------------------------

_QUANT_BITS = 5  # 5-bit/channel → max error 4/255 → PSNR ≈ 40.9 dB


def _encode_fake_jpeg(rgb: np.ndarray) -> bytes:
    h, w, _ = rgb.shape
    shift = 8 - _QUANT_BITS
    q = (rgb >> shift).astype(np.uint8)
    return (
        _FAKE_JPEG_SIG
        + struct.pack(">IIB", w, h, _QUANT_BITS)
        + zlib.compress(q.tobytes(), 6)
    )


def _decode_fake_jpeg(data: bytes) -> np.ndarray:
    assert data[:4] == _FAKE_JPEG_SIG, "not a WDSQ fake-jpeg"
    w, h, bits = struct.unpack(">IIB", data[4:13])
    shift = 8 - bits
    q = np.frombuffer(zlib.decompress(data[13:]), np.uint8).reshape(h, w, 3)
    # dequantize to bin centers
    return ((q.astype(np.uint16) << shift) | (1 << (shift - 1))).clip(0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------

def encode_image(rgb: np.ndarray, fmt: str) -> bytes:
    fmt = fmt.lower()
    if fmt == "png":
        return _encode_png(rgb)
    if fmt == "bmp":
        return _encode_bmp(rgb)
    if fmt in ("jpeg", "jpg"):
        from .jpeg import encode_jpeg

        return encode_jpeg(rgb, quality=95)
    raise NotImplementedError(f"unsupported image format: {fmt}")


def encode_fake_lossy(rgb: np.ndarray) -> bytes:
    """The deterministic fake lossy codec (not the real JPEG encoder) — for
    corpora whose expected values are derived from the
    5-bit quantization arithmetic and must not depend on a real JPEG
    encoder's ringing (``decode_image`` dispatches on the WDSQ signature
    first, so these bytes round-trip identically everywhere)."""
    return _encode_fake_jpeg(rgb)


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    fmt = fmt.lower()
    if fmt == "png":
        try:
            return _decode_png(data)  # fast path: our own minimal subset
        except (AssertionError, ValueError):
            from .png import decode_png  # full spec (filters, palette, Adam7)

            return decode_png(data)
    if fmt == "gif":
        from .gif import decode_gif

        return decode_gif(data)
    if fmt == "bmp":
        return _decode_bmp(data)
    if fmt in ("jpeg", "jpg"):
        if data[:4] == _FAKE_JPEG_SIG:
            return _decode_fake_jpeg(data)
        from .jpeg import decode_jpeg

        return decode_jpeg(data)
    raise NotImplementedError(f"unsupported image format: {fmt}")


def image_dims(data: bytes) -> tuple[int, int] | None:
    """Width/height from the header ONLY — no pixel decode (the reference's
    ImageAnalyser fast path, ``ImageAnalyser.java:92-143``)."""
    try:
        if data[:8] == _PNG_SIG:
            return _png_dims(data)
        if data[:2] == b"BM":
            return _bmp_dims(data)
        if data[:4] == _FAKE_JPEG_SIG:
            w, h = struct.unpack(">II", data[4:12])
            return w, h
        if data[:2] == b"\xFF\xD8":
            from .jpeg import jpeg_dims

            return jpeg_dims(data)
        if data[:6] in (b"GIF87a", b"GIF89a"):
            from .gif import gif_dims

            return gif_dims(data)
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            return _webp_dims(data)
        if data[:4] == b"\x00\x00\x01\x00" and len(data) >= 8:
            # ICO: first directory entry; 0 encodes 256
            return (data[6] or 256, data[7] or 256)
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            return _tiff_dims(data)
    except Exception:
        return None
    return None


def _webp_dims(data: bytes) -> tuple[int, int] | None:
    """WebP container dims from the first chunk: VP8X (extended canvas),
    VP8L (lossless bitstream), or VP8 (lossy key frame)."""
    tag = data[12:16]
    if tag == b"VP8X":
        if len(data) < 30:  # truncated VP8X: int.from_bytes(b'') is 0, so a
            return None     # corrupt file would report a bogus 1x1 (ADVICE r5)
        w = 1 + int.from_bytes(data[24:27], "little")
        h = 1 + int.from_bytes(data[27:30], "little")
        return w, h
    if tag == b"VP8L" and data[20] == 0x2F:
        b = data[21:25]
        w = 1 + (((b[1] & 0x3F) << 8) | b[0])
        h = 1 + (((b[3] & 0x0F) << 10) | (b[2] << 2) | ((b[1] & 0xC0) >> 6))
        return w, h
    if tag == b"VP8 " and data[23:26] == b"\x9d\x01\x2a":
        w = struct.unpack("<H", data[26:28])[0] & 0x3FFF
        h = struct.unpack("<H", data[28:30])[0] & 0x3FFF
        return w, h
    return None


def _tiff_dims(data: bytes) -> tuple[int, int] | None:
    """TIFF dims from the first IFD (tags 256/257, SHORT or LONG)."""
    end = "<" if data[:2] == b"II" else ">"
    off = struct.unpack(end + "I", data[4:8])[0]
    if off + 2 > len(data):
        return None
    n = struct.unpack(end + "H", data[off:off + 2])[0]
    w = h = None
    for i in range(min(n, 512)):
        base = off + 2 + i * 12
        if base + 12 > len(data):
            break
        tag, typ = struct.unpack(end + "HH", data[base:base + 4])
        if tag in (256, 257):
            v = (struct.unpack(end + "H", data[base + 8:base + 10])[0]
                 if typ == 3 else
                 struct.unpack(end + "I", data[base + 8:base + 12])[0])
            if tag == 256:
                w = v
            else:
                h = v
    return (w, h) if w and h else None


def average_hash(rgb: np.ndarray) -> int:
    """64-bit perceptual average-hash (8×8 mean-luma threshold) — the
    ``phash`` column of the record store (near-dup analog of the reference's
    ssdeep fields, ``SolrFields.java:138``). Signed int64 for Spark LongType."""
    luma = (
        0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
    )
    h, w = luma.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    cells = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            cells[i, j] = luma[ys[i]:max(ys[i + 1], ys[i] + 1),
                               xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
    bits = (cells > cells.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images (dB)."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# Resize + video frame plumbing (training-data pipeline ops)
# ---------------------------------------------------------------------------

def resize_nearest(rgb: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize in pure numpy (real, deterministic — no image
    library needed).  A production pipeline would swap in a Pillow/opencv
    kernel behind the same signature."""
    h, w = rgb.shape[:2]
    yi = (np.arange(out_h) * (h / out_h)).astype(np.int64).clip(0, h - 1)
    xi = (np.arange(out_w) * (w / out_w)).astype(np.int64).clip(0, w - 1)
    return rgb[yi[:, None], xi[None, :]]


_FAKE_VIDEO_SIG = b"WDSV"  # length-prefixed concatenation of encoded frames


def encode_fake_video(frames: list[np.ndarray], fmt: str = "png") -> bytes:
    """Deterministic fake video container: signature + per-frame
    length-prefixed encoded images.  Stands in for a real demuxer so the
    frame-sampling plumbing (schema, batching, explode shape) is exercised
    end-to-end without codec libraries."""
    out = bytearray(_FAKE_VIDEO_SIG)
    out += struct.pack(">I", len(frames))
    for f in frames:
        enc = encode_image(f, fmt)
        out += struct.pack(">I", len(enc)) + fmt.encode("ascii").ljust(8, b"\0") + enc
    return bytes(out)


def sample_video_frames(data: bytes, every_n: int = 1) -> list[tuple[int, np.ndarray]]:
    """Decode every ``every_n``-th frame as (frame_index, rgb).  Real
    containers supported: **animated GIF** (the one animated format web
    archives hold in bulk — ``functions/gif.py``), **RIFF/AVI** with MJPEG
    or uncompressed-DIB video streams (``functions/avi.py``), and
    **MP4/MOV** with MJPEG sample formats (``functions/mp4.py`` — full box
    walk + sample-table resolution; frames decoded by the in-repo JPEG
    codec).  Modern mp4 codecs and webm raise NotImplementedError naming
    the codec — H.264/VP9 decoders genuinely cannot ship in this sandbox;
    the Spark-side plumbing is identical once a codec is plugged in.  The
    deterministic fake container remains for plumbing tests."""
    if data[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import gif_frames

        return [(i, frame) for i, _, frame in gif_frames(data)
                if i % every_n == 0]
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from .avi import avi_frames

        return list(avi_frames(data, every_n=every_n))
    if data[4:8] == b"ftyp":
        from .mp4 import mp4_frames

        return list(mp4_frames(data, every_n=every_n))
    if not data.startswith(_FAKE_VIDEO_SIG):
        raise NotImplementedError(
            "only GIF, AVI (MJPEG/DIB), MP4/MOV (MJPEG sample formats), "
            "and the deterministic fake video container are decodable here"
        )
    n = struct.unpack(">I", data[4:8])[0]
    pos = 8
    out = []
    for i in range(n):
        ln = struct.unpack(">I", data[pos:pos + 4])[0]
        fmt = data[pos + 4:pos + 12].rstrip(b"\0").decode("ascii")
        enc = data[pos + 12:pos + 12 + ln]
        pos += 12 + ln
        if i % every_n == 0:
            out.append((i, decode_image(enc, fmt)))
    return out
