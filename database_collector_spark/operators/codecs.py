"""Compressed-format codec tier for the multimodal surface.

``operators/multimodal.py`` handles the container formats that need no
codec (P6 PPM, RIFF/WAVE PCM16). This module adds the compressed tier in
two layers:

* **Real, dependency-free: PNG (8-bit RGB, non-interlaced).** PNG's only
  compression is DEFLATE, which the stdlib ``zlib`` provides — so
  ``encode_png``/``decode_png`` are a complete spec-grade codec with no
  third-party imports: chunk CRCs are computed/validated, multi-IDAT
  streams are concatenated, and ALL five scanline filter types (None/
  Sub/Up/Average/Paeth) are reconstructed per the PNG specification
  (RFC 2083 §6). The reference never decodes media at all (its payloads
  are numeric metric samples end-to-end; the collector loop in
  collector/cmd/collector/database-collector.go only ships floats) —
  this tier exists for the training-data-pipeline extension surface.
* **Optional-dependency: JPEG via Pillow.**
  Gated exactly like the botocore SigV4 path in ``sinks/remote_write``:
  importable → real decode; absent → the caller chooses null-stats
  fail-soft or a loud ``NotImplementedError``. Nothing in the gate
  queries depends on these being installed.

Scale note: all decoding here is per-payload CPU work invoked from
``mapInPandas`` kernels in ``multimodal.py`` — embarrassingly parallel,
no shuffle implications; executor memory is bounded by the Arrow batch
size contract documented there.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# --------------------------------------------------------------- sniffing


def sniff_format(payload: bytes | None) -> str | None:
    """Identify a media payload by magic bytes — the dispatch key for
    ``decode_image_any``. Returns one of
    'ppm' | 'png' | 'jpeg' | 'wav' | 'flac' | 'ogg' | 'mp3' | None."""
    if not payload or len(payload) < 4:
        return None
    if payload[:2] == b"P6":
        return "ppm"
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return "png"
    if payload[:2] == b"\xff\xd8":
        return "jpeg"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:4] == b"OggS":
        return "ogg"
    if payload[:3] == b"ID3" or (
        payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return "mp3"
    return None


# -------------------------------------------------------- PNG (real tier)


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(w: int, h: int, pixels: np.ndarray, *, filter_type: int = 0) -> bytes:
    """Encode an ``(w*h, 3)`` uint8 RGB raster as a spec-conformant PNG.

    ``filter_type`` selects the per-scanline forward filter (0..4) — the
    encoder normally writes filter 0 (None), but the other four exist so
    tests can exercise every reconstruction path of :func:`decode_png`
    against real filtered bytes."""
    if filter_type not in (0, 1, 2, 3, 4):
        raise ValueError(f"filter_type {filter_type} not in 0..4")
    px = np.asarray(pixels, dtype=np.uint8).reshape(h, w * 3)
    bpp = 3
    raw = bytearray()
    prior = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        line = px[y].astype(np.int32)
        raw.append(filter_type)
        if filter_type == 0:
            out = line
        elif filter_type == 2:
            out = (line - prior) % 256
        else:
            out = np.empty_like(line)
            for x in range(w * 3):
                left = int(line[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                ul = int(prior[x - bpp]) if x >= bpp else 0
                if filter_type == 1:
                    pred = left
                elif filter_type == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                out[x] = (int(line[x]) - pred) % 256
        raw.extend(out.astype(np.uint8).tobytes())
        prior = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes | None):
    """Decode an 8-bit RGB non-interlaced PNG into ``(w, h, pixels)``
    with pixels a ``(w*h, 3)`` uint8 ndarray — or ``None`` if malformed
    (bad signature/CRC, unsupported bit depth/color type/interlace,
    truncated or inconsistent raster). Handles multi-IDAT streams and
    all five scanline filters. Pure stdlib zlib + numpy."""
    if payload is None or payload[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    try:
        while pos + 8 <= len(payload):
            (length,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length:
                return None
            (crc,) = struct.unpack(
                ">I", payload[pos + 8 + length : pos + 12 + length]
            )
            if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                return None
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", data)
            elif ctype == b"IDAT":
                idat.extend(data)
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype_n, comp, filt, interlace = ihdr
        if depth != 8 or ctype_n != 2 or comp != 0 or filt != 0 or interlace != 0:
            return None  # only 8-bit RGB non-interlaced in the free tier
        if w <= 0 or h <= 0:
            return None
        raw = zlib.decompress(bytes(idat))
    except (struct.error, zlib.error):
        return None
    stride = 1 + w * 3
    if len(raw) != h * stride:
        return None
    bpp = 3
    out = np.empty((h, w * 3), dtype=np.uint8)
    prior = np.zeros(w * 3, dtype=np.int32)
    for y in range(h):
        ft = raw[y * stride]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=w * 3, offset=y * stride + 1
        ).astype(np.int32)
        if ft == 0:
            recon = line
        elif ft == 2:
            recon = (line + prior) % 256
        elif ft in (1, 3, 4):
            recon = np.empty_like(line)
            for x in range(w * 3):
                left = int(recon[x - bpp]) if x >= bpp else 0
                up = int(prior[x])
                ul = int(prior[x - bpp]) if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + up) // 2
                else:
                    pred = _paeth(left, up, ul)
                recon[x] = (int(line[x]) + pred) % 256
        else:
            return None
        out[y] = recon.astype(np.uint8)
        prior = recon
    return w, h, out.reshape(-1, 3)


# ----------------------------------------- optional-dependency real codecs


def have_pillow() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def decode_jpeg(payload: bytes | None):
    """JPEG → ``(w, h, pixels)`` via Pillow, or ``None`` for malformed
    input. Raises ``NotImplementedError`` when Pillow is absent — the
    caller (``multimodal.decode_image_any``) turns that into null stats
    or propagates it per its ``on_missing_codec`` policy."""
    if not have_pillow():
        raise NotImplementedError(
            "JPEG decode requires Pillow (pip install pillow); the "
            "dependency-free tier covers PPM and PNG"
        )
    import io

    import PIL.Image

    if payload is None:
        return None
    try:
        img = PIL.Image.open(io.BytesIO(payload)).convert("RGB")
    except Exception:
        return None
    w, h = img.size
    return w, h, np.asarray(img, dtype=np.uint8).reshape(-1, 3)
