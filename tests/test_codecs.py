"""Compressed-format codec tier (operators/codecs.py): the
dependency-free PNG codec (stdlib zlib — round trips, all five scanline
filters, CRC/truncation/colortype rejection), magic-byte sniffing, the
optional-dependency JPEG gate, and the magic-dispatched
decode_image_any Spark operator."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from database_collector_spark.operators import codecs

# ------------------------------------------------------------- PNG codec


def _rng_pixels(w: int, h: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(w * h, 3), dtype=np.uint16).astype(np.uint8)


@pytest.mark.parametrize("w,h", [(1, 1), (2, 3), (9, 8), (31, 17)])
def test_png_round_trip(w, h):
    px = _rng_pixels(w, h, seed=w * 100 + h)
    payload = codecs.encode_png(w, h, px)
    decoded = codecs.decode_png(payload)
    assert decoded is not None
    dw, dh, dpx = decoded
    assert (dw, dh) == (w, h)
    assert np.array_equal(dpx, px)


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_png_all_five_filters_reconstruct(ft):
    """The decoder must reconstruct every PNG filter type from real
    filtered bytes — gradients exercise Sub/Up/Average/Paeth non-trivially."""
    w, h = 13, 11
    grad = np.arange(w * h * 3, dtype=np.int64).reshape(w * h, 3)
    px = ((grad * 7 + grad // 5) % 256).astype(np.uint8)
    payload = codecs.encode_png(w, h, px, filter_type=ft)
    decoded = codecs.decode_png(payload)
    assert decoded is not None and np.array_equal(decoded[2], px)
    if ft != 0:
        # the filtered stream must actually differ from the unfiltered one
        assert payload != codecs.encode_png(w, h, px, filter_type=0)


def test_png_rejects_bad_crc_truncation_and_unsupported():
    px = _rng_pixels(4, 4, seed=7)
    good = codecs.encode_png(4, 4, px)
    # flip one raster-affecting byte inside IDAT -> CRC mismatch -> None
    idat = good.find(b"IDAT")
    bad = bytearray(good)
    bad[idat + 8] ^= 0xFF
    assert codecs.decode_png(bytes(bad)) is None
    # truncated payload -> None
    assert codecs.decode_png(good[: len(good) // 2]) is None
    # bad signature -> None
    assert codecs.decode_png(b"\x88PNG\r\n\x1a\n" + good[8:]) is None
    assert codecs.decode_png(None) is None
    # unsupported color type (RGBA) -> None, not a misparse
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 6, 0, 0, 0)
    raw = bytes(
        [0] + [0] * 8
    ) * 2  # 2 scanlines, filter 0, 2 px * 4 ch
    rgba = (
        b"\x89PNG\r\n\x1a\n"
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", zlib.compress(raw))
        + codecs._chunk(b"IEND", b"")
    )
    assert codecs.decode_png(rgba) is None


def test_png_multi_idat_streams_concatenate():
    px = _rng_pixels(6, 5, seed=3)
    good = codecs.encode_png(6, 5, px)
    # split the single IDAT into two chunks at an arbitrary byte
    start = good.find(b"IDAT") - 4
    (length,) = struct.unpack(">I", good[start : start + 4])
    data = good[start + 8 : start + 8 + length]
    end = start + 12 + length
    a, b = data[:5], data[5:]
    rebuilt = (
        good[:start]
        + codecs._chunk(b"IDAT", a)
        + codecs._chunk(b"IDAT", b)
        + good[end:]
    )
    decoded = codecs.decode_png(rebuilt)
    assert decoded is not None and np.array_equal(decoded[2], px)


# ------------------------------------------------------------- sniffing


def test_sniff_format_magic_bytes():
    assert codecs.sniff_format(b"P6\n2 2\n255\n" + b"\x00" * 12) == "ppm"
    assert codecs.sniff_format(codecs.encode_png(1, 1, np.zeros((1, 3), np.uint8))) == "png"
    assert codecs.sniff_format(b"\xff\xd8\xff\xe0rest") == "jpeg"
    assert codecs.sniff_format(b"RIFF\x00\x00\x00\x00WAVEfmt ") == "wav"
    assert codecs.sniff_format(b"fLaC....") == "flac"
    assert codecs.sniff_format(b"OggS....") == "ogg"
    assert codecs.sniff_format(b"ID3\x04rest") == "mp3"
    assert codecs.sniff_format(b"\xff\xfb\x90\x00") == "mp3"  # MPEG sync
    assert codecs.sniff_format(b"????") is None
    assert codecs.sniff_format(None) is None
    assert codecs.sniff_format(b"") is None


# ----------------------------------------- optional-dependency behavior


def test_jpeg_gate_matches_pillow_availability():
    if codecs.have_pillow():
        import io

        import PIL.Image

        img = PIL.Image.new("RGB", (3, 2), color=(10, 20, 30))
        buf = io.BytesIO()
        img.save(buf, format="JPEG", quality=95)
        decoded = codecs.decode_jpeg(buf.getvalue())
        assert decoded is not None and decoded[:2] == (3, 2)
        assert codecs.decode_jpeg(b"\xff\xd8garbage") is None
    else:
        with pytest.raises(NotImplementedError, match="Pillow"):
            codecs.decode_jpeg(b"\xff\xd8\xff\xe0")


# ----------------------------------- Spark dispatch (decode_*_any ops)


def test_decode_image_any_dispatches_by_magic(spark):
    from pyspark.sql import functions as F

    from database_collector_spark.operators import multimodal

    docs = spark.range(0, 20).select(F.col("id").alias("doc_id"))
    ppm = multimodal.to_ppm_media(docs.where("doc_id % 2 = 0"))
    png = multimodal.to_png_media(docs.where("doc_id % 2 = 1"))
    jpeg = docs.where("doc_id = 1").select(
        (F.col("doc_id") + 100).alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.lit(b"\xff\xd8\xff\xe0fake").cast("binary").alias("payload"),
        F.struct(
            F.lit(4).cast("long").alias("n_bytes"),
            F.lit("image/jpeg").alias("declared_format"),
        ).alias("meta"),
    )
    out = multimodal.decode_image_any(
        ppm.unionByName(png).unionByName(jpeg)
    ).collect()
    rows = {r["doc_id"]: r for r in out}
    assert len(rows) == 21
    for d in range(20):
        r = rows[d]
        assert r["codec"] == ("ppm" if d % 2 == 0 else "png")
        w, h = 2 + d % 7, 2 + d % 5
        assert (r["w"], r["h"]) == (w, h)
        assert r["sum_r"] == ((d * 7) % 256) * w * h
    jr = rows[101]
    assert jr["codec"] == "jpeg"
    if not codecs.have_pillow():
        # missing codec -> null stats, codec still reported
        assert jr["w"] is None and jr["sum_r"] is None
    else:
        assert jr["w"] is None  # fake jpeg: malformed -> null stats too


def test_decode_image_any_error_policy_raises_without_codec(spark):
    from pyspark.sql import functions as F

    from database_collector_spark.operators import multimodal

    if codecs.have_pillow():
        pytest.skip("Pillow installed: missing-codec path not reachable")
    jpeg = spark.range(0, 1).select(
        F.col("id").alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.lit(b"\xff\xd8\xff\xe0fake").cast("binary").alias("payload"),
        F.struct(
            F.lit(4).cast("long").alias("n_bytes"),
            F.lit("image/jpeg").alias("declared_format"),
        ).alias("meta"),
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        multimodal.decode_image_any(jpeg, on_missing_codec="error").collect()
    with pytest.raises(ValueError):
        multimodal.decode_image_any(jpeg, on_missing_codec="quarantine")
