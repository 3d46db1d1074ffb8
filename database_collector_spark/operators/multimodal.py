"""Multimodal (binary) column plumbing (extension surface;
BASELINE.json north star).

Images/audio/video ride as opaque ``binary`` columns with a typed metadata
struct. The Spark-side contract — schema, Arrow batch shape, partition
sizing — is real and tested. Decode has two tiers:

* **Real, dependency-free**: binary PPM (P6) — a header parse + raw RGB
  bytes, so ``decode_ppm``/``decode_image`` do actual bytes→pixels work
  with numpy only. ``extract_features(decode_stub=False)`` runs on
  decoded pixels via this path.
* **Real, dependency-free (compressed)**: PNG 8-bit RGB via
  ``operators/codecs.py`` — stdlib zlib IS the PNG codec, so
  ``decode_image_any`` really decompresses and unfilters compressed
  rasters with no third-party imports.
* **Optional-dependency real codec**: JPEG via Pillow
  (``codecs.decode_jpeg``) — import-gated like the botocore SigV4 path;
  absent → null stats or a loud error per ``on_missing_codec``.
* **Stubbed**: video codecs need ffmpeg; ``frame_sample`` keeps an
  honest NotImplementedError for compressed containers and the
  ``decode_stub=True`` paths derive deterministic fake features from the
  raw bytes.

Design for 100 TB of media:
* mapInPandas, not a row UDF: Arrow moves the binary batches, pandas
  vectorizes the per-batch work.
* ``spark.sql.files.maxPartitionBytes`` (and for real media, a rebatch by
  target row count) bounds executor memory per task — a 4 GiB video row
  must not co-batch with a thousand thumbnails.
* metadata (dims, codec, duration) lives in a sibling struct column so
  filters prune on parquet statistics without touching the blobs.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# binary PPM: "P6" <ws> width <ws> height <ws> maxval <ONE ws> raw RGB
# triplets (netpbm spec; '#' comments are not emitted by any writer here
# and are rejected as malformed rather than silently misparsed)
_PPM_HEADER = re.compile(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s")


def decode_ppm(payload: bytes):
    """Parse one binary (P6) PPM into ``(w, h, pixels)`` where pixels is
    a ``uint8`` ndarray of shape ``(w*h, 3)`` — or ``None`` if malformed
    (wrong magic, maxval > 255, or truncated pixel data). Pure
    numpy/stdlib: the dependency-free real-decode tier."""
    import numpy as np

    if payload is None:
        return None
    m = _PPM_HEADER.match(payload)
    if not m:
        return None
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval > 255 or w <= 0 or h <= 0:  # 2-byte samples unsupported
        return None
    data = payload[m.end() : m.end() + w * h * 3]
    if len(data) < w * h * 3:
        return None
    return w, h, np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("declared_format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("header_byte", T.IntegerType(), True),
        T.StructField("checksum_mod", T.LongType(), True),
    ]
)


def to_media(docs: DataFrame, *, media_type: str = "image") -> DataFrame:
    """documents -> opaque binary rows (UTF-8 payload stands in for media
    bytes; real pipelines read the blobs from object storage)."""
    return docs.select(
        "doc_id",
        F.lit(media_type).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
            F.lit("text/plain").alias("declared_format"),
        ).alias("meta"),
    )


def to_ppm_media(docs: DataFrame) -> DataFrame:
    """documents -> real binary P6 images, synthesized JVM-side at scan
    speed (no Python): w = 2 + doc_id%7, h = 2 + doc_id%5, channel-
    constant pixels r/g/b = (doc_id*7 + 0/1/2) % 256. The closed form
    makes pixel statistics SQL-derivable, so the decode path is
    oracle-checkable end-to-end; the payload itself is a spec-conformant
    PPM built with printf + unhex(repeat(hex-triplet)) — every byte of
    header and raster is real."""
    return (
        docs.select("doc_id")
        .withColumn("w", (F.lit(2) + F.col("doc_id") % 7).cast("int"))
        .withColumn("h", (F.lit(2) + F.col("doc_id") % 5).cast("int"))
        .withColumn(
            "payload",
            F.expr(
                "concat("
                "  encode(printf('P6\\n%d %d\\n255\\n', w, h), 'UTF-8'),"
                "  unhex(repeat(concat("
                "    lpad(hex((doc_id*7) % 256), 2, '0'),"
                "    lpad(hex((doc_id*7 + 1) % 256), 2, '0'),"
                "    lpad(hex((doc_id*7 + 2) % 256), 2, '0')), w*h)))"
            ),
        )
        .select(
            "doc_id",
            F.lit("image").alias("media_type"),
            "payload",
            F.struct(
                F.length("payload").cast("long").alias("n_bytes"),
                F.lit("image/x-portable-pixmap").alias("declared_format"),
            ).alias("meta"),
        )
    )


def to_ppm_video(docs: DataFrame) -> DataFrame:
    """documents -> real binary "videos": each payload is a concatenation
    of ``n_frames = 1 + doc_id%6`` spec-conformant P6 frames, synthesized
    JVM-side (no Python). Frame ``f`` has w = 2 + (doc_id+f)%7,
    h = 2 + (doc_id+f)%5 and channel-constant pixels
    r/g/b = (doc_id*7 + f*11 + 0/1/2) % 256 — dims VARY per frame, so a
    consumer can only find frame boundaries by actually parsing each
    header (the self-delimiting-container property real video demuxing
    relies on), and every pixel statistic stays SQL-derivable for the
    oracle."""
    frame = (
        "concat("
        " encode(printf('P6\\n%d %d\\n255\\n',"
        "   2 + (doc_id + f) % 7, 2 + (doc_id + f) % 5), 'UTF-8'),"
        " unhex(repeat(concat("
        "   lpad(hex((doc_id*7 + f*11) % 256), 2, '0'),"
        "   lpad(hex((doc_id*7 + f*11 + 1) % 256), 2, '0'),"
        "   lpad(hex((doc_id*7 + f*11 + 2) % 256), 2, '0')),"
        "  (2 + (doc_id + f) % 7) * (2 + (doc_id + f) % 5))))"
    )
    return (
        docs.select("doc_id")
        .withColumn(
            "payload",
            F.expr(
                "aggregate(sequence(0, cast(doc_id % 6 as int)),"
                f" cast('' as binary), (acc, f) -> concat(acc, {frame}))"
            ),
        )
        .select(
            "doc_id",
            F.lit("video").alias("media_type"),
            "payload",
            F.struct(
                F.length("payload").cast("long").alias("n_bytes"),
                F.lit("video/x-ppm-stream").alias("declared_format"),
            ).alias("meta"),
        )
    )


def _u16le(x: str) -> str:
    """SQL fragment: 16-bit little-endian bytes of integer expr ``x``."""
    return (
        f"unhex(concat(lpad(hex(({x}) % 256), 2, '0'),"
        f" lpad(hex(({x}) div 256 % 256), 2, '0')))"
    )


def _u32le(x: str) -> str:
    """SQL fragment: 32-bit little-endian bytes of integer expr ``x``."""
    return (
        f"unhex(concat(lpad(hex(({x}) % 256), 2, '0'),"
        f" lpad(hex(({x}) div 256 % 256), 2, '0'),"
        f" lpad(hex(({x}) div 65536 % 256), 2, '0'),"
        f" lpad(hex(({x}) div 16777216 % 256), 2, '0')))"
    )


def to_wav_media(docs: DataFrame) -> DataFrame:
    """documents -> real RIFF/WAVE PCM16 audio, synthesized JVM-side at
    scan speed (no Python): channels = 1 + doc_id%2, sample rate =
    8000·(1 + doc_id%3), frames = 4 + doc_id%5, and the interleaved
    sample for (frame t, channel c) has unsigned-16 pattern
    ``(doc_id*31 + t*7 + c*3) % 65536`` — a closed form, so every
    decoded statistic is SQL-derivable and the decode path is
    oracle-checkable end-to-end. Every byte is spec-conformant RIFF:
    'RIFF' + size + 'WAVE', a 16-byte PCM 'fmt ' chunk with consistent
    byte_rate/block_align, and a 'data' chunk of little-endian int16
    frames."""
    ch = "(1 + doc_id % 2)"
    rate = "(8000 * (1 + doc_id % 3))"
    nf = "(4 + doc_id % 5)"
    data_size = f"({nf} * {ch} * 2)"
    s0 = "((doc_id*31 + t*7) % 65536)"
    s1 = "((doc_id*31 + t*7 + 3) % 65536)"
    pcm = (
        f"aggregate(sequence(0, cast({nf} as int) - 1), cast('' as binary),"
        f" (acc, t) -> concat(acc, {_u16le(s0)},"
        f" CASE WHEN {ch} = 2 THEN {_u16le(s1)} ELSE cast('' as binary) END))"
    )
    payload = (
        "concat(encode('RIFF', 'UTF-8'),"
        f" {_u32le(f'36 + {data_size}')},"
        " encode('WAVEfmt ', 'UTF-8'),"
        f" {_u32le('16')}, {_u16le('1')}, {_u16le(ch)},"
        f" {_u32le(rate)}, {_u32le(f'{rate} * {ch} * 2')},"
        f" {_u16le(f'{ch} * 2')}, {_u16le('16')},"
        " encode('data', 'UTF-8'),"
        f" {_u32le(data_size)}, {pcm})"
    )
    return (
        docs.select("doc_id")
        .withColumn("payload", F.expr(payload))
        .select(
            "doc_id",
            F.lit("audio").alias("media_type"),
            "payload",
            F.struct(
                F.length("payload").cast("long").alias("n_bytes"),
                F.lit("audio/wav").alias("declared_format"),
            ).alias("meta"),
        )
    )


def decode_wav(payload: bytes):
    """Parse one RIFF/WAVE PCM16 payload into ``(rate, channels,
    n_frames, samples)`` with samples an int16 ndarray of shape
    ``(n_frames, channels)`` — or ``None`` if malformed (wrong magics,
    non-PCM, non-16-bit, missing chunks, truncated data). A real chunk
    walk (word-aligned sizes, order-independent), not offset
    assumptions — the dependency-free audio tier next to
    ``decode_ppm``."""
    import numpy as np

    if payload is None or len(payload) < 44:
        return None
    if payload[0:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            return None  # truncated chunk
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    block_align = int.from_bytes(fmt[12:14], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16 or ch < 1 or block_align != ch * 2:
        return None
    n = len(data) // (2 * ch)
    samples = np.frombuffer(data[: n * 2 * ch], dtype="<i2").reshape(n, ch)
    return rate, ch, n, samples


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sum_ch0", T.LongType(), True),
        T.StructField("sum_ch1", T.LongType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def decode_audio(media: DataFrame) -> DataFrame:
    """REAL bytes→samples decode over binary WAV payloads: chunk-walk
    the RIFF container, reinterpret the data chunk as interleaved
    little-endian int16 frames, emit per-channel sample sums + the peak
    |amplitude| + parsed format fields. Malformed payloads yield null
    stats (null-not-panic, SURVEY §1.2). Same mapInPandas/Arrow
    plumbing as decode_image."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = (
            "doc_id",
            "sample_rate",
            "n_channels",
            "n_frames",
            "sum_ch0",
            "sum_ch1",
            "peak",
        )
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                decoded = decode_wav(p)
                if decoded is None:
                    for k in cols[1:]:
                        out[k].append(None)
                    continue
                rate, ch, n, samples = decoded
                sums = samples.sum(axis=0, dtype="int64")
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["n_frames"].append(n)
                out["sum_ch0"].append(int(sums[0]) if n else 0)
                out["sum_ch1"].append(int(sums[1]) if ch > 1 and n else None)
                out["peak"].append(
                    int(abs(samples.astype("int64")).max()) if n else 0
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_batches, schema=AUDIO_STATS_SCHEMA)


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
    ]
)


def decode_image(media: DataFrame) -> DataFrame:
    """REAL bytes→pixels decode over binary payloads: parse each P6
    header, reinterpret the raster as an (n,3) uint8 array, emit per-
    channel pixel sums + parsed dimensions. Malformed payloads yield
    null stats (null-not-panic, SURVEY §1.2) instead of failing the
    batch. Same mapInPandas/Arrow plumbing as the stub tier — this is
    the working ``decode_stub=False`` path the stubs model."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "w", "h", "sum_r", "sum_g", "sum_b")}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                decoded = decode_ppm(p)
                if decoded is None:
                    for k in ("w", "h", "sum_r", "sum_g", "sum_b"):
                        out[k].append(None)
                    continue
                w, h, px = decoded
                sums = px.sum(axis=0, dtype="int64")
                out["w"].append(w)
                out["h"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(_batches, schema=IMAGE_STATS_SCHEMA)


def extract_features(media: DataFrame, *, decode_stub: bool = True) -> DataFrame:
    """Batch feature extraction over binary payloads via mapInPandas.

    Stub features (deterministic, engine-checkable): payload size, first
    byte, byte-sum mod 997 — computed over the RAW payload bytes when
    ``decode_stub=True``, or over the DECODED pixel raster when
    ``decode_stub=False`` (real P6 decode via ``decode_ppm``; malformed
    payloads get null stats in ALL feature columns, matching
    ``decode_image``'s null-not-panic contract — a JPEG corpus run
    through the real tier yields nulls, never plausible-looking zero
    features). Same schema either way: the stub models exactly what the
    real path produces.

    The kernel is numpy-vectorized per Arrow batch (one buffer concat +
    prefix-sum instead of a Python loop over rows): the whole point of
    the mapInPandas contract is batch-at-a-time compute, so the
    reference implementation should model it.
    """

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            failed = np.zeros(len(pdf), dtype=bool)
            if decode_stub:
                payloads = [p if p is not None else b"" for p in pdf["payload"]]
            else:
                # real tier: the "bytes" we featurize are the pixel raster;
                # undecodable payloads are masked to NULL features below
                # (decode_image's null-not-panic rule), not zero features
                decoded = [decode_ppm(p) for p in pdf["payload"]]
                failed = np.array([d is None for d in decoded], dtype=bool)
                payloads = [
                    b"" if d is None else d[2].tobytes() for d in decoded
                ]
            lens = np.array([len(p) for p in payloads], dtype=np.int64)
            buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            ends = np.cumsum(lens)
            starts = ends - lens
            # per-payload byte sums via one prefix-sum (empty payloads -> 0)
            csum = np.zeros(buf.size + 1, dtype=np.int64)
            np.cumsum(buf, dtype=np.int64, out=csum[1:])
            headers = np.full(len(payloads), -1, dtype=np.int64)
            nonempty = lens > 0
            if buf.size:
                headers[nonempty] = buf[starts[nonempty]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_bytes": pd.array(lens, dtype="Int64"),
                    "header_byte": pd.array(
                        headers.astype(np.int32), dtype="Int32"
                    ),
                    "checksum_mod": pd.array(
                        (csum[ends] - csum[starts]) % 997, dtype="Int64"
                    ),
                }
            )
            if failed.any():
                out.loc[failed, ["n_bytes", "header_byte", "checksum_mod"]] = pd.NA
            yield out

    return media.mapInPandas(_batches, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)

FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
    ]
)


def decode_frames(frames: DataFrame) -> DataFrame:
    """``frame_sample`` output -> per-frame REAL decode stats: parse each
    sampled frame's P6 header, reinterpret its raster, emit dims +
    per-channel pixel sums keyed by (doc_id, frame_idx). Malformed frames
    yield null stats (null-not-panic) — the frame-level twin of
    ``decode_image``."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in ("doc_id", "frame_idx", "w", "h", "sum_r", "sum_g", "sum_b")
            }
            for doc_id, idx, p in zip(
                pdf["doc_id"], pdf["frame_idx"], pdf["frame"]
            ):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(idx)
                decoded = decode_ppm(p)
                if decoded is None:
                    for k in ("w", "h", "sum_r", "sum_g", "sum_b"):
                        out[k].append(None)
                    continue
                w, h, px = decoded
                sums = px.sum(axis=0, dtype="int64")
                out["w"].append(w)
                out["h"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return frames.mapInPandas(_batches, schema=FRAME_STATS_SCHEMA)


def frame_sample(
    media: DataFrame,
    *,
    frame_bytes: int = 256,
    every_nth: int = 10,
    decode_stub: bool = True,
) -> DataFrame:
    """Video frame sampling: one binary row in, N frame rows out (a
    flat-map — mapInPandas yields more rows than it consumes, which is
    exactly the shape ffmpeg keyframe extraction needs).

    Two tiers, same schema and explode-shaped cardinality:

    * ``decode_stub=True``: the payload is treated as a concatenation of
      ``frame_bytes``-sized frames and every n-th is emitted — no
      decoder, deterministic.
    * ``decode_stub=False`` (REAL): the payload is demuxed as a
      concatenated P6 stream (``to_ppm_video``'s fixture format): each
      frame's length is computed from its OWN parsed header
      (header_len + w*h*3 — the PPM container is self-delimiting), the
      walk advances boundary to boundary, and every n-th frame's raw
      bytes are emitted. A malformed header stops the walk for that row
      (truncated tail quarantined by omission, null-not-panic) — no
      external demuxer needed. Compressed codecs would swap the walker
      for ffmpeg; the boundary-walk structure is the same.

    ``frame_idx`` is the SAMPLED ordinal (0,1,2,... of emitted frames)
    in both tiers. At 100 TB the output is written partitioned by doc_id
    range so one video's frames stay co-located for the downstream
    encoder."""

    def _walk_ppm_frames(p: bytes) -> list[bytes]:
        frames, off = [], 0
        while off < len(p):
            m = _PPM_HEADER.match(p[off:])
            if not m:
                break
            w, h = int(m.group(1)), int(m.group(2))
            end = off + m.end() + w * h * 3
            if int(m.group(3)) > 255 or w <= 0 or h <= 0 or end > len(p):
                break
            frames.append(p[off:end])
            off = end
        return frames

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = p if p is not None else b""
                if decode_stub:
                    n_frames = len(p) // frame_bytes
                    all_frames = [
                        p[i * frame_bytes : (i + 1) * frame_bytes]
                        for i in range(n_frames)
                    ]
                else:
                    all_frames = _walk_ppm_frames(p)
                for k, i in enumerate(range(0, len(all_frames), every_nth)):
                    ids.append(doc_id)
                    idxs.append(k)
                    frames.append(all_frames[i])
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(_batches, schema=FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual hashing (dHash) — image near-dup detection
# ---------------------------------------------------------------------------

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("dhash", T.StringType(), True),  # 16 lowercase hex chars
    ]
)


def to_gradient_ppm_media(docs: DataFrame) -> DataFrame:
    """documents -> real binary 9x8 P6 images with per-PIXEL gradients
    (unlike ``to_ppm_media``'s channel-constant rasters, these have
    spatial structure, so a perceptual hash is non-degenerate).

    Closed form: pattern id pid = doc_id % 50; grayscale triplet value
    at (x, y) is ``(pid*13 + x*17 + y*29) % 200 + doc_id % 3``. The
    ``doc_id % 3`` term is a per-image BRIGHTNESS SHIFT (no 255
    wraparound since the base stays < 200): documents sharing a pid are
    near-duplicate images — bytewise different, perceptually identical
    — exactly what dHash must collapse. Synthesis is pure JVM expr
    (transform + hex + unhex), no Python."""
    raster = (
        "array_join(transform(sequence(0, 71), i -> "
        "  repeat(lpad(hex(((doc_id % 50)*13 + (i % 9)*17 + (i div 9)*29) % 200"
        "              + doc_id % 3), 2, '0'), 3)), '')"
    )
    return (
        docs.select("doc_id")
        .withColumn(
            "payload",
            F.expr(
                "concat(encode('P6\\n9 8\\n255\\n', 'UTF-8'), "
                f"unhex({raster}))"
            ),
        )
        .select(
            "doc_id",
            F.lit("image").alias("media_type"),
            "payload",
            F.struct(
                F.length("payload").cast("long").alias("n_bytes"),
                F.lit("image/x-portable-pixmap").alias("declared_format"),
            ).alias("meta"),
        )
    )


def dhash_images(media: DataFrame) -> DataFrame:
    """Difference hash over REAL decoded pixels: decode each P6 payload,
    integer-mean the channels to grayscale, and for each of the 8x8
    left/right neighbor pairs set bit ``y*8 + x`` iff
    ``gray[y][x] < gray[y][x+1]``. Requires a 9x8 raster (the canonical
    dHash sample grid — real pipelines downscale to it first);
    other dims or malformed payloads yield null (null-not-panic).

    The 64-bit hash is emitted as 16 lowercase hex chars: brightness-
    shift invariant (constant offsets cancel in the comparisons), flips
    with content edits — the standard image near-dup key. Grouping on it
    is one shuffle of 8-byte keys, the image twin of text SimHash."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = (1 << (np.arange(64, dtype=np.uint64))).astype(np.uint64)
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                ids.append(doc_id)
                decoded = decode_ppm(p)
                if decoded is None or decoded[0] != 9 or decoded[1] != 8:
                    hashes.append(None)
                    continue
                w, h, px = decoded
                gray = (px.astype(np.int64).sum(axis=1) // 3).reshape(h, w)
                bits = (gray[:, :-1] < gray[:, 1:]).astype(np.uint64).ravel()
                hashes.append(f"{int((bits * weights).sum()):016x}")
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return media.mapInPandas(_batches, schema=DHASH_SCHEMA)


# ---------------------------------------------------------------------------
# compressed-format tier (operators/codecs.py) — PNG real, JPEG/FLAC gated
# ---------------------------------------------------------------------------

IMAGE_ANY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
    ]
)


def to_png_media(docs: DataFrame) -> DataFrame:
    """documents -> REAL compressed PNG images, same closed form as
    ``to_ppm_media`` (w = 2 + doc_id%7, h = 2 + doc_id%5, channel-
    constant pixels (doc_id*7 + 0/1/2) % 256) — so pixel statistics stay
    SQL-derivable while the payload genuinely round-trips DEFLATE +
    scanline filtering. Synthesis runs in mapInPandas (the encoder needs
    zlib); deterministic bytes for deterministic input."""
    from database_collector_spark.operators import codecs

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 2 + d % 7, 2 + d % 5
                px = np.tile(
                    np.array(
                        [(d * 7) % 256, (d * 7 + 1) % 256, (d * 7 + 2) % 256],
                        dtype=np.uint8,
                    ),
                    (w * h, 1),
                )
                ids.append(d)
                payloads.append(codecs.encode_png(w, h, px))
            yield pd.DataFrame({"doc_id": ids, "payload": payloads})

    synth = docs.select("doc_id").mapInPandas(
        _batches,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return synth.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        "payload",
        F.struct(
            F.length("payload").cast("long").alias("n_bytes"),
            F.lit("image/png").alias("declared_format"),
        ).alias("meta"),
    )


def decode_image_any(
    media: DataFrame, *, on_missing_codec: str = "null"
) -> DataFrame:
    """Magic-byte-dispatched image decode: P6 via ``decode_ppm``, PNG via
    the dependency-free ``codecs.decode_png`` (stdlib zlib), JPEG via the
    Pillow-gated ``codecs.decode_jpeg``. Emits the ``decode_image``
    stats plus the sniffed ``codec``.

    ``on_missing_codec``: a payload whose codec needs an absent optional
    dependency (JPEG without Pillow) gets null stats with the codec
    still reported (``'null'``, default — the quarantine convention) or
    raises ``NotImplementedError`` out of the job (``'error'`` — for
    pipelines where silent nulls would hide a deployment mistake).
    Malformed payloads of a SUPPORTED codec always yield null stats."""
    from database_collector_spark.operators import codecs

    if on_missing_codec not in ("null", "error"):
        raise ValueError(f"on_missing_codec {on_missing_codec!r}")

    def _decode(p):
        kind = codecs.sniff_format(p)
        if kind == "ppm":
            return kind, decode_ppm(p)
        if kind == "png":
            return kind, codecs.decode_png(p)
        if kind == "jpeg":
            try:
                return kind, codecs.decode_jpeg(p)
            except NotImplementedError:
                if on_missing_codec == "error":
                    raise
                return kind, None
        return kind, None

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ("doc_id", "codec", "w", "h", "sum_r", "sum_g", "sum_b")
        for pdf in batches:
            out = {k: [] for k in cols}
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                out["doc_id"].append(doc_id)
                kind, decoded = _decode(p)
                out["codec"].append(kind)
                if decoded is None:
                    for k in cols[2:]:
                        out[k].append(None)
                    continue
                w, h, px = decoded
                sums = px.sum(axis=0, dtype="int64")
                out["w"].append(w)
                out["h"].append(h)
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    return media.mapInPandas(_batches, schema=IMAGE_ANY_SCHEMA)
