"""Streaming operator surface beyond the reference's counter
(SURVEY.md §2.10 lists watermarks/windows/sessionization as "none" in the
reference — these are the extension operators a 100 TB stream needs).

Every operator here bounds its state with a watermark: an unbounded-key
stream (event ids, content hashes) must evict state or the state store
grows without limit. The batch twins of these shapes live in
workloads_ts.py (sessionization, tumbling windows, range join) — same semantics, same column names, so a pipeline can run
one definition in either mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_dedup(
    stream: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: emit the first row per key, drop replays
    that arrive within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``): the
    plain form keeps every key seen since stream start — unbounded state
    for a content-hash key space. The watermarked form evicts a key's
    state once the watermark passes its last occurrence, trading
    unbounded memory for a bounded re-emission horizon — the correct
    trade for dedup of a document firehose, where replays are
    delivery-retry artifacts arriving within minutes, not year-later
    repeats (those are batch dedup's job, operators/dedup.py).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def session_window_agg(
    stream: DataFrame,
    *,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows: per-key activity runs closed by a `gap` of
    silence (the streaming twin of workloads_ts sessionization, which
    does the same with lag()+cumsum in batch).

    ``F.session_window`` keeps session state per active key and emits a
    row when the watermark passes session_end + gap — state is bounded
    by ACTIVE sessions, not by history. Output is append-mode (a session
    row is final once emitted)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("session_value"),
        )
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    join_key: str = "user_id",
    lookback: str = "2 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join with an interval condition: right-side
    rows within [left.ts - lookback, left.ts] for the same key (the
    streaming twin of workloads_ts range_join_buckets).

    Both sides MUST be watermarked and the join condition must bound
    event time on both sides — that pair of bounds is what lets the
    engine discard buffered rows (state eviction); an unbounded
    stream-stream join buffers both streams forever."""
    lt, rt = F.col(left_ts), F.col(right_ts)
    return left.withWatermark(left_ts, watermark).join(
        right.withWatermark(right_ts, watermark),
        (left[join_key] == right[join_key])
        & (rt >= lt - F.expr(f"INTERVAL {lookback}"))
        & (rt <= lt),
        "inner",
    ).drop(right[join_key])


def stream_stream_symmetric_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    join_key: str = "user_id",
    tolerance: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join within a SYMMETRIC event-time tolerance:
    rows pair when ``|right.ts - left.ts| <= tolerance`` for the same key
    — the events-to-events correlation shape (e.g. click vs purchase
    attribution where either side may arrive first), complementing the
    trailing-only ``stream_stream_interval_join``.

    Both sides are watermarked and the join condition bounds event time
    in BOTH directions, which is exactly what the engine's state-eviction
    reasoning needs: a left row can be dropped once the right watermark
    passes left.ts + tolerance, and symmetrically — buffered state per
    side is bounded by (watermark delay + tolerance) of stream time, no
    matter how long the job runs. The batch twin (same semantics, range-
    bucketed equi-join instead of buffered state) is
    ``workloads_ts.q_interval_join_events``."""
    lt, rt = F.col(left_ts), F.col(right_ts)
    tol = F.expr(f"INTERVAL {tolerance}")
    return left.withWatermark(left_ts, watermark).join(
        right.withWatermark(right_ts, watermark),
        (left[join_key] == right[join_key])
        & (rt >= lt - tol)
        & (rt <= lt + tol),
        "inner",
    ).drop(right[join_key])


def streaming_incremental_dedup(
    stream_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    threshold: float = 0.8,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``dedup.incremental_minhash_pairs``: a document
    firehose checked for near-duplicates against a STATIC corpus, fully
    in-plan.

    Every stage is either a narrow projection on the stream (shingle ->
    signature -> band keys, all per-row expressions) or a STREAM-STATIC
    join (band match, corpus shingle-set attach) — stateless by
    construction, so no join state accumulates. The only stateful
    operator is the watermarked dedup that collapses multi-band hits of
    the same (new_doc, corpus_doc) pair to one emission; its state
    evicts at the watermark horizon. At lake scale the static side is
    the persisted corpus band/shingle tables, refreshed per ingest batch
    (they are pure functions of content), so the stream never re-scans
    the lake.

    Emits (new_doc, corpus_doc, jaccard >= threshold, ts) in append mode.
    """
    from database_collector_spark.operators import dedup as _dedup

    nh = num_hashes if num_hashes is not None else _dedup.DEFAULT_NUM_HASHES
    nb = bands if bands is not None else _dedup.DEFAULT_BANDS

    new_bands = _dedup.band_values(
        _dedup.minhash_signatures(
            stream_docs, n=n, num_hashes=nh, carry=(ts_col, "text")
        ),
        num_hashes=nh,
        bands=nb,
        carry=(ts_col, "text"),
    )
    corpus_bands = _dedup.band_values(
        _dedup.minhash_signatures(corpus_docs, n=n, num_hashes=nh),
        num_hashes=nh,
        bands=nb,
    ).select(F.col("doc_id").alias("corpus_doc"), "band", "band_val")

    cands = (
        new_bands.join(corpus_bands, ["band", "band_val"])
        .select(
            F.col("doc_id").alias("new_doc"), "corpus_doc", ts_col, "text"
        )
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["new_doc", "corpus_doc"])
    )

    corpus_sets = _dedup.shingle_sets(corpus_docs, n=n).select(
        F.col("doc_id").alias("corpus_doc"), F.col("sh_arr").alias("arr_b")
    )
    # the stream doc's shingle set is re-derived from its own text — a
    # projection, not a join; re-using shingle_sets keeps the expression
    # identical to the batch path
    with_arr = _dedup.shingle_sets(
        cands.withColumnRenamed("new_doc", "doc_id"),
        n=n,
        carry=("corpus_doc", ts_col),
    ).select(
        F.col("doc_id").alias("new_doc"), "corpus_doc", ts_col,
        F.col("sh_arr").alias("arr_a"),
    )
    return _dedup.jaccard_from_arrays(
        with_arr.join(corpus_sets, "corpus_doc"),
        keys=("new_doc", "corpus_doc", ts_col),
        threshold=threshold,
    )
