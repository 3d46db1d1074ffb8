"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.10 extension surface).

The built-in groupBy().count() covers the reference's counter
(collector/cmd/events-collector/events-collector.go:22-47); this module
adds the operator Spark lacks natively: a per-key running counter with
inactivity expiry (TTL) — the state-store-friendly shape for unbounded key
spaces (event ids at 100 TB/day): keys that go quiet are evicted instead
of accumulating forever.

TTL is **event-time** driven (watermark + EventTimeTimeout), not
processing-time: eviction then depends only on the data, so replays and
backfills produce identical state transitions, and the micro-batch engine
goes idle between arrivals (ProcessingTimeTimeout keeps scheduling
timeout-check batches forever — an always-hot no-op loop at cluster
scale). A key's timeout is set to max(event ts in batch) + TTL; it fires
in the first batch whose watermark has passed that point, emitting a final
``expired=true`` tombstone so a downstream sink can flush the closing
value.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEFAULT_TTL_MS = 60 * 60 * 1000  # evict keys quiet for 1h of event time

STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType(), True),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id_label", T.StringType(), True),
        T.StructField("rds_events_total", T.LongType(), True),
        T.StructField("expired", T.BooleanType(), True),
    ]
)


def _make_update_fn(ttl_ms: int):
    def _update_counts(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (label,) = key
        if state.hasTimedOut:
            (total,) = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "event_id_label": [label],
                    "rds_events_total": [total],
                    "expired": [True],
                }
            )
            return
        n_new = 0
        max_ts_ms = 0
        for b in batches:
            n_new += len(b)
            if len(b):
                # ts arrives as pandas Timestamp (UTC-naive) via Arrow
                batch_max = b["ts"].max()
                max_ts_ms = max(max_ts_ms, int(batch_max.value // 1_000_000))
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        # quiet for ttl of *event time*: deterministic under replay
        state.setTimeoutTimestamp(max_ts_ms + ttl_ms)
        yield pd.DataFrame(
            {
                "event_id_label": [label],
                "rds_events_total": [total],
                "expired": [False],
            }
        )

    return _update_counts


def ttl_final_state(
    events: DataFrame,
    *,
    key_col: str = "event_id_label",
    ts_col: str = "ts",
    ttl_s: int = DEFAULT_TTL_MS // 1000,
) -> DataFrame:
    """Deterministic BATCH twin of ``running_counts_with_ttl``'s end
    state: replaying a bounded frame through the streaming operator and
    then advancing the watermark to the stream's end leaves each key with
    ``total`` = its row count, and ``expired`` = whether the final
    watermark (global max event time) passed last-seen + TTL — i.e.
    whether the tombstone would have fired. One partial-agg shuffle on
    the key plus a broadcast of a 1-row global max; oracle-checkable,
    which the streaming tier natively is not (SURVEY §2.10)."""
    secs = F.col(ts_col).cast("timestamp_ltz").cast("long")
    per = events.groupBy(key_col).agg(
        F.count("*").alias("rds_events_total"),
        F.max(secs).alias("last_seen_s"),
    )
    stream_end = events.agg(F.max(secs).alias("stream_end_s"))
    return per.crossJoin(F.broadcast(stream_end)).select(
        key_col,
        "rds_events_total",
        "last_seen_s",
        (F.col("stream_end_s") - F.col("last_seen_s") > ttl_s).alias("expired"),
    )


def running_counts_with_ttl(
    labeled_events: DataFrame,
    *,
    ts_col: str = "ts",
    watermark_delay: str = "0 seconds",
    ttl_ms: int = DEFAULT_TTL_MS,
) -> DataFrame:
    """Streaming frame with ``event_id_label`` + event-time ``ts_col`` ->
    running counts with event-time TTL eviction. Each update emits the new
    total; eviction emits a final tombstone row with expired=true."""
    return (
        labeled_events.withWatermark(ts_col, watermark_delay)
        .groupBy("event_id_label")
        .applyInPandasWithState(
            _make_update_fn(ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: sharded SpaceSaving summaries
# ---------------------------------------------------------------------------

SS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("items", T.ArrayType(T.StringType()), True),
        T.StructField("counts", T.ArrayType(T.LongType()), True),
        T.StructField("errs", T.ArrayType(T.LongType()), True),
    ]
)

SS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), True),
        T.StructField("item", T.StringType(), True),
        T.StructField("count_est", T.LongType(), True),
        T.StructField("err", T.LongType(), True),
    ]
)


def _make_spacesaving_fn(capacity: int):
    def _update(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            items, counts, errs = state.get
            summary = {
                it: [c, e] for it, c, e in zip(items, counts, errs)
            }
        else:
            summary = {}
        for b in batches:
            for it in b["item"]:
                if it in summary:
                    summary[it][0] += 1
                elif len(summary) < capacity:
                    summary[it] = [1, 0]
                else:
                    # evict the minimum-count entry (ties: lexicographic
                    # min item, so replay order cannot change the pick)
                    victim = min(summary, key=lambda k: (summary[k][0], k))
                    vcount = summary[victim][0]
                    del summary[victim]
                    summary[it] = [vcount + 1, vcount]
        ordered = sorted(summary.items(), key=lambda kv: (-kv[1][0], kv[0]))
        state.update(
            (
                [it for it, _ in ordered],
                [c for _, (c, _) in ordered],
                [e for _, (_, e) in ordered],
            )
        )
        yield pd.DataFrame(
            {
                "shard": [shard] * len(ordered),
                "item": [it for it, _ in ordered],
                "count_est": [c for _, (c, _) in ordered],
                "err": [e for _, (_, e) in ordered],
            }
        )

    return _update


def streaming_heavy_hitters(
    items: DataFrame,
    *,
    item_col: str = "item",
    n_shards: int = 8,
    capacity: int = 64,
) -> DataFrame:
    """Streaming top-k over an unbounded item space: hash-shard the
    items, keep ONE SpaceSaving summary of ``capacity`` entries per
    shard in state (Metwally et al. 2005 — count_est overestimates the
    true count by at most ``err``; any item with true frequency >
    N_shard/capacity is guaranteed present). Sharding by a hash of the
    item makes the per-shard summaries EXACT-partitioned rather than
    merged — each item lives in exactly one shard, so the union of
    shard summaries carries the global heavy hitters with per-shard
    error bounds, the streaming twin of the batch Misra-Gries tier
    (operators/heavyhitters.py). State is strictly bounded:
    n_shards * capacity entries total, independent of stream length.
    Every micro-batch emits each updated shard's full summary
    (update mode); the latest emission per shard is the current
    answer."""
    sharded = items.select(
        (F.crc32(F.col(item_col).cast("string")) % n_shards)
        .cast("int")
        .alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _make_spacesaving_fn(capacity),
        outputStructType=SS_OUTPUT_SCHEMA,
        stateStructType=SS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming near-dup filter: SimHash prefix routing + per-bucket state
# ---------------------------------------------------------------------------

ND_STATE_SCHEMA = T.StructType(
    [T.StructField("sigs", T.ArrayType(T.LongType()), True)]
)

ND_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("simhash", T.LongType(), True),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("is_dup", T.BooleanType(), True),
        T.StructField("min_hamming", T.IntegerType(), True),
    ]
)


def _make_near_dup_fn(max_hamming: int, capacity: int):
    def fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState):
        sigs = list(state.get[0]) if state.exists else []
        rows = []
        # the iterator yields Arrow-sized CHUNKS: sorting each chunk
        # alone would leave cross-chunk order = arrival order, so the
        # within-batch decision would depend on partitioning and
        # checkpoint replay could flip which of two mutual near-dups is
        # flagged — materialize the bucket's batch, then ONE global sort
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("doc_id")
            for doc_id, sig in zip(pdf["doc_id"], pdf["simhash"]):
                sig = int(sig)
                mind = (
                    min(bin(sig ^ int(s)).count("1") for s in sigs)
                    if sigs
                    else None
                )
                dup = mind is not None and mind <= max_hamming
                if not dup:
                    sigs.append(sig)
                    if len(sigs) > capacity:
                        sigs = sigs[-capacity:]
                rows.append((int(doc_id), sig, int(key[0]), bool(dup), mind))
        state.update((sigs,))
        yield pd.DataFrame(
            rows, columns=["doc_id", "simhash", "bucket", "is_dup", "min_hamming"]
        )

    return fn


def streaming_near_dup(
    docs: DataFrame,
    *,
    bits: int = 16,
    prefix_bits: int = 6,
    max_hamming: int = 3,
    capacity: int = 256,
) -> DataFrame:
    """Streaming near-duplicate filter: flag documents whose SimHash is
    within ``max_hamming`` bits of one already seen — the ingest-time
    twin of the batch SimHash tier (operators/dedup.py::simhash), for
    pipelines that must reject near-dups as a crawl ARRIVES instead of
    re-scanning the corpus per batch.

    Shape: the signature is the batch tier's zero-shuffle md5-nibble
    projection (pure expression, runs unchanged on readStream); routing
    key = the signature's top ``prefix_bits`` (single-probe prefix
    routing), so each doc consults exactly ONE state bucket. State per
    bucket is a capacity-capped signature list (FIFO eviction) —
    total state <= 2^prefix_bits * capacity signatures regardless of
    stream length, the same bounded-state discipline as
    streaming_heavy_hitters.

    Recall contract (documented, not silent): near-dups whose
    signatures differ inside the routing prefix land in different
    buckets and are MISSED — single-probe prefix routing trades recall
    for one-bucket state access; the batch simhash_pairs tier is the
    exhaustive sweep. Exact duplicates always collide (identical
    signature -> identical prefix).

    Output per input doc: (doc_id, simhash, bucket, is_dup,
    min_hamming) where min_hamming is NULL for the first doc of its
    bucket; update mode.
    """
    from database_collector_spark.operators.dedup import simhash

    # bits must be a nibble multiple: simhash reads bits//4 md5 hex
    # chars, so a non-multiple would leave the TOP bits — exactly this
    # routing prefix — constant, silently collapsing the bucket space.
    # prefix_bits caps at 31 because the bucket is cast to int.
    if bits % 4 != 0 or not (0 < prefix_bits < bits <= 60) or prefix_bits > 31:
        raise ValueError(
            "need bits % 4 == 0, 0 < prefix_bits <= 31, prefix_bits < bits <= 60; "
            f"got prefix_bits={prefix_bits} bits={bits}"
        )
    sigs = simhash(docs, bits=bits)
    keyed = sigs.select(
        "doc_id",
        "simhash",
        F.shiftright("simhash", bits - prefix_bits).cast("int").alias("bucket"),
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _make_near_dup_fn(max_hamming, capacity),
        outputStructType=ND_OUTPUT_SCHEMA,
        stateStructType=ND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming sliding-window distinct users via deterministic HLL registers
# ---------------------------------------------------------------------------

HLL_STATE_SCHEMA = T.StructType(
    [T.StructField("regs", T.ArrayType(T.IntegerType()), True)]
)

HLL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), True),
        T.StructField("win_s", T.LongType(), True),
        T.StructField("n_regs", T.IntegerType(), True),
        T.StructField("v_zero", T.IntegerType(), True),
        T.StructField("reg_sum", T.LongType(), True),
    ]
)


def _make_sliding_hll_fn(m: int, salt: str, window_s: int, expire: bool):
    import hashlib

    def _update(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        event_type, win_s = key
        if state.hasTimedOut:
            # prior update-mode emissions already carried this window's
            # final registers; just drop the state
            state.remove()
            return
        win_end_ms = (int(win_s) + window_s) * 1000
        if expire:
            wm_ms = state.getCurrentWatermarkMs()
            if win_end_ms <= wm_ms:
                # event later than the allowed lateness for an already
                # expired window: updating would resurrect EMPTY state
                # and emit a registers-of-late-events-only summary that
                # OVERWRITES the correct final one — drop it instead
                # (documented watermark semantics)
                if state.exists:
                    state.remove()
                return
        regs = list(state.get[0]) if state.exists else [0] * m
        for b in batches:
            for uid in b["user_id"]:
                # defensive only: sliding_hll_unique filters NULL
                # user_ids before keying, but a direct caller shouldn't
                # crash either
                if uid is None or (isinstance(uid, float) and pd.isna(uid)):
                    continue
                # uid arrives as the STRING Spark's cast(user_id as
                # string) produced (sliding_hll_unique normalizes in the
                # projection), hashed verbatim — byte-identical to the
                # batch twin's md5(concat(cast(item as string), ...))
                # for EVERY input id type, not just integers
                h = hashlib.md5(f"{uid}:{salt}".encode()).hexdigest()
                reg = int(h[:8], 16) % m
                h2 = int(h[8:16], 16)
                rho = 33 if h2 == 0 else 33 - h2.bit_length()
                if rho > regs[reg]:
                    regs[reg] = rho
        state.update((regs,))
        if expire:
            # evict once the watermark passes the window's end (the
            # lateness grace rides in the watermark delay itself)
            state.setTimeoutTimestamp(max(win_end_ms, state.getCurrentWatermarkMs() + 1))
        n_regs = sum(1 for r in regs if r > 0)
        v_zero = m - n_regs
        reg_sum = sum(1 << (33 - r) for r in regs if r > 0) + v_zero * (1 << 33)
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "win_s": [win_s],
                "n_regs": [n_regs],
                "v_zero": [v_zero],
                "reg_sum": [reg_sum],
            }
        )

    return _update


def sliding_hll_unique(
    events: DataFrame,
    *,
    window_s: int = 3600,
    hop_s: int = 900,
    m: int = 256,
    salt: str = "shll",
    lateness: str | None = "2 hours",
) -> DataFrame:
    """Streaming sliding-window distinct-user estimation — the stateful
    twin of the batch hll_sliding_windows gate (workloads_ts.py),
    closing the batch/streaming asymmetry in the sketch tier: same
    md5-derived registers (operators/sketches.py contract), same
    max-merge, so the streaming state is REGISTER-FOR-REGISTER identical
    to the batch computation over the same events regardless of
    micro-batch boundaries or replay (max is idempotent, commutative,
    associative — the crash-replay-safe property; pinned by
    tests/test_streaming_hll.py against the batch pipeline).

    Events are hop-expanded (window_s/hop_s copies, via the SAME
    operators/sketches.py::hop_expand the batch gate and the parity test
    use) BEFORE keying, so state is one fixed m-int register array per
    (event_type, win_s) — bounded per key, merge-free across keys. Each
    micro-batch emits the updated windows' current register summary
    (update mode); the latest emission per key is the current answer,
    and reg_sum is the exact integer harmonic denominator the batch
    finalizer turns into the estimate. No per-window user sets anywhere:
    state per key is m ints whether the window saw ten users or ten
    million.

    The KEY COUNT is bounded too: with ``lateness`` set (the default),
    the event timestamps carry a watermark delayed by that grace and
    every window's state is evicted (EventTimeTimeout) once the
    watermark passes its end — so live state is O(active windows), not
    O(stream lifetime), the property that lets the operator run
    indefinitely at 100 TB/day. Events arriving later than the grace for
    an already-evicted window are DROPPED (updating would resurrect
    empty registers and overwrite the correct final summary with a
    late-events-only one). ``lateness=None`` disables expiry entirely
    (every window's state lives forever — bounded replay/backfill runs
    only, e.g. the batch-parity test)."""
    from database_collector_spark.operators.sketches import hop_expand

    s = F.col("ts").cast("timestamp_ltz").cast("long")
    # NULL user_ids are dropped HERE, pre-keying — the same placement as
    # the batch pipeline's hll_rho_projection filter, so an all-NULL
    # micro-batch cannot create a state key (and emit an empty-register
    # summary) the batch twin never produces. user_id is normalized to
    # STRING by the same cast the batch twin hashes
    # (md5(concat(cast(item as string), ':', salt))), so the Python
    # state fn hashes Spark-rendered bytes verbatim and the
    # register-parity contract holds for string/float ids too — int(uid)
    # on a float-coerced chunk used to corrupt ids >= 2^53
    expanded = hop_expand(
        events.where(F.col("user_id").isNotNull()).select(
            "event_type", F.col("user_id").cast("string").alias("user_id"), s.alias("s")
        ),
        window_s=window_s,
        hop_s=hop_s,
    ).select("event_type", "user_id", "win_s", F.timestamp_seconds("s").alias("ev_ts"))
    if lateness is not None:
        expanded = expanded.withWatermark("ev_ts", lateness)
        timeout = GroupStateTimeout.EventTimeTimeout
    else:
        timeout = GroupStateTimeout.NoTimeout
    return expanded.groupBy("event_type", "win_s").applyInPandasWithState(
        _make_sliding_hll_fn(m, salt, window_s, lateness is not None),
        outputStructType=HLL_OUTPUT_SCHEMA,
        stateStructType=HLL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
