"""Streaming/batch parity for the deterministic HLL register tier:
streaming/stateful.py::sliding_hll_unique must land REGISTER-FOR-REGISTER
on the same summary as the batch pipeline (operators/sketches.py) over
the same events, regardless of micro-batch boundaries — max-merge is
idempotent/commutative/associative, so replays and batch splits cannot
change state. This is the evidence behind the hll_sliding_windows gate's
"batch twin of the streaming op" claim (workloads_ts.py)."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from database_collector_spark.operators import sketches
from database_collector_spark.streaming.stateful import sliding_hll_unique


def _run_stream(spark, src, build, ckpt, out_mode="update"):
    rows = []

    def sink(batch_df, _bid):
        rows.extend(batch_df.collect())

    q = (
        build(src)
        .writeStream.outputMode(out_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream pass did not finish"
    finally:
        q.stop()
    return rows


def _events(n, *, type_mod=3, user_mod=37, t0=1717236000):
    # deterministic synthetic stream: users recur across windows, several
    # event types, timestamps spanning ~5 hours so hop windows overlap;
    # every 97th user_id is NULL (both sides must ignore it — the batch
    # projection filters NULL items, the streaming update fn skips NaN)
    return [
        {
            "event_type": f"t{i % type_mod}",
            "user_id": None if i % 97 == 0 else (i * 7919) % user_mod,
            "ts": t0 + (i * 137) % 18000,
        }
        for i in range(n)
    ]


def _batch_summary(spark, records):
    df = spark.createDataFrame(
        [(r["event_type"], r["user_id"], r["ts"]) for r in records],
        "event_type string, user_id long, s long",
    )
    # the SAME hop expansion the gate and the streaming op use — a
    # private copy here would let the advertised parity silently drift
    expanded = sketches.hop_expand(df, window_s=3600, hop_s=900).select(
        "event_type", "user_id", "win_s"
    )
    regs = sketches.hll_partial_registers(
        expanded, ["event_type", "win_s"], "user_id", salt="shll"
    )
    fin = sketches.hll_finalize(regs, ["event_type", "win_s"])
    return {
        (r["event_type"], r["win_s"]): (r["n_regs"], r["v_zero"], r["reg_sum"])
        for r in fin.collect()
    }


def test_streaming_hll_matches_batch_registers_across_batch_splits(spark):
    recs = _events(400)
    # stream ts as epoch-second STRING timestamps to exercise the same
    # timestamp cast path the batch gate uses
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        # uneven split: state must carry windows across the boundary
        for fname, chunk in (("b1.json", recs[:150]), ("b2.json", recs[150:])):
            with open(f"{src}/{fname}", "w") as f:
                f.write("\n".join(json.dumps(r) for r in chunk))

        def build(path):
            stream = (
                spark.readStream.schema(
                    "event_type string, user_id long, ts long"
                )
                .option("maxFilesPerTrigger", 1)
                .json(path)
                .withColumn("ts", F.timestamp_seconds("ts"))
            )
            # lateness=None: bounded replay, every window must survive to
            # the end so the latest emissions equal the batch summary
            return sliding_hll_unique(stream, lateness=None)

        rows = _run_stream(spark, src, build, f"{tmp}/ckpt")

    # last emission per key is the current answer
    latest = {}
    for r in rows:
        latest[(r["event_type"], r["win_s"])] = (
            r["n_regs"],
            r["v_zero"],
            r["reg_sum"],
        )
    expect = _batch_summary(spark, recs)
    assert latest == expect
    # sanity: multiple windows and types actually exercised
    assert len(expect) > 50
    assert len({k[0] for k in expect}) == 3


def test_streaming_hll_state_is_register_bounded(spark):
    # the state schema is one fixed m-int array per key: assert the
    # update fn's state payload never grows with user count
    from database_collector_spark.streaming.stateful import _make_sliding_hll_fn

    import pandas as pd

    class _FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.stored = v

    st = _FakeState()
    fn = _make_sliding_hll_fn(256, "shll", 3600, False)
    out = list(
        fn(("t0", 1000), [pd.DataFrame({"user_id": range(10_000)})], st)
    )
    assert len(st.stored[0]) == 256
    assert len(out) == 1 and out[0]["n_regs"][0] <= 256
    # 10k distinct users through 256 registers: estimate within HLL rsd
    reg_sum = int(out[0]["reg_sum"][0])
    est = (0.7213 / (1 + 1.079 / 256)) * 256 * 256 * float(1 << 33) / reg_sum
    assert abs(est - 10_000) / 10_000 < 0.2


def test_streaming_hll_expires_closed_windows(spark):
    # production path (lateness set): once the watermark passes a
    # window's end, its state is evicted and later stragglers are
    # DROPPED — they must neither resurrect empty state nor overwrite
    # the final summary with a late-events-only one
    t0 = 1717236000
    b1 = [
        {"event_type": "t0", "user_id": u, "ts": t0 + u} for u in range(1, 6)
    ] + [
        # far-future event: advances the watermark (0s lateness) ~14h
        # past t0's windows, expiring them after batch 1
        {"event_type": "t9", "user_id": 999, "ts": t0 + 50_000}
    ]
    b2 = [{"event_type": "t0", "user_id": 77, "ts": t0 + 10}]  # late straggler
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        for fname, chunk in (("b1.json", b1), ("b2.json", b2)):
            with open(f"{src}/{fname}", "w") as f:
                f.write("\n".join(json.dumps(r) for r in chunk))

        def build(path):
            stream = (
                spark.readStream.schema(
                    "event_type string, user_id long, ts long"
                )
                .option("maxFilesPerTrigger", 1)
                .json(path)
                .withColumn("ts", F.timestamp_seconds("ts"))
            )
            return sliding_hll_unique(stream, lateness="0 seconds")

        rows = _run_stream(spark, src, build, f"{tmp}/ckpt")

    t0_rows = [r for r in rows if r["event_type"] == "t0"]
    assert t0_rows, "batch 1 must emit the t0 windows"
    # batch 2's straggler was late beyond the watermark: every t0
    # emission must carry exactly the 5 users from batch 1 (a 6th
    # distinct user would flip n_regs on at least one window; a
    # resurrection would emit n_regs=1 summaries)
    expect = _batch_summary(spark, b1)
    latest = {}
    for r in rows:
        latest[(r["event_type"], r["win_s"])] = (
            r["n_regs"],
            r["v_zero"],
            r["reg_sum"],
        )
    assert latest == expect


def test_streaming_hll_recovers_from_checkpoint_restart(spark):
    # crash-replay: run one micro-batch, STOP the query (simulated
    # crash), start a NEW query from the same checkpoint over the full
    # source — restored register state must carry across the restart and
    # the final per-key summaries must equal the batch pipeline exactly
    # (max-merge idempotence is what makes any replay overlap harmless)
    recs = _events(300)
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        with open(f"{src}/b1.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs[:120]))

        def build(path):
            stream = (
                spark.readStream.schema(
                    "event_type string, user_id long, ts long"
                )
                .option("maxFilesPerTrigger", 1)
                .json(path)
                .withColumn("ts", F.timestamp_seconds("ts"))
            )
            return sliding_hll_unique(stream, lateness=None)

        # pass 1: only the first file exists; the query drains it and is
        # stopped — state for its windows lives only in the checkpoint
        rows1 = _run_stream(spark, src, build, f"{tmp}/ckpt")
        assert rows1, "first pass must emit summaries"

        # "crash" happened; second file arrives, new query resumes from
        # the SAME checkpoint and must merge on top of restored state
        with open(f"{src}/b2.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs[120:]))
        rows2 = _run_stream(spark, src, build, f"{tmp}/ckpt")

    latest = {}
    for r in rows1 + rows2:
        latest[(r["event_type"], r["win_s"])] = (
            r["n_regs"],
            r["v_zero"],
            r["reg_sum"],
        )
    assert latest == _batch_summary(spark, recs)
