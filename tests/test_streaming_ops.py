"""Streaming sinks (idempotent, upsert, dead-letter) and the streaming
twins of batch operators — each driven through a file source with
availableNow passes and a foreachBatch collector."""

from __future__ import annotations

import json
import os
import tempfile


def _run_stream(spark, src, build, ckpt, out_mode="append"):
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
        assert q.awaitTermination(120), "stream pass did not finish"
    finally:
        q.stop()
    return rows


def _write(src, fname, records):
    with open(f"{src}/{fname}", "w") as f:
        f.write("\n".join(json.dumps(r) for r in records))


def test_idempotent_sink_converges_under_batch_replay(spark):
    # at-least-once delivery: the same (batch_df, batch_id) arrives twice
    # after a checkpoint-gap crash — the sink must converge to ONE copy,
    # leaving other batches untouched
    from database_collector_spark.streaming.sink import idempotent_parquet_sink

    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/out"
        sink = idempotent_parquet_sink(out)
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        b1 = spark.createDataFrame([(3, "c")], "id long, v string")
        sink(b0, 0)
        sink(b1, 1)
        sink(b0, 0)  # replay of batch 0
        got = sorted(
            (r["id"], r["v"], r["_batch_id"])
            for r in spark.read.parquet(out).collect()
        )
        assert got == [(1, "a", 0), (2, "b", 0), (3, "c", 1)]


def test_idempotent_sink_wired_through_real_stream_restart(spark):
    # end-to-end: run an availableNow stream into the sink, then DELETE
    # the checkpoint and re-run the same input (worst-case full replay) —
    # the table still holds exactly one copy of every input row
    import shutil

    from database_collector_spark.streaming.sink import idempotent_parquet_sink

    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src)
        _write(src, "b1.json", [{"id": 1}, {"id": 2}])

        def run():
            q = (
                spark.readStream.schema("id long")
                .json(src)
                .writeStream.foreachBatch(idempotent_parquet_sink(out))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            q.stop()

        run()
        shutil.rmtree(ckpt)  # lose all progress -> full source replay
        run()
        ids = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert ids == [1, 2]


def test_crash_after_write_before_commit_recovers_exactly_once(spark):
    # the precise failure window the replay-safe design claims to cover:
    # the sink WRITES batch 0, then the driver dies BEFORE the checkpoint
    # commit. On restart (checkpoint kept), the engine re-delivers batch 0
    # with the SAME batch id; the batch-id partition overwrite must
    # converge to exactly one copy — no dup rows, no lost rows.
    from database_collector_spark.streaming.sink import idempotent_parquet_sink

    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src)
        _write(src, "b1.json", [{"id": 1}, {"id": 2}])

        inner = idempotent_parquet_sink(out)
        crashed = {"already": False}

        def crashing_sink(batch_df, batch_id):
            inner(batch_df, batch_id)  # the write lands...
            if not crashed["already"]:
                crashed["already"] = True
                # ...then the "driver dies" before the commit is recorded
                raise RuntimeError("injected crash between write and commit")

        def run():
            return (
                spark.readStream.schema("id long")
                .json(src)
                .writeStream.foreachBatch(crashing_sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = run()
        try:
            q.awaitTermination(120)
        except Exception:
            pass  # the injected crash fails the query — expected
        finally:
            q.stop()
        assert crashed["already"], "injected crash never fired"
        # the dangerous state is real: the data landed without a commit
        assert spark.read.parquet(out).count() == 2

        q2 = run()
        try:
            assert q2.awaitTermination(120), "restarted stream did not finish"
        finally:
            q2.stop()
        rows = spark.read.parquet(out).collect()
        assert sorted(r["id"] for r in rows) == [1, 2]
        assert {r["_batch_id"] for r in rows} == {0}


def test_streaming_upsert_latest_wins_across_batches(spark):
    from database_collector_spark.streaming.upsert import (
        complete_generations,
        read_state,
        upsert_parquet_sink,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src)
        _write(src, "b1.json", [
            {"id": 1, "v": "a", "ver": 1}, {"id": 2, "v": "b", "ver": 1},
        ])
        _write(src, "b2.json", [
            {"id": 1, "v": "a2", "ver": 2}, {"id": 3, "v": "c", "ver": 1},
        ])
        q = (
            spark.readStream.schema("id long, v string, ver long")
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .writeStream.foreachBatch(
                upsert_parquet_sink(spark, out, key="id", version_col="ver")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        state = read_state(spark, out)
        got = sorted((r["id"], r["v"], r["ver"]) for r in state.collect())
        assert got == [(1, "a2", 2), (2, "b", 1), (3, "c", 1)]
        # pruning keeps at most 2 generations on disk
        assert len(complete_generations(spark, out)) <= 2


def test_streaming_upsert_crash_between_write_and_commit(spark):
    # batch 0 merges + writes gen=0, driver dies pre-commit; the replay
    # must re-merge onto the pre-0 state (empty) and converge to ONE copy
    from database_collector_spark.streaming.upsert import (
        read_state,
        upsert_parquet_sink,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src)
        _write(src, "b1.json", [
            {"id": 1, "v": "a", "ver": 1},
            {"id": 1, "v": "a2", "ver": 2},  # in-batch dup: high ver wins
        ])
        inner = upsert_parquet_sink(spark, out, key="id", version_col="ver")
        crashed = {"already": False}

        def crashing(batch_df, batch_id):
            inner(batch_df, batch_id)
            if not crashed["already"]:
                crashed["already"] = True
                raise RuntimeError("injected crash between write and commit")

        def run():
            return (
                spark.readStream.schema("id long, v string, ver long")
                .json(src)
                .writeStream.foreachBatch(crashing)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        q = run()
        try:
            q.awaitTermination(120)
        except Exception:
            pass
        finally:
            q.stop()
        assert crashed["already"]
        q2 = run()
        try:
            assert q2.awaitTermination(120)
        finally:
            q2.stop()
        got = [(r["id"], r["v"], r["ver"]) for r in read_state(spark, out).collect()]
        assert got == [(1, "a2", 2)]


def test_stream_static_pit_join_enriches_against_scd2_dim(spark):
    # a STREAMING fact joined to a static SCD-2 dimension through the
    # same pit_join operator the batch tier uses: stream-static joins
    # need no watermark, and gap semantics must survive streaming
    from database_collector_spark.operators.timeseries import pit_join

    with tempfile.TemporaryDirectory() as tmp:
        src, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
        os.makedirs(src)
        _write(src, "b1.json", [
            {"k": "A", "ts": 5, "fid": 1},    # before any version -> NULL
            {"k": "A", "ts": 15, "fid": 2},   # v1
            {"k": "A", "ts": 25, "fid": 3},   # gap -> NULL
            {"k": "A", "ts": 40, "fid": 4},   # open-ended v2
        ])
        # versions [10, 20) and [35, None): ts=25 falls in the gap
        dim = spark.createDataFrame(
            [("A", 10, 20, 1), ("A", 35, None, 2)],
            "k string, valid_from long, valid_to long, attr long",
        )
        fact = spark.readStream.schema("k string, ts long, fid long").json(src)
        joined = pit_join(fact, dim, keys=("k",), ts_col="ts", value_cols=("attr",))
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()
        got = {r["fid"]: r["attr"] for r in spark.read.parquet(out).collect()}
        assert got == {1: None, 2: 1, 3: None, 4: 2}


def test_dead_letter_sink_splits_and_survives_full_replay(spark):
    import shutil

    from pyspark.sql import functions as F

    from database_collector_spark.streaming.dlq import dead_letter_sink

    with tempfile.TemporaryDirectory() as tmp:
        src, good, dlq, ckpt = f"{tmp}/in", f"{tmp}/good", f"{tmp}/dlq", f"{tmp}/ck"
        os.makedirs(src)
        _write(src, "b1.json", [
            {"id": 1, "v": 10},
            {"id": 2, "v": -3},      # invalid: negative
            {"id": 3, "v": None},    # invalid: NULL -> predicate NULL -> DLQ
            {"id": 4, "v": 0},
        ])
        sink = dead_letter_sink(
            good,
            dlq,
            valid=F.col("v") >= 0,
            reason=F.when(F.col("v").isNull(), "null value").otherwise(
                "negative value"
            ),
        )

        def run():
            q = (
                spark.readStream.schema("id long, v long")
                .json(src)
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(120)
            q.stop()

        run()
        shutil.rmtree(ckpt)
        run()  # worst-case full replay: both paths must converge, no dups

        good_ids = sorted(r["id"] for r in spark.read.parquet(good).collect())
        assert good_ids == [1, 4]
        bad = {r["id"]: r["_reason"] for r in spark.read.parquet(dlq).collect()}
        assert bad == {2: "negative value", 3: "null value"}


def test_streaming_cms_cells_merge_to_batch_sketch(spark):
    """The CMS docstring's mergeability claim, proven over a real
    stream: building the grouped sketch as a streaming aggregation in
    update mode (cell-wise counts accumulate across micro-batches and
    passes) must converge to EXACTLY the batch sketch over the union of
    all inputs — sketches are algebraic state, safe to maintain
    incrementally forever."""
    from pyspark.sql import functions as F

    from database_collector_spark.operators import sketches

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        b1 = [{"g": "a", "item": f"u{i % 7}"} for i in range(20)]
        b2 = [{"g": "a", "item": f"u{i % 5}"} for i in range(15)] + [
            {"g": "b", "item": "u0"}
        ]
        _write(src, "b1.json", b1)

        # streaming twin of cms_cells_by: identical hash exprs, counts
        # accumulated by the streaming agg state instead of one batch agg
        def build(path):
            stream = spark.readStream.schema("g string, item string").json(path)
            cells = sketches.cms_cell_structs("item", depth=4, width=256)
            return (
                stream.select("g", F.explode(F.array(*cells)).alias("c"))
                .groupBy("g", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
                .agg(F.count("*").alias("cnt"))
            )

        state = {}

        def collect_pass(path):
            rows = []

            def sink(batch_df, _bid):
                rows.extend(batch_df.collect())

            q = (
                build(path)
                .writeStream.outputMode("update")
                .foreachBatch(sink)
                .option("checkpointLocation", f"{tmp}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            try:
                assert q.awaitTermination(120)
            finally:
                q.stop()
            for r in rows:  # update mode: latest row per key wins
                state[(r["g"], r["row"], r["col"])] = r["cnt"]

        collect_pass(src)
        _write(src, "b2.json", b2)
        collect_pass(src)

        batch = spark.createDataFrame(
            [(r["g"], r["item"]) for r in b1 + b2], "g string, item string"
        )
        want = {
            (r["g"], r["row"], r["col"]): r["cnt"]
            for r in sketches.cms_cells_by(batch, by="g").collect()
        }
        assert state == want


def test_streaming_m4_windows_match_batch_twin(spark):
    """M4's struct-extrema aggregate is algebraic, so it runs unchanged
    as a watermarked streaming windowed aggregation: every window the
    stream CLOSES (append mode) must carry exactly the batch M4 points
    for that window — the dashboard downsampler can run incrementally
    on the live stream with no semantic drift."""
    from pyspark.sql import functions as F

    def m4_agg(df):
        g = df.groupBy(F.window("ts", "10 minutes").alias("w"), "g")
        return g.agg(
            F.count("*").alias("n_points"),
            F.min(F.struct("ts", "v")).alias("_f"),
            F.max(F.struct("ts", "v")).alias("_l"),
            F.min(F.struct("v", "ts")).alias("_lo"),
            F.max(F.struct("v", "ts")).alias("_hi"),
        ).select(
            F.col("w.start").alias("win_start"), "g", "n_points",
            F.col("_f.v").alias("v_first"), F.col("_l.v").alias("v_last"),
            F.col("_lo.v").alias("v_min"), F.col("_hi.v").alias("v_max"),
        )

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        recs = [
            {"g": "a", "ts": f"2024-06-01T10:{m:02d}:00", "v": float((7 * m) % 13)}
            for m in range(0, 55)
        ]
        _write(src, "b1.json", recs)
        # a late second batch advances the watermark far enough to close
        # every 10-minute window the first batch populated
        _write(src, "b2.json", [{"g": "a", "ts": "2024-06-01T12:00:00", "v": 1.0}])

        def build(path):
            stream = spark.readStream.schema(
                "g string, ts timestamp, v double"
            ).json(path)
            return m4_agg(stream.withWatermark("ts", "0 seconds"))

        got = _run_stream(spark, src, build, f"{tmp}/ckpt", out_mode="append")
        emitted = {
            (r["win_start"], r["g"]): (
                r["n_points"], r["v_first"], r["v_last"], r["v_min"], r["v_max"]
            )
            for r in got
        }
        batch = spark.createDataFrame(
            [(r["g"], r["ts"], r["v"]) for r in recs],
            "g string, ts string, v double",
        ).select("g", F.col("ts").cast("timestamp").alias("ts"), "v")
        want = {
            (r["win_start"], r["g"]): (
                r["n_points"], r["v_first"], r["v_last"], r["v_min"], r["v_max"]
            )
            for r in m4_agg(batch).collect()
        }
        # all six 10-minute windows of batch 1 closed and match exactly
        assert len(emitted) >= 6
        for key, vals in emitted.items():
            if key in want:  # the 12:00 straggler window may stay open
                assert vals == want[key], key
        assert sum(1 for k in emitted if k in want) >= 6


def test_streaming_quality_gate_matches_batch_classifier(spark):
    """hashed_classifier is a stateless projection, so the same call
    runs unchanged over readStream — the ingest-time quality gate: docs
    arriving across micro-batches score exactly as the batch pass over
    the union would (no state, no watermark, per-row decision)."""
    from database_collector_spark.operators.text import hashed_classifier

    recs1 = [
        {"doc_id": 1, "text": "the quick brown fox jumps"},
        {"doc_id": 2, "text": "zzz qqq"},
    ]
    recs2 = [
        {"doc_id": 3, "text": "some more text arriving later"},
        {"doc_id": 4, "text": ""},
    ]
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/in"
        os.makedirs(src)
        _write(src, "b1.json", recs1)
        _write(src, "b2.json", recs2)

        def build(path):
            stream = spark.readStream.schema("doc_id long, text string").json(path)
            return hashed_classifier(stream, n_buckets=64, salt="s", bigrams=True)

        got = _run_stream(spark, src, build, f"{tmp}/ckpt")
        batch = hashed_classifier(
            spark.createDataFrame(
                [(r["doc_id"], r["text"]) for r in recs1 + recs2],
                "doc_id long, text string",
            ),
            n_buckets=64,
            salt="s",
            bigrams=True,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_streaming_bloom_build_matches_batch(spark):
    """The Bloom word table is an algebraic bit_or aggregate, so a
    Structured Streaming build (complete mode over micro-batches) must
    equal the batch build word-for-word however the items are split —
    the batch/streaming symmetry the sketch tier promises
    (operators/sketches.py::bloom_build's merge property, driven through
    a real stream here)."""
    from database_collector_spark.operators.sketches import bloom_build

    m, k, salt = 630, 3, "sb"
    items = [f"item-{i}" for i in range(60)]
    with tempfile.TemporaryDirectory() as d:
        src, ckpt = f"{d}/src", f"{d}/ckpt"
        os.makedirs(src)
        # three files + maxFilesPerTrigger=1 -> availableNow delivers
        # three SEPARATE micro-batches, so the bit_or state actually
        # merges across batches (one batch over all 60 items would be
        # trivially identical to the batch build and pin nothing)
        for fi in range(3):
            _write(src, f"f{fi}.json", [{"it": it} for it in items[fi::3]])

        def build(s):
            # the REAL operator on the streaming DataFrame — pure
            # explode + bit_or aggregate, so it must be streamable as-is
            return bloom_build(s, "it", m_bits=m, k_hashes=k, salt=salt)

        stream = (
            spark.readStream.schema("it string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        rows = _run_stream(spark, stream, build, ckpt, out_mode="complete")
    # complete mode re-emits the whole aggregate each batch; the LAST
    # emission per word is the final filter
    streamed = {r["word"]: r["bits"] for r in rows}
    batch_df = spark.createDataFrame([(it,) for it in items], "it string")
    expected = {
        r["word"]: r["bits"]
        for r in bloom_build(batch_df, "it", m_bits=m, k_hashes=k, salt=salt).collect()
    }
    assert streamed == expected
