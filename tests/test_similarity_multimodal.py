"""Unit tests for similarity search + multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import Row

from database_collector_spark import gates
from database_collector_spark.operators import multimodal, similarity


def _embs(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v], label=0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_cosine_topk_orders_by_similarity(spark):
    vecs = [
        [1.0, 0.0, 0.0] + [0.0] * 61,   # query
        [1.0, 0.1, 0.0] + [0.0] * 61,   # nearly parallel
        [0.0, 1.0, 0.0] + [0.0] * 61,   # orthogonal
        [-1.0, 0.0, 0.0] + [0.0] * 61,  # opposite
    ]
    got = similarity.cosine_topk(_embs(spark, vecs), query_filter="vec_id = 0", k=3).collect()
    ranked = [(r["rank"], r["c_id"]) for r in sorted(got, key=lambda r: r["rank"])]
    assert ranked == [(1, 1), (2, 2), (3, 3)]
    by_c = {r["c_id"]: r["cos"] for r in got}
    assert abs(by_c[1] - 1 / math.sqrt(1.01)) < 1e-4
    assert abs(by_c[2]) < 1e-4
    assert abs(by_c[3] + 1.0) < 1e-4


def test_near_dup_threshold(spark):
    vecs = [
        [1.0, 0.0] + [0.0] * 62,
        [1.0, 0.01] + [0.0] * 62,  # cos ~ 0.99995
        [0.0, 1.0] + [0.0] * 62,   # cos 0 with both
    ]
    got = {(r["id_a"], r["id_b"]) for r in
           similarity.embedding_near_dup(_embs(spark, vecs), threshold=0.99).collect()}
    assert got == {(0, 1)}


def test_near_dup_lsh_subset_of_exact_and_catches_identicals(spark):
    vecs = [
        [1.0, 0.0] + [0.0] * 62,
        [1.0, 0.01] + [0.0] * 62,   # cos ~ 0.99995 -> same signs, same bucket
        [0.0, 1.0] + [0.0] * 62,    # orthogonal
        [-1.0, 0.0] + [0.0] * 62,   # opposite
    ]
    exact = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_near_dup(_embs(spark, vecs), threshold=0.99).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           similarity.embedding_near_dup_lsh(_embs(spark, vecs), threshold=0.99).collect()}
    assert lsh == exact == {(0, 1)}  # near-identicals never straddle planes


def test_near_dup_lsh_join_is_bucket_keyed(spark):
    from database_collector_spark.workloads import _t

    plan = similarity.embedding_near_dup_lsh(
        _t(spark, "/root/testdata/sf0.001", "embeddings")
    )._jdf.queryExecution().executedPlan().toString()
    # tiles must meet on the bucket hash key — never a cross product
    assert "bucket" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lsh_buckets_parallel_vectors_collide(spark):
    vecs = [
        [0.5, 0.2, -0.3] + [0.1] * 61,
        [0.5, 0.2, -0.3] + [0.1] * 61,      # identical -> same bucket
        [x * 2 for x in [0.5, 0.2, -0.3] + [0.1] * 61],  # scaled -> same signs
        [-0.5, -0.2, 0.3] + [-0.1] * 61,    # negated -> complement bucket
    ]
    got = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(_embs(spark, vecs)).collect()}
    assert got[0] == got[1] == got[2]
    assert got[3] == 255 - got[0]  # 8 planes: negation flips every sign bit
    assert 0 <= got[0] < 256


def test_kmeans_clusters_separable_data(spark):
    # two clean clusters along different axes; init (two lowest ids)
    # seeds one centroid in each
    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [0.0, 1.0, 0.0, 0.0],
        [0.9, 0.1, 0.0, 0.0],
        [0.1, 0.9, 0.0, 0.0],
    ]
    emb = _embs(spark, vecs)
    cents = similarity.kmeans_fit(emb, k=2, iters=2, dim=4)[1]
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)
    assigned = similarity.assign_centroids(
        similarity.with_quantized(emb).select("vec_id", "qe", "qnorm2"), cents
    )
    got = {r["vec_id"]: r["cid"] for r in assigned.collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}
    # deterministic: retraining yields byte-identical centroids
    assert cents == similarity.kmeans_fit(emb, k=2, iters=2, dim=4)[1]


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # all points identical -> every vector lands on centroid 0 from
    # round 1 on; centroid 1 must survive as its init value, not vanish
    emb = _embs(spark, [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0]])
    cents = similarity.kmeans_fit(emb, k=2, iters=2, dim=2)[1]
    assert len(cents) == 2
    assert cents[0] == cents[1]  # init was identical points; both survive


def test_quantization_exactness(spark):
    """round(x * 2^20) must be bit-deterministic: same input -> same ints."""
    vecs = [[0.1234567, -0.7654321] + [0.0] * 62] * 2
    df = similarity.with_quantized(_embs(spark, vecs)).select("vec_id", "qe", "qnorm2")
    rows = df.collect()
    assert rows[0]["qe"] == rows[1]["qe"]
    assert rows[0]["qnorm2"] == rows[1]["qnorm2"]
    assert rows[0]["qe"][0] == round(0.1234567 * (1 << 20))


def test_multimodal_plumbing_and_stub(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abc", lang="en", source="s", n_chars=3)]
    )
    media = multimodal.to_media(docs)
    row = media.collect()[0]
    assert row["media_type"] == "image"
    assert bytes(row["payload"]) == b"abc"
    assert row["meta"]["n_bytes"] == 3

    feats = multimodal.extract_features(media).collect()[0]
    assert feats["n_bytes"] == 3
    assert feats["header_byte"] == ord("a")
    assert feats["checksum_mod"] == (ord("a") + ord("b") + ord("c")) % 997


def test_ppm_decode_roundtrip_real_bytes(spark):
    # hand-built spec-conformant P6: 2x2, pixels (R,G,B) = (10,20,30) x4
    payload = b"P6\n2 2\n255\n" + bytes([10, 20, 30]) * 4
    w, h, px = multimodal.decode_ppm(payload)
    assert (w, h) == (2, 2)
    assert px.shape == (4, 3)
    assert list(px.sum(axis=0)) == [40, 80, 120]
    # malformed inputs -> None, not exceptions
    assert multimodal.decode_ppm(b"JFIF....") is None
    assert multimodal.decode_ppm(b"P6\n2 2\n255\n\x01\x02") is None  # truncated
    assert multimodal.decode_ppm(b"P6\n2 2\n65535\n" + b"\0" * 24) is None
    assert multimodal.decode_ppm(None) is None


def test_to_ppm_media_emits_conformant_ppm(spark):
    docs = spark.createDataFrame([(10,), (11,)], "doc_id long")
    rows = {r["doc_id"]: r for r in multimodal.to_ppm_media(docs).collect()}
    # doc 10: w = 2+10%7 = 5, h = 2+10%5 = 2, r = 70, g = 71, b = 72
    p = bytes(rows[10]["payload"])
    assert p.startswith(b"P6\n5 2\n255\n")
    w, h, px = multimodal.decode_ppm(p)
    assert (w, h) == (5, 2)
    assert set(px[:, 0]) == {70} and set(px[:, 1]) == {71} and set(px[:, 2]) == {72}
    assert rows[10]["meta"]["n_bytes"] == len(p)


def test_extract_features_real_decode_uses_pixels(spark):
    docs = spark.createDataFrame([(3,)], "doc_id long")
    media = multimodal.to_ppm_media(docs)
    # doc 3: w=5, h=5, channels (21,22,23); raster = 75 bytes
    feats = multimodal.extract_features(media, decode_stub=False).collect()[0]
    assert feats["n_bytes"] == 75
    assert feats["header_byte"] == 21  # first PIXEL byte, not 'P'
    assert feats["checksum_mod"] == (21 + 22 + 23) * 25 % 997
    # stub tier on the same media featurizes the RAW payload instead
    stub = multimodal.extract_features(media, decode_stub=True).collect()[0]
    assert stub["header_byte"] == ord("P")


def test_frame_sample_real_decode_walks_ppm_boundaries(spark):
    # doc_id=5 -> 1 + 5%6 = 6 frames with per-frame-varying dims; the
    # walker must parse each header to find the next boundary. every_nth=2
    # samples frames 0,2,4 as sampled ordinals 0,1,2.
    docs = spark.createDataFrame(
        [Row(doc_id=5, text="x", lang="en", source="s", n_chars=1)]
    )
    video = multimodal.to_ppm_video(docs)
    frames = multimodal.frame_sample(video, every_nth=2, decode_stub=False)
    stats = {
        r["frame_idx"]: (r["w"], r["h"], r["sum_r"])
        for r in multimodal.decode_frames(frames).collect()
    }
    assert set(stats) == {0, 1, 2}
    for k, f in [(0, 0), (1, 2), (2, 4)]:
        w, h = 2 + (5 + f) % 7, 2 + (5 + f) % 5
        assert stats[k] == (w, h, ((5 * 7 + f * 11) % 256) * w * h)


def test_frame_sample_real_decode_malformed_stops_walk(spark):
    # non-PPM payload: zero frames emitted (null-not-panic), no crash
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="abc", lang="en", source="s", n_chars=3)]
    )
    media = multimodal.to_media(docs)  # UTF-8 text payload, not PPM
    assert multimodal.frame_sample(media, decode_stub=False).count() == 0


def test_frame_sample_cardinality_and_stride(spark):
    # 10 frames of 4 bytes; every 3rd sampled -> frames 0, 3, 6, 9
    payload_text = "".join(chr(ord("a") + i) * 4 for i in range(10))
    docs = spark.createDataFrame([(7, payload_text)], "doc_id long, text string")
    rows = (
        multimodal.frame_sample(
            multimodal.to_media(docs), frame_bytes=4, every_nth=3
        )
        .orderBy("frame_idx")
        .collect()
    )
    assert [r["frame_idx"] for r in rows] == [0, 1, 2, 3]
    assert [bytes(r["frame"]) for r in rows] == [b"aaaa", b"dddd", b"gggg", b"jjjj"]


def test_multiprobe_dominates_single_probe(spark):
    # 1-probe candidates (mask 0) are a subset of the 9-cell probe set,
    # so for every query the best multiprobe hit is at least as good
    sf = "/root/testdata/sf0.001"
    best = {
        r["q_id"]: r["cos"]
        for r in gates.all_queries()["ann_ivf_multiprobe"](spark, sf).filter("rank = 1").collect()
    }
    for r in gates.all_queries()["ann_ivf_probe"](spark, sf).filter("rank = 1").collect():
        assert best[r["q_id"]] >= r["cos"]


def _pq_books(emb, **kw):
    return similarity.pq_fit_quantized(
        similarity.with_quantized(emb).select("vec_id", "qe"), **kw
    )[1]


def test_pq_train_encode_shapes_and_determinism(spark):
    emb = spark.createDataFrame(
        [Row(vec_id=i, label="x", embedding=[float((i * 7 + d) % 5 - 2) for d in range(64)])
         for i in range(20)]
    )
    books = _pq_books(emb, m=4, k=4, iters=2)
    assert len(books) == 4 and all(len(b) == 4 for b in books)
    assert all(len(c) == 16 for b in books for c in b)
    # deterministic: retraining yields identical codebooks
    assert books == _pq_books(emb, m=4, k=4, iters=2)
    enc = similarity.pq_encode_quantized(similarity.with_quantized(emb), books)
    rows = enc.select("vec_id", "codes").collect()
    assert len(rows) == 20
    assert all(len(r["codes"]) == 4 for r in rows)
    assert all(0 <= c < 4 for r in rows for c in r["codes"])


def test_pq_adc_self_query_ranks_own_cell_first(spark):
    # two well-separated groups: ADC must rank a query's own group's
    # vectors above the other group's
    def vec(base, i):
        return [float(base) + 0.01 * ((i + d) % 3) for d in range(64)]

    emb = spark.createDataFrame(
        [Row(vec_id=i, label="a", embedding=vec(0, i)) for i in range(5)]
        + [Row(vec_id=100 + i, label="b", embedding=vec(50, i)) for i in range(5)]
    )
    books = _pq_books(emb, m=4, k=2, iters=2)
    enc = similarity.pq_encode_quantized(similarity.with_quantized(emb), books)
    queries = (
        similarity.with_quantized(emb)
        .filter("vec_id = 0")
        .selectExpr("vec_id AS q_id", "qe AS q_qe")
    )
    top = similarity.pq_adc_topk(enc, queries, books, topk=5).collect()
    assert [r["rank"] for r in top] == [1, 2, 3, 4, 5]
    assert all(r["vec_id"] < 100 for r in top)  # own group only


def test_extract_features_real_decode_nulls_malformed(spark):
    # real tier on undecodable payloads (e.g. a JPEG corpus): ALL feature
    # columns null — decode_image's null-not-panic rule, never
    # plausible-looking zero features
    media = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff not a ppm"), (12, "image/jpeg"))],
        multimodal.MEDIA_SCHEMA,
    )
    row = multimodal.extract_features(media, decode_stub=False).collect()[0]
    assert row["n_bytes"] is None
    assert row["header_byte"] is None
    assert row["checksum_mod"] is None


def test_decode_wav_roundtrip_and_malformed(spark):
    # pure-Python kernel check: a hand-built 2-channel 3-frame WAV
    # roundtrips exactly; tampered containers yield None, never a throw
    import struct as st

    from database_collector_spark.operators.multimodal import decode_wav

    frames = [(100, -200), (-32768, 32767), (5, 7)]
    data = b"".join(st.pack("<hh", a, b) for a, b in frames)
    fmt = st.pack("<HHIIHH", 1, 2, 8000, 8000 * 4, 4, 16)
    wav = (
        b"RIFF" + st.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + st.pack("<I", len(fmt)) + fmt
        + b"data" + st.pack("<I", len(data)) + data
    )
    rate, ch, n, samples = decode_wav(wav)
    assert (rate, ch, n) == (8000, 2, 3)
    assert [tuple(r) for r in samples.tolist()] == frames

    assert decode_wav(None) is None
    assert decode_wav(b"RIFX" + wav[4:]) is None          # wrong magic
    assert decode_wav(wav[:-3]) is None                   # truncated data
    bad_bits = wav.replace(st.pack("<HH", 4, 16), st.pack("<HH", 4, 8))
    assert decode_wav(bad_bits) is None                   # not 16-bit


def test_decode_audio_nulls_malformed_rows(spark):
    from pyspark.sql import functions as F

    from database_collector_spark.operators import multimodal
    from database_collector_spark.workloads import _t

    docs = _t(spark, "/root/testdata/sf0.001", "documents").limit(20)
    media = multimodal.to_wav_media(docs)
    # corrupt every 4th payload's RIFF magic
    tampered = media.withColumn(
        "payload",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit(b"XXXX"), F.expr("substring(payload, 5)")),
        ).otherwise(F.col("payload")),
    )
    rows = {r["doc_id"]: r for r in multimodal.decode_audio(tampered).collect()}
    assert len(rows) == 20
    for doc_id, r in rows.items():
        if doc_id % 4 == 0:
            assert r["sample_rate"] is None and r["sum_ch0"] is None
        else:
            assert r["n_frames"] == 4 + doc_id % 5
            assert r["n_channels"] == 1 + doc_id % 2


def test_l2_normalize_unit_norm_and_direction(spark):
    import math

    from pyspark.sql import Row

    from database_collector_spark.operators import similarity

    rows = [
        Row(vec_id=0, label="a", embedding=[0.6, 0.8] + [0.0] * 62),
        Row(vec_id=1, label="b", embedding=[0.1] * 64),
    ]
    out = {r["vec_id"]: r for r in similarity.l2_normalize(spark.createDataFrame(rows)).collect()}
    # vector 0: norm 1.0, max component 0.8 after normalize
    assert out[0]["l2_norm"] == 1.0
    assert abs(out[0]["nc_max"] - 0.8) < 1e-5
    # normalized vectors are unit length
    for r in out.values():
        s = sum(x * x for x in r["normalized"])
        assert abs(s - 1.0) < 1e-9
    # uniform vector 0.1*64: norm 0.8, every component 0.1/0.8 = 0.125
    assert abs(out[1]["nc_min"] - out[1]["nc_max"]) < 1e-12
    assert abs(out[1]["nc_max"] - 0.125) < 1e-5
    assert math.isclose(out[1]["l2_norm"], 0.8, abs_tol=1e-5)


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from database_collector_spark.operators.similarity import embedding_covariance

    rng = [[((i * 31 + d * 7) % 13 - 6) / 10 for d in range(8)] for i in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
    )
    rows = embedding_covariance(df, dims=8).collect()
    x = np.round(np.array(rng, dtype=np.float32).astype(np.float64) * 1e6)
    n = len(rng)
    for r in rows:
        assert r["n"] == n
        assert r["s_i"] == int(x[:, r["i"]].sum())
        assert r["s_ij"] == int((x[:, r["i"]] * x[:, r["j"]]).sum())


def test_sq8_codes_bounded_and_degenerate_dims_zero(spark):
    rows = [
        Row(vec_id=0, embedding=[0.0, 1.0, 5.0], label=0),
        Row(vec_id=1, embedding=[0.5, 1.0, -5.0], label=0),
        Row(vec_id=2, embedding=[1.0, 1.0, 0.0], label=0),
    ]
    emb = spark.createDataFrame(rows)
    stats = similarity.sq8_stats(emb)
    assert len(stats) == 3
    # dim 1 is constant -> degenerate range
    assert stats[1][0] == stats[1][1]
    enc = {r["vec_id"]: r["codes"] for r in similarity.sq8_encode(emb, stats).collect()}
    for codes in enc.values():
        assert all(0 <= c <= 255 for c in codes)
        assert codes[1] == 0  # degenerate dim codes 0
    # extremes map to the grid ends
    assert enc[0][0] == 0 and enc[2][0] == 255
    assert enc[1][2] == 0 and enc[0][2] == 255


def test_sq8_topk_with_full_rerank_equals_exact_topk(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)], label=0)
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows)
    stats = similarity.sq8_stats(emb)
    enc = similarity.sq8_encode(emb, stats).join(
        similarity.with_quantized(emb).select("vec_id", "qe"), "vec_id"
    )
    queries = enc.filter("vec_id < 2").selectExpr(
        "vec_id AS q_id", "codes AS q_codes", "qe AS q_qe"
    )
    # rerank >= corpus: stage 2 sees everything, so the result must be
    # the EXACT quantized-L2 top-k regardless of stage-1 quality
    got = similarity.sq8_topk(enc, queries, topk=3, rerank=30).collect()
    from pyspark.sql import functions as F

    exact = (
        enc.crossJoin(F.broadcast(queries))
        .withColumn(
            "d",
            F.aggregate(
                F.zip_with("qe", "q_qe", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .select("q_id", "vec_id", "d")
        .collect()
    )
    import collections

    by_q = collections.defaultdict(list)
    for r in exact:
        by_q[r["q_id"]].append((r["d"], r["vec_id"]))
    for q, lst in by_q.items():
        want = [v for _, v in sorted(lst)[:3]]
        have = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["q_id"] == q]
        assert have == want, (q, have, want)
        # self-match leads with distance 0
        assert have[0] == q


def _jl_ref(vec, mat, k):
    """Python mirror of jl_project over one float vector."""
    qe = [int(round(x * similarity.QUANT_SCALE)) for x in vec]
    y = [sum(c * q for c, q in zip(row, qe)) for row in mat]
    x2 = sum(q * q for q in qe)
    y2 = sum(v * v for v in y)
    dist = math.sqrt(y2 * (3.0 / k)) / math.sqrt(x2) if x2 > 0 else None
    return y, x2, y2, dist


def test_jl_project_matches_python_reference(spark):
    k, dim, seed = 4, 6, 11
    vecs = [
        (1, [0.5, -0.25, 0.125, 1.0, -1.0, 0.75]),
        (2, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # zero vector: distortion NULL
        (3, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
    ]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs]
    )
    mat = similarity.jl_matrix(k, dim, seed)
    got = {
        r["vec_id"]: r
        for r in similarity.jl_project(df, k=k, seed=seed, dim=dim).collect()
    }
    for i, v in vecs:
        y, x2, y2, dist = _jl_ref(v, mat, k)
        r = got[i]
        assert list(r["proj"]) == y
        assert (r["x_norm2"], r["y_norm2"]) == (x2, y2)
        if dist is None:
            assert r["distortion"] is None
        else:
            assert abs(r["distortion"] - dist) < 5e-7


def test_jl_matrix_is_ternary_and_sparse(spark):
    mat = similarity.jl_matrix(16, 64, 7)
    flat = [c for row in mat for c in row]
    assert set(flat) <= {-1, 0, 1}
    # Achlioptas sparsity: ~2/3 zeros (loose band; deterministic seed)
    zfrac = flat.count(0) / len(flat)
    assert 0.5 < zfrac < 0.8


def test_jl_project_plan_is_map_only(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        similarity.jl_project(emb, k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # zero-shuffle projection


def test_embedding_outliers_matches_python_reference(spark):
    vecs = {
        1: [0.0, 0.0, 0.0, 0.0],
        2: [1.0, 1.0, 1.0, 1.0],
        3: [0.25, 0.25, 0.25, 0.25],
        4: [-2.0, 0.5, 0.0, 0.75],
    }
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs.items()]
    )
    got = [
        (r["vec_id"], r["d2_from_mean"])
        for r in similarity.embedding_outliers(df, top_n=3, dims=4).collect()
    ]
    qe = {i: [round(x * similarity.QUANT_SCALE) for x in v] for i, v in vecs.items()}
    n = len(vecs)
    s = [sum(qe[i][d] for i in qe) for d in range(4)]
    ref = {}
    for i in qe:
        dist2 = 0.0
        for d in range(4):
            r = float(n * qe[i][d]) - float(s[d])
            dist2 += r * r
        ref[i] = dist2 / (float(n) * float(n) * float(similarity.QUANT_SCALE) ** 2)
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [v for v, _ in got] == [v for v, _ in expect]
    for (_, g), (_, e) in zip(got, expect):
        assert abs(g - e) < 5e-7


def test_embedding_outliers_no_corpus_shuffle(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        similarity.embedding_outliers(emb, top_n=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # stats row broadcast back; top_n via TakeOrdered — the only
    # exchange permitted is the single-row aggregate's
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan


def test_jl_project_random_property(spark):
    import random

    rng = random.Random(3)
    k, dim, seed = 6, 10, 13
    vecs = {
        i: [round(rng.uniform(-1, 1), 3) for _ in range(dim)] for i in range(12)
    }
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in vecs.items()])
    mat = similarity.jl_matrix(k, dim, seed)
    got = {
        r["vec_id"]: r
        for r in similarity.jl_project(df, k=k, seed=seed, dim=dim).collect()
    }
    for i, v in vecs.items():
        y, x2, y2, dist = _jl_ref(v, mat, k)
        r = got[i]
        assert list(r["proj"]) == y and (r["x_norm2"], r["y_norm2"]) == (x2, y2)
        assert abs(r["distortion"] - dist) < 5e-7


def test_embedding_outliers_random_property(spark):
    import random

    rng = random.Random(9)
    dims = 6
    vecs = {i: [round(rng.uniform(-2, 2), 3) for _ in range(dims)] for i in range(30)}
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i, v in vecs.items()])
    got = [
        (r["vec_id"], r["d2_from_mean"])
        for r in similarity.embedding_outliers(df, top_n=8, dims=dims).collect()
    ]
    qe = {i: [round(x * similarity.QUANT_SCALE) for x in v] for i, v in vecs.items()}
    n = len(vecs)
    s = [sum(qe[i][d] for i in qe) for d in range(dims)]
    ref = {}
    for i in qe:
        d2 = 0.0
        for d in range(dims):
            r = float(n * qe[i][d]) - float(s[d])
            d2 += r * r
        ref[i] = d2 / (float(n) * float(n) * float(similarity.QUANT_SCALE) ** 2)
    expect = sorted(ref.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [v for v, _ in got] == [v for v, _ in expect]
    for (_, g), (_, e) in zip(got, expect):
        assert abs(g - e) < 5e-7
