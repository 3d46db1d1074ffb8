"""Similarity search over embedding columns (extension surface;
BASELINE.json north star).

Two tiers, as a 100 TB engine needs:

* brute-force cosine top-k — the exact baseline. The query side is
  broadcast, so the cross product never shuffles the big side; ranking is
  a window partitioned by query id (never a driver-side collect).
* sign-projection LSH buckets — the scale path. Vectors hash to a bucket
  by the signs of projections onto fixed hyperplanes; search touches only
  same-bucket vectors. Bucketing is a narrow map; the bucket id becomes a
  partition/cluster key at rest.

Arithmetic design (both speed and the DuckDB gate): float32 components are
quantized to exact integers (x * 2^20, round-half-away — identical in
Spark and DuckDB), so dot products and norms are pure 64-bit integer
multiply-adds: whole-stage-codegen fast, overflow-safe (|x|<1 -> products
< 2^40, 64-element sums < 2^46), exactly order-independent, and therefore
bit-identical across engines. Cosine quantization error is ~1e-6 relative —
far below any useful similarity threshold. (A float/decimal formulation
benchmarked 60x slower and is engine-order-fragile.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EMBED_DIM = 64
QUANT_SCALE = 1 << 20


def _lcg_floats(seed: int, count: int) -> list[float]:
    """Deterministic pseudo-random weights in [-1, 1) from a 64-bit LCG
    (Knuth MMIX constants — public-domain folklore). Pure-Python so the
    Spark literals and the oracle SQL literals come from one source."""
    x = seed & 0xFFFFFFFFFFFFFFFF
    out = []
    for _ in range(count):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        out.append((x >> 11) / float(1 << 53) * 2.0 - 1.0)
    return out


def hyperplanes_int(
    n_planes: int = 8, dim: int = EMBED_DIM, seed: int = 42
) -> list[list[int]]:
    """Fixed hyperplane weights, pre-quantized to integers in Python so
    both engines consume identical literals."""
    flat = [int(round(w * QUANT_SCALE)) for w in _lcg_floats(seed, n_planes * dim)]
    return [flat[i * dim : (i + 1) * dim] for i in range(n_planes)]


def quantize(col: str = "embedding") -> F.Column:
    """array<float> -> array<bigint>, x -> round(x * 2^20).

    x*2^20 is exact in double (power-of-two scale), and round() ties go
    away-from-zero in both Spark (HALF_UP) and DuckDB.
    """
    return F.expr(
        f"transform({col}, x -> CAST(ROUND(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT))"
    )


def _dot(a: str, b: str) -> F.Column:
    """Exact integer dot product of two quantized vectors."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def with_quantized(embeddings: DataFrame) -> DataFrame:
    """Attach the quantized vector and its exact squared norm once per
    vector — norms must never be recomputed per candidate pair."""
    return embeddings.withColumn("qe", quantize()).withColumn(
        "qnorm2", _dot("qe", "qe")
    )


def cosine_topk(
    embeddings: DataFrame,
    *,
    query_filter: str = "vec_id < 10",
    k: int = 5,
) -> DataFrame:
    """Brute-force cosine top-k: every query vector against the full set."""
    base = with_quantized(embeddings)
    q = base.filter(query_filter).select(
        F.col("vec_id").alias("q_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_n2"),
    )
    c = base.select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("qnorm2").alias("c_n2"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                _dot("q_qe", "c_qe").cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("c_n2").cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def _bucket_col(planes: list[list[int]]) -> F.Column:
    """Sign-projection bucket id over a ``qe`` column: bucket = sum over
    planes of (projection > 0) << plane_index, with each projection an
    exact integer dot product against the pre-quantized plane weights.
    Shared by ``lsh_buckets`` and the bucket-restricted near-dup so the
    bucketing scheme cannot silently diverge between them."""
    bucket = F.lit(0).cast("long")
    for p_idx, wts in enumerate(planes):
        w_lit = "array(" + ",".join(f"CAST({x} AS BIGINT)" for x in wts) + ")"
        proj = F.expr(
            f"aggregate(zip_with(qe, {w_lit}, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p_idx)).otherwise(F.lit(0))
    return bucket


def lsh_buckets(
    embeddings: DataFrame, *, n_planes: int = 8, seed: int = 42
) -> DataFrame:
    """Sign-projection (random hyperplane) LSH bucket per vector.

    bucket = sum over planes of (projection > 0) << plane. Projections are
    exact integer dot products against pre-quantized plane weights.
    """
    planes = hyperplanes_int(n_planes=n_planes, seed=seed)
    base = embeddings.withColumn("qe", quantize())
    return base.select("vec_id", _bucket_col(planes).alias("bucket"), "label")


def _cent_dists() -> F.Column:
    """Squared-distance array to every centroid of an attached one-row
    centroid frame (``cents``/``cnorms`` columns): the ONE assignment
    expression shared by ``assign_centroids`` and the chained in-plan
    Lloyd iterations, so training-time and serve-time assignment cannot
    drift."""
    return F.transform(
        F.col("cents"),
        lambda c, i: F.col("qnorm2")
        - 2
        * F.aggregate(
            F.zip_with("qe", c, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        + F.element_at(F.col("cnorms"), i + 1),
    )


def assign_centroids(
    base: DataFrame,
    centroids: list[list[int]],
    *,
    keep_dist: str | None = None,
) -> DataFrame:
    """Attach ``cid`` = nearest centroid (exact integer squared distance,
    ties to the lowest cid). Centroids ride along as ONE nested-array
    literal and the argmin is a data-driven transform + array_position —
    k is small by definition, so assignment is a pure projection: no
    join, no shuffle, scan speed at any corpus size. (An unrolled
    per-centroid when()-chain computes the same thing but its codegen
    unit grows with k*dim and Janino-recompiles per training iteration —
    measured ~10x slower end-to-end than this single generic expression.)

    ``base`` must carry ``qe``/``qnorm2`` (see ``with_quantized``).

    The centroid table arrives as a broadcast ONE-ROW frame rather than
    literals: the assignment expression is then byte-identical across
    training iterations, so whole-stage codegen compiles once instead of
    re-Janino-compiling a k*dim-literal tree per iteration (the literal
    form measured ~2x slower per iteration on the fixture corpus purely
    from compile time). The broadcast nested-loop join against one row
    is a map-side attach — still no shuffle.
    """
    spark = base.sparkSession
    cent_row = spark.createDataFrame(
        [(centroids, [sum(x * x for x in c) for c in centroids])],
        "cents array<array<bigint>>, cnorms array<bigint>",
    )
    dists = _cent_dists()
    # array_position returns the FIRST index of the minimum -> lowest cid
    out = (
        base.crossJoin(F.broadcast(cent_row))
        .withColumn(
            "cid", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    )
    if keep_dist is not None:
        # exact-integer squared distance to the OWN centroid — consumers
        # like semdedup_prune rank members by it (farthest-from-centroid
        # keep rule) without recomputing the distance array
        if keep_dist in base.columns or keep_dist in ("cid", "cents", "cnorms"):
            # withColumn silently REPLACES an existing column (the
            # scd1_merge clash-guard convention): keep_dist='cid'/'qe'
            # would corrupt the assignment or the vector itself, and
            # 'cents'/'cnorms' would be eaten by the trailing drop of
            # the broadcast centroid-frame columns
            raise ValueError(
                f"keep_dist {keep_dist!r} collides with an existing column"
            )
        out = out.withColumn(keep_dist, F.array_min(dists))
    return out.drop("cents", "cnorms")


def kmeans_centroids(
    embeddings: DataFrame, *, k: int = 8, iters: int = 3, dim: int = EMBED_DIM
) -> list[list[int]]:
    """Deterministic Lloyd's k-means in quantized integer space — the
    trained coarse quantizer for IVF (``lsh_buckets`` is the untrained
    alternative; real IVF trains its cells).

    Determinism (and the cross-engine gate) comes from three choices:
    init = the k lowest vec_ids' vectors (no RNG); assignment ties break
    to the lowest cid; and new centroids are RE-QUANTIZED to integers
    (round(sum/count), half-away) each round — sums and counts are exact
    integers in both engines, so the division is the same IEEE double and
    the rounded centroid is bit-identical, keeping every later distance
    comparison exact. An empty cluster keeps its previous centroid.

    Per-iteration driver traffic is k rows of centroid components (the
    same bounded reduce MLlib's KMeans does); all per-vector work is a
    literal-centroid projection plus one (cid, pos) partial-agg shuffle
    of the posexploded components — at 100 TB that shuffle moves
    k*dim*|partitions| partial rows, not |vectors|*dim.
    """
    return kmeans_fit(embeddings, k=k, iters=iters, dim=dim)[1]


def kmeans_fit(
    embeddings: DataFrame, *, k: int = 8, iters: int = 3, dim: int = EMBED_DIM
) -> tuple[DataFrame, list[list[int]]]:
    """``kmeans_centroids`` that ALSO returns the trainer's materialized
    quantized frame (vec_id, qe, qnorm2) — r16: every IVF gate's final
    assignment re-derived with_quantized from a fresh corpus scan right
    after the trainer had checkpointed the identical frame; reusing the
    checkpoint drops one full corpus scan + quantize fold per gate
    (within ONE gate invocation — the frame dies with the returned
    DataFrame, nothing is memoized across queries)."""
    # materialize the quantized corpus once: every iteration re-reads it,
    # and the checkpoint also keeps each iteration's plan flat (at lake
    # scale this is the persist() MLlib's trainer does on its input).
    # Lazy: the seed collect below is the first action and materializes
    # it — the old eager form paid a separate materialization job first.
    base = (
        with_quantized(embeddings)
        .select("vec_id", "qe", "qnorm2")
        .localCheckpoint(eager=False)
    )
    cents: list[list[int]] = [
        list(r["qe"]) for r in base.orderBy("vec_id").limit(k).collect()
    ]
    return base, _lloyd(base, cents, iters=iters, dim=dim)


def _lloyd(
    base: DataFrame, cents: list[list[int]], *, iters: int, dim: int
) -> list[list[int]]:
    """The deterministic Lloyd iteration over a prepared (vec_id, qe,
    qnorm2) frame — shared by the full-vector coarse quantizer above and
    the per-subspace PQ codebook trainer below. A corpus smaller than k
    trains the k it can seed (every vector its own centroid is the exact
    degenerate answer, not an error).

    NOTE (r15 optimization round): chaining all ``iters`` rounds into
    ONE lazy plan collected once (iteration i's centroid row feeding
    i+1's assignment via broadcast one-row frames, map_from_entries +
    coalesce for the empty-cluster fallback) was built, verified
    bit-identical, and MEASURED SLOWER (3.3 s -> 4.4 s warm at sf0.1):
    the deep nested-lambda plan costs more in analysis/optimization
    than the saved per-iteration driver round-trips. Kept per-iteration
    deliberately."""
    k = len(cents)
    for _ in range(iters):
        assigned = assign_centroids(base, cents)
        comp = (
            assigned.select("cid", F.posexplode("qe").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.round(F.sum("val").cast("double") / F.count("*"))
                .cast("long")
                .alias("comp")
            )
            .collect()
        )
        new: dict[int, list[int]] = {}
        for r in comp:
            new.setdefault(r["cid"], [0] * dim)[r["pos"]] = r["comp"]
        cents = [new.get(ci, cents[ci]) for ci in range(k)]
    return cents


def incremental_assign(
    new_batch: DataFrame, centroids: list[list[int]]
) -> DataFrame:
    """IVF index maintenance without retrain — the similarity-tier twin
    of dedup's incremental_minhash_pairs: NEW vectors are assigned to the
    EXISTING trained centroids (frozen; no Lloyd pass touches the corpus)
    and can then be unioned/appended into the cid-partitioned index.

    Refresh cost is O(|new|): one scan of the new batch through the same
    zero-shuffle ``assign_centroids`` projection the full build uses —
    the corpus is never re-read, re-assigned, or re-shuffled. This is
    the standard production cadence for IVF indexes (retrain only when
    drift degrades cell balance; in between, assignment against frozen
    centroids keeps ingest linear in batch size). Assignment semantics
    are byte-identical to training-time assignment (exact integer
    distances, ties to the lowest cid), so a vector arriving in the
    batch lands in exactly the cell it would have landed in at build
    time given the same centroids."""
    return assign_centroids(
        with_quantized(new_batch).select("vec_id", "qe", "qnorm2"), centroids
    )


def pq_train(
    embeddings: DataFrame,
    *,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = EMBED_DIM,
) -> list[list[list[int]]]:
    """Product-quantization codebooks: split the quantized vector into
    ``m`` contiguous subvectors of dim/m and train an independent
    deterministic Lloyd's codebook of ``k`` centroids per subspace (same
    determinism contract as ``kmeans_centroids``: lowest-vec_id seeds,
    ties to lowest code, integer re-quantized centroids, empty cluster
    keeps its centroid).

    Returns ``books[j][c]`` = centroid ``c`` of subspace ``j``. PQ is
    the compressed-ANN scale path: a 64-dim vector becomes m small
    codes (here 4 bytes vs 512), so a 100 TB embedding corpus's code
    table fits a fraction of the footprint and ADC search scans codes,
    not vectors. Driver traffic stays k rows per iteration per subspace.
    """
    return pq_train_quantized(
        with_quantized(embeddings).select("vec_id", "qe"),
        m=m, k=k, iters=iters, dim=dim,
    )


def pq_train_quantized(
    quantized: DataFrame,
    *,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = EMBED_DIM,
) -> list[list[list[int]]]:
    """``pq_train`` over an ALREADY-quantized (vec_id, qe) frame — the
    entry point when the vectors being quantized are themselves derived
    integers rather than raw embeddings (the IVF-PQ residual path: qe =
    vector − its coarse centroid, still exact BIGINTs, so the whole
    residual-codebook chain stays cross-engine replayable)."""
    return pq_fit_quantized(quantized, m=m, k=k, iters=iters, dim=dim)[1]


def pq_fit_quantized(
    quantized: DataFrame,
    *,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    dim: int = EMBED_DIM,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """``pq_train_quantized`` that ALSO returns the trainer's
    materialized input frame (all input columns preserved) so the
    encode/search steps of a gate reuse the one materialization instead
    of re-deriving the quantized corpus (within ONE gate invocation —
    nothing is memoized across queries).

    r16 LOCKSTEP trainer: the m subspaces are independent Lloyd
    problems, but running them sequentially paid m seed collects plus
    m x iters per-iteration driver round-trips. All m subspaces now
    advance in lockstep — ONE (vector x subspace)-row frame (posexplode
    of the m slices, checkpointed once), ONE broadcast codebook frame
    per iteration, and ONE aggregate/collect per iteration returning
    every subspace's new centroids (m·k·sub bounded rows). Driver jobs:
    1 seed collect + ``iters`` collects, down from m·(1 + iters);
    per-iteration arithmetic (exact integer distances, ties to the
    lowest code, round-half-away re-quantization, empty cluster keeps
    its centroid) is expression-identical to the sequential form, so
    the books are bit-identical."""
    sub = dim // m
    full = quantized.localCheckpoint(eager=False)
    # ONE seed collect serves every subspace: subspace j's seeds are
    # the j-th slices of the SAME k lowest-vec_id vectors
    seed_rows = full.select("vec_id", "qe").orderBy("vec_id").limit(k).collect()
    k_eff = len(seed_rows)
    books: list[list[list[int]]] = [
        [list(r["qe"])[j * sub : (j + 1) * sub] for r in seed_rows]
        for j in range(m)
    ]
    slices = F.array(*[F.slice("qe", j * sub + 1, sub) for j in range(m)])
    base = (
        full.select("vec_id", F.posexplode(slices).alias("j", "qe"))
        .withColumn("qnorm2", _dot("qe", "qe"))
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        comp = (
            _assign_books(base, books)
            .select("j", "cid", F.posexplode("qe").alias("pos", "val"))
            .groupBy("j", "cid", "pos")
            .agg(
                F.round(F.sum("val").cast("double") / F.count("*"))
                .cast("long")
                .alias("comp")
            )
            .collect()
        )
        new: dict[tuple[int, int], list[int]] = {}
        for r in comp:
            new.setdefault((r["j"], r["cid"]), [0] * sub)[r["pos"]] = r["comp"]
        books = [
            [new.get((j, ci), books[j][ci]) for ci in range(k_eff)]
            for j in range(m)
        ]
    return full, books


def _assign_books(base: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """Nearest codebook centroid per (vector, subspace) row — the
    lockstep twin of ``assign_centroids``: one broadcast one-row books
    frame, the same exact integer squared distances, ties to the lowest
    code. ``base`` carries (j, qe = the j-th subvector, qnorm2)."""
    spark = base.sparkSession
    dists = F.transform(
        F.element_at(F.col("books"), F.col("j") + 1),
        lambda c, i: F.col("qnorm2")
        - 2
        * F.aggregate(
            F.zip_with("qe", c, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        + F.element_at(F.element_at(F.col("bnorms"), F.col("j") + 1), i + 1),
    )
    return (
        base.crossJoin(F.broadcast(_books_frame(spark, books)))
        .withColumn(
            "cid", (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
        .drop("books", "bnorms")
    )


def _books_frame(spark, books: list[list[list[int]]]):
    """One-row broadcastable frame carrying the codebooks + norms (the
    same compile-once trick as assign_centroids)."""
    bnorms = [[sum(x * x for x in c) for c in b] for b in books]
    return spark.createDataFrame(
        [(books, bnorms)],
        "books array<array<array<bigint>>>, bnorms array<array<bigint>>",
    )


def pq_encode(
    embeddings: DataFrame, books: list[list[list[int]]]
) -> DataFrame:
    """Attach ``codes`` (array<int>, one code per subspace) to each
    vector: for every subspace, the nearest codebook centroid in exact
    integer arithmetic, ties to the lowest code. Zero shuffle — a
    broadcast one-row codebook attach plus a nested higher-order-function
    projection, so encoding runs at scan speed on any corpus size."""
    return pq_encode_quantized(with_quantized(embeddings), books)


def pq_encode_quantized(
    base: DataFrame, books: list[list[list[int]]]
) -> DataFrame:
    """``pq_encode`` over a frame already carrying integer ``qe`` (all
    other columns pass through) — used directly by the IVF-PQ residual
    path, where qe is the per-cell residual and ``cid`` rides along."""
    m = len(books)
    sub = len(books[0][0])
    spark = base.sparkSession

    def _codes():
        def per_subspace(j):
            sq = F.slice(F.col("qe"), j * sub + 1, sub)
            sqn = F.aggregate(
                sq, F.lit(0).cast("long"), lambda acc, v: acc + v * v
            )
            dists = F.transform(
                F.element_at(F.col("books"), j + 1),
                lambda c, i: sqn
                - 2
                * F.aggregate(
                    F.zip_with(sq, c, lambda x, y: x * y),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                + F.element_at(F.element_at(F.col("bnorms"), j + 1), i + 1),
            )
            return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

        return F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)), lambda j: per_subspace(j)
        )

    return (
        base.crossJoin(F.broadcast(_books_frame(spark, books)))
        .withColumn("codes", _codes())
        .drop("books", "bnorms")
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    books: list[list[list[int]]],
    *,
    topk: int = 3,
    cell_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: the corpus
    side contributes only its codes (the centroids stand in for the
    vectors), the query side its exact subvectors — dist = sum over
    subspaces of ||q_j - book[j][code_j]||^2, all integer-exact.

    ``queries`` must carry (q_id, q_qe). Broadcast queries x corpus
    codes, then one per-query window for the top-k — the same
    shuffle-free-scan + tiny-window shape as cosine_topk, but scanning
    m-byte codes instead of full vectors (the 100 TB win).

    ``cell_col`` set (both frames carrying it) switches the cross join
    to a broadcast EQUI-join on that column — the IVF-PQ probe shape,
    where each query scans only its coarse cell's codes, so probe work
    is Σ|probed cell| instead of |corpus| x |queries|."""
    m = len(books)
    sub = len(books[0][0])
    spark = encoded.sparkSession

    def adc():
        def per_subspace(j):
            qj = F.slice(F.col("q_qe"), j * sub + 1, sub)
            cj = F.element_at(
                F.element_at(F.col("books"), j + 1),
                F.element_at(F.col("codes"), j + 1) + 1,
            )
            return F.aggregate(
                F.zip_with(qj, cj, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            )

        return F.aggregate(
            F.transform(F.sequence(F.lit(0), F.lit(m - 1)), lambda j: per_subspace(j)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    from pyspark.sql.window import Window

    if cell_col is not None:
        paired = encoded.select(cell_col, "vec_id", "codes").join(
            F.broadcast(queries), cell_col
        )
    else:
        paired = encoded.select("vec_id", "codes").crossJoin(F.broadcast(queries))
    scored = paired.crossJoin(F.broadcast(_books_frame(spark, books))).withColumn(
        "adc_dist", adc()
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "adc_dist")
    )


def _make_tile_kernel(threshold: float):
    """Arrow-batched numpy tile kernel shared by the exact and
    bucket-restricted near-dup operators: consumes rows of
    (vecs_a, vecs_b) struct-lists, emits the (id_a < id_b, cos >=
    threshold) pairs of each tile via one matmul."""
    import pandas as pd

    def tile_kernel(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for vecs_a, vecs_b in zip(pdf["vecs_a"], pdf["vecs_b"]):
                ids_a = np.array([v["vec_id"] for v in vecs_a], dtype=np.int64)
                ids_b = np.array([v["vec_id"] for v in vecs_b], dtype=np.int64)
                ma = np.array([v["qe"] for v in vecs_a], dtype=np.float64)
                mb = np.array([v["qe"] for v in vecs_b], dtype=np.float64)
                na = np.sqrt(np.array([v["qnorm2"] for v in vecs_a], dtype=np.float64))
                nb = np.sqrt(np.array([v["qnorm2"] for v in vecs_b], dtype=np.float64))
                cos_r = np.round((ma @ mb.T) / np.outer(na, nb), 6)
                ii, jj = np.meshgrid(
                    np.arange(len(ids_a)), np.arange(len(ids_b)), indexing="ij"
                )
                keep = (ids_a[ii] < ids_b[jj]) & (cos_r >= threshold)
                out_a.append(ids_a[ii[keep]])
                out_b.append(ids_b[jj[keep]])
                out_c.append(cos_r[keep])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return tile_kernel


def embedding_near_dup(
    embeddings: DataFrame, *, threshold: float = 0.45, block_size: int = 1024
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all-pairs i<j) as a
    blocked distributed GEMM.

    Per-pair ``aggregate(zip_with(...))`` dot products allocate an
    intermediate array per candidate pair — O(n²) interpreted work. The
    blocked formulation instead groups vectors into dense row blocks
    (collect_list per block — one narrow shuffle of n rows), joins block
    pairs (bi <= bj, a #blocks² join of tiny rows), and computes each
    block-pair's full cosine submatrix with one Arrow-batched numpy matmul
    inside ``mapInPandas``. No driver-side collect anywhere; each task is
    an independent (block_a x block_b) tile, which is exactly how the tile
    decomposition would be laid out on a 1000-executor cluster.

    Exactness: quantized components are ints < 2^21, so products < 2^42
    and 64-dim sums < 2^48 — all integers exactly representable in
    float64, so numpy's matmul (any summation order) returns the exact
    integer dot product; the cosine divide/round then matches the SQL
    oracle bit-for-bit.

    At 100 TB the same tile kernel runs restricted to lsh_buckets()
    collisions — ``embedding_near_dup_lsh`` below — instead of all block
    pairs.
    """
    base = with_quantized(embeddings).select(
        "vec_id", F.floor(F.col("vec_id") / block_size).alias("blk"), "qe", "qnorm2"
    )
    blocks = base.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "qe", "qnorm2")).alias("vecs")
    )
    pairs = (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.vecs").alias("vecs_a"),
            F.col("b.vecs").alias("vecs_b"),
        )
    )
    return pairs.mapInPandas(
        _make_tile_kernel(threshold), schema="id_a bigint, id_b bigint, cos double"
    )


def embedding_near_dup_lsh_multi(
    embeddings: DataFrame,
    *,
    threshold: float = 0.45,
    block_size: int = 1024,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """OR-amplified bucket-restricted near-dup — the recall lever the
    single-table ``embedding_near_dup_lsh`` documents: ``n_tables``
    INDEPENDENT plane sets (seeds ``seed..seed+n_tables-1``); a pair
    forms a tile whenever it collides in ANY table, so per-pair recall
    rises from p to 1-(1-p)^T while per-table bucket sizes (and thus
    tile cost) stay unchanged — total work scales linearly in T, not
    quadratically in bucket size. Duplicate hits across tables collapse
    via distinct on the (exact, deterministic) tile output.

    Measured on the sf0.01 fixture at n_planes=2 against the 14
    exact-threshold pairs: 1 table -> 4/14 recall, 2 -> 6/14,
    4 -> 10/14 (zero false positives — the verify is exact).
    """
    base = with_quantized(embeddings)
    table_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tbl"),
                _bucket_col(
                    hyperplanes_int(n_planes=n_planes, seed=seed + t)
                ).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    base = base.select(
        "vec_id",
        F.explode(table_structs).alias("tb"),
        F.floor(F.col("vec_id") / block_size).alias("blk"),
        "qe",
        "qnorm2",
    ).select(
        "vec_id", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
        "blk", "qe", "qnorm2",
    )
    blocks = base.groupBy("tbl", "bucket", "blk").agg(
        F.collect_list(F.struct("vec_id", "qe", "qnorm2")).alias("vecs")
    )
    pairs = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.blk") <= F.col("b.blk")),
        )
        .select(
            F.col("a.vecs").alias("vecs_a"),
            F.col("b.vecs").alias("vecs_b"),
        )
    )
    return pairs.mapInPandas(
        _make_tile_kernel(threshold), schema="id_a bigint, id_b bigint, cos double"
    ).distinct()


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    *,
    threshold: float = 0.45,
    block_size: int = 1024,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Bucket-restricted embedding near-dup — the 100 TB path promised by
    ``embedding_near_dup``: tiles form only between blocks of the SAME
    sign-projection LSH bucket, so total work is sum over buckets of
    |bucket|² instead of corpus². The block join is keyed on (bucket,
    blk): at rest the bucket id is the partition key, so every tile's
    inputs are co-located and no tile ever crosses buckets.

    Bucket assignment and quantization happen in ONE narrow projection
    (no join against a separate lsh_buckets() pass — the bucket is a
    pure function of the vector).

    Recall: a pair survives only if all ``n_planes`` sign projections
    agree — P(agree) = (1 - θ/π)^n_planes for angle θ. The fixture
    corpus has only moderate-cosine pairs (all 14 exact pairs at sf0.01
    sit in cos 0.45–0.51, θ≈63°, per-plane p≈0.65), so measured recall
    is 0/14 at 8 planes and 4/14 at 2 planes — the gate query pins the
    2-plane setting to keep its cross-engine evidence non-trivial. At a
    production dedup threshold (cos ≥ 0.9, θ≤26°, p≈0.86) 8-plane
    recall is ~0.3 per probe and the standard levers apply: fewer
    planes (bigger buckets, more work), OR-amplification across several
    independent plane sets, or Hamming-1 multi-probe as in
    ``workloads_similarity.q_ann_ivf_multiprobe``.
    """
    # exactly the n_tables=1 case of the OR-amplified variant — one
    # bucketing scheme, one tile pipeline, defined once
    return embedding_near_dup_lsh_multi(
        embeddings,
        threshold=threshold,
        block_size=block_size,
        n_planes=n_planes,
        n_tables=1,
        seed=seed,
    )


def l2_normalize(embeddings: DataFrame) -> DataFrame:
    """Unit-normalize each embedding (the ANN-preprocessing step that
    turns cosine into dot product): nc_i = qe_i / sqrt(qnorm2).

    Exactness chain for the differential gate: qe and qnorm2 are exact
    integers; IEEE sqrt and division are correctly rounded, so every
    normalized component is BIT-IDENTICAL across engines — no summation
    order exists anywhere in this path (min/max over identical doubles
    are order-free). Zero-shuffle projection."""
    base = with_quantized(embeddings)
    norm = F.sqrt(F.col("qnorm2").cast("double"))
    nc = F.expr("transform(qe, x -> CAST(x AS DOUBLE) / sqrt(CAST(qnorm2 AS DOUBLE)))")
    return base.select(
        "vec_id",
        F.round(norm / F.lit(float(QUANT_SCALE)), 6).alias("l2_norm"),
        F.round(F.array_min(nc), 6).alias("nc_min"),
        F.round(F.array_max(nc), 6).alias("nc_max"),
        nc.alias("normalized"),
    )


def embedding_covariance(
    embeddings: DataFrame,
    *,
    dims: int = 16,
    scale: int = 1_000_000,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact covariance moment sums over the first ``dims`` embedding
    coordinates — the single-pass statistic under PCA/whitening/feature
    decorrelation. Coordinates are scaled to exact integers
    (round(x·scale)), so every sum is an order-free int64 and the gate
    hashes bit-identically; Cov[i,j] = (n·s_ij − s_i·s_j) / (n²·scale²)
    is exactly derivable downstream at any precision.

    Plan: ONE aggregate whose shuffle carries a single row of
    dims·(dims+3)/2 + 1 numbers regardless of corpus size (no pair
    explode — the dims(dims+1)/2 products are codegen column
    expressions). The coordinates are bound ONCE in an inner projection
    (x_i = round(element_at(...)·scale)) so each product multiplies two
    column refs — inlining the element_at chain into every product made
    the aggregate evaluate it dims+1 times per coordinate (the
    hashed_classifier two-step-binding rule; measured ~2x the whole
    gate at sf0.1). The (i, j) long form then comes from a broadcast
    join of the one-row (n, s[], sx[]) arrays against a dims(dims+1)/2-
    row (k, i, j) index LocalRelation + element_at picks — the earlier
    in-row explode of a dims(dims+1)/2-struct literal array built a
    ~700-node expression tree whose planning/codegen dominated the
    whole query (measured 2.3 s of a 4 s gate at sf0.1 for 136 structs;
    the index-table form is O(pairs) DATA, O(1) expression size). This
    is the map-side-combine shape that makes covariance of a 100 TB
    embedding table cost one narrow scan.

    Output: (i, j, n, s_i, s_j, s_ij) for 0 <= i <= j < dims.
    """
    proj = embeddings.select(
        *[
            F.round(
                F.element_at(F.col(vec_col), d + 1).cast("double") * scale
            )
            .cast("long")
            .alias(f"x_{d}")
            for d in range(dims)
        ]
    )
    aggs = [F.count("*").alias("n")]
    for i in range(dims):
        aggs.append(F.sum(F.col(f"x_{i}")).alias(f"s_{i}"))
    kmap: list[tuple[int, int, int]] = []
    for i in range(dims):
        for j in range(i, dims):
            aggs.append(
                F.sum(F.col(f"x_{i}") * F.col(f"x_{j}")).alias(
                    f"sx_{len(kmap)}"
                )
            )
            kmap.append((len(kmap), i, j))
    one = proj.agg(*aggs)
    arrs = one.select(
        "n",
        F.array(*[F.col(f"s_{i}") for i in range(dims)]).alias("_s"),
        F.array(*[F.col(f"sx_{k}") for k, _, _ in kmap]).alias("_sx"),
    )
    # bounded parameter table (the assign_centroids cent_row precedent):
    # dims(dims+1)/2 rows, joined broadcast-nested-loop against ONE row
    idx = embeddings.sparkSession.createDataFrame(kmap, "k int, i int, j int")
    return arrs.crossJoin(F.broadcast(idx)).select(
        "i",
        "j",
        "n",
        F.element_at("_s", F.col("i") + 1).alias("s_i"),
        F.element_at("_s", F.col("j") + 1).alias("s_j"),
        F.element_at("_sx", F.col("k") + 1).alias("s_ij"),
    )


def pca_project(
    embeddings: DataFrame,
    *,
    k: int = 2,
    dims: int = 16,
    scale: int = 1_000_000,
    n_iter: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.

    The covariance comes from ``embedding_covariance``'s single
    aggregate (driver traffic = ONE row — the same bounded-collect
    budget as the k-means tier); eigenvectors come from deterministic
    power iteration with deflation on the tiny dims×dims driver-side
    matrix (fixed e_0 basis init, fixed iteration count — no RNG); the
    projection is a broadcast map-side dot product, zero shuffle.
    Exactness note: components are floats by nature — the differential
    gate covers the covariance sums (exact ints); this projection is
    pinned against numpy's eigendecomposition in pytest instead.
    """
    import numpy as np

    row = (
        embedding_covariance(
            embeddings, dims=dims, scale=scale, vec_col=vec_col
        )
        .collect()
    )
    n = row[0]["n"]
    cov = np.zeros((dims, dims))
    for r in row:
        c = (n * r["s_ij"] - r["s_i"] * r["s_j"]) / (n * n * scale * scale)
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = c
    comps = []
    m = cov.copy()
    for c_idx in range(k):
        v = np.zeros(dims)
        v[c_idx % dims] = 1.0
        for _ in range(n_iter):
            v = m @ v
            nv = float(np.linalg.norm(v))
            if nv == 0.0:
                break
            v = v / nv
        # sign convention: largest-|coord| entry positive
        top = int(np.argmax(np.abs(v)))
        if v[top] < 0:
            v = -v
        comps.append(v)
        lam = float(v @ m @ v)
        m = m - lam * np.outer(v, v)
    # mean vector from the same collected row set (i == j rows hold s_i)
    means = np.zeros(dims)
    for r in row:
        if r["i"] == r["j"]:
            means[r["i"]] = r["s_i"] / (n * scale)
    projections = []
    for c_idx, v in enumerate(comps):
        centered_dot = sum(
            (F.element_at(F.col(vec_col), d + 1).cast("double") - float(means[d]))
            * float(v[d])
            for d in range(dims)
        )
        projections.append(centered_dot.alias(f"pc{c_idx + 1}"))
    return embeddings.select(F.col(id_col), *projections)


# ---------------------------------------------------------------------------
# scalar quantization (SQ8) — the per-dimension compressed tier
# ---------------------------------------------------------------------------


def sq8_stats(embeddings: DataFrame) -> list[tuple[int, int]]:
    """Per-dimension (min, max) of the QUANTIZED corpus — SQ8's training
    artifact (dim-sized, a driver-side constant like the PQ codebooks).
    One posexplode + one dim-keyed aggregate; integer-exact."""
    rows = (
        with_quantized(embeddings)
        .select(F.posexplode("qe").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    out = [(0, 0)] * len(rows)
    for r in rows:
        out[r["i"]] = (r["mn"], r["mx"])
    return out


def _sq8_code_expr(col: str, stats: list[tuple[int, int]]) -> F.Column:
    """codes[i] = (qe[i] - mn_i) * 255 div (mx_i - mn_i) — non-negative
    integer floor-div, so Spark's ``div`` and DuckDB's ``//`` agree
    bit-for-bit (no float enters). Degenerate dims (mx == mn) code 0."""
    mns = ",".join(str(m) for m, _ in stats)
    rngs = ",".join(str(mx - mn) for mn, mx in stats)
    return F.expr(
        f"zip_with({col}, zip_with(array({mns}), array({rngs}),"
        " (m, r) -> struct(m AS m, r AS r)),"
        " (x, s) -> CASE WHEN s.r = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (x - s.m) * 255 div s.r END)"
    )


def sq8_encode(embeddings: DataFrame, stats: list[tuple[int, int]]) -> DataFrame:
    """Corpus -> (vec_id, codes): each 64-dim vector compresses to 64
    one-byte codes (4x smaller than float32, 8x smaller than the
    int64-quantized form) with NO codebook training — SQ8 is the cheap
    middle rung between full vectors and PQ. Zero-shuffle map."""
    return with_quantized(embeddings).select(
        "vec_id", _sq8_code_expr("qe", stats).alias("codes")
    )


def sq8_topk(
    encoded: DataFrame,
    queries: DataFrame,
    *,
    topk: int = 3,
    rerank: int = 10,
) -> DataFrame:
    """Two-stage SQ8 search: (1) scan the CODES with the symmetric
    integer distance sum((c_a - c_q)^2) and keep the top ``rerank``
    candidates per query; (2) re-score only those candidates with the
    EXACT quantized squared L2 on the full vectors and emit the top
    ``topk``. ``queries`` carries (q_id, q_codes, q_qe); corpus side
    additionally needs ``qe`` for the rerank.

    The 100 TB shape: stage 1 reads 1-byte codes (broadcast queries, no
    shuffle), stage 2 touches full vectors for only |queries| x rerank
    rows — the standard SQ + rerank pipeline (FAISS's
    IndexScalarQuantizer refined by IndexRefineFlat). Integer-exact both
    stages; ties broken by vec_id."""
    from pyspark.sql.window import Window

    approx = F.aggregate(
        F.zip_with("codes", "q_codes", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    exact = F.aggregate(
        F.zip_with("qe", "q_qe", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = (
        encoded.crossJoin(F.broadcast(queries))
        .withColumn("sq8_dist", approx)
    )
    w1 = Window.partitionBy("q_id").orderBy("sq8_dist", "vec_id")
    cand = scored.withColumn("crank", F.row_number().over(w1)).filter(
        F.col("crank") <= rerank
    )
    w2 = Window.partitionBy("q_id").orderBy("exact_dist", "vec_id")
    return (
        cand.withColumn("exact_dist", exact)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("q_id", "rank", "vec_id", "sq8_dist", "exact_dist")
    )


def jl_matrix(k: int = 8, dim: int = EMBED_DIM, seed: int = 7) -> list[list[int]]:
    """Achlioptas sparse ternary JL matrix (Achlioptas 2003, public):
    R[j][i] in {+1, -1, 0} with probabilities {1/6, 1/6, 2/3}; the
    projection y = R x satisfies the Johnson–Lindenstrauss distance
    guarantee once scaled by sqrt(3/k). Entries come from the same
    shared LCG as the LSH hyperplanes, built in Python so Spark and the
    oracle consume identical literals; 2/3 sparsity means 2/3 of the
    multiply-adds vanish at codegen."""
    flat = _lcg_floats(seed, k * dim)
    tern = [1 if u < -2.0 / 3.0 else (-1 if u > 2.0 / 3.0 else 0) for u in flat]
    return [tern[j * dim : (j + 1) * dim] for j in range(k)]


def jl_project(
    embeddings: DataFrame,
    *,
    k: int = 8,
    seed: int = 7,
    dim: int = EMBED_DIM,
    flat: bool = False,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection of the embedding column
    into k dimensions, with per-vector norm-distortion audit — the
    dimensionality-reduction front end that makes a downstream ANN /
    clustering tier cheap (project 100 TB of wide vectors to k dims in
    ONE map-only pass, then index the k-dim output).

    Exactness: inputs are the quantized integer vectors (with_quantized),
    the ternary matrix entries are integer literals, so every projected
    component y_j = Σ_i R[j][i]·qe_i and both squared norms are exact
    int64 — order-free, engine-exact. The single inexact step is the
    audit ratio distortion = sqrt((3/k)·|y|²) / sqrt(|x|²), one sqrt
    chain rounded to 6 (JL says this concentrates near 1).

    Plan: zero shuffle — k integer fold expressions per row (sparse:
    ~dim/3 terms each survive constant folding), no explode, no join.

    Output: (vec_id, proj: array<bigint>, x_norm2, y_norm2, distortion) —
    or, with ``flat=True``, the projected components as SCALAR columns
    ``y_0..y_{k-1}`` instead of the ``proj`` array. The array form is
    the composition API (feed the k-dim vectors to an ANN/clustering
    stage); the flat form is the gate/export shape — nested final
    columns are banned at the oracle boundary because engine-portable
    canonicalizers (Arrow→pandas) cannot hash list cells.
    """
    mat = jl_matrix(k, dim, seed)
    base = with_quantized(embeddings)
    comps = []
    for j in range(k):
        terms = " + ".join(
            f"({c} * element_at(qe, {i + 1}))"
            for i, c in enumerate(mat[j])
            if c != 0
        )
        comps.append(F.expr(f"CAST({terms or '0'} AS BIGINT)").alias(f"y_{j}"))
    proj = base.select("vec_id", F.col("qnorm2").alias("x_norm2"), *comps)
    y_cols = [F.col(f"y_{j}") for j in range(k)]
    # Exact int64 Σ y_j² as a fold over the scalar components — no array
    # construction needed on the flat path, and codegen flattens the sum.
    y_norm2 = sum(
        (c * c for c in y_cols), F.lit(0).cast("bigint")
    ).alias("y_norm2")
    distortion = F.when(
        F.col("x_norm2") > 0,
        F.round(
            F.sqrt(F.col("y_norm2") * (3.0 / k)) / F.sqrt(F.col("x_norm2")), 6
        ),
    ).alias("distortion")
    if flat:
        return proj.select(
            "vec_id", *[f"y_{j}" for j in range(k)], "x_norm2", y_norm2
        ).withColumn("distortion", distortion)
    return proj.select(
        "vec_id",
        F.array(*y_cols).alias("proj"),
        "x_norm2",
        y_norm2,
    ).withColumn("distortion", distortion)


def jl_distortion_report(
    embeddings: DataFrame, *, k: int = 8, seed: int = 7, dim: int = EMBED_DIM
) -> DataFrame:
    """One-row JL quality audit: min / mean / max norm distortion and
    the fraction inside ±30% — the measurement that justifies (or
    rejects) a chosen k before committing the projected index, same
    measurement-tier shape as lsh_recall_report. One aggregate over the
    map-side projection; the shuffle carries one row."""
    d = jl_project(embeddings, k=k, seed=seed, dim=dim)
    return d.filter(F.col("x_norm2") > 0).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("distortion"), 6).alias("min_distortion"),
        F.round(F.avg("distortion"), 6).alias("mean_distortion"),
        F.round(F.max("distortion"), 6).alias("max_distortion"),
        F.round(
            F.avg(
                F.when(
                    (F.col("distortion") >= 0.7) & (F.col("distortion") <= 1.3), 1.0
                ).otherwise(0.0)
            ),
            6,
        ).alias("frac_within_30pct"),
    )


def embedding_outliers(
    embeddings: DataFrame, *, top_n: int = 20, dims: int = EMBED_DIM
) -> DataFrame:
    """Global-centroid outlier audit: the ``top_n`` vectors farthest
    (squared L2) from the corpus mean embedding — the standard screen
    for corrupt encodes, wrong-modality rows, and junk clusters before
    an embedding corpus feeds dedup/ANN tiers.

    Exactness chain: with the quantized integers qe, the residual
    r_i = n·qe_i − s_i (s_i = Σ qe_i, both exact int64; |r_i| stays
    under 2^53 for any corpus where n·scale·max|x| does — ~1e15 rows at
    unit-normalized embeddings) is EXACT in double; dist2 = Σ r_i² is
    accumulated in a PINNED left-to-right association order, generated
    identically in the Spark expression and the oracle SQL, so every
    double is bit-identical across engines even where r_i² exceeds
    integer range. d2 = dist2 / (n²·scale²) rescales to input units
    (the divisor is a power-of-two multiple of an exact square —
    exact), rounded to 6.

    Plan: ONE count+dims-sums aggregate (single row) broadcast back
    over the corpus, the fold is codegen map-side, and top_n is a
    TakeOrdered (per-partition heaps + driver merge of top_n·p rows) —
    no corpus shuffle anywhere. Ties cannot flip: dist2 is bit-exact
    and the sort breaks ties by vec_id.
    """
    base = with_quantized(embeddings)
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.element_at("qe", i + 1)).alias(f"_s{i}") for i in range(dims)
    ]
    stats = base.agg(*aggs)
    joined = base.join(F.broadcast(stats))
    dist2 = None
    for i in range(dims):
        r = (
            F.col("_n").cast("double") * F.element_at("qe", i + 1).cast("double")
            - F.col(f"_s{i}").cast("double")
        )
        term = r * r
        dist2 = term if dist2 is None else dist2 + term
    nd = (
        F.col("_n").cast("double")
        * F.col("_n").cast("double")
        * F.lit(float(QUANT_SCALE) * float(QUANT_SCALE))
    )
    return (
        joined.select("vec_id", (dist2 / nd).alias("_d2"))
        .orderBy(F.desc("_d2"), F.asc("vec_id"))
        .limit(top_n)
        .select("vec_id", F.round("_d2", 6).alias("d2_from_mean"))
    )


def ivf_index_save(
    embeddings: DataFrame,
    path: str,
    *,
    k: int = 8,
    iters: int = 3,
) -> None:
    """Train the IVF coarse quantizer and PERSIST the index artifacts —
    index build is a nightly batch job; index use is every query after.

    Layout (all plain parquet, engine-portable):
      ``{path}/centroids`` — (cid INT, c ARRAY<BIGINT>): the trained
        integer centroids (k rows; the whole quantizer state).
      ``{path}/cells``     — (vec_id, qe, qnorm2, cid): the quantized
        corpus keyed by its cell, written PARTITIONED BY cid so one
        probe reads one cell directory — the at-rest layout that makes
        a single probe touch |cell| rows instead of the corpus.

    Quantized vectors and norms are exact integers, so the parquet
    round-trip is lossless by construction; reload + probe is
    bit-identical to probing the in-memory build (the
    ann_index_roundtrip gate hashes that claim against the no-persist
    closed form)."""
    spark = embeddings.sparkSession
    # r16: the cells write reuses the trainer's checkpointed quantized
    # frame instead of re-deriving with_quantized from a second scan
    qbase, cents = kmeans_fit(embeddings, k=k, iters=iters)
    cent_df = _centroid_frame(spark, cents)
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    cells = assign_centroids(qbase, cents)
    cells.write.mode("overwrite").partitionBy("cid").parquet(f"{path}/cells")


def ivf_index_load(
    spark, path: str
) -> tuple[list[list[int]], DataFrame]:
    """Reload a persisted IVF index: (centroids list, cells DataFrame).

    The centroid collect is k rows by contract (the quantizer is tiny;
    that is what makes assignment a broadcast projection); the cells
    frame stays distributed and cid-partition-pruned — a probe that
    filters on cid reads only that cell's files."""
    cent_rows = spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    cents = [list(r["c"]) for r in cent_rows]
    if not cents:
        # same integrity contract as ivfpq_index_load: an interrupted
        # save must surface as a diagnosis, not as empty-quantizer
        # probes that silently return nothing
        raise ValueError(
            f"incomplete IVF index at {path}: 0 centroids "
            "(save interrupted before all artifacts were written?)"
        )
    cells = spark.read.parquet(f"{path}/cells")
    return cents, cells


def cell_cosine_probe(
    queries: DataFrame, cells: DataFrame, *, topk: int = 3
) -> DataFrame:
    """Exact-cosine top-k of each query against ONLY its own coarse
    cell — the IVF probe step shared by the trained-probe gate
    (workloads_similarity.q_ann_ivf_kmeans_probe) and the persisted-index
    round-trip gate (workloads_similarity.q_ann_index_roundtrip): ONE
    definition, because the round-trip's bit-identity claim only holds
    if both compute the same ranks and rounding. Both inputs carry
    (vec_id, qe, qnorm2, cid); queries are broadcast into a cid
    equi-join, so probe work is Σ|probed cell| rows at any corpus
    size. Output: (q_id, c_id, cos, rank), self-matches excluded."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_n2"),
        F.col("cid").alias("q_cid"),
    )
    c = cells.select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("qnorm2").alias("c_n2"),
        F.col("cid").alias("c_cid"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("q_cid") == F.col("c_cid"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                _dot("q_qe", "c_qe").cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("c_n2").cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def _centroid_frame(spark, cents: list[list[int]]) -> DataFrame:
    """k-row (cid, c) frame from a trained centroid list — the single
    schema used for persisting coarse centroids and for the broadcast
    residual join."""
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "cid int, c array<bigint>"
    )


def residualize(embeddings: DataFrame, cents: list[list[int]]) -> DataFrame:
    """(vec_id, cid, qe = quantized vector − its coarse centroid): the
    ONE definition of IVFADC residualization — index build, probe-side
    query prep, and the round-trip tests all call this, because the
    'reload + probe is bit-identical' contract only holds if every
    consumer computes residuals identically. Zero shuffle: quantize is
    in-row, assignment is a broadcast projection, the centroid join is
    a broadcast of k rows, the subtraction is one zip_with."""
    return residualize_quantized(
        with_quantized(embeddings).select("vec_id", "qe", "qnorm2"), cents
    )


def residualize_quantized(base: DataFrame, cents: list[list[int]]) -> DataFrame:
    """``residualize`` over a frame already carrying (vec_id, qe,
    qnorm2) — r16: lets the IVF-PQ gate reuse the coarse trainer's
    checkpointed quantized frame instead of re-deriving with_quantized
    from a second corpus scan. Same one definition of the residual
    arithmetic (broadcast centroid join + one zip_with)."""
    cent_df = _centroid_frame(base.sparkSession, cents)
    return (
        assign_centroids(base.select("vec_id", "qe", "qnorm2"), cents)
        .join(F.broadcast(cent_df), "cid")
        .select(
            "vec_id", "cid", F.zip_with("qe", "c", lambda x, y: x - y).alias("qe")
        )
    )


def ivfpq_index_save(
    embeddings: DataFrame,
    path: str,
    *,
    k: int = 8,
    iters: int = 3,
    m: int = 4,
    codes_k: int = 4,
    pq_iters: int = 2,
) -> None:
    """Persist the full IVFADC composite index (the artifact FAISS's
    IVF+PQ writes): coarse centroids, per-subspace residual codebooks,
    and the coded corpus keyed by coarse cell.

    Layout (plain parquet, engine-portable):
      ``{path}/centroids`` — (cid INT, c ARRAY<BIGINT>): k coarse rows.
      ``{path}/codebooks`` — (j INT, code INT, c ARRAY<BIGINT>):
        m x codes_k residual-codebook rows (the whole PQ state).
      ``{path}/codes``     — (vec_id, codes ARRAY<INT>, cid), written
        PARTITIONED BY cid: a probe's cell filter prunes to one
        directory, and each row is m small ints — at rest the index is
        ~dim/m smaller than the vectors it stands in for, the artifact
        that makes 100 TB of embeddings servable.

    Centroids, codebooks, and codes are all exact integers, so the
    round-trip is lossless by construction; reload + ADC probe is
    bit-identical to probing the in-memory build (pinned by
    tests/test_persistence_ops.py::test_ivfpq_index_roundtrip_serves_
    identical_probe)."""
    spark = embeddings.sparkSession
    # r16: one corpus scan for the whole build — the coarse trainer's
    # checkpointed quantized frame feeds residualization, and the PQ
    # fit's checkpointed residual frame feeds the encode-write below
    # (the old shape re-derived with_quantized and the residual lineage)
    qbase, cents = kmeans_fit(embeddings, k=k, iters=iters)
    _centroid_frame(spark, cents).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    resid, books = pq_fit_quantized(
        residualize_quantized(qbase, cents), m=m, k=codes_k, iters=pq_iters
    )
    spark.createDataFrame(
        [(j, ci, c) for j, b in enumerate(books) for ci, c in enumerate(b)],
        "j int, code int, c array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    pq_encode_quantized(resid, books).select(
        "vec_id", "codes", "cid"
    ).write.mode("overwrite").partitionBy("cid").parquet(f"{path}/codes")


def ivfpq_index_load(
    spark, path: str
) -> tuple[list[list[int]], list[list[list[int]]], DataFrame]:
    """Reload a persisted IVFADC index: (coarse centroids, PQ books,
    coded-corpus DataFrame). Centroid/codebook collects are k and
    m x codes_k rows by contract (the quantizer state is tiny — that is
    what makes probe-side assignment and ADC broadcast projections);
    the codes frame stays distributed and cid-partition-pruned."""
    cents = [
        list(r["c"])
        for r in spark.read.parquet(f"{path}/centroids").orderBy("cid").collect()
    ]
    book_rows = spark.read.parquet(f"{path}/codebooks").orderBy("j", "code").collect()
    # loud integrity check: save writes centroids first and codebooks
    # only after the long PQ training, so a job killed mid-save leaves a
    # partial index — fail with the diagnosis, not max() on an empty seq
    if not cents or not book_rows:
        raise ValueError(
            f"incomplete IVFPQ index at {path}: "
            f"{len(cents)} centroids, {len(book_rows)} codebook rows "
            "(save interrupted before all artifacts were written?)"
        )
    m = max(r["j"] for r in book_rows) + 1
    books: list[list[list[int]]] = [[] for _ in range(m)]
    for r in book_rows:
        books[r["j"]].append(list(r["c"]))
    codes = spark.read.parquet(f"{path}/codes")
    return cents, books, codes


def _semdedup_tile_kernel(threshold: float):
    """Arrow-batched numpy tile kernel for the SemDeDup dominance scan:
    consumes (vecs_a, vecs_b) struct-list tiles of SAME-CELL members and
    emits the vec_ids dropped by the keep-farthest rule — cos >=
    threshold against a dominating member (larger d2c, ties to the
    lower vec_id). Exactness matches the expression form bit-for-bit:
    integer dot products are exact in float64 (components < 2^21 ⇒
    64-dim sums < 2^48, the embedding_near_dup argument), np.sqrt and
    the divide are the same correctly-rounded IEEE ops Spark executes,
    and the dominance compare runs in int64."""
    import pandas as pd

    def kern(batches):
        import numpy as np

        for pdf in batches:
            out = []
            for vecs_a, vecs_b in zip(pdf["vecs_a"], pdf["vecs_b"]):
                ia = np.array([v["vec_id"] for v in vecs_a], dtype=np.int64)
                ib = np.array([v["vec_id"] for v in vecs_b], dtype=np.int64)
                ma = np.array([v["qe"] for v in vecs_a], dtype=np.float64)
                mb = np.array([v["qe"] for v in vecs_b], dtype=np.float64)
                na = np.sqrt(np.array([v["qnorm2"] for v in vecs_a], dtype=np.float64))
                nb = np.sqrt(np.array([v["qnorm2"] for v in vecs_b], dtype=np.float64))
                da = np.array([v["d2c"] for v in vecs_a], dtype=np.int64)
                db = np.array([v["d2c"] for v in vecs_b], dtype=np.int64)
                # same op order as the expression form: dot / (sqrt*sqrt)
                cos = (ma @ mb.T) / (na[:, None] * nb[None, :])
                m = (cos >= threshold) & (ia[:, None] != ib[None, :])
                dom_b_over_a = (db[None, :] > da[:, None]) | (
                    (db[None, :] == da[:, None]) & (ib[None, :] < ia[:, None])
                )
                dom_a_over_b = (da[:, None] > db[None, :]) | (
                    (da[:, None] == db[None, :]) & (ia[:, None] < ib[None, :])
                )
                drop_a = ia[np.any(m & dom_b_over_a, axis=1)]
                drop_b = ib[np.any(m & dom_a_over_b, axis=0)]
                if drop_a.size or drop_b.size:
                    out.append(drop_a)
                    out.append(drop_b)
            if out:
                yield pd.DataFrame({"vec_id": np.unique(np.concatenate(out))})

    return kern


def semdedup_prune(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.45,
    dim: int = EMBED_DIM,
    block_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, public):
    cluster the corpus with the deterministic integer k-means
    (``kmeans_centroids``), then WITHIN each cluster drop any vector
    that has cosine similarity >= ``threshold`` with another member that
    dominates it — the paper's keep-the-extreme rule, here "keep the
    member FARTHEST from its centroid" (exact integer squared distance;
    ties broken to the lower vec_id). The rule is a pure pairwise
    EXISTS, evaluated one-shot over the cluster's similarity relation —
    the same non-iterative formulation as the published implementation's
    masked similarity matrix, so no connected-components fixpoint is
    needed.

    Exactness: cluster assignment and d2c are exact int64; the cosine
    enters as ONE division over identical integer dot/norm operands, so
    the >= threshold comparison is engine-identical (the established
    cross-engine double idiom).

    Plan shape at 100 TB: assignment is a zero-shuffle projection;
    the candidate relation is a same-cell blocked tile join — vectors
    group into (cid, block) dense row blocks (one narrow shuffle), block
    pairs join ON the cid equi-key, and each tile's full dominance scan
    runs as ONE Arrow-batched numpy matmul inside mapInPandas (r16; the
    embedding_near_dup blocked-GEMM formulation — the prior per-pair
    ``aggregate(zip_with(...))`` expression allocated an intermediate
    array per candidate pair, O(Σ|cell|²) interpreted work). Total work
    is still sum(|cell|^2), SemDeDup's published cost, bounded by the
    quantizer's cell sizes (cap cells by raising k); each tile is an
    independent bounded task at any corpus size.

    Exactness is unchanged (the kernel docstring has the bit-for-bit
    argument); zero-norm members are excluded from the blocks — they
    have no cosine to anything, so they are never dup candidates and
    never dominate (the old join's qnorm2 > 0 guard, moved before the
    block build).

    Output: (vec_id, cid, d2c, dropped) — one row per input vector,
    ``dropped = true`` for the semantic near-duplicates a curation pass
    would remove.
    """
    # r16: reuse the trainer's checkpointed quantized frame for the
    # final assignment (the old form re-derived with_quantized from a
    # fresh corpus scan), and lazily checkpoint the assigned frame —
    # its consumers below (the block build + the final join-back) are
    # NON-identical plans, so ReusedExchange cannot deduplicate them
    base, cents = kmeans_fit(embeddings, k=k, iters=iters, dim=dim)
    assigned = (
        assign_centroids(base, cents, keep_dist="d2c")
        .select("vec_id", "cid", "qe", "qnorm2", "d2c")
        .localCheckpoint(eager=False)
    )
    blocks = (
        assigned.where(F.col("qnorm2") > 0)
        .groupBy(
            "cid", F.floor(F.col("vec_id") / block_size).alias("blk")
        )
        .agg(
            F.collect_list(
                F.struct("vec_id", "qe", "qnorm2", "d2c")
            ).alias("vecs")
        )
    )
    tiles = (
        blocks.alias("a")
        .join(
            blocks.alias("b"),
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.blk") <= F.col("b.blk")),
        )
        .select(F.col("a.vecs").alias("vecs_a"), F.col("b.vecs").alias("vecs_b"))
    )
    dropped_ids = tiles.mapInPandas(
        _semdedup_tile_kernel(threshold), schema="vec_id bigint"
    ).distinct()
    return (
        assigned.join(
            dropped_ids.withColumn("dropped", F.lit(True)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cid",
            "d2c",
            F.coalesce("dropped", F.lit(False)).alias("dropped"),
        )
    )


def hard_negatives(
    embeddings: DataFrame,
    *,
    anchor_filter: str,
    negative_filter: str,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining: for each anchor vector, the k nearest-by-
    cosine vectors from the NEGATIVE set — the standard contrastive-
    training data op (anchors = positives of a class, negatives = the
    rest; the nearest negatives are the "hard" ones worth training on).

    Same exact-integer cosine core as ``cosine_topk`` (quantized
    vectors, exact integer dot products, one double division per pair,
    round 6) with the candidate side restricted by ``negative_filter``
    BEFORE the pair product — the filter prunes the broadcast-probe
    stream, it never post-filters scored pairs. Anchors and negatives
    may overlap by id (an anchor can be its own near-negative under a
    label-free filter); the self-pair is excluded like cosine_topk.

    Scale (100 TB): the anchor batch is the BOUNDED side (broadcast),
    candidates stream map-side — O(|anchors| · |negatives|) dot
    products with no shuffle until the per-anchor top-k window over
    |anchors| groups. This is the exact-baseline tier; the bucketed
    LSH near-dup path is the recall-traded scale path, same as
    cosine_topk vs ann_lsh.
    """
    base = with_quantized(embeddings)
    q = base.filter(anchor_filter).select(
        F.col("vec_id").alias("q_id"),
        F.col("qe").alias("q_qe"),
        F.col("qnorm2").alias("q_n2"),
    )
    c = base.filter(negative_filter).select(
        F.col("vec_id").alias("c_id"),
        F.col("qe").alias("c_qe"),
        F.col("qnorm2").alias("c_n2"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            (
                _dot("q_qe", "c_qe").cast("double")
                / (
                    F.sqrt(F.col("q_n2").cast("double"))
                    * F.sqrt(F.col("c_n2").cast("double"))
                )
            ).alias("cos_raw"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", F.round("cos_raw", 6).alias("cos"), "rank")
    )


def embedding_drift(
    frame_a: DataFrame,
    frame_b: DataFrame,
    *,
    emb_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Centroid drift between two embedding snapshots — did this
    source's/language's embedding distribution MOVE between crawls?
    The monitoring number a re-ingest review reads before rebuilding
    an ANN index or re-running SemDeDup: a centroid that moved says
    the content shifted; a centroid that stayed says the new crawl is
    more-of-the-same.

    Reports, per group: ``centroid_l2`` — the L2 distance between the
    two mean vectors (in original embedding units) — and
    ``centroid_cos`` — the cosine between them (NULL when either
    centroid is the zero vector).

    EXACT core over the engine's standard 2^20 quantization
    (``quantize``): with per-dimension sums s1_d, s2_d and vector
    counts n1, n2,

        centroid diff per dim = (s1_d·n2 − s2_d·n1) / (n1·n2)

    so Σ_d (s1_d·n2 − s2_d·n1)² accumulates in DECIMAL(38,0) with no
    float until ONE sqrt and ONE division at the end (both
    IEEE-correctly-rounded over identical exact operands — engine- and
    partitioning-deterministic); the cosine's three inner products are
    the same exact sums. Round 6. Operand bound, documented not
    silently wrapped: the squared diff needs |s_d|·n ≲ 1e19 per side —
    with unit-scale embeddings that is ~3e9 vectors per side per
    group; beyond it the DECIMAL(38,0) product fails CLEANLY under
    ANSI (the fleiss_kappa bound stance). Snapshot-drift audits
    compare bounded samples or per-group slices in practice.

    Both frames must carry the SAME dimensionality — ENFORCED in-plan
    (raise_error when the two sides' dimension counts differ: a silent
    inner join on dim would drop the excess dimensions and understate
    the drift). NULL embeddings / NULL group rows are excluded.

    Scale (100 TB): per side, one posexplode keyed (group, dim)
    aggregate — the corpus×dims shuffle any per-dimension statistic
    pays (embedding_covariance's shape) — plus a per-group vector
    count; everything downstream folds the bounded
    |groups| × dims table. No window, no pair join, no driver collect.

    Output: (group?, n_a, n_b, dims, centroid_l2, centroid_cos).
    """
    gkeys = [group_col] if group_col else []

    def _side(df: DataFrame, tag: str):
        cond = F.col(emb_col).isNotNull()
        if group_col:
            cond = cond & F.col(group_col).isNotNull()
        q = df.where(cond).select(*gkeys, quantize(emb_col).alias("_q"))
        dims = q.select(
            *gkeys, F.posexplode("_q").alias("_d", "_x")
        )
        sums = dims.groupBy(*gkeys, "_d").agg(
            F.sum("_x").cast("decimal(38,0)").alias(f"_s{tag}")
        )
        counts = q.groupBy(*gkeys).agg(
            F.count("*").cast("long").alias(f"n_{tag}"),
            F.max(F.size("_q")).cast("long").alias(f"_dims{tag}"),
        )
        return sums, counts

    sa, ca = _side(frame_a, "a")
    sb, cb = _side(frame_b, "b")
    dims = (
        sa.join(sb, [*gkeys, "_d"], "full_outer")
        .select(
            *gkeys,
            "_d",
            F.coalesce(F.col("_sa"), F.lit(0)).alias("_sa"),
            F.coalesce(F.col("_sb"), F.lit(0)).alias("_sb"),
        )
    )
    counts = ca.join(cb, gkeys) if gkeys else ca.crossJoin(F.broadcast(cb))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — local shorthand
    per_dim = (
        dims.join(F.broadcast(counts), gkeys)
        if gkeys
        else dims.crossJoin(F.broadcast(counts))
    )
    diff = F.col("_sa") * d(F.col("n_b")) - F.col("_sb") * d(F.col("n_a"))
    folded = per_dim.groupBy(*gkeys).agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.max("_dimsa").alias("_da"),
        F.max("_dimsb").alias("_db"),
        F.sum(diff * diff).alias("_l2num"),
        F.sum(F.col("_sa") * F.col("_sb")).alias("_dot"),
        F.sum(F.col("_sa") * F.col("_sa")).alias("_na2"),
        F.sum(F.col("_sb") * F.col("_sb")).alias("_nb2"),
    )
    checked_dims = F.when(
        F.col("_da") != F.col("_db"),
        F.raise_error(
            F.lit(
                "embedding_drift: the two snapshots carry different "
                "embedding dimensionalities — a silent dim join would "
                "understate the drift; re-embed one side first"
            )
        ),
    ).otherwise(F.col("_da"))
    scale = float(QUANT_SCALE)
    l2 = F.sqrt(F.col("_l2num").cast("double")) / (
        F.col("n_a").cast("double") * F.col("n_b") * F.lit(scale)
    )
    cos = F.when(
        (F.col("_na2") > 0) & (F.col("_nb2") > 0),
        F.col("_dot").cast("double")
        / (F.sqrt(F.col("_na2").cast("double")) * F.sqrt(F.col("_nb2").cast("double"))),
    )
    return folded.select(
        *gkeys,
        "n_a",
        "n_b",
        checked_dims.alias("dims"),
        F.round(l2, 6).alias("centroid_l2"),
        F.round(cos, 6).alias("centroid_cos"),
    )
