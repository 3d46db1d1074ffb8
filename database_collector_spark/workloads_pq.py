"""Product-quantization (PQ) ANN workloads — the compressed-vector scale
path completing the similarity tier (brute-force -> LSH buckets -> IVF ->
PQ/ADC). Public technique: Jegou et al., "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011).

Why PQ matters at 100 TB: an IVF cell still stores full vectors; PQ
stores m small codes per vector (here 4 codes for a 64-dim vector), so
the search structure shrinks ~100x and ADC search scans codes + a
broadcast codebook instead of vectors. Training reuses the deterministic
integer Lloyd's contract of ann_ivf_kmeans (operators/similarity.py) per
subspace, so the whole train -> encode -> search pipeline is
bit-identical across engines and the DuckDB oracle can replay it with
unrolled CTE chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import similarity
from database_collector_spark.workloads import _t
from database_collector_spark.workloads_ext import _SQL_QUANT

PQ_M = 4  # subspaces
PQ_K = 4  # codes per subspace
PQ_ITERS = 2
DIM = similarity.EMBED_DIM
SUB = DIM // PQ_M


def _fit(spark: SparkSession, sf_dir: str):
    # r16 bench-integrity: the former _BOOKS_CACHE (train once per
    # corpus, reuse across the codes/ADC gates AND across the bench's
    # min-of-2 runs) was a module-level memo keyed on the testdata path
    # — the exact cross-query result-reuse shape the optimization-round
    # rules ban (the r15 classifier memo class). Every gate invocation
    # now trains from the parquet inputs; the honest cost is kept low
    # by the lockstep trainer (1 seed + iters driver jobs instead of
    # m·(1 + iters)) and by reusing its checkpointed quantized frame
    # for the encode/query steps.
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.pq_fit_quantized(
        similarity.with_quantized(emb).select("vec_id", "qe"),
        m=PQ_M, k=PQ_K, iters=PQ_ITERS, dim=DIM,
    )


def q_ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train PQ codebooks + encode the corpus; gate output = the code
    histogram per subspace with a member checksum — any divergence in
    any subspace's training or any vector's nearest-code election moves
    at least one row."""
    quant, books = _fit(spark, sf_dir)
    enc = similarity.pq_encode_quantized(quant, books)
    return (
        enc.select("vec_id", F.posexplode("codes").alias("subspace", "code"))
        .groupBy("subspace", "code")
        .agg(F.count("*").alias("n"), F.sum("vec_id").alias("vec_checksum"))
    )


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-3 search over the PQ codes for query vectors vec_id < 5:
    integer-exact asymmetric distances (query subvectors vs the
    centroids its codes name), per-query window rank with vec_id
    tie-break."""
    quant, books = _fit(spark, sf_dir)
    enc = similarity.pq_encode_quantized(quant, books)
    queries = quant.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("qe").alias("q_qe")
    )
    return similarity.pq_adc_topk(enc, queries, books, topk=3)


def _sql_pq_ctes(
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    src: str = "qe",
    standalone: bool = True,
) -> str:
    """Per-subspace deterministic Lloyd chains (the ann_ivf_kmeans CTE
    pattern, prefixed p{j}_) ending in codes(vec_id, c0..c{m-1}) and the
    final codebooks p{j}_c{iters}(cid, c). ``src`` names the
    (vec_id, qe) CTE the subspaces slice (the IVF-PQ gate points it at
    the residual table); ``standalone=False`` emits only the CTE body so
    a caller can append it to an existing WITH chain."""
    # slice width derives from THIS call's m (as pq_train_quantized's
    # dim // m does) — using the module constant would silently train on
    # a prefix of the vector for any m != PQ_M
    sub = DIM // m
    parts = [f"sidx AS (SELECT unnest(generate_series(1, {sub})) AS i)"]
    dist = (
        "list_dot_product(q.sq, q.sq) - 2 * list_dot_product(q.sq, c.c)"
        " + list_dot_product(c.c, c.c)"
    )
    for j in range(m):
        p = f"p{j}_"
        lo, hi = j * sub + 1, (j + 1) * sub

        def assign(name: str, cent: str, p: str = p) -> str:
            return f"""{name} AS (
  SELECT vec_id, sq, cid FROM (
    SELECT q.vec_id, q.sq, c.cid,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM {p}qe q CROSS JOIN {cent} c) WHERE rn = 1
)"""

        parts.append(
            f"""{p}qe AS (
  SELECT vec_id, list_slice(qe, {lo}, {hi}) AS sq FROM {src}
)"""
        )
        parts.append(
            f"""{p}c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, sq AS c
  FROM (SELECT vec_id, sq FROM {p}qe ORDER BY vec_id LIMIT {k})
)"""
        )
        for it in range(iters):
            parts.append(assign(f"{p}a{it}", f"{p}c{it}"))
            parts.append(
                f"""{p}s{it} AS (
  SELECT cid, i AS pos,
         CAST(ROUND(CAST(SUM(sq[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS comp
  FROM {p}a{it}, sidx GROUP BY cid, i
)"""
            )
            parts.append(
                f"""{p}c{it + 1} AS (
  SELECT cid, list(comp ORDER BY pos) AS c FROM {p}s{it} GROUP BY cid
  UNION ALL
  SELECT cid, c FROM {p}c{it} WHERE cid NOT IN (SELECT cid FROM {p}s{it})
)"""
            )
        parts.append(assign(f"{p}af", f"{p}c{iters}"))
    code_cols = ", ".join(f"a{j}.cid AS c{j}" for j in range(m))
    code_joins = " ".join(
        f"JOIN p{j}_af a{j} ON a{j}.vec_id = a0.vec_id" for j in range(1, m)
    )
    parts.append(
        f"""codes AS (
  SELECT a0.vec_id, {code_cols} FROM p0_af a0 {code_joins}
)"""
    )
    body = ",\n".join(parts)
    if not standalone:
        return body
    return f"""
WITH {_SQL_QUANT},
{body}"""


def _sql_pq_codes() -> str:
    unions = "\n  UNION ALL ".join(
        f"SELECT vec_id, {j} AS j, c{j} AS code FROM codes" for j in range(PQ_M)
    )
    return f"""{_sql_pq_ctes()}
SELECT CAST(j AS INT) AS subspace, CAST(code AS INT) AS code,
       COUNT(*) AS n, CAST(SUM(vec_id) AS BIGINT) AS vec_checksum
FROM ({unions})
GROUP BY 1, 2
"""


def _sql_pq_adc() -> str:
    terms = " + ".join(
        f"(list_dot_product(list_slice(q.q_qe, {j * SUB + 1}, {(j + 1) * SUB}),"
        f" list_slice(q.q_qe, {j * SUB + 1}, {(j + 1) * SUB}))"
        f" - 2 * list_dot_product(list_slice(q.q_qe, {j * SUB + 1}, {(j + 1) * SUB}), b{j}.c)"
        f" + list_dot_product(b{j}.c, b{j}.c))"
        for j in range(PQ_M)
    )
    book_joins = " ".join(
        f"JOIN p{j}_c{PQ_ITERS} b{j} ON b{j}.cid = x.c{j}" for j in range(PQ_M)
    )
    return f"""{_sql_pq_ctes()},
queries AS (SELECT vec_id AS q_id, qe AS q_qe FROM qe WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, x.vec_id, CAST({terms} AS BIGINT) AS adc_dist
  FROM codes x {book_joins} CROSS JOIN queries q
)
SELECT q_id, rank, vec_id, adc_dist FROM (
  SELECT q_id, vec_id, adc_dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS INT) AS rank
  FROM scored) t
WHERE rank <= 3
"""


def _sq8_stats(spark: SparkSession, sf_dir: str) -> list[tuple[int, int]]:
    # r16 bench-integrity: cache removed (see _books) — the per-dim
    # min/max grid is one bounded aggregate, recomputed per invocation
    return similarity.sq8_stats(_t(spark, sf_dir, "embeddings"))


def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 two-stage search for query vectors vec_id < 5: per-dimension
    min/max grid compresses every vector to 64 one-byte codes (NO
    codebook training — the cheap rung between full vectors and PQ),
    stage 1 scans codes with the symmetric integer distance, stage 2
    reranks the 10 survivors per query with the exact quantized L2.
    Integer floor-div encoding, so DuckDB replays it bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    stats = _sq8_stats(spark, sf_dir)
    enc = similarity.sq8_encode(emb, stats).join(
        similarity.with_quantized(emb).select("vec_id", "qe"), "vec_id"
    )
    # queries are a filtered alias of the SAME encoded frame — one
    # encode/quantize in the plan, not two
    queries = enc.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("codes").alias("q_codes"),
        F.col("qe").alias("q_qe"),
    )
    return similarity.sq8_topk(enc, queries, topk=3, rerank=10)


def _sql_sq8_topk() -> str:
    return f"""
WITH {_SQL_QUANT},
sidx AS (SELECT unnest(generate_series(1, {DIM})) AS i),
stats AS (
  SELECT i, MIN(qe[i]) AS mn, MAX(qe[i]) AS mx FROM qe, sidx GROUP BY i
),
codes AS (
  SELECT vec_id,
         list(CASE WHEN s.mx = s.mn THEN 0
                   ELSE (qe[s.i] - s.mn) * 255 // (s.mx - s.mn) END
              ORDER BY s.i) AS codes
  FROM qe, stats s GROUP BY vec_id
),
queries AS (
  SELECT c.vec_id AS q_id, c.codes AS q_codes, q.qe AS q_qe
  FROM codes c JOIN qe q USING (vec_id) WHERE c.vec_id < 5
),
approx AS (
  SELECT q.q_id, c.vec_id,
         (SELECT SUM((c.codes[i] - q.q_codes[i]) * (c.codes[i] - q.q_codes[i]))
          FROM sidx) AS sq8_dist
  FROM codes c CROSS JOIN queries q
),
cand AS (
  SELECT q_id, vec_id, sq8_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sq8_dist, vec_id) AS crank
  FROM approx
),
rer AS (
  SELECT c.q_id, c.vec_id, c.sq8_dist,
         (SELECT SUM((e.qe[i] - q.q_qe[i]) * (e.qe[i] - q.q_qe[i]))
          FROM sidx) AS exact_dist
  FROM cand c
  JOIN qe e ON e.vec_id = c.vec_id
  JOIN queries q ON q.q_id = c.q_id
  WHERE c.crank <= 10
)
SELECT q_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY exact_dist, vec_id) AS INT) AS rank,
       vec_id, CAST(sq8_dist AS BIGINT) AS sq8_dist,
       CAST(exact_dist AS BIGINT) AS exact_dist
FROM rer
QUALIFY rank <= 3
"""


QUERIES = {
    "ann_pq_codes": q_ann_pq_codes,
    "ann_pq_adc": q_ann_pq_adc,
    "ann_sq8_topk": q_ann_sq8_topk,
}

ORACLES = {
    "ann_pq_codes": _sql_pq_codes(),
    "ann_pq_adc": _sql_pq_adc(),
    "ann_sq8_topk": _sql_sq8_topk(),
}
