"""Round-16 gates, permanently staged (``gates.STAGED``,
COVERAGE.md §staged-tier): oracle-paired and run against their DuckDB
twins by ``tests/test_gates.py`` and ``tools/check.py --staged``, but
never registered with the driver.

- ``embedding_drift`` — exact centroid drift (L2 + cosine) between two
  embedding snapshots per label slice (similarity.embedding_drift,
  pre-built r12 with Hypothesis fuzz + python-reference tests).
- ``zipf_head_fit`` — per-language OLS Zipf fit over the top-k
  vocabulary head (text.zipf_head_fit): slope/intercept/r2, the corpus
  health read (natural text sits near slope −1).
- ``bigram_cond_entropy`` — exact conditional next-token entropy
  H(next|prev) per language (text.bigram_cond_entropy): the model-free
  templatedness/predictability signal a quality gate reads.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — this tier is the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import similarity, text
from database_collector_spark.workloads import _t

# ------------------------------------------------------- embedding_drift

_DRIFT_DIM = 64  # structural constant of the fixture embeddings


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid drift between the even- and odd-vec_id halves of the
    embeddings table, per label — a deterministic stand-in for two
    crawl snapshots of the same source mix. Exact DECIMAL(38,0) core
    over the engine's 2^20 quantization; one float sqrt/division per
    output cell (similarity.embedding_drift)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.embedding_drift(a, b, group_col="label").orderBy("label")


SQL_EMBEDDING_DRIFT = f"""
WITH q AS (
  SELECT label, vec_id % 2 AS side,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL
),
dims AS (
  SELECT label, side, qe,
         unnest(generate_series(1, {_DRIFT_DIM})) AS d
  FROM q
),
sums AS (
  SELECT label, side, d, SUM(qe[d]) AS s
  FROM dims GROUP BY label, side, d
),
counts AS (
  SELECT label, side, COUNT(*)::BIGINT AS n, MAX(len(qe))::BIGINT AS dims
  FROM q GROUP BY label, side
),
both_sides AS (
  SELECT a.label,
         ca.n AS n_a, cb.n AS n_b, ca.dims AS dims,
         a.s AS sa, b.s AS sb
  FROM sums a
  JOIN sums b ON b.label = a.label AND b.d = a.d AND b.side = 1
  JOIN counts ca ON ca.label = a.label AND ca.side = 0
  JOIN counts cb ON cb.label = a.label AND cb.side = 1
  WHERE a.side = 0
),
folded AS (
  SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b, MAX(dims) AS dims,
         SUM((sa * n_b - sb * n_a) * (sa * n_b - sb * n_a)) AS l2num,
         SUM(sa * sb) AS dot,
         SUM(sa * sa) AS na2,
         SUM(sb * sb) AS nb2
  FROM both_sides GROUP BY label
)
SELECT label,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(dims AS BIGINT) AS dims,
       round(sqrt(CAST(l2num AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1048576.0), 6)
         AS centroid_l2,
       CASE WHEN na2 > 0 AND nb2 > 0 THEN
         round(CAST(dot AS DOUBLE)
               / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)
       END AS centroid_cos
FROM folded ORDER BY label
"""


# -------------------------------------------------------- zipf_head_fit

_ZIPF_K = 100


def q_zipf_head_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit over each language's top-100 vocabulary terms
    (text.zipf_head_fit): slope/intercept/r2 on (log10 rank, log10
    count), rank ties broken (count DESC, token ASC). Rank-limit
    pushdown keeps the vocabulary window k-bounded per task."""
    return text.zipf_head_fit(
        _t(spark, sf_dir, "documents"), k=_ZIPF_K, group_col="lang"
    ).orderBy("lang")


SQL_ZIPF_HEAD_FIT = f"""
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS t
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
),
vocab AS (
  SELECT lang, t, COUNT(*)::BIGINT AS c FROM tok GROUP BY lang, t
),
ranked AS (
  SELECT lang, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, t ASC) AS r
  FROM vocab
),
head AS (
  SELECT lang, c,
         log10(CAST(r AS DOUBLE)) AS x, log10(CAST(c AS DOUBLE)) AS y
  FROM ranked WHERE r <= {_ZIPF_K}
),
s AS (
  SELECT lang, COUNT(*)::BIGINT AS n_terms,
         MIN(c)::BIGINT AS c_min, MAX(c)::BIGINT AS c_max,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM head GROUP BY lang
)
-- NULL-ness guards on EXACT operands, mirroring the operator: fittable
-- iff n_terms >= 2, y-variance nonzero iff the integer counts differ
SELECT lang, n_terms,
       CASE WHEN n_terms >= 2 THEN
         round((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx), 6)
       END AS slope,
       CASE WHEN n_terms >= 2 THEN
         round((sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)) * sx)
               / n_terms, 6)
       END AS intercept,
       -- r2 clamped to [0, 1] in lockstep with the operator (r13
       -- ADVICE): DuckDB division by zero yields NULL natively, the
       -- Spark side uses try_divide — and BOTH engines' greatest()
       -- skips NULLs (probed), so a zero denominator lands on 0.0
       -- symmetrically; negatives clamp to 0.0, overflow-Inf to 1.0
       CASE WHEN n_terms >= 2 AND c_min < c_max THEN
         round(least(greatest(
               (n_terms * sxy - sx * sy) * (n_terms * sxy - sx * sy)
               / ((n_terms * sxx - sx * sx) * (n_terms * syy - sy * sy)),
               0.0), 1.0), 6)
       END AS r2
FROM s ORDER BY lang
"""


# --------------------------------------------------- bigram_cond_entropy

def q_bigram_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact conditional next-token entropy H(next|prev) per language
    over adjacent word bigrams (text.bigram_cond_entropy): every ln is
    over an exact integer count; one division per group, round 4."""
    return text.bigram_cond_entropy(
        _t(spark, sf_dir, "documents"), group_col="lang"
    ).orderBy("lang")


SQL_BIGRAM_COND_ENTROPY = """
WITH toks AS (
  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
),
pos AS (
  SELECT lang, w, unnest(generate_series(1, len(w) - 1)) AS i
  FROM toks WHERE len(w) >= 2
),
pairs AS (SELECT lang, w[i] AS p, w[i + 1] AS n FROM pos),
c2 AS (SELECT lang, p, n, COUNT(*)::BIGINT AS c FROM pairs GROUP BY lang, p, n),
a2 AS (
  SELECT lang, COUNT(*)::BIGINT AS n_pairs, SUM(c)::BIGINT AS total_bigrams,
         SUM(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS t2
  FROM c2 GROUP BY lang
),
c1 AS (SELECT lang, p, SUM(c)::BIGINT AS cp FROM c2 GROUP BY lang, p),
a1 AS (
  SELECT lang, COUNT(*)::BIGINT AS n_prev,
         SUM(CAST(cp AS DOUBLE) * ln(CAST(cp AS DOUBLE))) AS t1
  FROM c1 GROUP BY lang
)
SELECT a2.lang, n_prev, n_pairs, total_bigrams,
       round((t1 - t2) / CAST(total_bigrams AS DOUBLE), 4) AS cond_entropy
FROM a2 JOIN a1 ON a1.lang = a2.lang
ORDER BY a2.lang
"""


QUERIES = {
    "embedding_drift": q_embedding_drift,
    "zipf_head_fit": q_zipf_head_fit,
    "bigram_cond_entropy": q_bigram_cond_entropy,
}

ORACLES = {
    "embedding_drift": SQL_EMBEDDING_DRIFT,
    "zipf_head_fit": SQL_ZIPF_HEAD_FIT,
    "bigram_cond_entropy": SQL_BIGRAM_COND_ENTROPY,
}
