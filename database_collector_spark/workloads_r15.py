"""Round-15 gates: ``agreement_alpha``, ``token_gini`` and ``pack_chunks``
are registered; ``vocab_overlap`` is permanently staged
(``gates.STAGED``, COVERAGE.md §staged-tier). ``tests/test_gates.py``
runs all four against their DuckDB twins.

- ``pack_chunks`` — boundary-splitting GPT-style sequence packing over
  the documents corpus (curation.pack_segments): the exact per-chunk
  within-document segments, every chunk full except each stream's last.
- ``agreement_alpha`` — Krippendorff's alpha over a three-rater panel
  WITH genuine missingness (two raters abstain on deterministic
  subsets), the statistic fleiss_kappa's fixed-panel precondition
  cannot produce (ranking.krippendorff_alpha).
- ``token_gini`` — exact Gini of per-document token counts per source
  (ranking.gini_by_group): the contribution-inequality governance read.
- ``vocab_overlap`` — pairwise vocabulary Jaccard/containment between
  languages, explicit zero rows (text.vocab_overlap_matrix).

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — this tier is the beyond-reference
LLM-pipeline surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark import curation
from database_collector_spark.operators import ranking, text
from database_collector_spark.workloads import _t

# ------------------------------------------------------------ pack_chunks

_PACK_BUDGET = 256


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing of the documents corpus per
    language stream (curation.pack_segments, budget 256 whitespace
    tokens): one row per (document x chunk) overlap with the exact
    within-document token slice — chunk boundaries derived per row from
    the cumulative stream offset, documents straddle freely, every
    chunk except each stream's last is exactly full. All-integer, so
    the hash pins layout determinism itself."""
    return curation.pack_segments(
        _t(spark, sf_dir, "documents"),
        budget_tokens=_PACK_BUDGET,
        stream_col="lang",
        order_col="doc_id",
    ).orderBy("lang", "doc_id", "chunk_id")


SQL_PACK_CHUNKS = f"""
WITH base AS (
  SELECT lang, doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS n
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id IS NOT NULL
),
placed AS (
  -- SUM() OVER promotes to HUGEINT in DuckDB; pin BIGINT so the //
  -- results feed generate_series (BIGINT-only) and the final columns
  -- stay Arrow-portable
  SELECT lang, doc_id, n,
         CAST(SUM(n) OVER (PARTITION BY lang ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
  FROM base WHERE n > 0
),
seg AS (
  SELECT lang, doc_id, n, e, e - n AS s,
         unnest(generate_series((e - n) // {_PACK_BUDGET},
                                (e - 1) // {_PACK_BUDGET})) AS chunk_id
  FROM placed
)
SELECT lang, doc_id, n AS n_tokens, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(GREATEST(chunk_id * {_PACK_BUDGET} - s, 0) AS BIGINT) AS tok_from,
       CAST(LEAST((chunk_id + 1) * {_PACK_BUDGET} - s, n) AS BIGINT) AS tok_to
FROM seg ORDER BY lang, doc_id, chunk_id
"""


# -------------------------------------------------------- agreement_alpha

# three deterministic raters with GENUINE missingness: the length rater
# votes on every text-bearing doc, the word-count rater abstains on
# docs shorter than 80 chars, the '-the-' rater abstains on odd doc_ids
_AA_LEN = 200
_AA_TOK = 40
_AA_ABSTAIN_LEN = 80


def q_agreement_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha over a three-rater keep/drop panel with
    real missing votes — rater 2 abstains on short documents, rater 3
    on odd doc ids — so items carry 1..3 votes and only the pairable
    ones enter (ranking.krippendorff_alpha: the m-grouped exact fold;
    fleiss_kappa would RAISE on this panel, which is exactly why alpha
    exists). ONE corpus scan: the three votes explode from an in-row
    array with abstentions as NULLs filtered after the explode."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    keep = lambda v: F.when(v, F.lit("keep")).otherwise(F.lit("drop"))  # noqa: E731
    v1 = keep(F.length("text") >= _AA_LEN)
    v2 = F.when(
        F.length("text") >= _AA_ABSTAIN_LEN,
        keep(F.size(text.nonempty_tokens_col("text")) >= _AA_TOK),
    )
    v3 = F.when(
        F.col("doc_id") % 2 == 0, keep(F.col("text").contains(" the "))
    )
    votes = docs.select(
        F.col("doc_id").alias("item_id"),
        F.explode(F.array(v1, v2, v3)).alias("category"),
    ).where(F.col("category").isNotNull())
    return ranking.krippendorff_alpha(votes)


SQL_AGREEMENT_ALPHA = f"""
WITH votes AS (
  SELECT doc_id AS item_id,
         CASE WHEN length(text) >= {_AA_LEN} THEN 'keep' ELSE 'drop' END
           AS category
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id,
         CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> ''))
                   >= {_AA_TOK} THEN 'keep' ELSE 'drop' END
  FROM documents WHERE text IS NOT NULL AND length(text) >= {_AA_ABSTAIN_LEN}
  UNION ALL
  SELECT doc_id,
         CASE WHEN position(' the ' IN text) > 0 THEN 'keep' ELSE 'drop' END
  FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0
),
nij AS (
  SELECT item_id, category, COUNT(*) AS c FROM votes GROUP BY 1, 2
),
per_item AS (
  SELECT item_id, SUM(c) AS mi, SUM(c * c) AS si FROM nij GROUP BY 1
),
pairable AS (SELECT * FROM per_item WHERE mi >= 2),
per_m AS (
  SELECT mi, SUM(mi * mi - si) AS tm FROM pairable GROUP BY mi
),
suma AS (
  SELECT SUM(CAST(tm AS DOUBLE) / CAST(mi - 1 AS DOUBLE)) AS sum_a FROM per_m
),
items AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items, CAST(SUM(mi) AS BIGINT)
           AS n_values
  FROM pairable
),
cats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats, SUM(tj * tj) AS b
  FROM (
    SELECT n.category, SUM(n.c) AS tj
    FROM nij n JOIN pairable p ON p.item_id = n.item_id
    GROUP BY n.category
  )
)
SELECT n_items, n_values, n_cats,
       CASE WHEN n_values >= 2 AND n_values * n_values - b <> 0 THEN
         round(1.0::DOUBLE - (CAST(n_values - 1 AS DOUBLE) * sum_a)
               / CAST(n_values * n_values - b AS DOUBLE), 6) END AS alpha
FROM items, suma, cats
"""


# ------------------------------------------------------------- token_gini


def q_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini of per-document whitespace-token counts per source
    (ranking.gini_by_group — value-domain compression + ONE fused
    prefix pass over one checkpointed table): which sources' token
    supply is
    dominated by a few long documents, the governance number a
    sampling-budget review reads next to key_skew_profile."""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counted = docs.select(
        "source", F.size(text.nonempty_tokens_col("text")).alias("n_tok")
    )
    return ranking.gini_by_group(
        counted, "n_tok", group_col="source"
    ).orderBy("source")


SQL_TOKEN_GINI = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
per_v AS (
  SELECT source, v, COUNT(*) AS cnt, v * COUNT(*) AS w
  FROM counted GROUP BY 1, 2
),
below AS (
  SELECT source, v, cnt, w,
         COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bc,
         COALESCE(SUM(w) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bs
  FROM per_v
)
SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
       -- DECIMAL(38,0) matches the operator's overflow-proof total
       -- (both engines then canonicalize the column identically)
       CAST(SUM(w) AS DECIMAL(38,0)) AS total,
       -- exact half-up quantization at 6 decimals in HUGEINT integer
       -- arithmetic, mirroring the operator's DECIMAL(38,0) `div` —
       -- round(double, 6) diverges between the engines on reachable
       -- decimal midpoints (gini is a ratio of exact integers)
       CASE WHEN SUM(w) > 0 THEN
         CAST((2000000 * SUM(cnt * (v * bc - bs)) + SUM(cnt) * SUM(w))
              // (2 * SUM(cnt) * SUM(w)) AS DOUBLE) / 1000000.0 END AS gini
FROM below GROUP BY source ORDER BY source
"""


# ----------------------------------------------------------- vocab_overlap


def q_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard + small-side containment between
    languages, full matrix with explicit zero rows
    (text.vocab_overlap_matrix): the lexical-redundancy first signal —
    the distinct (lang, token) aggregate is the TF-IDF df shuffle, the
    self-join output is bounded by Σ deg(token)² with deg <= |langs|."""
    return text.vocab_overlap_matrix(
        _t(spark, sf_dir, "documents"), group_col="lang"
    ).orderBy("g_a", "g_b")


SQL_VOCAB_OVERLAP = """
WITH toks AS (
  SELECT lang AS g, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
voc AS (SELECT DISTINCT g, tok FROM toks WHERE tok <> ''),
sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS sz FROM voc GROUP BY 1),
inter AS (
  SELECT a.g AS g_a, b.g AS g_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM voc a JOIN voc b ON a.tok = b.tok AND a.g < b.g
  GROUP BY 1, 2
),
pairs AS (
  SELECT sa.g AS g_a, sb.g AS g_b, sa.sz AS vocab_a, sb.sz AS vocab_b,
         COALESCE(i.inter, 0) AS inter
  FROM sizes sa CROSS JOIN sizes sb
  LEFT JOIN inter i ON i.g_a = sa.g AND i.g_b = sb.g
  WHERE sa.g < sb.g
)
SELECT g_a, g_b, vocab_a, vocab_b, inter,
       round(CAST(inter AS DOUBLE) / (vocab_a + vocab_b - inter), 6)
         AS jaccard,
       round(CAST(inter AS DOUBLE) / LEAST(vocab_a, vocab_b), 6)
         AS containment
FROM pairs ORDER BY g_a, g_b
"""


QUERIES = {
    "agreement_alpha": q_agreement_alpha,
    "token_gini": q_token_gini,
    "pack_chunks": q_pack_chunks,
    "vocab_overlap": q_vocab_overlap,
}

ORACLES = {
    "agreement_alpha": SQL_AGREEMENT_ALPHA,
    "token_gini": SQL_TOKEN_GINI,
    "pack_chunks": SQL_PACK_CHUNKS,
    "vocab_overlap": SQL_VOCAB_OVERLAP,
}
