"""Extension workloads: the large-scale training-data operators (dedup,
similarity search, text analysis, multimodal) as driver-gate entries.

Same determinism conventions as workloads.py; hashing is md5 hex (string
MIN is binary-collation in both engines), dot products accumulate in
DECIMAL(38,12), ratios are integer rationals divided in double and rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import (
    dedup,
    entity,
    multimodal,
    similarity,
    text,
)
from database_collector_spark.workloads import _t

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------

# distinct word-3-gram shingles per document (mirrors operators.dedup.shingles)


# Oracle-side positions derive from each document's OWN token count
# (r11 VERDICT: the earlier fixed 2000-position cross-join silently
# truncated shingle sets for any doc longer than the bound while the
# Spark side stayed complete — latent until a fixture regeneration grew
# longer docs; the per-row generate_series matches the Spark semantics
# at any document length, and generate_series(1, n) is empty for n < 1
# so short docs contribute no shingles on either engine).


def _sql_shingles(table: str = "documents") -> str:
    return f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {table}),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks)
)
"""


_SQL_SHINGLES = _sql_shingles()


def sql_minhash_lsh_ctes(table: str = "documents") -> str:
    """The MinHash-LSH pipeline as a CTE chain ending in ``pairs`` —
    parameterized by source table so composed oracles (e.g. the full
    curation DAG) can run it over an intermediate CTE."""
    return f"""{_sql_shingles(table)},
sigs AS (
  SELECT doc_id, seed, MIN(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS minhash
  FROM sh, (SELECT unnest(generate_series(0, 15)) AS seed) s
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, CAST(floor(seed / 4) AS INT) AS band,
         md5(string_agg(minhash, '|' ORDER BY seed)) AS band_val
  FROM sigs GROUP BY doc_id, CAST(floor(seed / 4) AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
),
shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS shared
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
pairs AS (
  SELECT doc_a, doc_b,
         round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) AS jaccard
  FROM shared
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) >= 0.8
)"""

_SQL_EMB_IDX = "idx AS (SELECT unnest(generate_series(1, 64)) AS i)"

# quantized vectors + exact integer norms (mirrors operators.similarity)
_SQL_QUANT = """
qe AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
),
idx AS (SELECT unnest(generate_series(1, 64)) AS i),
norms AS (
  SELECT q.vec_id, SUM(q.qe[i] * q.qe[i]) AS n2 FROM qe q, idx GROUP BY q.vec_id
)
"""


def _stopword_values() -> str:
    rows = [
        f"('{lang}', '{w}')"
        for lang, words in text.LANG_STOPWORDS.items()
        for w in words
    ]
    return ", ".join(rows)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (whitespace tokenizer; SURVEY
    extension surface — text analysis)."""
    return text.token_stats(_t(spark, sf_dir, "documents"))


SQL_TEXT_TOKEN_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars,
       round(CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')), 4) AS type_token_ratio,
       round(CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE) / len(string_split(text,' ')), 4) AS avg_token_len
FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID with deterministic tie-break."""
    return text.lang_id(_t(spark, sf_dir, "documents"))


SQL_LANG_ID = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
sw(lang_cand, stopword) AS (VALUES {_stopword_values()}),
votes AS (
  SELECT doc_id, lang_cand, COUNT(*) AS votes FROM toks JOIN sw ON tok = stopword
  GROUP BY 1, 2
),
best AS (
  SELECT doc_id, lang_cand, votes,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY votes DESC, lang_cand ASC) AS rn
  FROM votes
)
SELECT d.doc_id,
       COALESCE(b.lang_cand, 'unknown') AS pred_lang,
       CAST(COALESCE(b.votes, 0) AS BIGINT) AS votes,
       d.lang AS actual_lang
FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-saturation + stopword-ratio quality heuristic."""
    return text.quality_score(_t(spark, sf_dir, "documents"))


def _sql_quality() -> str:
    all_stops = sorted({w for ws in text.LANG_STOPWORDS.values() for w in ws})
    lst = ", ".join(f"'{w}'" for w in all_stops)
    return f"""
WITH base AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_filter(string_split(text, ' '), x -> list_contains([{lst}], x))) AS n_stopwords
  FROM documents
)
SELECT doc_id, n_tokens, n_stopwords,
       round(CAST(n_stopwords AS DOUBLE) / n_tokens, 4) AS stopword_ratio,
       round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.5 * (CAST(n_stopwords AS DOUBLE) / n_tokens), 4) AS quality_score
FROM base
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Shannon character entropy + exact integer companions
    (operators/text.py::char_entropy) — the compressibility quality
    signal. n_chars / n_distinct / collision_mass are engine-exact
    integers; entropy's inputs are those same integers, so the rounded
    float agrees across engines (exact-intermediates convention)."""
    return text.char_entropy(_t(spark, sf_dir, "documents"))


SQL_CHAR_ENTROPY = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
cnt AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2
),
agg AS (
  SELECT doc_id, SUM(c) AS n, COUNT(*) AS nd,
         SUM(c * c) AS cm, SUM(c * log2(c)) AS slc
  FROM cnt GROUP BY 1
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, CAST(nd AS INT) AS n_distinct,
       CAST(cm AS BIGINT) AS collision_mass,
       ROUND(log2(n) - slc / n, 4) AS entropy
FROM agg WHERE n > 0
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (rolling char-8-gram hash, window-4 min)."""
    return text.fingerprint(_t(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINT = """
WITH g AS (
  SELECT doc_id, i AS pos, md5(substring(text, i, 8)) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, length(text) - 7)) AS i
        FROM documents)
),
sel AS (
  SELECT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM g
)
SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints, MIN(fp) AS min_fingerprint
FROM sel GROUP BY doc_id
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top / duplicate bigram fractions.

    Spark side is a zero-shuffle run-length fold over sorted per-row gram
    arrays (operators/text.py:repetition_stats); the oracle is the
    classic exploded groupBy formulation — semantics identical, plan
    deliberately different.
    """
    return text.repetition_stats(_t(spark, sf_dir, "documents"))


SQL_REPETITION_STATS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         CAST(MAX(c) AS BIGINT) AS top_gram_n,
         CAST(SUM(c) - COUNT(*) AS BIGINT) AS dup_gram_n
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_grams, top_gram_n, dup_gram_n,
       ROUND(CAST(top_gram_n AS DOUBLE) / n_grams, 4) AS top_gram_frac,
       ROUND(CAST(dup_gram_n AS DOUBLE) / n_grams, 4) AS dup_gram_frac
FROM agg
"""


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; keep-first canonical policy."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands) candidates, exact-Jaccard verified >= 0.8."""
    return dedup.minhash_lsh_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_MINHASH_LSH = f"""
WITH {sql_minhash_lsh_ctes()}
SELECT doc_a, doc_b, jaccard FROM pairs
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch-vs-corpus near-dup (the nightly-ingest shape): docs with
    doc_id % 7 == 0 play the incoming batch, the rest the existing lake.
    Candidates form ONLY across the two sides (no corpus x corpus
    re-dedup); oracle = the full symmetric pair set filtered to
    cross-side pairs, which is the same set because band collision is
    symmetric."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return dedup.incremental_minhash_pairs(new, corpus)


SQL_DEDUP_INCREMENTAL = f"""
WITH {sql_minhash_lsh_ctes()}
SELECT CASE WHEN doc_a % 7 = 0 THEN doc_a ELSE doc_b END AS new_doc,
       CASE WHEN doc_a % 7 = 0 THEN doc_b ELSE doc_a END AS corpus_doc,
       jaccard
FROM pairs
WHERE (doc_a % 7 = 0) <> (doc_b % 7 = 0)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 13 == 0 play the
    held-out evaluation set; every other doc sharing a distinct token
    4-gram with it is flagged with its overlap count. (4-grams keep the
    gate non-degenerate on the synthetic shared-vocabulary corpus; real
    decontamination uses ~13-grams.)"""
    docs = _t(spark, sf_dir, "documents")
    return dedup.decontaminate(
        docs.filter(F.col("doc_id") % 13 != 0),
        docs.filter(F.col("doc_id") % 13 == 0),
        n=4,
    )


SQL_DECONTAMINATE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh4 AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 3), ' ') AS shingle
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 3)) AS i
        FROM toks)
)
SELECT c.doc_id, COUNT(*) AS n_hit_shingles
FROM (SELECT * FROM sh4 WHERE doc_id % 13 <> 0) c
JOIN (SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 13 = 0) b USING (shingle)
GROUP BY c.doc_id
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-blocked exact n-gram Jaccard pairs >= 0.3, shingle
    document frequency capped at 64 (the scale-safe default; the fixture
    corpus has no shingle above DF 25, so the cap is exercised
    structurally here and semantically by the skewed-fixture pytest)."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), df_max=64)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
kept_sh AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 64) k
    ON k.shingle = sh.shingle
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept_sh a JOIN kept_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) AS jaccard
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(CAST(shared AS DOUBLE) / (na.n + nb.n - shared), 4) >= 0.3
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder containment dedup (operators/dedup.py::containment_pairs):
    c(A→B) = |S_A∩S_B| / |S_A| ≥ 0.9 in either direction — catches a
    short doc swallowed by a long one, which Jaccard's union-dominated
    denominator misses. Same shingle blocking + df_max cap as the
    Jaccard gate; the threshold decision is exact integer
    cross-multiplication."""
    return dedup.containment_pairs(_t(spark, sf_dir, "documents"))


SQL_DEDUP_CONTAINMENT = f"""
WITH {_SQL_SHINGLES},
kept_sh AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) BETWEEN 2 AND 64) k
    ON k.shingle = sh.shingle
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM kept_sh a JOIN kept_sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / na.n, 4) AS cont_a_in_b,
       round(CAST(shared AS DOUBLE) / nb.n, 4) AS cont_b_in_a
FROM shared
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE shared * 10 >= 9 * na.n OR shared * 10 >= 9 * nb.n
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit term-frequency SimHash per document."""
    return dedup.simhash(_t(spark, sf_dir, "documents"))


SQL_DEDUP_SIMHASH = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
h AS (SELECT doc_id, substring(md5(tok), 1, 4) AS hx FROM toks),
bits AS (
  SELECT doc_id, j,
         CASE WHEN CAST(floor(
                (strpos('0123456789abcdef', substring(hx, CAST(floor(j / 4) AS INT) + 1, 1)) - 1)
                / CAST(pow(2, 3 - (j % 4)) AS INT)) AS INT) % 2 = 1
              THEN 1 ELSE -1 END AS c
  FROM h, (SELECT unnest(generate_series(0, 15)) AS j) js
),
s AS (SELECT doc_id, j, SUM(c) AS s FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
"""


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-ball SimHash search: pairs within Hamming <= 2 via
    pigeonhole block bucketing + exact bit_count verify. The oracle is
    the ALL-PAIRS ground truth — pigeonhole blocking is lossless for the
    ball radius, so the bucketed plan must reproduce it exactly."""
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"))


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH sig AS ({SQL_DEDUP_SIMHASH.strip()})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 10."""
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"))


SQL_SIMILARITY_TOPK = f"""
WITH {_SQL_QUANT},
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.qe[i] * c.qe[i]) AS dot
  FROM qe q, qe c, idx
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.q_id, p.c_id,
         CAST(p.dot AS DOUBLE) / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))) AS cos_raw
  FROM p JOIN norms nq ON nq.vec_id = p.q_id JOIN norms nc ON nc.vec_id = p.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, round(cos_raw, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-projection LSH bucket id per vector (the ANN scale path)."""
    return similarity.lsh_buckets(_t(spark, sf_dir, "embeddings"))


def _sql_ann_lsh() -> str:
    planes = similarity.hyperplanes_int()
    values = ", ".join(
        f"({p}, {i + 1}, {w})"
        for p, plane in enumerate(planes)
        for i, w in enumerate(plane)
    )
    return f"""
WITH q0 AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
),
w(plane, i, wv) AS (VALUES {values}),
proj AS (
  SELECT e.vec_id, w.plane, SUM(e.qe[w.i] * w.wv) AS p
  FROM q0 e, w
  GROUP BY 1, 2
)
SELECT pr.vec_id,
       CAST(SUM(CASE WHEN pr.p > 0
                     THEN CAST(pow(2, pr.plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket,
       ANY_VALUE(e.label) AS label
FROM proj pr JOIN embeddings e ON e.vec_id = pr.vec_id
GROUP BY pr.vec_id
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs baseline)."""
    return similarity.embedding_near_dup(_t(spark, sf_dir, "embeddings"))


SQL_DEDUP_EMBEDDING = f"""
WITH {_SQL_QUANT},
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.qe[i] * b.qe[i]) AS dot
  FROM qe a, qe b, idx
  WHERE a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       round(CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
FROM p JOIN norms na ON na.vec_id = p.id_a JOIN norms nb ON nb.vec_id = p.id_b
WHERE round(CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) >= 0.45
"""


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-restricted embedding near-dup (the scale path: tiles form
    only within sign-projection LSH buckets; join keyed on bucket).
    n_planes=2 at fixture scale so the bucketing keeps a non-trivial
    share of the corpus's moderate-cosine pairs (see
    similarity.embedding_near_dup_lsh recall notes)."""
    return similarity.embedding_near_dup_lsh(
        _t(spark, sf_dir, "embeddings"), n_planes=2
    )


def _sql_dedup_embedding_lsh(n_planes: int = 2) -> str:
    # single-table case of the multi-table builder — one SQL definition
    return _sql_dedup_embedding_lsh_multi(n_planes=n_planes, n_tables=1)


def q_dedup_embedding_lsh_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-amplified (4-table) bucket-restricted embedding near-dup:
    recall 10/14 vs the exact pair set at fixture scale (single table:
    4/14), zero false positives."""
    return similarity.embedding_near_dup_lsh_multi(
        _t(spark, sf_dir, "embeddings"), n_planes=2, n_tables=4
    )


def _sql_dedup_embedding_lsh_multi(n_planes: int = 2, n_tables: int = 4) -> str:
    values = ", ".join(
        f"({t}, {p}, {i + 1}, {w})"
        for t in range(n_tables)
        for p, plane in enumerate(
            similarity.hyperplanes_int(n_planes=n_planes, seed=42 + t)
        )
        for i, w in enumerate(plane)
    )
    return f"""
WITH {_SQL_QUANT},
w(tbl, plane, i, wv) AS (VALUES {values}),
proj AS (
  SELECT e.vec_id, w.tbl, w.plane, SUM(e.qe[w.i] * w.wv) AS p
  FROM qe e, w
  GROUP BY 1, 2, 3
),
bkt AS (
  SELECT vec_id, tbl,
         CAST(SUM(CASE WHEN p > 0 THEN CAST(pow(2, plane) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bkt a JOIN bkt b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
p AS (
  SELECT c.id_a, c.id_b, SUM(a.qe[i] * b.qe[i]) AS dot
  FROM cand c JOIN qe a ON a.vec_id = c.id_a JOIN qe b ON b.vec_id = c.id_b, idx
  GROUP BY 1, 2
)
SELECT p.id_a, p.id_b,
       round(CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
FROM p JOIN norms na ON na.vec_id = p.id_a JOIN norms nb ON nb.vec_id = p.id_b
WHERE round(CAST(p.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) >= 0.45
"""


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: documents as opaque payloads -> mapInPandas
    stub feature extraction (size, header byte, checksum)."""
    media = multimodal.to_media(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media)


SQL_MULTIMODAL_FEATURES = """
WITH b AS (
  SELECT doc_id, i, ascii(substring(text, i, 1)) AS byte
  FROM (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
        FROM documents)
)
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_bytes,
       CAST(ascii(substring(d.text, 1, 1)) AS INT) AS header_byte,
       CAST(s.bytesum % 997 AS BIGINT) AS checksum_mod
FROM documents d
JOIN (SELECT doc_id, SUM(byte) AS bytesum FROM b GROUP BY doc_id) s
  ON s.doc_id = d.doc_id
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: synthesize spec-conformant binary P6
    PPMs JVM-side (header + raw RGB raster, dims and channel values in
    closed form of doc_id), then mapInPandas-decode the actual bytes —
    header parse, raster reinterpret, per-channel pixel sums. The oracle
    recomputes the closed form, so any byte-level decode error (header
    offset, stride, channel order, truncation) hash-mismatches."""
    media = multimodal.to_ppm_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_image(media)


SQL_MULTIMODAL_DECODE = """
SELECT doc_id,
       CAST(2 + doc_id % 7 AS INT) AS w,
       CAST(2 + doc_id % 5 AS INT) AS h,
       CAST(((doc_id*7) % 256)     * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_r,
       CAST(((doc_id*7 + 1) % 256) * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_g,
       CAST(((doc_id*7 + 2) % 256) * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_b
FROM documents
"""


def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode end-to-end: synthesize spec-grade
    PNGs (same pixel closed form as ``multimodal_decode``, but the bytes
    genuinely round-trip DEFLATE + PNG scanline filtering + chunk CRCs —
    stdlib zlib is the codec, operators/codecs.py), then decode via the
    magic-dispatched ``decode_image_any``. The oracle recomputes the
    closed form, so any codec error — inflate, unfilter, CRC, stride —
    hash-mismatches. The sniffed codec column doubles as the dispatch
    check (every payload must identify as 'png')."""
    media = multimodal.to_png_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_image_any(media)


SQL_MULTIMODAL_PNG = """
SELECT doc_id,
       'png' AS codec,
       CAST(2 + doc_id % 7 AS INT) AS w,
       CAST(2 + doc_id % 5 AS INT) AS h,
       CAST(((doc_id*7) % 256)     * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_r,
       CAST(((doc_id*7 + 1) % 256) * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_g,
       CAST(((doc_id*7 + 2) % 256) * (2 + doc_id % 7) * (2 + doc_id % 5) AS BIGINT) AS sum_b
FROM documents
"""


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key entity resolution end-to-end (operators/entity.py):
    every customer spawns 2–3 deterministic contact-record variants —
    v0 (name as-is, dashed phone), v1 (UPPERCASE name, bare-digit
    phone), and for odd keys v2 (an unrelated account alias, '+1 '
    international phone). v0↔v1 link by BOTH normalized keys, v2 links
    ONLY through the phone normalizer's country-code strip — so the
    gate exercises name normalization, phone normalization, the
    per-key blocking joins, the OR-union, and transitive closure all
    at once. The oracle states the ground truth in closed form of
    c_custkey: any resolution error (missed link, over-merge, wrong
    canonical id) changes at least one row."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    k = F.col("c_custkey")
    digits = F.lpad(((k * 7919) % 10_000_000_000).cast("string"), 10, "0")
    dashed = F.concat_ws(
        "-",
        F.substring(digits, 1, 3),
        F.substring(digits, 4, 3),
        F.substring(digits, 7, 4),
    )
    v0 = cust.select(
        (k * 4).alias("record_id"), F.col("c_name").alias("name"),
        dashed.alias("phone"),
    )
    v1 = cust.select(
        (k * 4 + 1).alias("record_id"), F.upper("c_name").alias("name"),
        digits.alias("phone"),
    )
    v2 = cust.where(k % 2 == 1).select(
        (k * 4 + 2).alias("record_id"),
        F.concat(F.lit("acct-"), k.cast("string")).alias("name"),
        F.concat(F.lit("+1 "), dashed).alias("phone"),
    )
    # ~6 downstream derivations read this frame (two blocking self-joins
    # per key inside resolve_entities, the singleton left-join, and the
    # final join-back) — lazily checkpointed so the variant union + the
    # regex normalizers run once, not per branch (r15 optimization
    # round; the clf_truth_frame rationale)
    rec = (
        v0.unionByName(v1)
        .unionByName(v2)
        .withColumn("name_n", entity.normalize_name(F.col("name")))
        .withColumn("phone_n", entity.normalize_phone(F.col("phone")))
        .localCheckpoint(eager=False)
    )
    res = entity.resolve_entities(
        rec.select("record_id", "name_n", "phone_n"),
        keys=("phone_n", "name_n"),
    )
    return (
        rec.join(res, "record_id")
        .groupBy("entity_id")
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("name_n").alias("n_name_variants"),
            F.array_join(
                F.expr(
                    "transform(sort_array(collect_list(record_id)),"
                    " x -> CAST(x AS STRING))"
                ),
                ",",
            ).alias("record_ids"),
        )
    )


SQL_ENTITY_RESOLUTION = """
SELECT 4 * c_custkey AS entity_id,
       CAST(CASE WHEN c_custkey % 2 = 1 THEN 3 ELSE 2 END AS BIGINT)
         AS n_records,
       CAST(CASE WHEN c_custkey % 2 = 1 THEN 2 ELSE 1 END AS BIGINT)
         AS n_name_variants,
       CAST(4 * c_custkey AS VARCHAR) || ',' ||
       CAST(4 * c_custkey + 1 AS VARCHAR) ||
       CASE WHEN c_custkey % 2 = 1
            THEN ',' || CAST(4 * c_custkey + 2 AS VARCHAR) ELSE '' END
         AS record_ids
FROM customer
"""


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL fixture: four raw variants of the same
    logical page (tracking params / uppercase+default port+trailing
    slash / fragment / non-default port+unsorted params), in closed
    form of doc_id so the oracle can rebuild identical strings."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    v = F.col("doc_id") % 4
    page = ((F.col("doc_id") / 4).cast("long") % 50).cast("string")
    url = (
        F.when(
            v == 0,
            F.concat(
                F.lit("http://www.example.com/page/"),
                page,
                F.lit("?utm_source=x&fbclid=1"),
            ),
        )
        .when(
            v == 1,
            F.concat(F.lit("HTTP://EXAMPLE.COM:80/page/"), page, F.lit("/")),
        )
        .when(
            v == 2,
            F.concat(F.lit("http://example.com/page/"), page, F.lit("#section")),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com:8443/page/"), page, F.lit("?b=2&a=1")
            )
        )
    )
    return docs.select("doc_id", url.alias("url"))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-keyed dedup (operators/urls.py): canonicalize raw URLs
    (lowercase scheme/host, drop www/default port/fragment/tracking
    params, strip trailing slash, sort surviving params) and elect one
    keeper per canonical form. The three http variants of each page
    must collapse into one group; the https:8443 variant keeps its
    non-default port and sorted ?a=1&b=2 and forms its own. The oracle
    re-canonicalizes with pure regexp/list ops — any divergence in the
    normalization chain splits or merges a group and mismatches."""
    from database_collector_spark.operators import urls

    return urls.url_dedup(_messy_urls(spark, sf_dir))


SQL_URL_DEDUP = """
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'http://www.example.com/page/' || CAST((doc_id // 4) % 50 AS VARCHAR) || '?utm_source=x&fbclid=1'
           WHEN 1 THEN 'HTTP://EXAMPLE.COM:80/page/' || CAST((doc_id // 4) % 50 AS VARCHAR) || '/'
           WHEN 2 THEN 'http://example.com/page/' || CAST((doc_id // 4) % 50 AS VARCHAR) || '#section'
           ELSE 'https://example.com:8443/page/' || CAST((doc_id // 4) % 50 AS VARCHAR) || '?b=2&a=1'
         END AS url
  FROM documents
),
parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS auth,
         regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
         regexp_extract(url, '\\?([^#]*)', 1) AS q
  FROM raw
),
norm AS (
  SELECT doc_id, scheme,
         regexp_replace(lower(regexp_replace(auth, ':[0-9]+$', '')), '^www\\.', '') AS host,
         regexp_extract(auth, ':([0-9]+)$', 1) AS port,
         CASE WHEN path = '/' THEN '' ELSE regexp_replace(path, '/$', '') END AS path,
         array_to_string(list_sort(list_filter(string_split(q, '&'),
           p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS params
  FROM parts
),
canon AS (
  SELECT doc_id,
         scheme || '://' || host
         || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                                          OR (scheme = 'https' AND port = '443'))
                 THEN ':' || port ELSE '' END
         || path
         || CASE WHEN params <> '' THEN '?' || params ELSE '' END AS canonical_url
  FROM norm
)
SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM canon GROUP BY canonical_url
"""


def q_token_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (the IR/index shape behind tfidf_top_terms'
    scoring): token → document frequency + the first-20 posting list,
    emitted as a comma-joined string so the hash compares postings
    order-exactly. Capped postings keep the row bounded for stop-like
    tokens (the documented head-truncation every real index applies to
    its hottest terms); df >= 5 bounds output to real vocabulary.

    Scale shape (r13 audit): the old form collect_set EVERY posting per
    token and sliced the head afterwards — a stop word's aggregation
    buffer is corpus-sized before the slice ever runs. Now the
    (token, doc_id) dedup is a distinct aggregate, df is an exact
    count, and the head is a per-token row_number <= 20 — Spark's
    rank-limit pushdown (WindowGroupLimit) keeps 20 rows per task
    before the sort, so no unbounded array exists anywhere. Output
    identical (same df, same first-20 ascending postings)."""
    from pyspark.sql.window import Window

    from database_collector_spark.operators.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokens_col()).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.lit(1))
        .select("token", "doc_id")
        # lazy localCheckpoint: the df count and the head ranking both
        # consume the distinct table
        .localCheckpoint(eager=False)
    )
    dfs = toks.groupBy("token").agg(F.count("*").cast("long").alias("df"))
    w = Window.partitionBy("token").orderBy("doc_id")
    heads = (
        toks.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .groupBy("token")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                    lambda s: s["doc_id"].cast("string"),
                ),
                ",",
            ).alias("postings_head")
        )
    )
    return (
        dfs.where(F.col("df") >= 5)
        .join(heads, "token")
        .select("token", "df", "postings_head")
    )


SQL_TOKEN_POSTINGS = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents
),
grouped AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
  FROM toks WHERE token <> '' GROUP BY token
)
SELECT token, df, postings_head FROM grouped WHERE df >= 5
"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize spec-conformant
    RIFF/WAVE PCM16 payloads JVM-side in closed form of doc_id
    (operators/multimodal.py::to_wav_media — varying channel counts,
    sample rates, frame counts), then chunk-walk + int16-decode each
    container in mapInPandas (decode_audio) and emit per-channel sums,
    peak amplitude, and parsed format fields. The oracle recomputes the
    closed form per sample, so any container-walk or endianness defect
    (chunk offset, sign handling, channel interleave) mismatches."""
    media = multimodal.to_wav_media(_t(spark, sf_dir, "documents"))
    return multimodal.decode_audio(media)


SQL_MULTIMODAL_AUDIO = """
WITH base AS (
  SELECT doc_id, 1 + doc_id % 2 AS ch, 4 + doc_id % 5 AS nf FROM documents
),
samp AS (
  SELECT b.doc_id, b.ch, b.nf, tt.t, cc.c,
         CASE WHEN (b.doc_id*31 + tt.t*7 + cc.c*3) % 65536 >= 32768
              THEN (b.doc_id*31 + tt.t*7 + cc.c*3) % 65536 - 65536
              ELSE (b.doc_id*31 + tt.t*7 + cc.c*3) % 65536 END AS v
  FROM base b,
       LATERAL (SELECT unnest(generate_series(0, b.nf - 1)) AS t) tt,
       LATERAL (SELECT unnest(generate_series(0, b.ch - 1)) AS c) cc
)
SELECT doc_id,
       CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
       CAST(MAX(ch) AS INT) AS n_channels,
       CAST(MAX(nf) AS INT) AS n_frames,
       CAST(SUM(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_ch0,
       CAST(SUM(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_ch1,
       CAST(MAX(abs(v)) AS INT) AS peak
FROM samp GROUP BY doc_id
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent word-bigrams (freq >= N/2000) over the documents corpus
    via two-phase Misra-Gries candidates + exact recount
    (operators/heavyhitters.py). The result set equals the exact
    GROUP BY + HAVING answer, so the oracle is plain SQL — no verdict
    column needed; the approximation lives only in the shuffle-avoiding
    candidate pruning, which can over-retain but never lose a true
    heavy hitter."""
    from database_collector_spark.operators import heavyhitters, text

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(text.grams_of(text.tokens_col(), n=2)).alias("gram")
    )
    return heavyhitters.heavy_hitters(
        grams, item_col="gram", threshold_num=1, threshold_den=2000
    )


SQL_HEAVY_HITTERS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT t[i] || ' ' || t[i+1] AS gram
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
)
SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
FROM grams
WHERE gram IS NOT NULL
GROUP BY gram
HAVING COUNT(*) * 2000 >= (SELECT COUNT(*) FROM grams WHERE gram IS NOT NULL)
"""


def q_dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (operators/dedup.py::fuzzy_pairs):
    FULL texts within 5 Levenshtein edits, blocked losslessly by
    text-length bucket (|len(a)-len(b)| <= lev(a,b) bounds any
    qualifying pair to adjacent buckets; equi-join plan, never
    all-pairs; Spark's residual is the banded thresholded levenshtein).
    The oracle recomputes with DuckDB's levenshtein — both engines
    implement the standard DP distance, so the residual filter must
    agree pair-for-pair."""
    return dedup.fuzzy_pairs(_t(spark, sf_dir, "documents"))


SQL_DEDUP_FUZZY = """
WITH p AS (
  SELECT doc_id, text, length(text) // 8 AS b
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS distance
FROM p a JOIN p b
  ON b.b BETWEEN a.b - 1 AND a.b + 1 AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= 5
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction end-to-end (operators/text.py::pii_scrub): the
    fixture corpus carries no natural PII, so the gate INJECTS
    deterministic emails (every 3rd doc) and IPv4s (every 5th doc) in
    closed form of doc_id on BOTH engines, scrubs, and hashes the
    redacted text + per-class counts — any pattern/replacement
    divergence between Java and RE2 regex semantics mismatches."""
    from database_collector_spark.operators.text import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7 seen"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(docs).select(
        "doc_id", F.md5(F.col("text")).alias("scrub_md5"), "n_emails", "n_ipv4"
    )


SQL_PII_SCRUB = """
WITH injected AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 seen'
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       md5(regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')) AS scrub_md5,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4
FROM injected
"""


def q_heavy_hitters_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language frequent word-bigrams (freq >= N_lang/500): the
    grouped two-phase MG plan (operators/heavyhitters.py::
    grouped_heavy_hitters) — per-(partition, language) candidate
    summaries with zero shuffle, exact recount of the broadcast
    candidates. Result equals the exact per-group GROUP BY + HAVING, so
    the oracle is plain SQL."""
    from database_collector_spark.operators import heavyhitters, text

    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "lang", F.explode(text.grams_of(text.tokens_col(), n=2)).alias("gram")
    )
    return heavyhitters.grouped_heavy_hitters(
        grams,
        group_col="lang",
        item_col="gram",
        threshold_num=1,
        threshold_den=500,
    )


SQL_HEAVY_HITTERS_BY_LANG = """
WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT lang, t[i] || ' ' || t[i+1] AS gram
  FROM (SELECT lang, t, unnest(generate_series(1, len(t) - 1)) AS i FROM toks)
),
totals AS (SELECT lang, COUNT(*) AS tot FROM grams
           WHERE gram IS NOT NULL GROUP BY lang)
SELECT g.lang, g.gram, CAST(COUNT(*) AS BIGINT) AS n
FROM grams g JOIN totals t ON t.lang = g.lang
WHERE g.gram IS NOT NULL
GROUP BY g.lang, g.gram, t.tot
HAVING COUNT(*) * 500 >= t.tot
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction end-to-end: synthesize concatenated-P6
    "videos" JVM-side (1 + doc_id%6 frames, per-frame dims varying so
    boundaries are only findable by parsing each header), demux by
    walking self-delimiting frame boundaries in mapInPandas
    (frame_sample decode_stub=False), sample every 2nd frame, then
    decode each sampled frame's raster to dims + channel sums. The
    oracle recomputes the closed form per sampled frame, so any
    boundary-walk error (header length, stride, early stop) or raster
    error hash-mismatches."""
    video = multimodal.to_ppm_video(_t(spark, sf_dir, "documents"))
    frames = multimodal.frame_sample(video, every_nth=2, decode_stub=False)
    return multimodal.decode_frames(frames)


SQL_MULTIMODAL_FRAMES = """
SELECT d.doc_id,
       CAST(f.f // 2 AS INT) AS frame_idx,
       CAST(2 + (d.doc_id + f.f) % 7 AS INT) AS w,
       CAST(2 + (d.doc_id + f.f) % 5 AS INT) AS h,
       CAST(((d.doc_id*7 + f.f*11) % 256)
            * (2 + (d.doc_id + f.f) % 7) * (2 + (d.doc_id + f.f) % 5) AS BIGINT) AS sum_r,
       CAST(((d.doc_id*7 + f.f*11 + 1) % 256)
            * (2 + (d.doc_id + f.f) % 7) * (2 + (d.doc_id + f.f) % 5) AS BIGINT) AS sum_g,
       CAST(((d.doc_id*7 + f.f*11 + 2) % 256)
            * (2 + (d.doc_id + f.f) % 7) * (2 + (d.doc_id + f.f) % 5) AS BIGINT) AS sum_b
FROM documents d,
     LATERAL (SELECT unnest(generate_series(0, CAST(d.doc_id % 6 AS INT))) AS f) f
WHERE f.f % 2 = 0
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (C4-style boilerplate-span removal): 8-word
    segments, keep the globally first occurrence of each distinct span,
    reassemble survivors in document order. See operators/dedup.py::
    span_dedup for the 100 TB plan shape (md5-keyed keep-first election,
    never all-pairs)."""
    return dedup.span_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_SPANS = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
segs AS (
  SELECT doc_id, i AS span_idx,
         array_to_string(list_slice(w, i*8 + 1, i*8 + 8), ' ') AS seg
  FROM words,
       LATERAL (SELECT unnest(generate_series(0, CAST(ceil(len(w)/8.0) AS INT) - 1)) AS i) s
),
firsts AS (
  SELECT doc_id, span_idx, seg,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, span_idx) AS rn
  FROM segs
)
SELECT f.doc_id,
       CAST(ceil(len(w.w)/8.0) AS BIGINT) AS n_spans,
       CAST(COUNT(*) AS BIGINT) AS kept_spans,
       string_agg(f.seg, ' ' ORDER BY f.span_idx) AS text_dedup
FROM firsts f JOIN words w ON w.doc_id = f.doc_id
WHERE f.rn = 1
GROUP BY 1, 2
"""



def q_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified LSH quality: banding candidates (16 hashes, 4 bands)
    vs the exact J>=0.8 truth pairs (uncapped shingle-blocked Jaccard —
    exact because a J>0 pair must share a shingle). One row:
    truth/candidate/hit counts + recall and precision, the measurement
    every tuned (bands, rows) choice should publish. Integer counts;
    ratios are exact rationals rounded."""
    docs = _t(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs(docs, threshold=0.8, df_max=None).select(
        "doc_a", "doc_b"
    )
    cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).select(
        "doc_a", "doc_b"
    )
    hit = truth.join(cand, ["doc_a", "doc_b"])
    t = truth.agg(F.count("*").alias("n_truth"))
    c = cand.agg(F.count("*").alias("n_candidates"))
    h = hit.agg(F.count("*").alias("n_hit"))
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
        .select(
            "n_truth",
            "n_candidates",
            "n_hit",
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 4
            ).alias("precision"),
        )
    )


SQL_LSH_RECALL_REPORT = f"""
WITH {sql_minhash_lsh_ctes()},
truth AS (
  SELECT s.doc_a, s.doc_b
  FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) s
  JOIN sizes na ON na.doc_id = s.doc_a
  JOIN sizes nb ON nb.doc_id = s.doc_b
  WHERE round(CAST(s.shared AS DOUBLE) / (na.n + nb.n - s.shared), 4) >= 0.8
),
hit AS (SELECT * FROM truth INTERSECT SELECT doc_a, doc_b FROM cand),
tt AS (SELECT COUNT(*) AS n_truth FROM truth),
cc AS (SELECT COUNT(*) AS n_candidates FROM cand),
hh AS (SELECT COUNT(*) AS n_hit FROM hit)
SELECT n_truth, n_candidates, n_hit,
       round(CAST(n_hit AS DOUBLE) / NULLIF(n_truth, 0), 4) AS recall,
       round(CAST(n_hit AS DOUBLE) / NULLIF(n_candidates, 0), 4) AS precision
FROM tt, cc, hh
"""



def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 normalization audit (similarity.l2_normalize): original norm +
    min/max normalized component per vector. Every output double is
    bit-identical across engines by construction (integer inputs
    through correctly-rounded sqrt/divide; min/max are order-free), so
    the gate needs no tolerance trick."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.l2_normalize(emb).select(
        "vec_id", "l2_norm", "nc_min", "nc_max"
    )


SQL_EMBEDDING_NORMALIZE = f"""
WITH {_SQL_QUANT}
SELECT q.vec_id,
       round(sqrt(CAST(n.n2 AS DOUBLE)) / 1048576.0, 6) AS l2_norm,
       round(MIN(CAST(q.qe[i] AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE))), 6) AS nc_min,
       round(MAX(CAST(q.qe[i] AS DOUBLE) / sqrt(CAST(n.n2 AS DOUBLE))), 6) AS nc_max
FROM qe q JOIN norms n ON n.vec_id = q.vec_id, idx
GROUP BY q.vec_id, n.n2
"""



def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-tier cluster composition: LSH-bucketed cosine pairs ->
    connected components -> cluster summary — the vector twin of
    dedup_clusters (which runs the same composition over MinHash
    pairs). At scale the pair graph is orders smaller than the corpus,
    so the CC fixpoint runs on near-dup survivors only."""
    from database_collector_spark.operators import graph

    pairs = similarity.embedding_near_dup_lsh(
        _t(spark, sf_dir, "embeddings"), n_planes=2
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    comp = graph.connected_components(pairs)
    return graph.cluster_summary(comp)


SQL_EMBEDDING_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_sql_dedup_embedding_lsh(2)}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       -- head-capped listing mirrors cluster_summary's bounded contract
       array_to_string(list_sort(list(node))[1:64], ',') AS doc_ids,
       COUNT(*) > 64 AS roster_truncated
FROM comp
GROUP BY component
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass exact covariance moment sums over the first 16
    embedding dims (`operators/similarity.py::embedding_covariance`) —
    the statistic under the PCA tier. One aggregate, one emitted row,
    in-row explode to (i, j) long form; every sum an order-free int64."""
    return similarity.embedding_covariance(
        _t(spark, sf_dir, "embeddings"), dims=16
    )


SQL_EMBEDDING_COVARIANCE = """
WITH coords AS (
  SELECT vec_id,
         unnest(range(0, 16)) AS i,
         unnest(list_transform(range(0, 16),
                d -> CAST(ROUND(CAST(embedding[d+1] AS DOUBLE) * 1000000) AS BIGINT)))
           AS x
  FROM embeddings
),
pairs AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS BIGINT) AS s_ij
  FROM coords a JOIN coords b USING (vec_id)
  WHERE a.i <= b.i GROUP BY 1, 2
),
sums AS (SELECT i, CAST(SUM(x) AS BIGINT) AS s FROM coords GROUP BY i)
SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
       (SELECT COUNT(*) FROM embeddings) AS n,
       sa.s AS s_i, sb.s AS s_j, p.s_ij
FROM pairs p JOIN sums sa ON sa.i = p.i JOIN sums sb ON sb.i = p.j
"""


def q_jaccard_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle-set similarity self-join at J >= 0.8 via
    AllPairs/PPJoin prefix filtering (`operators/dedup.py::
    set_similarity_join`) — the recall-1 counterpart of the MinHash
    tier, over the SAME shingle sets it approximates. The oracle is the
    naive shingle self-join + HAVING; the prefix plan must reproduce it
    pair-for-pair while exploding only ~20% of each shingle set
    (shingle dfs are tiny, so prefix posting lists stay short — the
    word-level variant is the documented adversarial case)."""
    return dedup.set_similarity_join(
        _t(spark, sf_dir, "documents"),
        threshold_num=8,
        threshold_den=10,
        shingle_words=3,
    )


SQL_JACCARD_JOIN_EXACT = """
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS t
  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM words)
),
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       sa.n + sb.n - inter AS un,
       inter * 1000000000 // (sa.n + sb.n - inter) AS jacc_ppb
FROM co JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
WHERE inter * 10 >= 8 * (sa.n + sb.n - inter)
"""


QUERIES = {
    "embedding_covariance": q_embedding_covariance,
    "jaccard_join_exact": q_jaccard_join_exact,
    "text_token_stats": q_text_token_stats,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_png": q_multimodal_png,
    "entity_resolution": q_entity_resolution,
    "dedup_containment": q_dedup_containment,
    "multimodal_audio": q_multimodal_audio,
    "url_dedup": q_url_dedup,
    "token_postings": q_token_postings,
    "dedup_spans": q_dedup_spans,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "char_entropy": q_char_entropy,
    "doc_fingerprint": q_doc_fingerprint,
    "repetition_stats": q_repetition_stats,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "lsh_recall_report": q_lsh_recall_report,
    "embedding_normalize": q_embedding_normalize,
    "embedding_dedup_clusters": q_embedding_dedup_clusters,
    "dedup_incremental": q_dedup_incremental,
    "decontaminate": q_decontaminate,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "similarity_topk": q_similarity_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_embedding_lsh_multi": q_dedup_embedding_lsh_multi,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "heavy_hitters": q_heavy_hitters,
    "heavy_hitters_by_lang": q_heavy_hitters_by_lang,
    "pii_scrub": q_pii_scrub,
    "dedup_fuzzy": q_dedup_fuzzy,
}

ORACLES = {
    "embedding_covariance": SQL_EMBEDDING_COVARIANCE,
    "jaccard_join_exact": SQL_JACCARD_JOIN_EXACT,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "multimodal_decode": SQL_MULTIMODAL_DECODE,
    "multimodal_png": SQL_MULTIMODAL_PNG,
    "entity_resolution": SQL_ENTITY_RESOLUTION,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
    "multimodal_audio": SQL_MULTIMODAL_AUDIO,
    "url_dedup": SQL_URL_DEDUP,
    "token_postings": SQL_TOKEN_POSTINGS,
    "dedup_spans": SQL_DEDUP_SPANS,
    "lang_id": SQL_LANG_ID,
    "quality_score": _sql_quality(),
    "char_entropy": SQL_CHAR_ENTROPY,
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "repetition_stats": SQL_REPETITION_STATS,
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "lsh_recall_report": SQL_LSH_RECALL_REPORT,
    "embedding_normalize": SQL_EMBEDDING_NORMALIZE,
    "embedding_dedup_clusters": SQL_EMBEDDING_DEDUP_CLUSTERS,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
    "similarity_topk": SQL_SIMILARITY_TOPK,
    "ann_lsh_buckets": _sql_ann_lsh(),
    "dedup_embedding": SQL_DEDUP_EMBEDDING,
    "dedup_embedding_lsh": _sql_dedup_embedding_lsh(),
    "dedup_embedding_lsh_multi": _sql_dedup_embedding_lsh_multi(),
    "multimodal_features": SQL_MULTIMODAL_FEATURES,
    "multimodal_frames": SQL_MULTIMODAL_FRAMES,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "heavy_hitters_by_lang": SQL_HEAVY_HITTERS_BY_LANG,
    "pii_scrub": SQL_PII_SCRUB,
    "dedup_fuzzy": SQL_DEDUP_FUZZY,
}
