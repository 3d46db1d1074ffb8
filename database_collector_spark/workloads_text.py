"""Text, dedup, curation, BPE and graph-clustering gates.

Tokenization and text statistics, language id and quality scoring,
PII scrubbing, exact / MinHash-LSH / SimHash / substring dedup and
decontamination, connected components, PageRank and k-core over
document graphs, BPE training and encoding, perplexity, and the
dataset-curation operators: stratified and weighted sampling,
leakage-safe splits, mixtures, quotas, packing and source governance
(``operators/text.py``, ``dedup.py``, ``graph.py``, ``bpe.py``,
``curation.py``).

Every operator is deterministic across engines: randomness is md5 of
a stable key, hashing is md5 hex (string MIN is binary collation in
both engines), counts stay integers and ratios are integer rationals
divided once and rounded. Same conventions as ``workloads.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark import curation
from database_collector_spark.operators import (
    bpe,
    dedup,
    entity,
    graph,
    sampling,
    text,
)
from database_collector_spark.session import local_frame
from database_collector_spark.workloads import (
    SQL_QUALITY_CLASSIFIER,
    _t,
    hv_sql,
)
from database_collector_spark.workloads import artifact_dir as _artifact_dir


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


def q_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW posexplode surface): tokens with
    their 0-based position, re-aggregated per doc to (n_tokens, weighted
    position checksum) so the gate hashes POSITION correctness, not just
    the multiset of tokens — an explode that loses or permutes ordinals
    mismatches. Generate (explode) is narrow: no shuffle until the
    per-doc re-aggregate."""
    from database_collector_spark.operators.text import tokens_col

    docs = _t(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_col()).alias("pos", "tok")
    )
    return pos.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.col("pos") * F.length("tok")).alias("pos_len_checksum"),
        F.max(F.when(F.col("pos") == 0, F.col("tok"))).alias("first_tok"),
    )


SQL_POSEXPLODE_TOKENS = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
p AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(pos * length(tok)) AS BIGINT) AS pos_len_checksum,
       MAX(CASE WHEN pos = 0 THEN tok END) AS first_tok
FROM p GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# term ranking (tf / rarity)
# ---------------------------------------------------------------------------


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document, ranked by term frequency
    with corpus rarity (document frequency ASC) then term as tie-breaks —
    the integer-exact form of tf-idf ranking (log(N/df) is monotone in
    1/df, so the rank order is identical and no float log enters the
    gate). Document frequency is computed over the WHOLE corpus, then
    only the reported slice of documents pays the per-doc ranking — the
    df table is groupBy-reduced before the join, so the join input is
    |vocabulary|, not |token stream|."""
    toks_all = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = (
        toks_all.filter(F.col("doc_id") < 300)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = (
        toks_all.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "rnk")
    )


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE doc_id < 300 GROUP BY doc_id, term
),
dfreq AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY term
),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rnk
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, term, tf, df, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= 3
"""


# ---------------------------------------------------------------------------
# dedup clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    verified pair graph, summarized per component (the component id is
    the canonical min doc_id — everything else in the cluster is
    deletable). Oracle: recursive transitive-closure CTE over the same
    pair SQL."""
    pairs = dedup.minhash_lsh_dedup(_t(spark, sf_dir, "documents"))
    return graph.cluster_summary(graph.connected_components(pairs))


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH_LSH}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
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


def _doc_hash() -> F.Column:
    """Deterministic uniform 'random' per doc: md5 hex of the id string."""
    return F.md5(F.col("doc_id").cast("string"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: k=100 docs per language.

    Per-stratum rank over the md5 hash (uniform, engine-portable) and
    keep the k smallest — an exact-k per-stratum sample, unlike
    rate-based Bernoulli sampling whose stratum counts wobble. One
    shuffle on `lang`; the window sorts within each stratum only. At
    100 TB with few strata the per-stratum sort is the cost — if strata
    are huge, pre-filter with a generous hash-prefix threshold (e.g.
    keep ~10*k/|stratum| by threshold) before ranking so the sort sees
    a sliver of the data; at fixture scale the direct rank is optimal.
    """
    w = Window.partitionBy("lang").orderBy(_doc_hash())
    return (
        _t(spark, sf_dir, "documents")
        .select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 100)
    )


SQL_SAMPLE_STRATIFIED = """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
         ) AS rk
  FROM documents
)
SELECT lang, doc_id, rk FROM r WHERE rk <= 100
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment by hash bucket (~80/10/10), verified by
    per-split bookkeeping counts.

    The split label is a scalar CASE over the first hex byte of the doc
    hash — lexicographic compare on hex ('cc' = 204/256 ~ 79.7%,
    'e6' = 230/256 ~ 89.8%), identical in any engine, no numeric hex
    parse needed. Stable under corpus growth: a doc's split never
    changes when neighbors are added, the property that prevents
    train/test leakage across dataset versions. Pure map-side until the
    final tiny aggregate.
    """
    b = F.substring(_doc_hash(), 1, 2)
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test").alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


SQL_HASH_SPLIT = """
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (
  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM documents
) GROUP BY split
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization pipeline stats: lowercase, strip non-alphanumerics,
    collapse whitespace — then per-language char/token bookkeeping.

    The normalizer is the standard pre-tokenization scrub; emitting the
    per-language before/after sums (exact longs) pins every stage of the
    scalar pipeline. All regex work is JVM codegen (no Python UDF); one
    partial-agg shuffle moves |langs| rows.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "lang",
            F.length("text").alias("c_raw"),
            F.length(norm).alias("c_norm"),
            F.size(F.split(norm, " ")).cast("long").alias("n_tok"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c_raw").alias("chars_raw"),
            F.sum("c_norm").alias("chars_norm"),
            F.sum("n_tok").alias("tokens"),
        )
    )


SQL_TEXT_NORMALIZE = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars_raw,
       CAST(SUM(LENGTH(norm)) AS BIGINT) AS chars_norm,
       CAST(SUM(len(string_split(norm, ' '))) AS BIGINT) AS tokens
FROM (
  SELECT lang, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
) GROUP BY lang
"""


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per language: distinct tokens / total tokens.

    A standard corpus-quality signal (low TTR = repetitive/boilerplate
    text worth down-weighting). Per-row array ops (split, distinct,
    size) stay in codegen; the ratio is derived from the two exact long
    sums AFTER aggregation, so the double division happens once per
    group on identical integers in both engines — no ulp drift.
    """
    toks = F.split(F.col("text"), " ")
    return (
        _t(spark, sf_dir, "documents")
        .select(
            "lang",
            F.size(toks).cast("long").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
        )
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("tokens"), F.sum("n_uniq").alias("uniq_tokens"))
        .select(
            "lang",
            "tokens",
            "uniq_tokens",
            F.round(
                F.col("uniq_tokens").cast("double") / F.col("tokens").cast("double"), 6
            ).alias("ttr"),
        )
    )


SQL_LEXICAL_DIVERSITY = """
SELECT lang, tokens, uniq_tokens,
       round(CAST(uniq_tokens AS DOUBLE) / CAST(tokens AS DOUBLE), 6) AS ttr
FROM (
  SELECT lang,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
         CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS uniq_tokens
  FROM documents GROUP BY lang
)
"""


def q_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token budget: whitespace words vs BPE-ish subtoken
    estimate (operators/text.py::subtoken_estimate), with the inflation
    ratio derived from the exact long sums post-agg."""
    from database_collector_spark.operators import text

    return (
        text.subtoken_estimate(_t(spark, sf_dir, "documents"))
        .groupBy("lang")
        .agg(
            F.sum("n_words").alias("words"),
            F.sum("n_subtokens_est").alias("subtokens_est"),
        )
        .select(
            "lang",
            "words",
            "subtokens_est",
            F.round(
                F.col("subtokens_est").cast("double") / F.col("words").cast("double"), 6
            ).alias("inflation"),
        )
    )


SQL_TOKEN_ESTIMATE = """
SELECT lang, words, subtokens_est,
       round(CAST(subtokens_est AS DOUBLE) / CAST(words AS DOUBLE), 6) AS inflation
FROM (
  SELECT lang,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS words,
         CAST(SUM(list_sum(list_transform(string_split(text, ' '),
             w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))) AS BIGINT) AS subtokens_est
  FROM documents GROUP BY lang
)
"""


def q_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust length filter: keep docs inside the per-language [p25, p75]
    char-count band (interquartile keep — the standard outlier trim before
    training), and report per-language kept/total bookkeeping.

    The thresholds are an aggregate-of-the-corpus joined back against the
    corpus: the quantile frame is |langs| rows, so the join back is a
    broadcast and the second scan filters map-side. Quantiles restricted
    to dyadic points over integer chars — exact in both engines (same
    trick as exact_percentiles). At 100 TB swap percentile for
    approx_percentile: thresholds then differ per run, which is why the
    gate pins the exact form.
    """
    docs = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    bands = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.25)).alias("lo"),
        F.percentile("n_chars", F.lit(0.75)).alias("hi"),
    )
    return (
        docs.join(F.broadcast(bands), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.sum(
                ((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
                .cast("long")
            ).alias("kept"),
            F.first("lo").alias("lo"),
            F.first("hi").alias("hi"),
        )
    )


SQL_LENGTH_TRIM = """
WITH bands AS (
  SELECT lang, quantile_cont(n_chars, 0.25) AS lo, quantile_cont(n_chars, 0.75) AS hi
  FROM documents GROUP BY lang
)
SELECT d.lang, COUNT(*) AS total,
       CAST(SUM(CASE WHEN d.n_chars BETWEEN b.lo AND b.hi THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       MIN(b.lo) AS lo, MIN(b.hi) AS hi
FROM documents d JOIN bands b ON d.lang = b.lang
GROUP BY d.lang
"""


def q_crossmodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-embedding linkage: documents ⋈ embeddings on id, aggregated
    per (lang, label) — the canonical multimodal-pipeline shape (every
    curriculum/balance decision joins doc metadata to vector-side labels).

    Both sides shuffle on the shared key; at 100 TB this is THE join to
    co-locate — write both tables bucketed by id (sinks/bucketed.py) and
    it runs with zero Exchange. Embedding payloads are never touched:
    only id + label leave the vector table's scan (column pruning).
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    vecs = _t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        docs.join(vecs, docs["doc_id"] == vecs["vec_id"])
        .groupBy("lang", "label")
        .agg(
            F.count("*").alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


SQL_CROSSMODAL_JOIN = """
SELECT lang, label, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY lang, label
"""


# mixture weights: per-source keep rates (the "data recipe"). Rates map to
# 4-hex-digit md5-prefix thresholds (floor(rate * 65536)), so the keep
# decision is the same lexicographic compare in every engine.
MIXTURE_RATES = {
    **{f"src{i}": 0.9 for i in range(5)},
    **{f"src{i}": 0.5 for i in range(5, 10)},
    **{f"src{i}": 0.2 for i in range(10, 20)},
}


def _rate_threshold(rate: float) -> str:
    return format(int(rate * 65536), "04x")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted downsampling: each source kept at its recipe rate
    (web-heavy corpora get downweighted, books/code upweighted — the
    standard pretraining-mix operation), deterministically.

    The weights table is tiny and broadcast; the keep decision is a pure
    map-side compare of the doc hash prefix against the source's
    threshold, so the plan is scan → broadcast-join → filter-free
    aggregate with no corpus shuffle before the bookkeeping agg. Rerun-
    and growth-stable like hash_split: a doc's fate depends only on its
    id and its source's rate.

    The recipe is a ``local_frame``, so the broadcast build side is one
    ``LocalTableScan`` task and the plan stays pure JVM.
    """
    weights = local_frame(
        spark,
        [(s, float(r), _rate_threshold(r)) for s, r in sorted(MIXTURE_RATES.items())],
        "source string, rate double, thr string",
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("source", F.substring(_doc_hash(), 1, 4).alias("h4"))
        .join(F.broadcast(weights), "source")
        .groupBy("source", "rate")
        .agg(
            F.count("*").alias("total"),
            F.sum((F.col("h4") < F.col("thr")).cast("long")).alias("kept"),
        )
    )


def _sql_mixture() -> str:
    values = ", ".join(
        f"('{s}', {r}, '{_rate_threshold(r)}')" for s, r in sorted(MIXTURE_RATES.items())
    )
    return f"""
WITH w(source, rate, thr) AS (VALUES {values})
SELECT d.source, CAST(w.rate AS DOUBLE) AS rate, COUNT(*) AS total,
       CAST(SUM(CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < w.thr
                THEN 1 ELSE 0 END) AS BIGINT) AS kept
FROM documents d JOIN w ON d.source = w.source
GROUP BY d.source, w.rate
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation DAG (curation.py::curate — quality filter →
    exact dedup → split) verified end-to-end via per-(split, lang)
    bookkeeping. One query hash-pins the COMPOSITION of the operators,
    not just each in isolation."""
    from database_collector_spark import curation

    return (
        curation.curate(_t(spark, sf_dir, "documents"), quality_min=0.3)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _sql_curation() -> str:
    from database_collector_spark.operators import text as _text

    stops = ", ".join(
        f"'{w}'" for w in sorted({w for ws in _text.LANG_STOPWORDS.values() for w in ws})
    )
    return f"""
WITH scored AS (
  SELECT *,
         round(0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
               + 0.5 * (CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains([{stops}], x))) AS DOUBLE)
                        / len(string_split(text, ' '))), 4) AS q
  FROM documents
),
kept AS (SELECT * FROM scored WHERE q >= 0.3),
canon AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
curated AS (
  SELECT k.*,
         CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM kept k JOIN canon USING (doc_id)
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM curated GROUP BY split, lang
"""


def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation DAG with the near-dup tier attached: quality
    filter → exact dedup → NEAR-dup drop (MinHash-LSH pairs → connected
    components → drop non-canonical members) → split. The near-dup tier
    runs over the quality/exact SURVIVORS, so each cluster keeps exactly
    one surviving representative (a raw-corpus tier could drop an entire
    cluster whose canonical member failed the quality filter). Oracle
    composes the parameterized MinHash CTE chain over the same survivor
    CTE with the recursive transitive-closure."""
    from database_collector_spark import curation

    return (
        curation.curate(_t(spark, sf_dir, "documents"), quality_min=0.3, near_dup=True)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


def _sql_curation_full() -> str:
    from database_collector_spark.operators import text as _text

    stops = ", ".join(
        f"'{w}'" for w in sorted({w for ws in _text.LANG_STOPWORDS.values() for w in ws})
    )
    return f"""
WITH RECURSIVE scored AS (
  SELECT *,
         round(0.5 * least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
               + 0.5 * (CAST(len(list_filter(string_split(text, ' '),
                             x -> list_contains([{stops}], x))) AS DOUBLE)
                        / len(string_split(text, ' '))), 4) AS q
  FROM documents
),
kept0 AS (SELECT * FROM scored WHERE q >= 0.3),
exact_canon AS (SELECT MIN(doc_id) AS doc_id FROM kept0 GROUP BY md5(text)),
kept AS (SELECT k.* FROM kept0 k JOIN exact_canon USING (doc_id)),
{sql_minhash_lsh_ctes(table="kept")},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach AS (
  SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v AS node, reach.r FROM reach JOIN edges e ON e.u = reach.node
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
dropped AS (SELECT node AS doc_id FROM comp WHERE node <> component),
curated AS (
  SELECT k.*,
         CASE WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM kept k ANTI JOIN dropped USING (doc_id)
)
SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM curated GROUP BY split, lang
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget chunk assignment (curation.pack_sequences), reported
    per (lang, chunk): how many docs and tokens each training chunk
    holds. Chunk id = floor(start offset / budget) over the per-language
    doc_id-ordered token stream — deterministic concat-then-split
    packing. The offsets ride the two-level prefix core since r14
    (plan-pinned: no per-language corpus window); NULL text/lang/doc_id
    rows are excluded and duplicate keys raise, mirrored in the oracle's
    WHERE clause."""
    from database_collector_spark import curation

    packed = curation.pack_sequences(
        _t(spark, sf_dir, "documents"), budget_tokens=2048
    )
    return packed.groupBy("lang", "chunk_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("chunk_tokens"),
    )


SQL_SEQUENCE_PACK = """
WITH sized AS (
  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
  -- lockstep with pack_sequences' enforced determinism preconditions
  -- (r14 review): NULL stream/order/text rows have no defined stream
  -- position and are excluded on BOTH engines
  WHERE text IS NOT NULL AND lang IS NOT NULL AND doc_id IS NOT NULL
),
packed AS (
  SELECT lang, n_tokens,
         CAST(FLOOR(CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS DOUBLE)
                    / 2048) AS BIGINT) AS chunk_id
  FROM sized
)
SELECT lang, chunk_id, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
FROM packed GROUP BY lang, chunk_id
"""


_FF_STAGES = ("nonempty", "min_chars", "min_tokens", "latin_lang", "diversity")


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation filter-funnel attribution: how many documents survive
    each successive quality filter, and which stage kills what — the
    report every corpus pipeline publishes before anyone trusts its
    yield numbers. Stages (cumulative, in order): nonempty text,
    n_chars >= 100, >= 20 whitespace tokens, latin-script language,
    type-token ratio >= 1/2 (as the integer compare
    2*distinct >= tokens — no float ratio).

    Plan: ONE scan — all five cumulative pass flags are map-side
    booleans into a single global conditional aggregate (6 numbers);
    the per-stage rows are an in-row explode. Adding a stage costs one
    column, never a pass."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    flags = [
        F.col("n_chars") > 0,
        F.col("n_chars") >= 100,
        F.size(toks) >= 20,
        F.col("lang").isin("en", "fr", "de", "es"),
        F.lit(2) * F.size(F.array_distinct(toks)) >= F.size(toks),
    ]
    cum = []
    acc = F.lit(True)
    for fl in flags:
        acc = acc & fl
        cum.append(acc)
    agg = d.agg(
        F.count("*").alias("n_total"),
        *[
            F.sum(c.cast("long")).alias(f"pass_{i}")
            for i, c in enumerate(cum)
        ],
    )
    rows = []
    for i, name in enumerate(_FF_STAGES):
        n_enter = F.col("n_total") if i == 0 else F.col(f"pass_{i - 1}")
        rows.append(
            F.struct(
                F.lit(i + 1).cast("long").alias("stage"),
                F.lit(name).alias("stage_name"),
                n_enter.alias("n_enter"),
                F.col(f"pass_{i}").alias("n_pass"),
                (n_enter - F.col(f"pass_{i}")).alias("n_fail"),
            )
        )
    return agg.select(F.explode(F.array(*rows)).alias("r")).select(
        "r.stage", "r.stage_name", "r.n_enter", "r.n_pass", "r.n_fail"
    )


SQL_FILTER_FUNNEL = """
WITH f AS (
  SELECT n_chars > 0 AS f1,
         n_chars > 0 AND n_chars >= 100 AS f2,
         n_chars > 0 AND n_chars >= 100
           AND len(string_split(text, ' ')) >= 20 AS f3,
         n_chars > 0 AND n_chars >= 100
           AND len(string_split(text, ' ')) >= 20
           AND lang IN ('en', 'fr', 'de', 'es') AS f4,
         n_chars > 0 AND n_chars >= 100
           AND len(string_split(text, ' ')) >= 20
           AND lang IN ('en', 'fr', 'de', 'es')
           AND 2 * len(list_distinct(string_split(text, ' ')))
               >= len(string_split(text, ' ')) AS f5
  FROM documents
),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS p1,
         CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
         CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS p3,
         CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS p4,
         CAST(SUM(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS p5
  FROM f
)
SELECT 1 AS stage, 'nonempty' AS stage_name, n_total AS n_enter, p1 AS n_pass, n_total - p1 AS n_fail FROM m
UNION ALL SELECT 2, 'min_chars', p1, p2, p1 - p2 FROM m
UNION ALL SELECT 3, 'min_tokens', p2, p3, p2 - p3 FROM m
UNION ALL SELECT 4, 'latin_lang', p3, p4, p3 - p4 FROM m
UNION ALL SELECT 5, 'diversity', p4, p5, p4 - p5 FROM m
"""


def q_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 5-fold CV assignment (`curation.kfold_split`): folds
    hashed from the exact-dup group key, summarized per (lang, fold)
    with doc AND distinct-group counts — the group count exposes any
    straddling (a group in two folds would inflate it)."""
    from database_collector_spark import curation

    docs = _t(spark, sf_dir, "documents")
    assigned = curation.kfold_split(docs, k=5).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return assigned.groupBy("lang", "fold").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("group_key").alias("n_groups"),
    )


SQL_KFOLD_SPLIT = """
WITH g AS (
  -- mirror kfold_split's NULL-key sentinel (curation.py): NULL text
  -- hashes the sentinel and lands in a real fold, group_key stays NULL
  SELECT doc_id, lang, md5(text) AS group_key,
         md5(COALESCE(md5(text), chr(0) || '__null_key__')) AS h
  FROM documents
),
f AS (
  SELECT doc_id, lang, group_key,
         CAST(list_sum(list_transform(range(1, 9),
                i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1
                          AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (8 - i)))))
              % 5 AS INT) AS fold
  FROM g
)
SELECT lang, fold, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT group_key) AS BIGINT) AS n_groups
FROM f GROUP BY 1, 2
"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training-order shuffle: every doc gets a
    pseudorandom md5 sort key (seeded, so re-runs and re-ships produce
    the identical order), is routed to one of 8 output shards by the
    key's low bits, and receives its position WITHIN the shard. Training
    jobs then read shards round-robin — a uniformly shuffled stream.

    The 100 TB shape is the whole point: a naive global
    ``row_number() OVER (ORDER BY key)`` funnels every row through ONE
    partition. Here the shard id is map-side arithmetic and positions
    are per-shard windows — 8 independent sorts of |docs|/8 rows each
    (at real scale, shards = O(cluster width) and each window sort is a
    range-partitioned spill-friendly sort). Deterministic: seed is part
    of the key, ties impossible (doc_id in the key)."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("shuffle-seed-1|"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % 8
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        docs.select("doc_id", key.alias("sort_key"), shard.alias("shard"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos_in_shard")
    )


SQL_CORPUS_SHUFFLE = """
WITH k AS (
  SELECT doc_id,
         md5('shuffle-seed-1|' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
),
s AS (
  SELECT doc_id, sort_key,
         CAST((SELECT SUM(CAST(strpos('0123456789abcdef',
                                      substr(sort_key, i, 1)) - 1 AS BIGINT)
                          * (CAST(1 AS BIGINT) << (4 * (8 - i))))
               FROM (SELECT unnest(generate_series(1, 8)) AS i)) % 8
              AS INT) AS shard
  FROM k
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard
                          ORDER BY sort_key, doc_id) AS pos_in_shard
FROM s
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 BPE merges learned from the documents corpus
    (operators/bpe.py::train): one corpus scan builds the word-frequency
    vocabulary, then each round is a vocab-sized pair aggregate + a
    1-row argmax collect. Integer-exact throughout; the greedy merge is
    the double-space replace encoding (see bpe.py) that DuckDB's
    ``replace`` reproduces byte-for-byte."""
    return bpe.train(_t(spark, sf_dir, "documents"), n_merges=4)


def _sql_bpe_merges(n_merges: int = 4) -> str:
    """Unrolled n-round BPE oracle: each round r has pair counts p{r},
    argmax t{r}, and the merged vocab s{r+1} via the same double-space
    replace."""
    ctes = [
        """s0 AS (
  SELECT word, COUNT(*) AS freq,
         '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""
    ]
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
  SELECT syms[i] AS sym_a, syms[i + 1] AS sym_b, SUM(freq) AS pair_count
  FROM (SELECT freq, string_split(trim(seq), '  ') AS syms FROM s{r}),
       LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) ii
  GROUP BY 1, 2
),
t{r} AS (
  SELECT sym_a, sym_b, pair_count FROM p{r}
  ORDER BY pair_count DESC, sym_a ASC, sym_b ASC LIMIT 1
),
s{r + 1} AS (
  SELECT word, freq,
         replace(seq,
                 ' ' || (SELECT sym_a FROM t{r}) || '  ' || (SELECT sym_b FROM t{r}) || ' ',
                 ' ' || (SELECT sym_a || sym_b FROM t{r}) || ' ') AS seq
  FROM s{r}
)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS INT) AS rank, sym_a, sym_b, sym_a || sym_b AS merged,"
        f" CAST(pair_count AS BIGINT) AS pair_count FROM t{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


SQL_BPE_MERGES = _sql_bpe_merges()


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25-doc weighted sample without replacement, weight = n_chars
    (operators/sampling.py::weighted_reservoir — A-ES keys over
    md5-derived exact uniforms; one scan + TakeOrdered, no shuffle)."""
    return sampling.weighted_reservoir(
        _t(spark, sf_dir, "documents"), k=25, weight_col="n_chars"
    )


SQL_WEIGHTED_SAMPLE = """
WITH v AS (
  SELECT doc_id, n_chars AS weight,
         (SELECT SUM(CAST(strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                          AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (8 - i))))
          FROM (SELECT unnest(generate_series(1, 8)) AS i)) AS hv
  FROM documents WHERE n_chars > 0
),
keyed AS (
  SELECT doc_id, weight,
         -ln((hv + 0.5) / 4294967296.0) / weight AS k
  FROM v
)
SELECT doc_id, weight, round(k, 6) AS sample_key
FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 25
"""


def q_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over a deterministic 3-regular-out link
    graph on documents (v -> (2v+1)%N, (3v+7)%N, (5v+11)%N), via the
    integer-exact uniform-outdegree recurrence
    (operators/graph.py::pagerank_uniform_exact) — the iterative-
    algorithm representative with a bit-exact oracle: no float exists
    anywhere, including the display column (integer ppb division)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("nn"))
    v = F.col("doc_id")
    edges = (
        docs.join(F.broadcast(n_row))
        .select(
            v.alias("src"),
            F.explode(
                F.array(
                    (2 * v + 1) % F.col("nn"),
                    (3 * v + 7) % F.col("nn"),
                    (5 * v + 11) % F.col("nn"),
                )
            ).alias("dst"),
        )
    )
    nodes = docs.select(v.alias("node"))
    return graph.pagerank_uniform_exact(edges, nodes, n_iter=3, outdeg=3)


def _sql_pagerank_exact(n_iter: int = 3) -> str:
    p, q, g = 17, 20, 3
    ctes = [
        "n AS (SELECT COUNT(*) AS nn FROM documents)",
        """e AS (
  SELECT doc_id AS src, (2 * doc_id + 1) % nn AS dst FROM documents, n
  UNION ALL SELECT doc_id, (3 * doc_id + 7) % nn FROM documents, n
  UNION ALL SELECT doc_id, (5 * doc_id + 11) % nn FROM documents, n
)""",
        "r0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS num FROM documents)",
    ]
    for k in range(n_iter):
        teleport = (q - p) * g * (q * g) ** k
        ctes.append(
            f"""r{k + 1} AS (
  SELECT d.doc_id AS node,
         CAST({teleport} + {p} * COALESCE(l.s, 0) AS BIGINT) AS num
  FROM documents d
  LEFT JOIN (SELECT e.dst AS node, SUM(r.num) AS s
             FROM e JOIN r{k} r ON r.node = e.src GROUP BY e.dst) l
    ON l.node = d.doc_id
)"""
        )
    denom = (q * g) ** n_iter
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT node, num AS rank_num,
       CAST((num * 1000000000) // (nn * {denom}) AS BIGINT) AS rank_ppb
FROM r{n_iter}, n
"""
    )


SQL_PAGERANK_EXACT = _sql_pagerank_exact()


_KCORE_ROUNDS = 12  # shared Spark/oracle bound (fixture peels in <= 6)


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion decomposition of the deterministic 3-out link graph (the
    pagerank_exact fixture made undirected): iterative k=5 peeling
    labels every node with the round it left the graph
    (operators/graph.py::kcore_peel — alive-degree recount each round,
    Montresor et al. PODC'11 shape). On this fixture the 5-core is
    empty, so every node carries a round 1..6 — the full peel frontier
    sequence is visible in the output and any degree-recount error at
    any round moves at least one label. Oracle: the peel unrolled
    round-by-round in CTEs (the BPE-merge unrolling pattern);
    _KCORE_ROUNDS is the single bound both sides share, so the Spark
    iteration budget can never silently exceed the oracle's unroll."""
    from database_collector_spark.operators import graph as g

    docs = _t(spark, sf_dir, "documents")
    n = docs.count()
    v = F.col("doc_id")
    edges = None
    for m, c in ((2, 1), (3, 7), (5, 11)):
        e = docs.select(
            v.alias("src"), ((m * v + c) % n).alias("dst")
        )
        edges = e if edges is None else edges.union(e)
    return g.kcore_peel(edges, k=5, max_iter=_KCORE_ROUNDS)


def _sql_kcore_peel(rounds: int = _KCORE_ROUNDS, k: int = 5) -> str:
    ctes = [
        """params AS (SELECT COUNT(*) AS n FROM documents),
raw AS (
  SELECT doc_id AS s, (m * doc_id + c) % (SELECT n FROM params) AS d
  FROM documents,
       (VALUES (2, 1), (3, 7), (5, 11)) AS mc(m, c)
),
e0 AS MATERIALIZED (
  SELECT DISTINCT LEAST(s, d) AS a, GREATEST(s, d) AS b FROM raw WHERE s <> d
),
n0 AS MATERIALIZED (
  SELECT DISTINCT node FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, COUNT(*) AS deg
  FROM (SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p})
  GROUP BY 1
),
p{r} AS MATERIALIZED (
  SELECT n{p}.node FROM n{p} LEFT JOIN d{r} USING (node)
  WHERE COALESCE(d{r}.deg, 0) < {k}
),
n{r} AS MATERIALIZED (
  SELECT node FROM n{p} WHERE node NOT IN (SELECT node FROM p{r})
),
e{r} AS MATERIALIZED (
  SELECT a, b FROM e{p}
  WHERE a NOT IN (SELECT node FROM p{r}) AND b NOT IN (SELECT node FROM p{r})
)"""
        )
    unions = "\nUNION ALL\n".join(
        f"SELECT node, CAST({r} AS INT) AS peel_round FROM p{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
{unions}
UNION ALL
SELECT node, CAST(NULL AS INT) AS peel_round FROM n{rounds}
"""
    )


SQL_KCORE_PEEL = _sql_kcore_peel()


def q_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model negative log-likelihood per document — the
    perplexity-filter quality signal (train the LM on the corpus itself,
    score every doc). nll(doc) = Σ_t -ln(count(t)/T) over the doc's
    tokens = n_doc·ln(T) − Σ ln(count(t)): counts and totals are
    engine-exact integers, ln enters only through the same
    SUM(ln(integer)) shape char_entropy uses. One token-keyed shuffle
    for corpus counts, a broadcast-sized count table joined back, one
    doc-keyed re-aggregate."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("t_total"))
    per_doc = (
        toks.join(F.broadcast(counts), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log("cnt")).alias("sum_ln_cnt"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.col("n_tokens") * F.log("t_total") - F.col("sum_ln_cnt"))
                / F.col("n_tokens"),
                4,
            ).alias("avg_nll"),
        )
    )


SQL_UNIGRAM_LOGPPL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
ft AS (SELECT doc_id, term FROM toks WHERE term <> ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM ft GROUP BY term),
total AS (SELECT SUM(cnt) AS t_total FROM counts),
per_doc AS (
  SELECT ft.doc_id, COUNT(*) AS n_tokens, SUM(ln(counts.cnt)) AS sum_ln_cnt
  FROM ft JOIN counts USING (term) GROUP BY ft.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round((n_tokens * ln(t_total) - sum_ln_cnt) / n_tokens, 4) AS avg_nll
FROM per_doc, total
"""


def q_bigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM negative log-likelihood per document with add-one
    smoothing — the context-aware upgrade of ``unigram_logppl`` (a doc
    full of common words in IMPROBABLE order now scores badly, which the
    unigram filter cannot see). P(w2|w1) = (c(w1 w2)+1) / (c(w1·)+V)
    where c(w1·) counts bigram CONTEXTS (occurrences of w1 as a bigram
    head) and V is the unigram vocabulary — add-one keeps every
    probability finite without a backoff table.

    avg_nll = (Σ ln(c(w1·)+V) − Σ ln(c(w1w2)+1)) / n_bigrams: both sums
    range over the doc's bigram positions, all counts engine-exact
    integers, ln only in the SUM(ln(integer)) shape the unigram gate
    already pins. Docs with <2 tokens are reported with NULL nll.

    Plan: bigrams come from one in-row zip (transform over the token
    array — no posexplode self-join), then ONE bigram-keyed shuffle for
    corpus counts; context counts reuse the bigram table (one more
    partial agg), both joined back broadcast (vocab-sized), one doc
    re-aggregate. Reference never scores text (its payloads are numeric
    samples); this extends SURVEY §2's quality tier."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text.nonempty_tokens_col().alias("ts")
    )
    bi = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(slice(ts, 1, greatest(size(ts) - 1, 0)),"
                " (t, i) -> struct(t AS w1, ts[i + 1] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bcnt = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ccnt = bcnt.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        docs.select(F.explode(text.nonempty_tokens_col()).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    per_doc = (
        bi.join(F.broadcast(bcnt), ["w1", "w2"])
        .join(F.broadcast(ccnt), "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.log(F.col("c1") + F.col("v"))).alias("s_ctx"),
            F.sum(F.log(F.col("c12") + 1)).alias("s_big"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round((F.col("s_ctx") - F.col("s_big")) / F.col("n_bigrams"), 4)
            .alias("avg_nll"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "avg_nll",
        )
    )


SQL_BIGRAM_LOGPPL = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
bi AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) s
),
bcnt AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
ccnt AS (SELECT w1, SUM(c12) AS c1 FROM bcnt GROUP BY 1),
vocab AS (
  SELECT COUNT(DISTINCT t) AS v
  FROM (SELECT unnest(ts) AS t FROM toks)
),
per_doc AS (
  SELECT bi.doc_id, COUNT(*) AS n_bigrams,
         SUM(ln(ccnt.c1 + vocab.v)) AS s_ctx,
         SUM(ln(bcnt.c12 + 1)) AS s_big
  FROM bi
  JOIN bcnt USING (w1, w2) JOIN ccnt USING (w1) CROSS JOIN vocab
  GROUP BY bi.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round((p.s_ctx - p.s_big) / p.n_bigrams, 4) AS avg_nll
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware split audit (curation.py::leakage_safe_split): docs
    are labeled by the md5 of their exact-dup GROUP key, so byte-equal
    documents always share a split. Reports per-split doc and group
    counts — the bookkeeping a leakage-safe dataset release publishes."""
    from database_collector_spark import curation

    split = curation.leakage_safe_split(_t(spark, sf_dir, "documents"))
    return split.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("group_key").alias("n_groups"),
    )


SQL_LEAKAGE_SAFE_SPLIT = """
WITH labeled AS (
  SELECT doc_id, md5(text) AS group_key,
         CASE WHEN substr(md5(md5(text)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5(md5(text)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, COUNT(*) AS n_docs, COUNT(DISTINCT group_key) AS n_groups
FROM labeled GROUP BY split
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE APPLY: learn 4 merges (bpe.train — the k-row merge table is
    the only driver traffic), then tokenize the whole corpus with the
    composed replace chain (operators/bpe.py::encode_corpus, a pure
    zero-shuffle projection). Output: per-doc word and BPE-token
    counts, all integer."""
    docs = _t(spark, sf_dir, "documents")
    # train_merges returns the rank-ordered driver-side list directly —
    # no createDataFrame + re-collect of a table the driver already has
    merges = [(a, b) for _, a, b, _, _ in bpe.train_merges(docs, n_merges=4)]
    return bpe.encode_corpus(docs, merges)


def _sql_bpe_encode(n_merges: int = 4) -> str:
    train_ctes = _sql_bpe_merges(n_merges).split("\nUNION ALL\n")[0]
    # keep only the WITH chain of the training oracle (drop its SELECT)
    with_chain = train_ctes[: train_ctes.rindex("SELECT")]
    seq = "'  ' || array_to_string(string_split(w, ''), '  ') || '  '"
    for r in range(n_merges):
        seq = (
            f"replace({seq}, ' ' || (SELECT sym_a FROM t{r}) || '  ' || "
            f"(SELECT sym_b FROM t{r}) || ' ', "
            f"' ' || (SELECT sym_a || sym_b FROM t{r}) || ' ')"
        )
    return (
        with_chain.rstrip() + ",\n"
        + f"""fw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
enc AS (
  SELECT doc_id, {seq} AS seq FROM fw WHERE w <> ''
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_words,
       CAST(SUM(len(string_split(trim(seq), '  '))) AS INT) AS n_bpe_tokens
FROM enc GROUP BY doc_id
"""
    )


SQL_BPE_ENCODE = _sql_bpe_encode()


def q_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination estimate: shared distinct word-3-gram
    shingles between two source slices (src0-9 vs src5-14), exact via
    one aggregate + inclusion-exclusion HLL estimate as a bounded-error
    verdict (the approx_distinct convention: sketches differ across
    engines, the within-10% boolean does not). The sketch path is the
    100 TB plan — three HLLs over one scan, no shingle join; the exact
    intersection here exists to make the gate hashable."""
    docs = _t(spark, sf_dir, "documents")
    src_n = F.regexp_extract("source", "src(\\d+)", 1).cast("int")
    tagged = docs.withColumn(
        "in_a", (src_n < 10)
    ).withColumn("in_b", (src_n >= 5) & (src_n < 15))
    sh = dedup.shingles(tagged.select("doc_id", "text")).join(
        tagged.select("doc_id", "in_a", "in_b"), "doc_id"
    )
    per_shingle = sh.groupBy("shingle").agg(
        F.max(F.col("in_a").cast("int")).alias("a"),
        F.max(F.col("in_b").cast("int")).alias("b"),
    )
    acd = lambda cond: F.approx_count_distinct(  # noqa: E731
        F.when(cond, F.col("shingle")), rsd=0.02
    ).cast("double")
    agg = sh.agg(
        acd(F.col("in_a")).alias("est_a"),
        acd(F.col("in_b")).alias("est_b"),
        acd(F.col("in_a") | F.col("in_b")).alias("est_union"),
    )
    exact = per_shingle.agg(
        F.sum("a").alias("exact_a"),
        F.sum("b").alias("exact_b"),
        F.sum(F.col("a") * F.col("b")).alias("exact_inter"),
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_union")
    return (
        exact.crossJoin(F.broadcast(agg))
        .select(
            "exact_a",
            "exact_b",
            "exact_inter",
            (
                F.abs(est_inter - F.col("exact_inter"))
                <= 0.10 * F.col("exact_inter")
            ).alias("within_10pct"),
        )
    )


SQL_CORPUS_OVERLAP = """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM (SELECT doc_id, source, t, unnest(generate_series(1, len(t) - 2)) AS i
        FROM toks)
),
tagged AS (
  SELECT shingle,
         MAX(CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) < 10
                  THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT)
                       BETWEEN 5 AND 14 THEN 1 ELSE 0 END) AS b
  FROM sh GROUP BY shingle
)
SELECT CAST(SUM(a) AS BIGINT) AS exact_a,
       CAST(SUM(b) AS BIGINT) AS exact_b,
       CAST(SUM(a * b) AS BIGINT) AS exact_inter,
       TRUE AS within_10pct
FROM tagged
"""


def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup-group canonical election
    (curation.elect_representatives): URL-canonicalization groups keep
    their LONGEST member (ties -> lowest doc id) rather than min-id —
    the curation policy real pipelines want ("keep the most complete
    copy"). One max-struct aggregate per group, no window."""
    from database_collector_spark import curation
    from database_collector_spark.operators import urls

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    membered = (
        _messy_urls(spark, sf_dir)
        .withColumn("canonical_url", urls.canonical_url(F.col("url")))
        .join(docs, "doc_id")
    )
    return curation.elect_representatives(
        membered, group_col="canonical_url", quality_col="n_chars"
    )


def _sql_cluster_representatives() -> str:

    canon_ctes = SQL_URL_DEDUP[: SQL_URL_DEDUP.rindex("SELECT")].rstrip()
    return canon_ctes + """,
membered AS (
  SELECT c.doc_id, c.canonical_url, d.n_chars
  FROM canon c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT canonical_url, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY canonical_url
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY canonical_url) AS n_members
  FROM membered
)
SELECT canonical_url, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS keeper_id, n_chars AS keeper_quality
FROM ranked WHERE rn = 1
"""


SQL_CLUSTER_REPRESENTATIVES = _sql_cluster_representatives()


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunking (text.chunk_documents:
    32-token windows, stride 24): the long-document preparation step for
    training windows / RAG passages. Zero-shuffle map expansion; every
    token lands in at least one chunk, chunk ids are deterministic."""
    return text.chunk_documents(_t(spark, sf_dir, "documents"))


SQL_CHUNK_DOCUMENTS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w <> '') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n,
         CAST(greatest(1, CAST(ceil((len(t) - 32) / 24.0) AS BIGINT) + 1)
              AS INT) AS n_chunks
  FROM toks
),
chunked AS (
  SELECT doc_id, t, n, CAST(ci.i AS INT) AS chunk_idx, ci.i * 24 AS st
  FROM sized,
       LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i) ci
)
SELECT doc_id, chunk_idx,
       array_to_string(t[st + 1 : st + 32], ' ') AS chunk_text,
       CAST(least(32, n - st) AS INT) AS chunk_len
FROM chunked
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: with the vocabulary = words whose
    corpus frequency >= 25 (the min_count pruning every tokenizer/
    embedding table applies), report each language's out-of-vocabulary
    token rate. One token-keyed count, a broadcast-sized vocab joined
    back, one language-keyed aggregate — the standard coverage check
    before freezing a vocab. Exact integers; rate = exact rational
    rounded."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count("*").alias("cnt"))
    vocab = counts.where(F.col("cnt") >= 25).select("term")
    flagged = toks.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "term", "left"
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            / F.count("*"),
            4,
        ).alias("oov_rate"),
    )


SQL_OOV_RATE = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents
),
ft AS (SELECT lang, term FROM toks WHERE term <> ''),
vocab AS (
  SELECT term FROM ft GROUP BY term HAVING COUNT(*) >= 25
)
SELECT lang, COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 4) AS oov_rate
FROM ft LEFT JOIN vocab v USING (term)
GROUP BY lang
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram collocations ranked by PMI, emitted as the exact
    integer rational scaled to ppb (log is monotone — same ordering, no
    cross-engine float logs). Bigram build is a zero-shuffle array
    transform; bigram counts are ONE token-stream aggregate; unigram
    counts and N are vocabulary-sized/one-row broadcast joins."""
    return text.pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5)


SQL_PMI_COLLOCATIONS = """
WITH words AS (
  SELECT string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT bgs.x AS x, bgs.y AS y FROM (
    SELECT unnest(list_transform(
             range(1, len(w)),
             i -> struct_pack(x := w[i], y := w[i+1]))) AS bgs
    FROM words
  ) WHERE bgs.x <> '' AND bgs.y <> ''
),
cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bg GROUP BY x, y),
uni AS (
  SELECT t AS tok, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> '' GROUP BY t
)
SELECT cxy.x, cxy.y, c_xy, ux.c AS c_x, uy.c AS c_y,
       CAST((CAST(c_xy AS HUGEINT) * (SELECT SUM(c) FROM uni) * 1000000000)
            // (CAST(ux.c AS HUGEINT) * uy.c) AS BIGINT) AS pmi_ppb
FROM cxy
JOIN uni ux ON ux.tok = cxy.x
JOIN uni uy ON uy.tok = cxy.y
WHERE c_xy >= 5
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the co-purchase graph (parts sharing
    an order are adjacent) — the clustering-structure statistic for any
    pair graph this engine builds (near-dup pairs, co-occurrence).

    Edge build: ONE order-keyed aggregate then an in-row i<j pair
    expansion (never a lineitem self-join); counting is the degree-
    ordered wedge plan in `operators/graph.py::triangle_counts` — each
    triangle found exactly once at its lowest-degree apex.

    The gate runs on the deterministic quarter of orders
    (l_orderkey % 4 == 0): wedge volume grows ~m·avg_outdeg, so the
    full sf0.1 graph costs ~16x the subgraph for zero extra operator
    coverage — the filter is mirrored in the oracle."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 0)
    ps = F.array_sort(F.collect_set("l_partkey"))
    pairs = (
        li.groupBy("l_orderkey")
        .agg(ps.alias("ps"))
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                            lambda y: F.struct(x.alias("src"), y.alias("dst")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
    )
    return graph.triangle_counts(pairs).select(
        F.col("node").alias("part"), "n_triangles"
    )


SQL_TRIANGLE_COUNT = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 4 = 0
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
GROUP BY part
"""


# The closed-form snapshot mutation shared by corpus_diff,
# minhash_persist_incremental and vocab_drift_kl: drop doc_id % 17,
# rewrite % 13 (' v2' suffix), add % 19 under +10M ids.
# ONE Spark definition + ONE SQL CTE so the three gates' differentials
# cannot desynchronize on the constants.
def v2_snapshot(docs: DataFrame) -> DataFrame:
    v = F.col("doc_id")
    survivors = docs.where(v % 17 != 0).select(
        "doc_id",
        F.when(v % 13 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where(v % 19 == 0).select(
        (v + 10_000_000).alias("doc_id"),
        F.concat(F.lit("added "), F.col("text")).alias("text"),
    )
    return survivors.unionByName(added)


SQL_V2_CTE = """v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 17 <> 0
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, 'added ' || text AS text
  FROM documents WHERE doc_id % 19 = 0
)"""


# ---------------------------------------------------------------- readability

def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document
    (operators/text.py::readability — vowel-group syllables, sentence
    floor 1, zero-shuffle in-row folds)."""
    return text.readability(_t(spark, sf_dir, "documents"))


SQL_READABILITY_SCORES = """
WITH words AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
  FROM documents
),
syl AS (
  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_words,
         CAST(SUM(greatest(len(regexp_extract_all(w, '[aeiouyAEIOUY]+')), 1)) AS BIGINT)
           AS n_syllables
  FROM words GROUP BY doc_id
),
base AS (
  SELECT d.doc_id,
         COALESCE(s.n_words, 0) AS n_words,
         CAST(greatest(len(regexp_extract_all(d.text, '[.!?]+')), 1) AS INT) AS n_sentences,
         CAST(COALESCE(s.n_syllables, 0) AS BIGINT) AS n_syllables
  FROM documents d LEFT JOIN syl s USING (doc_id)
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN
         round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                       - 84.6 * (n_syllables * 1.0 / n_words), 3) END AS flesch_ease,
       CASE WHEN n_words > 0 THEN
         round(0.39 * (n_words * 1.0 / n_sentences)
               + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 3) END AS fk_grade
FROM base
"""


# -------------------------------------------------------- temperature mixture

def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-T=2 domain sampling recipe over documents.source
    (curation.py::temperature_mixture — one scan, |domains|-row
    aggregate, bounded post-aggregate normalization windows)."""
    return curation.temperature_mixture(
        _t(spark, sf_dir, "documents"), by="source", temperature=2.0
    )


SQL_TEMPERATURE_MIXTURE = """
WITH per AS (
  SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
t AS (
  SELECT domain, n_docs, n_tokens,
         n_tokens / (SELECT SUM(n_tokens) * 1.0 FROM per) AS share,
         pow(n_tokens / (SELECT SUM(n_tokens) * 1.0 FROM per), 0.5) AS p
  FROM per
)
SELECT domain, n_docs, n_tokens,
       round(share, 6) AS raw_share,
       round(p / (SELECT SUM(p) FROM t), 6) AS temp_weight,
       CASE WHEN share > 0 THEN
         round((p / (SELECT SUM(p) FROM t)) / share, 4) END AS oversample
FROM t
"""


# --------------------------------------------------------- hashed classifier

def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shape hashed linear quality gate over documents, with
    word bigrams (operators/text.py::hashed_classifier — zero-shuffle
    in-row fold over md5-derived bucket weights)."""
    return text.hashed_classifier(
        _t(spark, sf_dir, "documents"), n_buckets=4096, salt="clf", bigrams=True
    )


# --------------------------------------------------- stratified weighted sample

def q_weighted_sample_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language k=5 weighted document sample, weight = n_chars
    (operators/sampling.py::weighted_reservoir_by — per-group A-ES keys,
    one group-keyed window)."""
    return sampling.weighted_reservoir_by(
        _t(spark, sf_dir, "documents"), k=5, weight_col="n_chars", by="lang"
    )


SQL_WEIGHTED_SAMPLE_BY = f"""
WITH v AS (
  SELECT lang, doc_id, n_chars AS weight,
         {hv_sql("CAST(doc_id AS VARCHAR)")} AS hv
  FROM documents WHERE n_chars > 0
),
keyed AS (
  SELECT lang, doc_id, weight, -ln((hv + 0.5) / 4294967296.0) / weight AS k
  FROM v
),
r AS (
  SELECT lang, doc_id, weight, k,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k ASC, doc_id ASC) AS rn
  FROM keyed
)
SELECT lang, doc_id, weight, round(k, 6) AS sample_key, CAST(rn AS INT) AS draw
FROM r WHERE rn <= 5
"""


# ------------------------------------------------------------ lang-ID audit

def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion table of the stopword language identifier vs the
    corpus ground truth (operators/text.py::lang_id_confusion — lang_id
    projection + one keyed aggregate + a label-cardinality-bounded
    share window)."""
    return text.lang_id_confusion(_t(spark, sf_dir, "documents"))


def _sql_lang_confusion() -> str:

    return f"""
WITH pred AS (SELECT * FROM ({SQL_LANG_ID}) q),
per AS (
  SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY 1, 2
)
SELECT actual_lang, pred_lang, n_docs,
       round(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY actual_lang), 4) AS frac_of_actual
FROM per
"""


SQL_LANG_CONFUSION = _sql_lang_confusion()


# ---------------------------------------------------------- tokenizer fertility

def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (BPE tokens/word, chars/token)
    after learning 4 merges on the corpus (operators/bpe.py::
    fertility_report — encode projection + one |langs|-row aggregate)."""
    from database_collector_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    # train_merges returns the rank-ordered driver-side list directly —
    # no createDataFrame + re-collect of a table the driver already has
    merges = [(a, b) for _, a, b, _, _ in bpe.train_merges(docs, n_merges=4)]
    return bpe.fertility_report(docs, merges, by="lang")


def _sql_bpe_fertility() -> str:

    return f"""
WITH enc AS (SELECT * FROM ({_sql_bpe_encode(4)}) q),
k AS (
  SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars,
         e.n_words, e.n_bpe_tokens
  FROM documents d JOIN enc e USING (doc_id)
),
a AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_words,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
  FROM k GROUP BY lang
)
SELECT lang, n_docs, n_words, n_chars, n_bpe_tokens,
       CASE WHEN n_words > 0 THEN round(n_bpe_tokens * 1.0 / n_words, 4) END AS fertility,
       CASE WHEN n_bpe_tokens > 0 THEN round(n_chars * 1.0 / n_bpe_tokens, 4) END AS chars_per_token
FROM a
"""


SQL_BPE_FERTILITY = _sql_bpe_fertility()


# ----------------------------------------------------------------- corpus diff

def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff documents -> v2 under a deterministic closed-form
    mutation — drop doc_id % 17 == 0, rewrite text for doc_id % 13 == 0,
    add shifted-id docs for doc_id % 19 == 0 — and report every
    non-unchanged row (curation.py::corpus_diff: map-side content
    hashes + ONE full-outer equi-join)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = v2_snapshot(docs)
    return curation.corpus_diff(docs, new).where(F.col("status") != "unchanged")


SQL_CORPUS_DIFF = f"""
WITH {SQL_V2_CTE},
old AS (SELECT doc_id, COALESCE(md5(text), chr(0) || '__null_text__') AS old_h FROM documents),
new AS (
  SELECT doc_id, COALESCE(md5(text), chr(0) || '__null_text__') AS new_h
  FROM v2
),
j AS (
  SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id, old_h, new_h
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
)
SELECT doc_id, old_h, new_h,
       CASE WHEN old_h IS NULL THEN 'added'
            WHEN new_h IS NULL THEN 'removed'
            WHEN old_h <> new_h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM j
WHERE CASE WHEN old_h IS NULL THEN 'added'
           WHEN new_h IS NULL THEN 'removed'
           WHEN old_h <> new_h THEN 'changed'
           ELSE 'unchanged' END <> 'unchanged'
"""


# ------------------------------------------------------------- BFS distances

_BFS_HOPS = 3


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the nearest seed within 3 hops over the same
    deterministic 3-out-regular link graph as the pagerank gate
    (v -> (2v+1)%N, (3v+7)%N, (5v+11)%N), seeds = doc_id % 50 == 0,
    directed (operators/graph.py::bfs_distances — frontier join +
    settled anti-join per hop, checkpointed)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("nn"))
    v = F.col("doc_id")
    edges = docs.join(F.broadcast(n_row)).select(
        v.alias("src"),
        F.explode(
            F.array(
                (2 * v + 1) % F.col("nn"),
                (3 * v + 7) % F.col("nn"),
                (5 * v + 11) % F.col("nn"),
            )
        ).alias("dst"),
    )
    sources = docs.where(v % 50 == 0).select(v.alias("node"))
    out = graph.bfs_distances(
        edges, sources, max_hops=_BFS_HOPS, directed=True
    )
    return out.select("node", F.col("dist").cast("int").alias("dist"))


def _sql_bfs_hops(max_hops: int = _BFS_HOPS) -> str:
    ctes = [
        "n AS (SELECT COUNT(*) AS nn FROM documents)",
        """e AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT doc_id AS src, (2 * doc_id + 1) % nn AS dst FROM documents, n
    UNION ALL SELECT doc_id, (3 * doc_id + 7) % nn FROM documents, n
    UNION ALL SELECT doc_id, (5 * doc_id + 11) % nn FROM documents, n
  ) WHERE src <> dst GROUP BY src, dst
)""",
        "r0 AS MATERIALIZED (SELECT doc_id AS node FROM documents WHERE doc_id % 50 = 0)",
        "s0 AS MATERIALIZED (SELECT node FROM r0)",
    ]
    for hop in range(1, max_hops + 1):
        ctes.append(
            f"""r{hop} AS MATERIALIZED (
  SELECT DISTINCT e.dst AS node FROM e JOIN r{hop - 1} f ON e.src = f.node
  WHERE e.dst NOT IN (SELECT node FROM s{hop - 1})
)"""
        )
        ctes.append(
            f"s{hop} AS MATERIALIZED (SELECT node FROM s{hop - 1} UNION ALL SELECT node FROM r{hop})"
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT node, CAST({hop} AS INT) AS dist FROM r{hop}"
        for hop in range(max_hops + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


SQL_BFS_HOPS = _sql_bfs_hops()


# ----------------------------------------------------- shard boundary overlap

_SHARD_K = 8
_SPLIT_MIN = 24
_HEAD_LEN = 16


def q_shard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-boundary duplication sweep (operators/dedup.py::
    boundary_overlap_pairs, k=8) over a deterministic re-sharding of the
    corpus: every document with >= 24 words is split into shard 2d
    (words 1..16) and shard 2d+1 (words 9..end) — an 8-word overlap at
    the seam, the split-document shape — while shorter docs pass through
    whole as shard 2d. The detector must recover exactly the seams (plus
    any incidental cross-document window collisions, which both engines
    surface identically)."""
    docs = _t(spark, sf_dir, "documents")
    toks = text.nonempty_tokens_col("text")
    base = docs.select("doc_id", toks.alias("ts"))
    long_docs = base.where(F.size("ts") >= _SPLIT_MIN)
    shard_a = long_docs.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.array_join(F.slice("ts", 1, _HEAD_LEN), " ").alias("text"),
    )
    shard_b = long_docs.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.array_join(
            F.slice(
                "ts",
                _HEAD_LEN - _SHARD_K + 1,
                F.size("ts") - (_HEAD_LEN - _SHARD_K),
            ),
            " ",
        ).alias("text"),
    )
    whole = base.where(F.size("ts") < _SPLIT_MIN).select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.array_join("ts", " ").alias("text"),
    )
    shards = shard_a.unionByName(shard_b).unionByName(whole)
    return dedup.boundary_overlap_pairs(shards, k=_SHARD_K)


SQL_SHARD_OVERLAP = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
shards AS (
  SELECT doc_id * 2 AS sid, array_to_string(ts[1:{_HEAD_LEN}], ' ') AS txt
  FROM t WHERE len(ts) >= {_SPLIT_MIN}
  UNION ALL
  SELECT doc_id * 2 + 1, array_to_string(ts[{_HEAD_LEN - _SHARD_K + 1}:len(ts)], ' ')
  FROM t WHERE len(ts) >= {_SPLIT_MIN}
  UNION ALL
  SELECT doc_id * 2, array_to_string(ts, ' ')
  FROM t WHERE len(ts) < {_SPLIT_MIN}
),
sides AS (
  SELECT sid, ws,
         array_to_string(ws[1:{_SHARD_K}], ' ') AS head_txt,
         array_to_string(ws[len(ws) - {_SHARD_K - 1}:len(ws)], ' ') AS tail_txt
  FROM (SELECT sid, list_filter(string_split(txt, ' '), t -> t <> '') AS ws
        FROM shards)
  WHERE len(ws) >= {_SHARD_K}
)
SELECT a.sid AS doc_a, b.sid AS doc_b, a.tail_txt AS overlap
FROM sides a JOIN sides b ON a.tail_txt = b.head_txt AND a.sid <> b.sid
"""


# --------------------------------------- incremental dedup with persisted sigs


def q_minhash_persist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly-ingest dedup with a PERSISTED signature table: last
    night's MinHash signatures for the whole corpus are written to
    parquet; tonight's snapshot (the corpus_diff closed-form mutation)
    recomputes signatures ONLY for changed/new documents — unchanged
    documents' signatures are read back from the store (content hash
    equality decides membership), so steady-state signature cost is
    O(|changed|), not O(|corpus|). The LSH band join then runs
    changed x reused-store only (operators/dedup.py::
    incremental_signature_pairs). Oracle recomputes everything from
    scratch over the v2 snapshot — equal results iff the parquet
    round-trip is lossless AND reuse selected exactly the unchanged
    set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = v2_snapshot(docs)
    path = os.path.join(_artifact_dir("sigs", sf_dir), "signatures")
    # "last night's build" happens once per (process, SF) — deterministic
    # content, mode("overwrite"), same caching argument as the IVF index
    # build above; the reuse path under test still runs per call
    if path not in _BUILT_ARTIFACTS:
        dedup.minhash_signatures(docs).write.mode("overwrite").parquet(path)
        _BUILT_ARTIFACTS.add(path)
    stored = spark.read.parquet(path)
    # membership by (doc_id, content hash): changed text or new id fails
    a_h = docs.select("doc_id", F.md5("text").alias("h"))
    b_h = v2.select("doc_id", F.md5("text").alias("h"))
    unchanged_ids = b_h.join(a_h, ["doc_id", "h"], "left_semi").select("doc_id")
    changed = v2.join(unchanged_ids, "doc_id", "left_anti")
    corpus_sigs = stored.join(unchanged_ids, "doc_id", "left_semi")
    corpus_docs = v2.join(unchanged_ids, "doc_id", "left_semi")
    return dedup.incremental_signature_pairs(
        changed, corpus_sigs, corpus_docs
    )


def _sql_minhash_persist_incremental() -> str:

    # changed-in-v2: rewritten survivor (%13, id < 10M) or added (>= 10M).
    # The oracle recomputes EVERY signature from the v2 snapshot — equal
    # results iff the gate's persisted-signature reuse selected exactly
    # the unchanged set and the parquet round-trip was lossless.
    chg_a = "((doc_a % 13 = 0 AND doc_a < 10000000) OR doc_a >= 10000000)"
    chg_b = "((doc_b % 13 = 0 AND doc_b < 10000000) OR doc_b >= 10000000)"
    return f"""
WITH {SQL_V2_CTE},
{sql_minhash_lsh_ctes("v2").strip()}
SELECT CASE WHEN {chg_a} THEN doc_a ELSE doc_b END AS new_doc,
       CASE WHEN {chg_a} THEN doc_b ELSE doc_a END AS corpus_doc,
       jaccard
FROM pairs
WHERE {chg_a} <> {chg_b}
"""


SQL_MINHASH_PERSIST_INCREMENTAL = _sql_minhash_persist_incremental()


# ------------------------------------------------------- sequence packing


_PACK_SEQ_LEN = 512


def _pack_sized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate's pre-checkpoint corpus projection: (doc_id, source,
    md5 order key, n_toks, hash bucket) — factored out so the plan pin
    can assert the UN-truncated upstream plan (scan-fused tokenize, no
    sort, no single-partition exchange) that q_pack_sequences'
    localCheckpoint otherwise hides behind an ExistingRDD leaf."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":pack")))
    return (
        docs.select(
            "doc_id",
            "source",
            key.alias("k"),
            F.size(F.expr("filter(split(text, ' '), t -> t <> '')"))
            .cast("long")
            .alias("n_toks"),
        )
        .where(F.col("n_toks") > 0)
        .withColumn("_b", F.conv(F.substring("k", 1, 4), 16, 10).cast("int"))
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing map: within each
    source (the packing domain), documents are laid end-to-end in a
    deterministic md5-shuffled order and the token stream is cut into
    _PACK_SEQ_LEN-token (512) training sequences. Output per doc: its
    token span [start_tok, start_tok + n_toks) in the domain stream and
    the first/last sequence ids it lands in — the materialized packing
    plan a trainer's data loader executes. Exact integers throughout.

    Scale (100 TB): sources are FEW (a handful of crawl/corpus labels),
    so ``Window.partitionBy(source)`` funnels each source's whole
    stream through ONE task's sort — the per-low-cardinality-group
    corpus-cumsum shape the r13 audit killed elsewhere (r13 VERDICT #3:
    this gate was one of the two misses). The cumulative offset is now
    a TWO-LEVEL prefix sum specialized to the HASH order key: the
    bucket map is simply the first 4 hex chars of the md5 key
    (``_b = conv(substr(k,1,4),16,10)``) — MONOTONE in the (k, doc_id)
    lexicographic order because ``_b`` is a prefix of the fixed-length
    lowercase-hex ``k``, and count-equalized BY CONSTRUCTION because
    md5 is uniform (the general-domain ``prefix_count_below`` needs its
    log-cell histogram exactly because arbitrary value domains are NOT
    uniform; a uniform hash key gets the equalization for free, and —
    unlike the numeric cell grid — this form is exact for the
    COMPOSITE (k, doc_id) tie-broken order). Within-bucket running
    sums partition by (source, _b) — 65536-way parallel per source;
    the carry-in offsets ride a window over the bounded
    |sources| x 65536 bucket-total table, which then BROADCASTS back
    onto the stream. At 100 TB / 50 TB-dominant-source this turns one
    50 TB single-task sort into 65536 ~800 MB sorts plus a 65536-row
    bounded pass."""
    # TWO consumers (within-bucket window + carry-in bucket totals)
    # read `sized` — lazily localCheckpoint it so the md5 + tokenize
    # corpus scan runs ONCE (r14 ADVICE; the _stream_start_offsets
    # precedent: the materialized frame is the NARROW post-tokenize
    # projection — no text column — so the checkpoint trades a repeat
    # scan of the corpus text for a compact local write). The
    # pre-checkpoint plan is pinned separately via _pack_sized (review:
    # the checkpoint renders downstream plans as an ExistingRDD leaf,
    # which would otherwise hide a reintroduced upstream funnel from
    # the plan pin).
    sized = _pack_sized(spark, sf_dir).localCheckpoint(eager=False)
    wb = (
        Window.partitionBy("source", "_b")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = sized.withColumn("_cum", F.sum("n_toks").over(wb))
    wc = (
        Window.partitionBy("source")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        sized.groupBy("source", "_b")
        .agg(F.sum("n_toks").alias("_bt"))
        .select(
            "source",
            "_b",
            F.coalesce(F.sum("_bt").over(wc), F.lit(0)).cast("long").alias("_carry"),
        )
    )
    packed = within.join(F.broadcast(carry), ["source", "_b"]).select(
        "doc_id",
        "source",
        "n_toks",
        (F.col("_carry") + F.col("_cum") - F.col("n_toks")).alias("start_tok"),
    )
    return packed.select(
        "doc_id",
        "source",
        "n_toks",
        "start_tok",
        F.expr(f"start_tok div {_PACK_SEQ_LEN}").alias("seq_first"),
        F.expr(f"(start_tok + n_toks - 1) div {_PACK_SEQ_LEN}").alias("seq_last"),
    )


SQL_PACK_SEQUENCES = f"""
WITH sized AS (
  SELECT doc_id, source,
         md5(CAST(doc_id AS VARCHAR) || ':pack') AS k,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
           AS n_toks
  FROM documents
),
packed AS (
  -- window SUM over BIGINT types HUGEINT in DuckDB: cast back to BIGINT
  -- (the map_funcs Arrow-portability class; LIMIT-0 meta-test enforced)
  SELECT doc_id, source, n_toks,
         CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY k, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_toks AS BIGINT) AS start_tok
  FROM sized WHERE n_toks > 0
)
SELECT doc_id, source, n_toks, start_tok,
       CAST(start_tok // {_PACK_SEQ_LEN} AS BIGINT) AS seq_first,
       CAST((start_tok + n_toks - 1) // {_PACK_SEQ_LEN} AS BIGINT) AS seq_last
FROM packed
"""


# ------------------------------------------------------- vocab drift KL


def q_vocab_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution drift between two corpus snapshots (the
    corpus_diff closed-form v2): add-1-smoothed per-token KL(B||A)
    contribution over the union vocabulary, reported as the top 25
    drift-driving tokens — the release gate that catches a vocabulary/
    domain shift before a tokenizer or mixture is frozen on the new
    snapshot. Two token-count aggregates + one full-outer hash join on
    the token + two single-row totals broadcast back; contributions are
    computed from exact integer counts through one fixed expression
    shape, so the doubles are cross-engine identical."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = v2_snapshot(docs)

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(F.split("text", " ")).alias("token"))
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count("*").alias(name))
        )

    ca, cb = counts(docs, "n_a"), counts(v2, "n_b")
    joined = ca.join(cb, "token", "full_outer").select(
        "token",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    )
    tot = joined.agg(
        F.sum("n_a").alias("tot_a"),
        F.sum("n_b").alias("tot_b"),
        F.count("*").alias("vocab"),
    )
    j = joined.crossJoin(F.broadcast(tot))
    p_a = (F.col("n_a") + 1).cast("double") / (F.col("tot_a") + F.col("vocab")).cast(
        "double"
    )
    p_b = (F.col("n_b") + 1).cast("double") / (F.col("tot_b") + F.col("vocab")).cast(
        "double"
    )
    contrib = p_b * F.log(p_b / p_a)
    return (
        j.select("token", "n_a", "n_b", contrib.alias("c"))
        .orderBy(F.desc("c"), F.asc("token"))
        .limit(25)
        .select("token", "n_a", "n_b", F.round("c", 9).alias("kl_contrib"))
    )


SQL_VOCAB_DRIFT_KL = f"""
WITH {SQL_V2_CTE},
ta AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
tb AS (
  SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM v2
),
ca AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_a FROM ta GROUP BY 1),
cb AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_b FROM tb GROUP BY 1),
joined AS (
  SELECT COALESCE(ca.token, cb.token) AS token,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb USING (token)
),
tot AS (
  SELECT SUM(n_a) AS tot_a, SUM(n_b) AS tot_b, COUNT(*) AS vocab FROM joined
),
scored AS (
  SELECT token, n_a, n_b,
         (CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + vocab AS DOUBLE))
           * ln((CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + vocab AS DOUBLE))
                / (CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + vocab AS DOUBLE))) AS c
  FROM joined, tot
)
SELECT token, n_a, n_b, round(c, 9) AS kl_contrib
FROM scored ORDER BY c DESC, token ASC LIMIT 25
"""


# ------------------------------------------------------- n-gram novelty


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-shingle fraction against the rest of the
    corpus (the RefinedWeb/Gopher-style duplication signal at the
    fragment level): for each document, what share of its distinct
    3-gram shingles also appear in at least one OTHER document? High
    shares flag near-boilerplate; low shares flag novel text worth
    keeping. One shingle document-frequency aggregate (shuffles distinct
    (doc, shingle) pairs once), one join back, one per-doc aggregate —
    never a doc x doc comparison."""
    docs = _t(spark, sf_dir, "documents")
    sh = dedup.shingles(docs, n=3)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        sh.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_shingles"), 4).alias("dup_frac"),
        )
    )


def _sql_ngram_novelty() -> str:

    return f"""
WITH {_sql_shingles().strip().lstrip()}
, dfc AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
SELECT sh.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       round(CAST(SUM(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 4) AS dup_frac
FROM sh JOIN dfc USING (shingle)
GROUP BY sh.doc_id
"""


SQL_NGRAM_NOVELTY = _sql_ngram_novelty()


# --------------------------------------------------- per-source quota cap


_QUOTA_CAP = 40


def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-domain quota cap: every source contributes at
    most _QUOTA_CAP (40) documents, chosen by md5 rank (a uniform,
    seedable, engine-reproducible draw) — the "no domain dominates the
    mixture" curation rule applied as a rank filter. ONE per-source
    window (partitioned — source is the packing key, never a global
    sort); emits the kept docs with their rank so downstream mixtures
    can subsample further without re-ranking."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota")))
    w = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        docs.select("doc_id", "source", key.alias("k"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _QUOTA_CAP)
        .select("doc_id", "source", F.col("rank").cast("int").alias("rank"))
    )


SQL_SOURCE_QUOTA_SAMPLE = f"""
WITH keyed AS (
  SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR) || ':quota') AS k
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id) AS INT)
           AS rank
  FROM keyed
)
SELECT doc_id, source, rank FROM ranked WHERE rank <= {_QUOTA_CAP}
"""


# artifact paths already built this process (signature store; the
# dir is pid-suffixed, so cross-process runs never share a stale build)
_BUILT_ARTIFACTS: set[str] = set()


# -------------------------------------------- per-source relative filter


_FILTER_CUT = 0.40


def q_source_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source RELATIVE quality filter: keep each source's top share
    of documents by score instead of one global threshold — the
    published curation rule (FineWeb/DCLM-style) that stops a verbose
    domain from drowning a terse one when both are filtered by the same
    absolute cutoff. Score here is the exact integer token count;
    cume_dist over (score, doc_id) is tie-free and engine-identical
    (both engines compute rows<=current / n on the same integers), and
    the cut keeps documents above the source's 40th percentile. ONE
    per-source window — partitioned, never a global sort. The filter
    itself is the reusable curation.relative_percentile_filter operator
    (property-tested for the exact per-group keep count); this gate
    feeds it the fixture's integer token-count score."""
    from database_collector_spark.curation import relative_percentile_filter

    docs = _t(spark, sf_dir, "documents")
    score = F.coalesce(
        F.size(F.expr("filter(split(text, ' '), t -> t <> '')")), F.lit(0)
    ).cast("long")
    return relative_percentile_filter(
        docs.select("doc_id", "source", score.alias("score")), cut=_FILTER_CUT
    ).select("doc_id", "source", "score", "pct")


SQL_SOURCE_PERCENTILE_FILTER = f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(COALESCE(len(list_filter(string_split(text, ' '), t -> t <> '')), 0)
              AS BIGINT) AS score
  FROM documents
),
r AS (
  SELECT doc_id, source, score,
         cume_dist() OVER (PARTITION BY source ORDER BY score, doc_id) AS cd
  FROM scored
)
SELECT doc_id, source, score, round(cd, 9) AS pct
FROM r WHERE cd > {_FILTER_CUT}
"""


# -------------------------------------------- token budget apportionment


_TOKEN_BUDGET = 1_000_000


def q_token_budget_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn mixture weights into INTEGER token quotas: apportion a
    global training-token budget (1M here) across sources by
    temperature-flattened weight w_i = floor(sqrt(n_toks_i)) (T=2 in
    the temperature_mixture sense — sqrt is IEEE correctly-rounded, so
    the weights are engine-exact integers) using largest-remainder
    (Hamilton) rounding: base_i = floor(B*w_i / W), then the leftover
    B - sum(base) units go to the largest remainders (source-name
    tie-break). All integer arithmetic end to end — quotas sum to B
    EXACTLY, the property trainer data loaders require and
    floating-point shares don't give. One |sources|-row aggregate, two
    1-row broadcasts, one bounded |sources|-row window. The allocator
    itself is the reusable curation.token_budget_allocation operator
    (property-tested against a plain-Python reference on arbitrary
    weight tables); this gate feeds it the fixture's per-source counts."""
    from database_collector_spark.curation import token_budget_allocation

    docs = _t(spark, sf_dir, "documents")
    n = F.size(F.expr("filter(split(text, ' '), t -> t <> '')")).cast("long")
    per = docs.select("source", n.alias("n")).groupBy("source").agg(
        F.sum("n").alias("n_toks")
    )
    return token_budget_allocation(per, _TOKEN_BUDGET)


SQL_TOKEN_BUDGET_ALLOC = f"""
WITH per AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT)
           AS n_toks
  FROM documents GROUP BY source
),
w AS (
  SELECT source, n_toks,
         CAST(COALESCE(floor(sqrt(CAST(n_toks AS DOUBLE))), 0) AS BIGINT) AS wt
  FROM per
),
tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot_w FROM w),
b AS (
  SELECT source, n_toks, wt,
         ({_TOKEN_BUDGET} * wt) // tot_w AS base_q,
         ({_TOKEN_BUDGET} * wt) % tot_w AS rem
  FROM w, tot WHERE tot_w > 0
),
spent AS (SELECT CAST(SUM(base_q) AS BIGINT) AS spent FROM b),
r AS (
  SELECT b.*, spent.spent,
         ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk
  FROM b, spent
)
SELECT source, n_toks, wt,
       CAST(base_q + CASE WHEN rk <= {_TOKEN_BUDGET} - spent THEN 1 ELSE 0 END
            AS BIGINT) AS quota
FROM r
"""


# ----------------------------------------------- cross-doc substring dedup

_SUBSTR_K = 8


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup across documents: every maximal >= 8-token
    verbatim cross-doc overlap as a cut span
    (operators/dedup.py::cross_doc_duplicate_spans — positioned
    shingles, ONE hash-keyed doc-frequency aggregate, gaps-and-islands
    merge; never doc x doc)."""
    return dedup.cross_doc_duplicate_spans(
        _t(spark, sf_dir, "documents"), k=_SUBSTR_K
    )


def _sql_substring_dedup(k: int = _SUBSTR_K) -> str:
    # Positions derive from each doc's own token count (r10 ADVICE: a
    # fixed generate_series bound would silently truncate shingle sets
    # for docs longer than the bound while the Spark side stays
    # complete — the bound-free form matches the Spark semantics at any
    # document length).
    span_txt = " || ' ' || ".join(f"t[pos + {j}]" for j in range(k))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
ps0 AS (
  SELECT doc_id, t, unnest(generate_series(1, len(t) - {k} + 1)) AS pos
  FROM toks WHERE len(t) >= {k}
),
ps AS (
  SELECT doc_id, pos, md5({span_txt}) AS sh FROM ps0
),
dup AS (
  SELECT sh FROM (
    SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM ps GROUP BY sh
  ) WHERE nd >= 2
),
m AS (SELECT doc_id, pos FROM ps JOIN dup USING (sh)),
g AS (
  SELECT doc_id, pos,
         CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {k} THEN 0 ELSE 1 END AS brk
  FROM m
),
isl AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM g
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {k} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {k} - 1 - MIN(pos) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, isl
"""


SQL_SUBSTRING_DEDUP = _sql_substring_dedup()


# ------------------------------------------------------------ DSIR weights

def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram importance weights, target = lang='en'
    (operators/text.py::dsir_logratio_weights — one bounded model
    shuffle, broadcast model table, doc-keyed re-aggregate)."""
    return text.dsir_logratio_weights(
        _t(spark, sf_dir, "documents"), target_filter=F.col("lang") == "en"
    )


_DSIR_B = 1024

SQL_DSIR_WEIGHTS = f"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_target, unnest(string_split(text, ' ')) AS term
  FROM documents
),
ft AS (SELECT doc_id, is_target, term FROM toks WHERE term <> ''),
bk AS (
  SELECT doc_id, is_target,
         {hv_sql("term || ':' || 'dsir'")} % {_DSIR_B} AS b
  FROM ft
),
model AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
  FROM bk GROUP BY b
),
totals AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
per_bucket AS (
  SELECT doc_id, is_target, b, COUNT(*) AS n_b FROM bk GROUP BY doc_id, is_target, b
),
scored AS (
  SELECT p.doc_id, p.is_target,
         CAST(SUM(p.n_b) AS BIGINT) AS n_toks,
         SUM(p.n_b * (ln(m.ct + 1) - ln(m.cr + 1))) AS s_cnt
  FROM per_bucket p JOIN model m USING (b)
  GROUP BY p.doc_id, p.is_target
)
SELECT doc_id, n_toks, is_target,
       round(s_cnt + n_toks * (ln(nr + {_DSIR_B}) - ln(nt + {_DSIR_B})), 4) AS log_w
FROM scored, totals
"""


# ------------------------------------------- cross-source duplication matrix


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation report: how much does each source near-duplicate
    each other source? Verified MinHash-LSH pairs (the dedup_minhash_lsh
    machinery, jaccard >= 0.8) attached to their sources, rolled up to
    an unordered source-pair matrix: verified pair count + distinct
    docs involved per cell. The standard question before dropping or
    down-weighting a source at ingest ('is source X mostly a mirror of
    Y?'), asked of 100 TB corpora as a matter of course.

    Scale shape: pairs are LSH-candidate-bounded (never doc x doc); the
    source attach is two hash joins keyed by doc id against a 2-column
    projection of the corpus; both rollups partial-aggregate map-side
    and the output is <= |sources|^2 rows. All-integer counts ->
    hash-exact cross-engine."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs)
    src = docs.select("doc_id", "source")
    attached = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
            "doc_a",
            "doc_b",
        )
    )
    # ONE aggregation over the exploded frame yields both columns —
    # each pair contributes exactly 2 exploded rows to its cell, so
    # pair_count = count(*) div 2 (always even; exact) and the LSH
    # pipeline is planned once instead of once per rollup branch
    exploded = attached.select(
        "src_lo", "src_hi", F.explode(F.array("doc_a", "doc_b")).alias("d")
    )
    return (
        exploded.groupBy("src_lo", "src_hi")
        .agg(
            F.expr("count(*) div 2").alias("pair_count"),
            F.countDistinct("d").alias("docs_involved"),
        )
        .orderBy("src_lo", "src_hi")
    )


def _sql_cross_source_dup_matrix() -> str:

    return f"""
WITH {sql_minhash_lsh_ctes()},
ps AS (
  SELECT LEAST(da.source, db.source) AS src_lo,
         GREATEST(da.source, db.source) AS src_hi,
         p.doc_a, p.doc_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
ex AS (SELECT src_lo, src_hi, unnest([doc_a, doc_b]) AS d FROM ps)
SELECT src_lo, src_hi,
       CAST(COUNT(*) // 2 AS BIGINT) AS pair_count,
       CAST(COUNT(DISTINCT d) AS BIGINT) AS docs_involved
FROM ex GROUP BY src_lo, src_hi
ORDER BY src_lo, src_hi
"""


SQL_CROSS_SOURCE_DUP_MATRIX = _sql_cross_source_dup_matrix()


# ------------------------------------------------- source governance report

_GOV_CUT = 0.40
_GOV_BUDGET = 1_000_000


def q_source_governance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The examples/source_governance.py triage chain as ONE hash-
    checked composition — per source: mirror partners from verified
    MinHash-LSH pairs, survivors of the per-source relative percentile
    floor (cut 0.40 on the exact integer token count), DSIR target-
    likeness (mean per-token log-weight, target lang='en'), and the
    Hamilton integer token quota apportioned over the SURVIVORS' token
    counts — quotas sum to the budget exactly. Each stage is the same
    public operator its standalone gate checks
    (cross_source_dup_matrix, source_percentile_filter, dsir_weights,
    token_budget_alloc); this gate pins the COMPOSITION, where a
    column-contract drift between stages would hide from the
    per-stage gates.

    Exactness: counts, kept-token sums and quotas are all-integer;
    dsir_like divides each doc's 4-rounded log_w by its exact integer
    token count (identical operands both engines) and rounds the
    per-source mean to 3 — the sub-ulp association-order residue of the
    double sum sits ~6 orders below the rounding step (the dsir_weights
    accepted class, one round coarser)."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")

    # mirror partners: verified near-dup pairs attached to sources;
    # partners = distinct OTHER sources sharing >= 1 verified pair
    pairs = dedup.minhash_lsh_dedup(docs)
    attached = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("sa").alias("source"), F.col("sb").alias("partner")),
                    F.struct(F.col("sb").alias("source"), F.col("sa").alias("partner")),
                )
            ).alias("e")
        )
        .select("e.source", "e.partner")
    )
    partners = attached.groupBy("source").agg(
        F.countDistinct("partner").alias("dup_partners")
    )

    # per-source relative floor on the exact integer token count
    score = F.coalesce(
        F.size(F.expr("filter(split(text, ' '), t -> t <> '')")), F.lit(0)
    ).cast("long")
    # r16: the tokenize+count fold is read by THREE non-identical
    # branches (the percentile-floor window, the per-source doc count,
    # the survivor rollup) — ReusedExchange cannot dedupe them, so the
    # lazy checkpoint runs the corpus fold once (the entity_resolution
    # rationale; the frame is 3 narrow columns, corpus-compressed)
    scored = docs.select(
        "doc_id", "source", score.alias("score")
    ).localCheckpoint(eager=False)
    kept = curation.relative_percentile_filter(scored, cut=_GOV_CUT)
    per_src = scored.groupBy("source").agg(F.count("*").alias("n_docs"))
    kept_src = kept.groupBy("source").agg(
        F.count("*").alias("n_kept"), F.sum("score").alias("kept_tokens")
    )

    # DSIR target-likeness: mean per-token log-weight by source
    dsir = text.dsir_logratio_weights(docs).select("doc_id", "n_toks", "log_w")
    likeness = (
        src.join(dsir, "doc_id")
        .where(F.col("n_toks") > 0)
        .groupBy("source")
        .agg(F.round(F.avg(F.col("log_w") / F.col("n_toks")), 3).alias("dsir_like"))
    )

    # Hamilton quotas over the SURVIVORS' token counts
    quotas = curation.token_budget_allocation(
        kept_src.select("source", F.col("kept_tokens").alias("n_toks")), _GOV_BUDGET
    ).select("source", "quota")

    return (
        per_src.join(kept_src, "source")
        .join(partners, "source", "left")
        .join(likeness, "source", "left")
        .join(quotas, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_kept",
            "kept_tokens",
            F.coalesce(F.col("dup_partners"), F.lit(0)).cast("long").alias(
                "dup_partners"
            ),
            "dsir_like",
            F.coalesce(F.col("quota"), F.lit(0)).cast("long").alias("quota"),
        )
        .orderBy("source")
    )


# The oracle composes the four stage oracles' CTE chains verbatim-in-
# shape (minhash pairs -> partner rollup; cume_dist floor; DSIR model;
# Hamilton remainder ranking). MATERIALIZED where a CTE feeds multiple
# downstream chains (the BPE/k-core CTE-explosion class).
SQL_SOURCE_GOVERNANCE = f"""
WITH {sql_minhash_lsh_ctes()},
srcmap AS MATERIALIZED (SELECT doc_id, source FROM documents),
partner_edges AS (
  SELECT sa.source AS source, sb.source AS partner
  FROM pairs p
  JOIN srcmap sa ON sa.doc_id = p.doc_a
  JOIN srcmap sb ON sb.doc_id = p.doc_b
  WHERE sa.source <> sb.source
  UNION
  SELECT sb.source, sa.source
  FROM pairs p
  JOIN srcmap sa ON sa.doc_id = p.doc_a
  JOIN srcmap sb ON sb.doc_id = p.doc_b
  WHERE sa.source <> sb.source
),
partners AS (
  SELECT source, CAST(COUNT(DISTINCT partner) AS BIGINT) AS dup_partners
  FROM partner_edges GROUP BY source
),
scored AS MATERIALIZED (
  SELECT doc_id, source,
         CAST(COALESCE(len(list_filter(string_split(text, ' '), t -> t <> '')), 0)
              AS BIGINT) AS score
  FROM documents
),
kept AS MATERIALIZED (
  SELECT doc_id, source, score FROM (
    SELECT doc_id, source, score,
           cume_dist() OVER (PARTITION BY source ORDER BY score, doc_id) AS cd
    FROM scored
  ) WHERE cd > {_GOV_CUT}
),
per_src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM scored GROUP BY source),
kept_src AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
         CAST(SUM(score) AS BIGINT) AS kept_tokens
  FROM kept GROUP BY source
),
dtoks AS (
  SELECT doc_id, (lang = 'en') AS is_target, unnest(string_split(text, ' ')) AS term
  FROM documents
),
dft AS (SELECT doc_id, is_target, term FROM dtoks WHERE term <> ''),
bk AS MATERIALIZED (
  SELECT doc_id, is_target,
         {hv_sql("term || ':' || 'dsir'")} % {_DSIR_B} AS b
  FROM dft
),
model AS (
  SELECT b, COUNT(*) AS cr,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS ct
  FROM bk GROUP BY b
),
totals AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
per_bucket AS (
  SELECT doc_id, b, COUNT(*) AS n_b FROM bk GROUP BY doc_id, b
),
dsir AS MATERIALIZED (
  SELECT sc.doc_id, sc.n_toks,
         round(sc.s_cnt + sc.n_toks * (ln(nr + {_DSIR_B}) - ln(nt + {_DSIR_B})), 4)
           AS log_w
  FROM (
    SELECT p.doc_id,
           CAST(SUM(p.n_b) AS BIGINT) AS n_toks,
           SUM(p.n_b * (ln(m.ct + 1) - ln(m.cr + 1))) AS s_cnt
    FROM per_bucket p JOIN model m USING (b)
    GROUP BY p.doc_id
  ) sc, totals
),
likeness AS (
  SELECT s.source, round(AVG(d.log_w / d.n_toks), 3) AS dsir_like
  FROM srcmap s JOIN dsir d USING (doc_id)
  WHERE d.n_toks > 0 GROUP BY s.source
),
w AS (
  SELECT source, kept_tokens,
         CAST(COALESCE(floor(sqrt(CAST(kept_tokens AS DOUBLE))), 0) AS BIGINT) AS wt
  FROM kept_src
),
tot_w AS (SELECT CAST(SUM(wt) AS BIGINT) AS tot_w FROM w),
b0 AS (
  SELECT source, wt,
         ({_GOV_BUDGET} * wt) // tot_w AS base_q,
         ({_GOV_BUDGET} * wt) % tot_w AS rem
  FROM w, tot_w WHERE tot_w > 0
),
spent AS (SELECT CAST(SUM(base_q) AS BIGINT) AS spent FROM b0),
quota AS (
  SELECT source,
         CAST(base_q + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC)
                                 <= {_GOV_BUDGET} - spent THEN 1 ELSE 0 END
              AS BIGINT) AS quota
  FROM b0, spent
)
SELECT p.source, p.n_docs, k.n_kept, k.kept_tokens,
       COALESCE(pa.dup_partners, 0) AS dup_partners,
       l.dsir_like,
       COALESCE(q.quota, 0) AS quota
FROM per_src p
JOIN kept_src k USING (source)
LEFT JOIN partners pa USING (source)
LEFT JOIN likeness l USING (source)
LEFT JOIN quota q USING (source)
ORDER BY p.source
"""


# ----------------------------------------------- quality-rule funnel

_STOPWORDS = sorted({w for ws in text.LANG_STOPWORDS.values() for w in ws})


def _rule_columns() -> list[tuple[str, F.Column]]:
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stop_arr = ",".join(f"'{w}'" for w in _STOPWORDS)
    n_stop = F.expr(
        f"size(filter(split(text, ' '), x -> array_contains(array({stop_arr}), x)))"
    )
    n_sym = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z ]", ""))
    n_distinct = F.size(F.array_distinct(toks))
    # ordered funnel — every threshold an integer cross-multiply, no
    # float ratios anywhere. The explicit text-IS-NOT-NULL conjunct
    # makes NULL-text behavior engine-independent: Spark's size(NULL)
    # is -1 under the legacy flag (which would FIRE too_short) while
    # DuckDB's len(NULL) is NULL (which would not); FALSE AND x is
    # FALSE in both, so NULL-text rows count as not-flagged everywhere.
    nn = F.col("text").isNotNull()
    return [
        ("too_short", nn & (n_tok < 10)),
        ("low_stopword", nn & (n_stop * 20 < n_tok)),
        ("symbol_heavy", nn & (n_sym * 5 > F.length(F.col("text")))),
        ("low_diversity", nn & (n_distinct * 2 < n_tok)),
    ]


def q_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality-rule funnel report over documents
    (operators/text.py::rule_attribution): per-rule independent flag
    counts plus FIRST-firing-rule marginals that reconcile exactly
    against the survivor count — one corpus scan for the whole report
    regardless of rule count."""
    return text.rule_attribution(
        _t(spark, sf_dir, "documents"), _rule_columns()
    ).orderBy("rule_order")


def _sql_rule_attribution() -> str:
    stop_list = ",".join(f"'{w}'" for w in _STOPWORDS)
    f0 = "(len(string_split(text, ' ')) < 10)"
    f1 = (
        f"(len(list_filter(string_split(text, ' '), "
        f"x -> list_contains([{stop_list}], x))) * 20 "
        "< len(string_split(text, ' ')))"
    )
    f2 = "(length(regexp_replace(text, '[a-zA-Z ]', '', 'g')) * 5 > length(text))"
    f3 = (
        "(len(list_distinct(string_split(text, ' '))) * 2 "
        "< len(string_split(text, ' ')))"
    )
    names = ["too_short", "low_stopword", "symbol_heavy", "low_diversity"]
    rows = []
    for i, name in enumerate(names):
        prior = " OR ".join(f"f{j}" for j in range(i)) or "FALSE"
        rows.append(
            f"SELECT CAST({i} AS BIGINT) AS rule_order, '{name}' AS rule,\n"
            f"       CAST(SUM(CASE WHEN f{i} THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_flagged,\n"
            f"       CAST(SUM(CASE WHEN f{i} AND NOT ({prior}) THEN 1 ELSE 0 END)"
            " AS BIGINT) AS n_marginal,\n"
            "       CAST(COUNT(*) AS BIGINT) AS n_docs FROM f"
        )
    body = "\nUNION ALL\n".join(rows)
    return f"""
WITH f AS MATERIALIZED (
  SELECT COALESCE((text IS NOT NULL AND {f0}), FALSE) AS f0,
         COALESCE((text IS NOT NULL AND {f1}), FALSE) AS f1,
         COALESCE((text IS NOT NULL AND {f2}), FALSE) AS f2,
         COALESCE((text IS NOT NULL AND {f3}), FALSE) AS f3
  FROM documents
)
{body}
ORDER BY rule_order
"""


SQL_RULE_ATTRIBUTION = _sql_rule_attribution()


# ------------------------------------------------------- vocab coverage


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-coverage estimate per language
    (operators/text.py::vocab_richness): observed vocabulary, hapax and
    doubleton counts, and the bias-corrected Chao1 estimate — the
    "is this slice mined out" curation read from the rare end of the
    token frequency spectrum."""
    return text.vocab_richness(
        _t(spark, sf_dir, "documents"), group_col="lang"
    ).orderBy("lang")


SQL_VOCAB_COVERAGE = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
),
freq AS (
  SELECT lang, tok, COUNT(*) AS f FROM toks WHERE tok <> '' GROUP BY 1, 2
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS observed,
         CAST(SUM(f) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM freq GROUP BY lang
)
SELECT lang, observed, n_tokens, f1, f2,
       round(observed + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6)
         AS chao1
FROM agg ORDER BY lang
"""


# -------------------------------------------------------- class balance


def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source class-balance downsampling plan
    (curation.class_balance_plan): per (source, lang) cell the observed
    count, the source's balance target (its smallest class), and the
    keep fraction a sampler should apply — the decision table a
    training-mix assembly reviews, one row per cell, never the corpus."""
    return curation.class_balance_plan(
        _t(spark, sf_dir, "documents"), group_col="source", label_col="lang"
    ).orderBy("source", "label")


SQL_CLASS_BALANCE = """
WITH cells AS (
  SELECT source, lang AS label, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY 1, 2
)
SELECT source, label, n,
       CAST(MIN(n) OVER (PARTITION BY source) AS BIGINT) AS target,
       round(CAST(MIN(n) OVER (PARTITION BY source) AS DOUBLE) / n, 6)
         AS keep_frac
FROM cells ORDER BY source, label
"""


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
    "posexplode_tokens": q_posexplode_tokens,
    "tfidf_top_terms": q_tfidf_top_terms,
    "dedup_clusters": q_dedup_clusters,
    "corpus_shuffle": q_corpus_shuffle,
    "kfold_split": q_kfold_split,
    "filter_funnel": q_filter_funnel,
    "sample_stratified": q_sample_stratified,
    "hash_split": q_hash_split,
    "text_normalize": q_text_normalize,
    "lexical_diversity": q_lexical_diversity,
    "token_estimate": q_token_estimate,
    "length_trim": q_length_trim,
    "crossmodal_join": q_crossmodal_join,
    "mixture_sample": q_mixture_sample,
    "curation_pipeline": q_curation_pipeline,
    "curation_full": q_curation_full,
    "sequence_pack": q_sequence_pack,
    "jaccard_join_exact": q_jaccard_join_exact,
    "text_token_stats": q_text_token_stats,
    "entity_resolution": q_entity_resolution,
    "dedup_containment": q_dedup_containment,
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
    "dedup_incremental": q_dedup_incremental,
    "decontaminate": q_decontaminate,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "heavy_hitters": q_heavy_hitters,
    "heavy_hitters_by_lang": q_heavy_hitters_by_lang,
    "pii_scrub": q_pii_scrub,
    "dedup_fuzzy": q_dedup_fuzzy,
    "pmi_collocations": q_pmi_collocations,
    "triangle_count": q_triangle_count,
    "bpe_merges": q_bpe_merges,
    "weighted_sample": q_weighted_sample,
    "pagerank_exact": q_pagerank_exact,
    "unigram_logppl": q_unigram_logppl,
    "bigram_logppl": q_bigram_logppl,
    "kcore_peel": q_kcore_peel,
    "leakage_safe_split": q_leakage_safe_split,
    "bpe_encode": q_bpe_encode,
    "corpus_overlap": q_corpus_overlap,
    "cluster_representatives": q_cluster_representatives,
    "chunk_documents": q_chunk_documents,
    "oov_rate": q_oov_rate,
    "readability_scores": q_readability_scores,
    "temperature_mixture": q_temperature_mixture,
    "quality_classifier": q_quality_classifier,
    "weighted_sample_by": q_weighted_sample_by,
    "corpus_diff": q_corpus_diff,
    "bpe_fertility": q_bpe_fertility,
    "lang_confusion": q_lang_confusion,
    "bfs_hops": q_bfs_hops,
    "shard_overlap": q_shard_overlap,
    "minhash_persist_incremental": q_minhash_persist_incremental,
    "pack_sequences": q_pack_sequences,
    "vocab_drift_kl": q_vocab_drift_kl,
    "ngram_novelty": q_ngram_novelty,
    "source_quota_sample": q_source_quota_sample,
    "source_percentile_filter": q_source_percentile_filter,
    "token_budget_alloc": q_token_budget_alloc,
    "substring_dedup": q_substring_dedup,
    "dsir_weights": q_dsir_weights,
    "cross_source_dup_matrix": q_cross_source_dup_matrix,
    "source_governance": q_source_governance,
    "rule_attribution": q_rule_attribution,
    "vocab_coverage": q_vocab_coverage,
    "class_balance": q_class_balance,
    "pack_chunks": q_pack_chunks,
    "vocab_overlap": q_vocab_overlap,
}

ORACLES = {
    "posexplode_tokens": SQL_POSEXPLODE_TOKENS,
    "tfidf_top_terms": SQL_TFIDF_TOP_TERMS,
    "dedup_clusters": SQL_DEDUP_CLUSTERS,
    "corpus_shuffle": SQL_CORPUS_SHUFFLE,
    "kfold_split": SQL_KFOLD_SPLIT,
    "filter_funnel": SQL_FILTER_FUNNEL,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "hash_split": SQL_HASH_SPLIT,
    "text_normalize": SQL_TEXT_NORMALIZE,
    "lexical_diversity": SQL_LEXICAL_DIVERSITY,
    "token_estimate": SQL_TOKEN_ESTIMATE,
    "length_trim": SQL_LENGTH_TRIM,
    "crossmodal_join": SQL_CROSSMODAL_JOIN,
    "mixture_sample": _sql_mixture(),
    "curation_pipeline": _sql_curation(),
    "curation_full": _sql_curation_full(),
    "sequence_pack": SQL_SEQUENCE_PACK,
    "jaccard_join_exact": SQL_JACCARD_JOIN_EXACT,
    "text_token_stats": SQL_TEXT_TOKEN_STATS,
    "entity_resolution": SQL_ENTITY_RESOLUTION,
    "dedup_containment": SQL_DEDUP_CONTAINMENT,
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
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "decontaminate": SQL_DECONTAMINATE,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_simhash_pairs": SQL_DEDUP_SIMHASH_PAIRS,
    "heavy_hitters": SQL_HEAVY_HITTERS,
    "heavy_hitters_by_lang": SQL_HEAVY_HITTERS_BY_LANG,
    "pii_scrub": SQL_PII_SCRUB,
    "dedup_fuzzy": SQL_DEDUP_FUZZY,
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "bpe_merges": SQL_BPE_MERGES,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "pagerank_exact": SQL_PAGERANK_EXACT,
    "unigram_logppl": SQL_UNIGRAM_LOGPPL,
    "bigram_logppl": SQL_BIGRAM_LOGPPL,
    "kcore_peel": SQL_KCORE_PEEL,
    "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
    "bpe_encode": SQL_BPE_ENCODE,
    "corpus_overlap": SQL_CORPUS_OVERLAP,
    "cluster_representatives": SQL_CLUSTER_REPRESENTATIVES,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "oov_rate": SQL_OOV_RATE,
    "readability_scores": SQL_READABILITY_SCORES,
    "temperature_mixture": SQL_TEMPERATURE_MIXTURE,
    "quality_classifier": SQL_QUALITY_CLASSIFIER,
    "weighted_sample_by": SQL_WEIGHTED_SAMPLE_BY,
    "corpus_diff": SQL_CORPUS_DIFF,
    "bpe_fertility": SQL_BPE_FERTILITY,
    "lang_confusion": SQL_LANG_CONFUSION,
    "bfs_hops": SQL_BFS_HOPS,
    "shard_overlap": SQL_SHARD_OVERLAP,
    "minhash_persist_incremental": SQL_MINHASH_PERSIST_INCREMENTAL,
    "pack_sequences": SQL_PACK_SEQUENCES,
    "vocab_drift_kl": SQL_VOCAB_DRIFT_KL,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
    "source_quota_sample": SQL_SOURCE_QUOTA_SAMPLE,
    "source_percentile_filter": SQL_SOURCE_PERCENTILE_FILTER,
    "token_budget_alloc": SQL_TOKEN_BUDGET_ALLOC,
    "substring_dedup": SQL_SUBSTRING_DEDUP,
    "dsir_weights": SQL_DSIR_WEIGHTS,
    "cross_source_dup_matrix": SQL_CROSS_SOURCE_DUP_MATRIX,
    "source_governance": SQL_SOURCE_GOVERNANCE,
    "rule_attribution": SQL_RULE_ATTRIBUTION,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "class_balance": SQL_CLASS_BALANCE,
    "pack_chunks": SQL_PACK_CHUNKS,
    "vocab_overlap": SQL_VOCAB_OVERLAP,
}
