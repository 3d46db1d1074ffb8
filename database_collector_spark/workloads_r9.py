"""Round-9 gates + DuckDB oracles for the operators that landed late in
round 8 (COVERAGE.md "registered r9" rows), registered with the driver
through ``database_collector_spark.gates``; ``tests/test_gates.py`` runs
each against its DuckDB twin.

Determinism conventions are the repo's usual: exact integer
intermediates, md5-derived uniforms/weights (first-8-hex-digits idiom
shared with operators/sampling.py), one transcendental at most per
output column, rounded floats. Every oracle's final schema is
BIGINT-cast where DuckDB would infer HUGEINT (the map_funcs failure
class; swept by tests/test_oracle_schemas.py's LIMIT-0 check).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark import curation
from database_collector_spark.operators import (
    dedup,
    graph,
    sampling,
    similarity,
    text,
    timeseries,
)
from database_collector_spark.workloads import _t

# DuckDB rendering of the repo's md5 hash idiom: the 8 hex digits of
# md5(expr) starting at 1-based ``start`` as a BIGINT (strpos-sum form,
# mirrors SQL_WEIGHTED_SAMPLE; start=9 renders the second 32-bit word,
# Spark's conv(substring(md5(x), 9, 8), 16, 10)). The ONE definition of
# the cross-engine hash idiom — workloads_r10's oracles import it.
def _hv_sql(expr: str, start: int = 1) -> str:
    return (
        f"(SELECT SUM(CAST(strpos('0123456789abcdef', substr(md5({expr}), i + {start - 1}, 1)) - 1"
        " AS BIGINT) * (CAST(1 AS BIGINT) << (4 * (8 - i))))"
        " FROM (SELECT unnest(generate_series(1, 8)) AS i))"
    )


# The closed-form snapshot mutation shared by corpus_diff (this module),
# minhash_persist_incremental and vocab_drift_kl (workloads_r10.py): drop
# doc_id % 17, rewrite % 13 (' v2' suffix), add % 19 under +10M ids.
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


SQL_QUALITY_CLASSIFIER = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(ts) AS f FROM toks
  UNION ALL
  SELECT doc_id, ts[i] || '_' || ts[i + 1] AS f
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ts) - 1)) AS i) ii
),
hv AS (SELECT doc_id, {_hv_sql("f || ':' || 'clf'")} AS h FROM feats),
wt AS (
  SELECT doc_id,
         {_hv_sql("'w:' || CAST(h % 4096 AS VARCHAR) || ':' || 'clf'")} % 2001 - 1000 AS w
  FROM hv
),
agg AS (
  SELECT t.doc_id,
         CAST(COALESCE(a.n, 0) AS BIGINT) AS n_feats,
         CAST(COALESCE(a.s, 0) AS BIGINT) AS logit_milli
  FROM toks t
  LEFT JOIN (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM wt GROUP BY doc_id) a
    USING (doc_id)
)
SELECT doc_id, n_feats, logit_milli,
       CASE WHEN n_feats > 0 THEN
         round(1.0 / (1.0 + exp(-(logit_milli / (1000.0 * n_feats)))), 6) END AS p_keep,
       CASE WHEN n_feats > 0 AND logit_milli > 0 THEN 'keep' ELSE 'drop' END AS label
FROM agg
"""


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
         {_hv_sql("CAST(doc_id AS VARCHAR)")} AS hv
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


# ------------------------------------------------------------- JL projection

def q_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=8 Johnson–Lindenstrauss projection of every embedding with the
    per-vector norm-distortion audit (operators/similarity.py::
    jl_project — exact-integer components, zero shuffle). The gate uses
    ``flat=True`` so the projected components land as SCALAR columns
    y_0..y_7 — nested final columns (array/struct/map) are banned at the
    oracle boundary (the driver's pandas canonicalizer cannot hash list
    cells; r9's only red row). The array-output form stays available for
    composition via ``jl_project(..., flat=False)``."""
    return similarity.jl_project(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=8, seed=7, flat=True
    )


def _sql_jl_projection(k: int = 8, seed: int = 7, dim: int = 64) -> str:
    mat = similarity.jl_matrix(k, dim, seed)
    comps = []
    for j in range(k):
        terms = " + ".join(
            f"({c} * qe[{i + 1}])" for i, c in enumerate(mat[j]) if c != 0
        )
        comps.append(f"CAST({terms or '0'} AS BIGINT) AS y_{j}")
    ys = ", ".join(f"y_{j}" for j in range(k))
    y2 = " + ".join(f"y_{j} * y_{j}" for j in range(k))
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
),
p AS (SELECT vec_id, qe, {', '.join(comps)} FROM q),
f AS (
  SELECT vec_id, {ys},
         CAST(list_sum(list_transform(qe, x -> x * x)) AS BIGINT) AS x_norm2,
         CAST({y2} AS BIGINT) AS y_norm2
  FROM p
)
SELECT vec_id, {ys}, x_norm2, y_norm2,
       CASE WHEN x_norm2 > 0 THEN
         round(sqrt(y_norm2 * (3.0 / {k})) / sqrt(CAST(x_norm2 AS DOUBLE)), 6)
       END AS distortion
FROM f
"""


SQL_JL_PROJECTION = _sql_jl_projection()


# ------------------------------------------------------------ lang-ID audit

def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion table of the stopword language identifier vs the
    corpus ground truth (operators/text.py::lang_id_confusion — lang_id
    projection + one keyed aggregate + a label-cardinality-bounded
    share window)."""
    return text.lang_id_confusion(_t(spark, sf_dir, "documents"))


def _sql_lang_confusion() -> str:
    from database_collector_spark.workloads_ext import SQL_LANG_ID

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


# ------------------------------------------------------------------ exact AUC

def q_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of a fixed linear scorer over embeddings against
    the binary label (label >= 5) — operators/ranking.py::auc_exact
    (value-domain-compressed Mann-Whitney U, never a pos x neg pair
    join). The scorer is the shared-LCG hyperplane dot product in exact
    integers, so the score column is engine-exact."""
    from database_collector_spark.operators import ranking

    plane = similarity.hyperplanes_int(1, dim=64, seed=5)[0]
    emb = similarity.with_quantized(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    arr = "array(" + ",".join(str(c) for c in plane) + ")"
    score = F.expr(
        f"aggregate(zip_with(qe, {arr}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    scored = emb.select(
        score.alias("score"),
        (F.col("label") >= 5).cast("int").alias("label"),
    )
    return ranking.auc_exact(scored)


def _sql_auc_scores() -> str:
    plane = similarity.hyperplanes_int(1, dim=64, seed=5)[0]
    dot = " + ".join(f"({c} * qe[{i + 1}])" for i, c in enumerate(plane))
    return f"""
WITH q AS (
  SELECT list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe,
         CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings WHERE label IS NOT NULL
),
sc AS (SELECT CAST({dot} AS BIGINT) AS s, y FROM q WHERE qe IS NOT NULL),
per AS (
  SELECT s, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS neg
  FROM sc GROUP BY s
),
u AS (
  SELECT pos, neg,
         pos * (2 * COALESCE(SUM(neg) OVER (ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + neg)
           AS u2_term
  FROM per
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
       -- exact integer half-up (r16 rounding-class sweep; see
       -- ranking.exact_ratio_round)
       CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
         CAST((2000000 * SUM(u2_term) + 2 * SUM(pos) * SUM(neg))
              // (4 * SUM(pos) * SUM(neg)) AS DOUBLE) / 1000000.0 END AS auc
FROM u
"""


SQL_AUC_SCORES = _sql_auc_scores()


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
    from database_collector_spark.workloads_ir import _sql_bpe_encode

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


# ---------------------------------------------------------- embedding outliers

def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 vectors farthest from the corpus mean embedding
    (operators/similarity.py::embedding_outliers — one stats aggregate
    broadcast back, pinned-order double fold, TakeOrdered)."""
    return similarity.embedding_outliers(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), top_n=20
    )


def _sql_embedding_outliers(top_n: int = 20, dims: int = 64) -> str:
    scale2 = float(1 << 40)  # QUANT_SCALE^2
    sums = ", ".join(
        f"CAST(SUM(qe[{i + 1}]) AS BIGINT) AS s{i}" for i in range(dims)
    )
    # association order MUST match the Spark fold: ((t0 + t1) + t2) ...
    terms = " + ".join(
        f"((CAST(n AS DOUBLE) * CAST(qe[{i + 1}] AS DOUBLE) - CAST(s{i} AS DOUBLE))"
        f" * (CAST(n AS DOUBLE) * CAST(qe[{i + 1}] AS DOUBLE) - CAST(s{i} AS DOUBLE)))"
        for i in range(dims)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe
  FROM embeddings
),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums} FROM q),
d AS (
  SELECT vec_id,
         ({terms}) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * {scale2}) AS d2
  FROM q, s
)
SELECT vec_id, round(d2, 6) AS d2_from_mean
FROM d ORDER BY d2 DESC, vec_id ASC LIMIT {top_n}
"""


SQL_EMBEDDING_OUTLIERS = _sql_embedding_outliers()


# -------------------------------------------------------- interval difference

def q_interval_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user uncovered windows: activity intervals (every non-error
    event opens [ts, ts + value sec)) MINUS error intervals
    (operators/timeseries.py::interval_subtract — coalesce both sides +
    one boundary sweep, never a base x holes interval join)."""
    ev = _t(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    iv = ev.select(
        "user_id",
        "event_type",
        tus.alias("start"),
        (tus + F.round(F.col("value") * 1_000_000).cast("long")).alias("end"),
    )
    base = iv.where(F.col("event_type") != "error").drop("event_type")
    holes = iv.where(F.col("event_type") == "error").drop("event_type")
    out = timeseries.interval_subtract(base, holes, by=("user_id",))
    return out.select(
        "user_id", F.col("start").alias("start_us"), F.col("end").alias("end_us")
    )


# Oracle is deliberately a DIFFERENT formulation: elementary segments
# from the union of all boundaries, EXISTS/NOT EXISTS coverage tests
# (constant within an elementary segment), then an islands merge.
SQL_INTERVAL_OUTAGES = """
WITH iv AS (
  SELECT user_id, event_type, epoch_us(ts) AS s,
         epoch_us(ts) + CAST(ROUND(value * 1000000) AS BIGINT) AS e
  FROM events
),
b AS (SELECT user_id, s, e FROM iv WHERE event_type <> 'error' AND e > s),
h AS (SELECT user_id, s, e FROM iv WHERE event_type = 'error' AND e > s),
bounds AS (
  SELECT DISTINCT user_id, t FROM (
    SELECT user_id, s AS t FROM b UNION ALL SELECT user_id, e FROM b
    UNION ALL SELECT user_id, s FROM h UNION ALL SELECT user_id, e FROM h
  )
),
seg AS (
  SELECT user_id, t AS s,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS e
  FROM bounds
),
kept AS (
  SELECT user_id, s, e FROM seg
  WHERE e IS NOT NULL AND e > s
    AND EXISTS (SELECT 1 FROM b
                WHERE b.user_id = seg.user_id AND b.s <= seg.s AND b.e >= seg.e)
    AND NOT EXISTS (SELECT 1 FROM h
                    WHERE h.user_id = seg.user_id AND h.s < seg.e AND h.e > seg.s)
),
x AS (
  SELECT user_id, s, e,
         CASE WHEN s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS brk
  FROM kept
),
y AS (
  SELECT user_id, s, e,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS UNBOUNDED PRECEDING) AS isl
  FROM x
)
SELECT user_id, MIN(s) AS start_us, MAX(e) AS end_us
FROM y GROUP BY user_id, isl
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


QUERIES = {
    "readability_scores": q_readability_scores,
    "temperature_mixture": q_temperature_mixture,
    "quality_classifier": q_quality_classifier,
    "weighted_sample_by": q_weighted_sample_by,
    "jl_projection": q_jl_projection,
    "embedding_outliers": q_embedding_outliers,
    "corpus_diff": q_corpus_diff,
    "bpe_fertility": q_bpe_fertility,
    "auc_scores": q_auc_scores,
    "lang_confusion": q_lang_confusion,
    "interval_outages": q_interval_outages,
    "bfs_hops": q_bfs_hops,
    "shard_overlap": q_shard_overlap,
}

ORACLES = {
    "readability_scores": SQL_READABILITY_SCORES,
    "temperature_mixture": SQL_TEMPERATURE_MIXTURE,
    "quality_classifier": SQL_QUALITY_CLASSIFIER,
    "weighted_sample_by": SQL_WEIGHTED_SAMPLE_BY,
    "jl_projection": SQL_JL_PROJECTION,
    "embedding_outliers": SQL_EMBEDDING_OUTLIERS,
    "corpus_diff": SQL_CORPUS_DIFF,
    "bpe_fertility": SQL_BPE_FERTILITY,
    "auc_scores": SQL_AUC_SCORES,
    "lang_confusion": SQL_LANG_CONFUSION,
    "interval_outages": SQL_INTERVAL_OUTAGES,
    "bfs_hops": SQL_BFS_HOPS,
    "shard_overlap": SQL_SHARD_OVERLAP,
}
