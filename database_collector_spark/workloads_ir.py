"""IR / corpus-analytics workloads: BM25 retrieval scoring, BPE
tokenizer training + corpus encode, deterministic weighted sampling,
z-order layout, integer-exact PageRank, image dHash dedup, unigram
perplexity, leakage-safe splits, trimmed means, cross-corpus overlap,
Count-Min estimates, cluster-representative election, document
chunking, OOV-rate audits.

These extend the training-data-pipeline tier (the reference has no IR
surface — SURVEY.md §2 stops at exporter aggregates); each gate follows
the repo's determinism conventions: exact integer intermediates, fixed
float-addition order, md5-derived uniforms, rounded float outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import (
    bpe,
    dedup,
    graph,
    layout,
    multimodal,
    ranking,
    sampling,
    sketches,
    text,
)
from database_collector_spark.workloads import _t

_BM25_TERMS = ["hash", "join", "vector"]


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) for the fixed query {hash, join, vector} over
    every matching document (operators/ranking.py::bm25_scores). No rank
    cut in the gate — the cut is a float comparison; scores themselves
    are exact-intermediate doubles rounded to 4, summed per-term in a
    pinned order."""
    return ranking.bm25_scores(_t(spark, sf_dir, "documents"), _BM25_TERMS)


SQL_BM25_SCORES = """
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
ft AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN ('hash', 'join', 'vector')
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ft GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, dl.dl,
         ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75
              + 0.75 * dl.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs))) AS contrib
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
per AS (
  SELECT doc_id, MAX(dl) AS dl, COUNT(*) AS n_matched,
         SUM(CASE WHEN term = 'hash' THEN contrib END) AS c0,
         SUM(CASE WHEN term = 'join' THEN contrib END) AS c1,
         SUM(CASE WHEN term = 'vector' THEN contrib END) AS c2
  FROM scored GROUP BY doc_id
)
SELECT doc_id, CAST(dl AS INT) AS dl, CAST(n_matched AS INT) AS n_matched,
       round(0.0 + COALESCE(c0, 0.0) + COALESCE(c1, 0.0) + COALESCE(c2, 0.0),
             4) AS score
FROM per
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


_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, the fixture's time origin


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key layout report over events, dims (user_id, hour index)
    (operators/layout.py): 16 fixed-width z-ranges with per-dimension
    min/max — the footer stats a z-ordered write would give the scan
    pruner. Pure integer bit arithmetic, one map stage + one 16-row
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    hour = F.floor((F.unix_timestamp("ts") - F.lit(_EPOCH_2024)) / 3600)
    return layout.cluster_stats(ev, F.col("user_id"), hour, n_buckets=16)


SQL_ZORDER_LAYOUT = f"""
WITH d AS (
  SELECT user_id AS x,
         CAST(floor((floor(epoch(ts)) - {_EPOCH_2024}) / 3600) AS BIGINT) AS y
  FROM events
),
keyed AS (
  SELECT x, y,
         (SELECT SUM(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                     + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))
          FROM (SELECT unnest(generate_series(0, 15)) AS i)) AS zkey
  FROM d
),
m AS (SELECT MAX(zkey) AS zmax FROM keyed)
SELECT CAST(floor(zkey * 16.0 / (zmax + 1)) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM keyed CROSS JOIN m
GROUP BY 1
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


def q_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup via perceptual dHash over REAL decoded pixels:
    gradient P6 fixtures (bytewise-distinct per doc — a brightness
    shift separates same-pattern images), mapInPandas decode + 8x8
    neighbor-comparison hash, then one 8-byte-key shuffle groups the
    perceptual duplicates. The oracle recomputes the closed-form bits,
    so any decode/stride/bit-order defect mismatches."""
    media = multimodal.to_gradient_ppm_media(_t(spark, sf_dir, "documents"))
    return (
        multimodal.dhash_images(media)
        .groupBy("dhash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


SQL_IMAGE_DHASH_DEDUP = """
WITH bits AS (
  SELECT doc_id,
         (SELECT SUM(CASE WHEN ((doc_id % 50)*13 + x*17 + y*29) % 200
                             < ((doc_id % 50)*13 + (x+1)*17 + y*29) % 200
                          AND y*8 + x < 32
                          THEN CAST(1 AS BIGINT) << (y*8 + x) ELSE 0 END)
          FROM (SELECT unnest(generate_series(0, 7)) AS x),
               (SELECT unnest(generate_series(0, 7)) AS y)) AS lo,
         (SELECT SUM(CASE WHEN ((doc_id % 50)*13 + x*17 + y*29) % 200
                             < ((doc_id % 50)*13 + (x+1)*17 + y*29) % 200
                          AND y*8 + x >= 32
                          THEN CAST(1 AS BIGINT) << (y*8 + x - 32) ELSE 0 END)
          FROM (SELECT unnest(generate_series(0, 7)) AS x),
               (SELECT unnest(generate_series(0, 7)) AS y)) AS hi
  FROM documents
)
SELECT lpad(lower(hex(hi)), 8, '0') || lpad(lower(hex(lo)), 8, '0') AS dhash,
       COUNT(*) AS n_dups,
       MIN(doc_id) AS keeper_doc_id
FROM bits GROUP BY 1
"""


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


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval rank fusion (operators/ranking.py::rrf_fuse —
    Cormack et al. SIGIR'09): list A = BM25 top-100 for {hash, join,
    vector}, list B = raw term-frequency top-100 for the same terms
    (genuinely different orderings: B has no idf and no length
    normalization), fused by Σ 1/(60 + rank). Per-list ranks come from a
    bounded 100-row window AFTER a distributed orderBy/limit — never a
    corpus-wide ranking window; ordering keys are the rounded BM25
    score / integer tf with doc_id tie-breaks, so both engines produce
    identical lists at every step."""
    from pyspark.sql.window import Window as W

    docs = _t(spark, sf_dir, "documents")
    bm = ranking.bm25_scores(docs, _BM25_TERMS)
    top_a = bm.orderBy(F.col("score").desc(), "doc_id").limit(100)
    ra = top_a.withColumn(
        "rank",
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), "doc_id"))
        .cast("int"),
    ).select("doc_id", "rank")
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .where(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
    )
    top_b = tf.orderBy(F.col("tf").desc(), "doc_id").limit(100)
    rb = top_b.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("tf").desc(), "doc_id")).cast("int"),
    ).select("doc_id", "rank")
    return ranking.rrf_fuse(ra, rb, k=60, topk=20)


SQL_RRF_FUSION = """
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
ft AS (
  SELECT doc_id, term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term IN ('hash', 'join', 'vector')
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ft GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ft GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (s.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (1.0 - 0.75
              + 0.75 * dl.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs))) AS contrib
  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
bm AS (
  SELECT doc_id,
         round(0.0
               + COALESCE(SUM(CASE WHEN term = 'hash' THEN contrib END), 0.0)
               + COALESCE(SUM(CASE WHEN term = 'join' THEN contrib END), 0.0)
               + COALESCE(SUM(CASE WHEN term = 'vector' THEN contrib END), 0.0),
               4) AS score
  FROM scored GROUP BY doc_id
),
ra AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
           AS rank_a
  FROM bm ORDER BY score DESC, doc_id LIMIT 100
),
tfd AS (SELECT doc_id, SUM(tf) AS tf FROM tf GROUP BY doc_id),
rb AS (
  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS INT)
           AS rank_b
  FROM tfd ORDER BY tf DESC, doc_id LIMIT 100
),
fused AS (
  SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id, ra.rank_a, rb.rank_b,
         round(COALESCE(1.0 / (60 + ra.rank_a), 0.0)
               + COALESCE(1.0 / (60 + rb.rank_b), 0.0), 6) AS rrf_score
  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
         AS fused_rank,
       doc_id, rank_a, rank_b, rrf_score
FROM fused
QUALIFY fused_rank <= 20
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




def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority trimmed (5%/95%) mean of order value: robust-mean
    aggregation with an INTEGER rank cut at floor(n/20), so the kept
    set is engine-exact (no percentile interpolation enters the gate).

    Scale shape (r13 rewrite): the old form ranked EVERY order row in a
    per-priority window — 5 priority groups means ~1/5 of the orders
    table sorted in ONE task, the per-group corpus funnel this repo's
    prefix machinery exists to avoid. Now: value-domain compression to
    (priority, cents) counts (the one corpus-sized shuffle), the
    running strictly-below count from ``prefix_count_below``'s
    two-level pass, and the trim becomes pure interval arithmetic —
    the occurrences of value v occupy ranks [below+1, below+cnt], so
    kept_v = clamp([below+1, below+cnt] ∩ (lo, hi]) with lo = n div 20,
    hi = n − n div 20. Row-level tie-breaks (orderkey) are
    unnecessary: equal-cents rows are interchangeable for a sum/count
    over the kept band. Sum accumulates in DECIMAL(38,0); one float
    division, round 4 — values identical to the windowed form on
    NULL-free inputs. NULL priority/price rows are ACTIVELY EXCLUDED on
    BOTH sides (the prefix_count_below / theil_sen contract stance —
    third-pass review: counting NULLs into n while the rank table drops
    them would silently shift the trim band the first time real data
    carried a NULL; TPC-H o_totalprice is NOT NULL so fixtures cannot
    catch it)."""
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    )

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # lazy localCheckpoint (the auc/_ks pattern): the prefix pass's
    # branches (rng, cells, bucket map, within-bucket windows) plus the
    # totals each reference this table — without the checkpoint every
    # branch re-derives it from a full orders scan
    comp = (
        orders.select("o_orderpriority", cents.alias("cents"))
        .groupBy("o_orderpriority", "cents")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    below = ranking.prefix_count_below(
        comp, ["o_orderpriority"], "cents", "cnt", out_col="below"
    )
    totals = comp.groupBy("o_orderpriority").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    j = below.join(F.broadcast(totals), "o_orderpriority")
    lo = F.floor(F.col("n") / 20)
    hi = F.col("n") - F.floor(F.col("n") / 20)
    kept_v = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("below") + F.col("cnt"), hi)
        - F.greatest(F.col("below"), lo),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return (
        j.select("o_orderpriority", "cents", kept_v.alias("kept"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("kept").cast("long").alias("n_kept"),
            F.round(
                F.sum(dec(F.col("cents")) * dec(F.col("kept"))).cast("double")
                / (F.lit(100.0) * F.sum("kept").cast("double")),
                4,
            ).alias("trimmed_mean"),
        )
    )


SQL_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                                     o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
  -- NULL exclusion mirrors the Spark side's active filter (contract)
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
kept AS (
  SELECT * FROM ranked
  WHERE rn > n // 20 AND rn <= n - n // 20
)
SELECT o_orderpriority, COUNT(*) AS n_kept,
       round(SUM(cents) / (100.0 * COUNT(*)), 4) AS trimmed_mean
FROM kept GROUP BY o_orderpriority
"""




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




_CMS_PROBES = ["hash", "join", "vector", "scan", "merge", "the", "zz_absent"]


def q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates vs exact truth for a fixed probe
    set (operators/sketches.py::cms_point_estimates — depth 4 x width
    256, md5 hashing, so the SKETCH itself is deterministic and
    oracle-checkable, unlike HLL). no_undercount must be TRUE for every
    probe (the CMS one-sided error guarantee); an absent probe shows the
    pure collision overestimate."""
    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.explode(F.split("text", " ")).alias("item")
    ).where(F.col("item") != "")
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], "item string")
    est = sketches.cms_point_estimates(items, probes)
    truth = (
        items.where(F.col("item").isin(_CMS_PROBES))
        .groupBy(F.col("item").alias("probe_item"))
        .agg(F.count("*").alias("true_count"))
    )
    return (
        est.join(truth, "probe_item", "left")
        .select(
            "probe_item",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "cms_estimate",
            (F.col("cms_estimate") >= F.coalesce("true_count", F.lit(0))).alias(
                "no_undercount"
            ),
        )
    )


_SQL_HEX8 = (
    "(SELECT SUM(CAST(strpos('0123456789abcdef', substr({h}, i, 1)) - 1 AS BIGINT)"
    " * (CAST(1 AS BIGINT) << (4 * (8 - i))))"
    " FROM (SELECT unnest(generate_series(1, 8)) AS i))"
)

SQL_CMS_ESTIMATES = f"""
WITH ft AS (
  SELECT item FROM (SELECT unnest(string_split(text, ' ')) AS item FROM documents)
  WHERE item <> ''
),
hashed AS (
  SELECT dd.d, ft.item,
         {_SQL_HEX8.format(h="md5(dd.d || ':' || ft.item)")} % 256 AS col
  FROM ft, (SELECT unnest(generate_series(0, 3)) AS d) dd
),
cells AS (SELECT d, col, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2),
probes(item) AS (VALUES {", ".join(f"('{p}')" for p in _CMS_PROBES)}),
probe_cells AS (
  SELECT p.item, dd.d,
         {_SQL_HEX8.format(h="md5(dd.d || ':' || p.item)")} % 256 AS col
  FROM probes p, (SELECT unnest(generate_series(0, 3)) AS d) dd
),
est AS (
  SELECT pc.item AS probe_item, MIN(COALESCE(c.cnt, 0)) AS cms_estimate
  FROM probe_cells pc LEFT JOIN cells c ON c.d = pc.d AND c.col = pc.col
  GROUP BY 1
),
truth AS (
  SELECT item AS probe_item, COUNT(*) AS true_count FROM ft
  WHERE item IN (SELECT item FROM probes) GROUP BY 1
)
SELECT e.probe_item,
       CAST(COALESCE(t.true_count, 0) AS BIGINT) AS true_count,
       CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
       e.cms_estimate >= COALESCE(t.true_count, 0) AS no_undercount
FROM est e LEFT JOIN truth t USING (probe_item)
"""




def q_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup-group canonical election
    (curation.elect_representatives): URL-canonicalization groups keep
    their LONGEST member (ties -> lowest doc id) rather than min-id —
    the curation policy real pipelines want ("keep the most complete
    copy"). One max-struct aggregate per group, no window."""
    from database_collector_spark import curation
    from database_collector_spark.operators import urls
    from database_collector_spark.workloads_ext import _messy_urls

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
    from database_collector_spark.workloads_ext import SQL_URL_DEDUP

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


QUERIES = {
    "pmi_collocations": q_pmi_collocations,
    "triangle_count": q_triangle_count,
    "bm25_scores": q_bm25_scores,
    "bpe_merges": q_bpe_merges,
    "weighted_sample": q_weighted_sample,
    "zorder_layout": q_zorder_layout,
    "pagerank_exact": q_pagerank_exact,
    "image_dhash_dedup": q_image_dhash_dedup,
    "unigram_logppl": q_unigram_logppl,
    "bigram_logppl": q_bigram_logppl,
    "rrf_fusion": q_rrf_fusion,
    "kcore_peel": q_kcore_peel,
    "leakage_safe_split": q_leakage_safe_split,
    "bpe_encode": q_bpe_encode,
    "trimmed_mean": q_trimmed_mean,
    "corpus_overlap": q_corpus_overlap,
    "cms_estimates": q_cms_estimates,
    "cluster_representatives": q_cluster_representatives,
    "chunk_documents": q_chunk_documents,
    "oov_rate": q_oov_rate,
}

ORACLES = {
    "pmi_collocations": SQL_PMI_COLLOCATIONS,
    "triangle_count": SQL_TRIANGLE_COUNT,
    "bm25_scores": SQL_BM25_SCORES,
    "bpe_merges": SQL_BPE_MERGES,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "zorder_layout": SQL_ZORDER_LAYOUT,
    "pagerank_exact": SQL_PAGERANK_EXACT,
    "image_dhash_dedup": SQL_IMAGE_DHASH_DEDUP,
    "unigram_logppl": SQL_UNIGRAM_LOGPPL,
    "bigram_logppl": SQL_BIGRAM_LOGPPL,
    "rrf_fusion": SQL_RRF_FUSION,
    "kcore_peel": SQL_KCORE_PEEL,
    "leakage_safe_split": SQL_LEAKAGE_SAFE_SPLIT,
    "bpe_encode": SQL_BPE_ENCODE,
    "trimmed_mean": SQL_TRIMMED_MEAN,
    "corpus_overlap": SQL_CORPUS_OVERLAP,
    "cms_estimates": SQL_CMS_ESTIMATES,
    "cluster_representatives": SQL_CLUSTER_REPRESENTATIVES,
    "chunk_documents": SQL_CHUNK_DOCUMENTS,
    "oov_rate": SQL_OOV_RATE,
}
