"""Workloads batch 5: deterministic dataset curation operators.

A training-data pipeline does more than filter and dedup: it SAMPLES
(stratified, so small languages aren't drowned), SPLITS (train/val/test
that must never shift between runs or engines), and NORMALIZES text
before tokenization. The reference has none of these (it is a metrics
ETL, SURVEY.md §0); they are extension operators sized for the 100 TB
documents corpus.

Every operator here is deterministic ACROSS ENGINES: randomness is
replaced by md5 of the stable key — both Spark and DuckDB produce the
identical lowercase hex digest for the same UTF-8 string, so ordering
and threshold comparisons agree bit-for-bit and the DuckDB oracle can
hash-check the full result. At scale that determinism is the feature,
not a test convenience: a re-run on new hardware yields the same split,
and the sample needs no seed-state coordination between executors.

Plan shapes (all one wide stage past the scan):
- stratified sample: row_number per stratum over md5 order — one shuffle
  on the stratum key; no global sort, no driver-side sampling state.
- hash split: pure map-side label assignment (the split column is a
  scalar expression) + one partial-agg shuffle for the bookkeeping.
- normalization / lexical stats: per-row scalar pipeline (regex +
  array ops, all JVM codegen — no Python) + one partial-agg shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.workloads import _t


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

    The recipe is inlined as a VALUES LocalRelation, not
    ``createDataFrame``: driver-local Python rows would otherwise enter
    the plan as a Python-RDD scan, forcing Python worker startup and row
    pickling onto the broadcast build side of an otherwise pure-JVM plan
    (measured ~3.7 s of the query's former 5.2 s bench cost).
    """
    values = ", ".join(
        f"('{s}', CAST({r} AS DOUBLE), '{_rate_threshold(r)}')"
        for s, r in sorted(MIXTURE_RATES.items())
    )
    weights = spark.sql(f"SELECT * FROM VALUES {values} AS t(source, rate, thr)")
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
    from database_collector_spark.workloads_ext import sql_minhash_lsh_ctes

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


QUERIES = {
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
}

ORACLES = {
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
}
