"""Round-14 gates, registered with the driver through
``database_collector_spark.gates``; ``tests/test_gates.py`` runs each
against its DuckDB twin.

Cohort — the evaluation tier's completion plus three curation-
governance reports (pre-built as operators in round 12, gates staged
here):

- ``pr_curve_sweep`` — precision/recall operating curve per percentile
  bin (operators/ranking.py::pr_curve): the cutoff-choice report a
  corpus-gating run reads, riding calibration_curve's binning.
- ``lift_deciles`` — lift / cumulative-gains per decile
  (ranking.lift_curve): how much denser are positives than base rate
  in the top X% — the sampling-budget allocation view.
- ``mcc_by_lang`` — Matthews correlation of the classifier keep vote vs
  ground truth per language (ranking.mcc): the imbalance-honest
  confusion summary next to cohen_kappa's agreement reading.
- ``brier_quality`` — Brier score of the hard-sigmoid milli-probability
  per language (ranking.brier_score): the proper scoring rule that
  punishes mis-calibration, all-integer numerator.
- ``ece_quality`` — expected / maximum calibration error per language
  (ranking.ece_report): the one-number calibration summary; the n_b
  weight cancels into an exact integer sum.
- ``ks_separation`` — two-sample Kolmogorov–Smirnov statistic of the
  positive vs negative score distributions per language
  (ranking.ks_statistic): exact sup-distance via the shared
  prefix-sum core, never a corpus sort.
- ``mrr_quality`` — reciprocal rank of the first relevant item per
  language over the SAME ranked list the NDCG/MAP gates judge
  (ranking.reciprocal_rank): the third TREC number.
- ``fleiss_panel`` — Fleiss' kappa across a THREE-rater panel of cheap
  quality gates (ranking.fleiss_kappa): the multi-rater agreement
  corner, fixed-panel precondition enforced in-plan.
- ``chi2_lang_source`` — chi-squared association cells between lang and
  source (ranking.chi2_association): the contingency governance report,
  zero cells included.
- ``vocab_coverage`` — Chao1 vocabulary-coverage estimate per language
  (operators/text.py::vocab_richness): is this slice mined out.
- ``class_balance`` — within-source class-balance downsampling plan
  (curation.class_balance_plan): the decision table a sampler consumes.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — its main loop
(collector/cmd/collector/database-collector.go) delegates queries to
pinned exporters; this tier is the beyond-reference LLM-pipeline
surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark import curation
from database_collector_spark.operators import ranking, text
from database_collector_spark.workloads import _t
from database_collector_spark.workloads_r9 import SQL_QUALITY_CLASSIFIER
from database_collector_spark.workloads_r12 import _session_memo, clf_truth_frame

# ---------------------------------------------------------- shared frames

# classifier outputs + truth, the clf_truth_frame twin (NO lang join —
# the ungrouped gates must not inherit a lang filter the Spark side
# doesn't apply); the MATERIALIZED hint keeps DuckDB from re-running
# the classifier per consumer branch (the r12 oracle discipline)
_SQL_CLF = f"""
clf AS MATERIALIZED (
  SELECT doc_id, n_feats, logit_milli
  FROM ({SQL_QUALITY_CLASSIFIER}) q WHERE n_feats > 0
),
scored0 AS (
  SELECT c.doc_id, c.n_feats, c.logit_milli,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS y
  FROM clf c
  JOIN embeddings e ON e.vec_id = c.doc_id
  WHERE e.label IS NOT NULL
)
"""

# ... and the per-lang variant the grouped gates consume (lang joined,
# NULL langs excluded — the grouped-operator contract on BOTH engines)
_SQL_CLF_LANG = f"""
{_SQL_CLF},
scored AS (
  SELECT d.lang, s.doc_id, s.n_feats, s.logit_milli, s.y
  FROM scored0 s JOIN documents d ON d.doc_id = s.doc_id
  WHERE d.lang IS NOT NULL
)
"""


def _clf_lang_frame(
    spark: SparkSession, sf_dir: str, *, memo: bool = False
) -> DataFrame:
    """(lang, doc_id, n_feats, logit_milli, y) — clf_truth_frame joined
    with the document language, the shared input of the per-lang eval
    gates below (NULL langs excluded, the grouped-operator contract).
    ``memo=True`` memoizes + persists like its base
    (workloads_r12._session_memo — the opt-in feature-store tier);
    registered gates use the default memo=False so every bench/oracle
    invocation computes from parquet (r15 optimization round,
    bench-integrity rule — see clf_truth_frame)."""

    def build() -> DataFrame:
        lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
        return (
            clf_truth_frame(spark, sf_dir, memo=memo)
            .join(lang, "doc_id")
            .where(F.col("lang").isNotNull())
        )

    if not memo:
        return build()
    return _session_memo(spark, f"clf_lang:{sf_dir}", build)


def _p_milli() -> F.Column:
    """Hard-sigmoid milli-probability over the PER-FEATURE millilogit:
    p = clamp(500 + (logit_milli div (2·n_feats)), 0, 1000) — i.e.
    500 + half the millilogits-per-feature score, clamped — piecewise-
    linear, ALL-INTEGER (`div` truncates toward zero on both engines),
    so the Brier/ECE accumulations stay exact.
    (A real sigmoid's exp() is a libm call engines round differently —
    the hard form is the published approximation that keeps the gate
    hashable.) Built lazily: Column construction needs an active
    session."""
    return F.least(
        F.greatest(
            F.lit(500) + F.expr("logit_milli div (2 * n_feats)"), F.lit(0)
        ),
        F.lit(1000),
    ).cast("long")

_SQL_P_MILLI = (
    "LEAST(GREATEST(500 + (logit_milli // (2 * n_feats)), 0), 1000)"
)


# ------------------------------------------------------------- PR curve

_PR_BINS = 10


def q_pr_curve_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall sweep of the hashed quality classifier against
    the embedding ground truth: one (threshold, precision, recall)
    point per percentile bin (operators/ranking.py::pr_curve — suffix
    sums over calibration_curve's tie-classes-whole bin table; exact
    integer pred_pos/tp, each ratio ONE division). The cutoff-choice
    report: "gate the corpus at bin b's threshold and you keep
    pred_pos docs at this precision/recall"."""
    scored = clf_truth_frame(spark, sf_dir).select(
        (F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))).alias("score"),
        F.col("y").alias("truth"),
    )
    return ranking.pr_curve(
        scored, label_col="truth", n_bins=_PR_BINS
    ).orderBy("bin")


SQL_PR_CURVE_SWEEP = f"""
WITH {_SQL_CLF},
sc AS (
  SELECT logit_milli / (1000.0 * n_feats) AS s, y FROM scored0
),
per AS (
  SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM sc GROUP BY s
),
tot AS (SELECT SUM(cnt) AS n FROM per),
wb AS (
  SELECT s, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per
),
bins AS (
  SELECT CAST((below * {_PR_BINS}) // n AS BIGINT) AS bin,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         round(MIN(s), 6) AS lo_score
  FROM wb, tot GROUP BY 1
),
suf AS (
  SELECT bin, lo_score,
         SUM(n_docs) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pred_pos,
         SUM(n_pos) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(n_pos) OVER () AS all_pos
  FROM bins
)
SELECT bin, lo_score AS threshold,
       CAST(pred_pos AS BIGINT) AS pred_pos, CAST(tp AS BIGINT) AS tp,
       -- exact integer half-up (r16 rounding-class sweep; see
       -- ranking.exact_ratio_round)
       CAST((2000000 * tp + pred_pos) // (2 * pred_pos) AS DOUBLE)
         / 1000000.0 AS precision,
       CASE WHEN all_pos > 0 THEN
         CAST((2000000 * tp + all_pos) // (2 * all_pos) AS DOUBLE)
           / 1000000.0 END AS recall
FROM suf ORDER BY bin
"""


# ----------------------------------------------------------- lift curve

_LIFT_BINS = 10


def q_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift / cumulative-gains per score decile of the hashed quality
    classifier (operators/ranking.py::lift_curve): positives density in
    each percentile bin vs the base rate, and cumulatively from the top
    of the list down — exact DECIMAL count products, one division per
    lift, over the same tie-classes-whole binning the calibration gate
    pins."""
    scored = clf_truth_frame(spark, sf_dir).select(
        (F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))).alias("score"),
        F.col("y").alias("truth"),
    )
    return ranking.lift_curve(
        scored, label_col="truth", n_bins=_LIFT_BINS
    ).orderBy("bin")


SQL_LIFT_DECILES = f"""
WITH {_SQL_CLF},
sc AS (
  SELECT logit_milli / (1000.0 * n_feats) AS s, y FROM scored0
),
per AS (
  SELECT s, COUNT(*) AS cnt, SUM(y) AS pos FROM sc GROUP BY s
),
tot AS (SELECT SUM(cnt) AS n FROM per),
wb AS (
  SELECT s, cnt, pos,
         COALESCE(SUM(cnt) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM per
),
bins AS (
  SELECT CAST((below * {_LIFT_BINS}) // n AS BIGINT) AS bin,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM wb, tot GROUP BY 1
),
suf AS (
  SELECT bin, n_docs, n_pos,
         SUM(n_docs) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(n_pos) OVER (ORDER BY bin DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         SUM(n_docs) OVER () AS n_all,
         SUM(n_pos) OVER () AS p_all
  FROM bins
)
SELECT bin, n_docs, n_pos,
       CASE WHEN p_all > 0 THEN
         round(CAST(n_pos * n_all AS DOUBLE)
               / CAST(n_docs * p_all AS DOUBLE), 6) END AS lift,
       CAST(cum_n AS BIGINT) AS cum_n, CAST(cum_pos AS BIGINT) AS cum_pos,
       CASE WHEN p_all > 0 THEN
         round(CAST(cum_pos * n_all AS DOUBLE)
               / CAST(cum_n * p_all AS DOUBLE), 6) END AS cum_lift
FROM suf ORDER BY bin
"""


# ------------------------------------------------------------------ MCC


def q_mcc_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation per language between the classifier keep
    vote (logit > 0) and the embedding ground truth — the
    imbalance-honest confusion-matrix summary next to the cohen_kappa
    gate's agreement reading, over the identical scored frame
    (operators/ranking.py::mcc: one keyed aggregate, DECIMAL numerator,
    four correctly-rounded sqrts multiplied left-to-right)."""
    scored = _clf_lang_frame(spark, sf_dir).select(
        "lang",
        (F.col("logit_milli") > 0).alias("pred"),
        (F.col("y") == 1).alias("truth"),
    )
    return ranking.mcc(scored, "pred", "truth", group_col="lang").orderBy("lang")


SQL_MCC_BY_LANG = f"""
WITH {_SQL_CLF_LANG},
cells AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN logit_milli > 0 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN logit_milli > 0 AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN logit_milli <= 0 AND y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN logit_milli <= 0 AND y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM scored GROUP BY lang
)
SELECT lang, n, tp, fp, fn, tn,
       CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tn + fp > 0 AND tn + fn > 0
       THEN round(
         CAST(tp * tn - fp * fn AS DOUBLE)
         / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))
            * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))),
         6) END AS mcc
FROM cells ORDER BY lang
"""


# ---------------------------------------------------------- Brier score


def q_brier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score per language of the hard-sigmoid milli-probability
    (clamp(500 + logit_milli div (2·n_feats), 0, 1000) — half the
    millilogits-per-feature around 500, piecewise-linear, all-integer)
    against the embedding ground truth (operators/ranking.py::
    brier_score: exact DECIMAL numerator of squared integer errors, ONE
    final division). The proper-scoring-rule view the AUC gate cannot
    give: a scorer that ranks well but is over-confident pays here."""
    scored = _clf_lang_frame(spark, sf_dir).select(
        "lang", _p_milli().alias("p_milli"), F.col("y").alias("truth")
    )
    return ranking.brier_score(
        scored, label_col="truth", group_col="lang"
    ).orderBy("lang")


SQL_BRIER_QUALITY = f"""
WITH {_SQL_CLF_LANG},
pm AS (
  SELECT lang, {_SQL_P_MILLI} AS p, y FROM scored
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
       round(CAST(SUM((p - 1000 * y) * (p - 1000 * y)) AS DOUBLE)
             / (1000000.0 * COUNT(*)), 6) AS brier
FROM pm GROUP BY lang ORDER BY lang
"""


# -------------------------------------------------------------- ECE/MCE

_ECE_BINS = 10


def q_ece_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected / maximum calibration error per language of the
    hard-sigmoid milli-probability (operators/ranking.py::ece_report:
    fixed equal-width integer bins; the bin-mass weight cancels, so ECE
    is ONE division over an exact integer gap sum; MCE is the max of
    ≤ n_bins exact per-bin divisions)."""
    scored = _clf_lang_frame(spark, sf_dir).select(
        "lang", _p_milli().alias("p_milli"), F.col("y").alias("truth")
    )
    return ranking.ece_report(
        scored, label_col="truth", n_bins=_ECE_BINS, group_col="lang"
    ).orderBy("lang")


SQL_ECE_QUALITY = f"""
WITH {_SQL_CLF_LANG},
pm AS (
  SELECT lang, {_SQL_P_MILLI} AS p, y FROM scored
),
per_bin AS (
  SELECT lang, LEAST((p * {_ECE_BINS}) // 1000, {_ECE_BINS - 1}) AS b,
         COUNT(*) AS nb, SUM(y) AS pos, SUM(p) AS sp
  FROM pm GROUP BY 1, 2
)
SELECT lang, CAST(SUM(nb) AS BIGINT) AS n,
       round(CAST(SUM(ABS(1000 * pos - sp)) AS DOUBLE)
             / (1000.0 * SUM(nb)), 6) AS ece,
       round(MAX(CAST(ABS(1000 * pos - sp) AS DOUBLE) / (1000.0 * nb)), 6)
         AS mce
FROM per_bin GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------- KS statistic


def q_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic per language between the positive and
    negative millilogit-per-feature score distributions
    (operators/ranking.py::ks_statistic — the auc_exact discipline: ONE
    per-score compression, the shared two-level prefix sum per class,
    an exact integer sup, ONE division). The integer score is the
    fixed-bin gate's idiom (logit_milli div n_feats)."""
    scored = _clf_lang_frame(spark, sf_dir).select(
        "lang",
        F.expr("logit_milli div n_feats").alias("s_int"),
        F.col("y").alias("truth"),
    )
    return ranking.ks_statistic(
        scored, score_col="s_int", label_col="truth", group_col="lang"
    ).orderBy("lang")


SQL_KS_SEPARATION = f"""
WITH {_SQL_CLF_LANG},
sc AS (
  SELECT lang, logit_milli // n_feats AS s, y FROM scored
),
per AS (
  SELECT lang, s,
         SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS neg
  FROM sc GROUP BY 1, 2
),
cums AS (
  SELECT lang, pos, neg,
         SUM(pos) OVER (PARTITION BY lang ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         SUM(neg) OVER (PARTITION BY lang ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         SUM(pos) OVER (PARTITION BY lang) AS np,
         SUM(neg) OVER (PARTITION BY lang) AS nn
  FROM per
)
SELECT lang, CAST(MAX(np) AS BIGINT) AS n_pos, CAST(MAX(nn) AS BIGINT) AS n_neg,
       CASE WHEN MAX(np) > 0 AND MAX(nn) > 0 THEN
         round(CAST(MAX(ABS(cp * nn - cn * np)) AS DOUBLE)
               / CAST(MAX(np) * MAX(nn) AS DOUBLE), 6) END AS ks
FROM cums GROUP BY lang ORDER BY lang
"""

# ------------------------------------------------------ reciprocal rank

_MRR_K = 10


def q_mrr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank per language of the first relevant item in the
    SAME length-ranked top-10 list the NDCG and MAP gates judge
    (operators/ranking.py::reciprocal_rank): the third TREC number —
    1/first_rel_rank, ONE division over an exact integer; judged
    languages whose top-10 holds no relevant item score 0.0."""
    docs = _t(spark, sf_dir, "documents")
    w = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    )
    ranked = docs.select("lang", "doc_id", w.alias("rank")).where(
        F.col("rank") <= _MRR_K
    )
    rels = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") >= 5).cast("int").alias("rel"),
    )
    lang = docs.select("doc_id", "lang")
    return ranking.reciprocal_rank(
        ranked,
        rels.join(lang, "doc_id").select("lang", "doc_id", "rel"),
        k=_MRR_K,
        group_col="lang",
    ).orderBy("lang")


SQL_MRR_QUALITY = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE lang IS NOT NULL
),
topk AS (SELECT * FROM ranked WHERE rk <= {_MRR_K}),
rels AS (
  SELECT d.lang, e.vec_id AS doc_id,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS hit
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE e.label IS NOT NULL AND d.lang IS NOT NULL
),
nrel AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rel
  FROM rels WHERE hit = 1 GROUP BY lang
),
firsts AS (
  SELECT t.lang, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         CAST(MIN(CASE WHEN r.hit = 1 THEN t.rk END) AS BIGINT)
           AS first_rel_rank
  FROM topk t LEFT JOIN rels r ON r.lang = t.lang AND r.doc_id = t.doc_id
  GROUP BY t.lang
)
SELECT COALESCE(f.lang, n.lang) AS lang,
       COALESCE(f.n_ranked, 0) AS n_ranked,
       COALESCE(n.n_rel, 0) AS n_rel,
       f.first_rel_rank,
       -- exact integer half-up (r16 rounding-class sweep): 1/rank is
       -- the reachable-midpoint class (1/640 = 0.0015625 exactly)
       CASE WHEN n.n_rel > 0 THEN
         CASE WHEN f.first_rel_rank IS NOT NULL
              THEN CAST((2000000 + f.first_rel_rank)
                        // (2 * f.first_rel_rank) AS DOUBLE) / 1000000.0
              ELSE CAST(0 AS DOUBLE) END END AS rr
FROM firsts f FULL OUTER JOIN nrel n ON f.lang = n.lang
ORDER BY 1
"""


# --------------------------------------------------------- Fleiss panel

# the three cheap quality raters: character length, word count, and an
# english-function-word cue — all-integer/deterministic, each defined on
# every text-bearing document, so the panel is fixed at 3 by construction
_FL_LEN = 200
_FL_TOK = 40


def q_fleiss_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over a THREE-rater keep/drop panel (character-
    length gate, word-count gate, ' the '-cue gate) on every text-bearing
    document (operators/ranking.py::fleiss_kappa — per-item category
    counts through the exact closed form; the fixed-panel precondition
    holds by construction and is still enforced in-plan). The curation
    read: do cheap quality heuristics agree beyond chance, or is each
    gating a different corpus?"""
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    votes = [
        (F.length("text") >= _FL_LEN),
        (F.size(text.nonempty_tokens_col("text")) >= _FL_TOK),
        F.col("text").contains(" the "),
    ]
    # ONE corpus scan: the three raters' votes explode from an in-row
    # array (a UNION of three projections would re-scan the corpus per
    # rater — at 100 TB the panel must not multiply the read)
    keep = lambda v: F.when(v, F.lit("keep")).otherwise(F.lit("drop"))  # noqa: E731
    long_votes = docs.select(
        F.col("doc_id").alias("item_id"),
        F.explode(F.array(*[keep(v) for v in votes])).alias("category"),
    )
    return ranking.fleiss_kappa(long_votes)


SQL_FLEISS_PANEL = f"""
WITH votes AS (
  SELECT doc_id AS item_id,
         CASE WHEN length(text) >= {_FL_LEN} THEN 'keep' ELSE 'drop' END
           AS category
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id,
         CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> ''))
                   >= {_FL_TOK} THEN 'keep' ELSE 'drop' END
  FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id,
         CASE WHEN position(' the ' IN text) > 0 THEN 'keep' ELSE 'drop' END
  FROM documents WHERE text IS NOT NULL
),
nij AS (
  SELECT item_id, category, COUNT(*) AS c FROM votes GROUP BY 1, 2
),
per_item AS (
  SELECT item_id, SUM(c) AS ni, SUM(c * (c - 1)) AS a_i FROM nij GROUP BY 1
),
item_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(MAX(ni) AS BIGINT) AS n_raters,
         SUM(a_i) AS a
  FROM per_item
),
cat_agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cats, SUM(tj * tj) AS b
  FROM (SELECT category, SUM(c) AS tj FROM nij GROUP BY 1)
)
SELECT n_items, n_raters, n_cats,
       CASE WHEN (n_items * n_raters * (n_raters - 1))
                 * ((n_items * n_raters) * (n_items * n_raters) - b) <> 0
       THEN round(
         CAST(a * (n_items * n_raters) * (n_items * n_raters)
              - b * (n_items * n_raters * (n_raters - 1)) AS DOUBLE)
         / CAST((n_items * n_raters * (n_raters - 1))
                * ((n_items * n_raters) * (n_items * n_raters) - b)
                AS DOUBLE),
         6) END AS kappa
FROM item_agg, cat_agg
"""


# ----------------------------------------------------- chi2 association


def q_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared association cells between document language and
    source (operators/ranking.py::chi2_association): per (lang, source)
    cell the observed count, the independence-expected count, and the
    cell's χ² contribution — zero cells included (the report that says
    WHICH source over-represents which language, the governance twin of
    cross_source_dup_matrix)."""
    return ranking.chi2_association(
        _t(spark, sf_dir, "documents"), "lang", "source"
    ).orderBy("a", "b")


SQL_CHI2_LANG_SOURCE = """
WITH base AS (
  SELECT lang AS a, source AS b FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL
),
obs AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS observed FROM base GROUP BY 1, 2),
ma AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n_a FROM base GROUP BY 1),
mb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b FROM base GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base),
cells AS (
  SELECT ma.a, mb.b, COALESCE(o.observed, 0) AS observed,
         ma.n_a, mb.n_b, tot.n
  FROM ma CROSS JOIN mb CROSS JOIN tot
  LEFT JOIN obs o ON o.a = ma.a AND o.b = mb.b
)
SELECT a, b, observed, n_a, n_b, n,
       -- exact integer half-up (r16 rounding-class sweep; mirrors
       -- ranking.exact_ratio_round — both are ratios of exact integers).
       -- contrib uses the helper's two-step long division so the 2e6
       -- multiplier only touches the remainder (< den), keeping the
       -- dev² numerator inside the HUGEINT envelope.
       CAST((2000000 * (n_a * n_b) + n) // (2 * n) AS DOUBLE)
         / 1000000.0 AS expected,
       CAST((
         (CAST(observed * n - n_a * n_b AS HUGEINT)
            * (observed * n - n_a * n_b))
           // (CAST(n AS HUGEINT) * n_a * n_b) * 1000000
         + (2000000 * ((CAST(observed * n - n_a * n_b AS HUGEINT)
                          * (observed * n - n_a * n_b))
                        % (CAST(n AS HUGEINT) * n_a * n_b))
            + CAST(n AS HUGEINT) * n_a * n_b)
           // (2 * CAST(n AS HUGEINT) * n_a * n_b)
       ) AS DOUBLE) / 1000000.0 AS contrib
FROM cells ORDER BY a, b
"""


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


QUERIES = {
    "pr_curve_sweep": q_pr_curve_sweep,
    "lift_deciles": q_lift_deciles,
    "mcc_by_lang": q_mcc_by_lang,
    "brier_quality": q_brier_quality,
    "ece_quality": q_ece_quality,
    "ks_separation": q_ks_separation,
    "mrr_quality": q_mrr_quality,
    "fleiss_panel": q_fleiss_panel,
    "chi2_lang_source": q_chi2_lang_source,
    "vocab_coverage": q_vocab_coverage,
    "class_balance": q_class_balance,
}

ORACLES = {
    "pr_curve_sweep": SQL_PR_CURVE_SWEEP,
    "lift_deciles": SQL_LIFT_DECILES,
    "mcc_by_lang": SQL_MCC_BY_LANG,
    "brier_quality": SQL_BRIER_QUALITY,
    "ece_quality": SQL_ECE_QUALITY,
    "ks_separation": SQL_KS_SEPARATION,
    "mrr_quality": SQL_MRR_QUALITY,
    "fleiss_panel": SQL_FLEISS_PANEL,
    "chi2_lang_source": SQL_CHI2_LANG_SOURCE,
    "vocab_coverage": SQL_VOCAB_COVERAGE,
    "class_balance": SQL_CLASS_BALANCE,
}
