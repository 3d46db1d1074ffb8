"""Round-13 gates, registered with the driver through
``database_collector_spark.gates``; ``tests/test_gates.py`` runs each
against its DuckDB twin.

Cohort (the r11 verdict's item-2 list plus the Spark-first layout gate):

- ``ndcg_by_source`` — grouped NDCG@10 under a SECOND grouping (source,
  20 groups vs lang's 5) and a different ranking signal (token count),
  exercising ndcg_at_k's pooled-judgment semantics beyond the lang gate.
- ``quantiles_refined`` — the ``refine_narrow_domains`` escape hatch's
  FIRST oracle-paired gate: exact grouped quartiles over a value domain
  deliberately concentrated inside one log-space cell (a 1e12-offset
  bulk next to zero outliers), where the unrefined grid degenerates to
  a single populous bucket and the armed re-grid spreads it again.
- ``calibration_fixed_bins`` — fixed-threshold reliability monitor: the
  streaming-friendly sibling of calibration_curve (percentile bins need
  the full distribution; a monitor watching scores arrive bins on fixed
  integer thresholds — incrementally maintainable, bounded state). The
  SAME operator expression runs as a Structured Streaming update-mode
  aggregate; the stream's end-state equals this batch twin
  (tests/test_ranking.py, the ttl_expiry_counts pattern).
- ``rule_attribution`` — Gopher/C4-style ordered quality-rule funnel
  with marginal drop attribution (operators/text.py::rule_attribution):
  one corpus scan for the whole report, marginals reconcile exactly.
- ``bucketed_join_persist`` — the bucketed-layout sink
  (sinks/bucketed.py) finally behind an oracle gate: write both join
  sides bucketed+sorted on the key, reload, and join with ZERO exchange
  on either side (plan-pinned) — the pay-the-shuffle-once-at-write
  layout every recurring 100 TB star join wants.
- ``map_quality`` — Precision@10 / Recall@10 / Average Precision per
  language over the SAME length-ranked list the NDCG gate judges
  (operators/ranking.py::map_at_k): the binary-relevance half of the
  IR-evaluation pair, sharing the ranked-input contract.
- ``cohen_kappa`` — chance-corrected agreement between the hashed
  quality classifier's keep vote and the embedding ground truth, per
  language (operators/ranking.py::cohen_kappa): the eval tier's
  inter-rater corner, all-integer confusion core in DECIMAL(38,0).
- ``hard_negatives`` — contrastive-training mining: for each
  high-label anchor vector, the 5 nearest-by-cosine LOW-label vectors
  (operators/similarity.py::hard_negatives, the cosine_topk core with
  a candidate-side predicate pushed below the pair product).

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — its main loop
(collector/cmd/collector/database-collector.go) delegates queries to
pinned exporters; this tier is the beyond-reference LLM-pipeline
surface the build brief mandates.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators import ranking, similarity, text
from database_collector_spark.sinks.bucketed import read_table, write_bucketed
from database_collector_spark.workloads import _t
from database_collector_spark.workloads_ext import _SQL_QUANT
from database_collector_spark.workloads_r9 import SQL_QUALITY_CLASSIFIER
from database_collector_spark.workloads_r12 import clf_truth_frame, sql_ndcg_oracle

# ------------------------------------------------------ NDCG by source

_NDCG_K = 10


def q_ndcg_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 per SOURCE of the token-count-ranked document list
    against the embedding-label grades — the ndcg_quality gate's
    rotation twin on a different grouping (20 sources vs 5 langs) and a
    different ranking signal (token count vs n_chars), so the pooled-
    judgment semantics (unlabeled ranked items score 0, unranked labels
    feed IDCG only) get exercised on a second key distribution.
    operators/ranking.py::ndcg_at_k; ranked input is the top-10 per
    source — bounded, the operator's contract."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        "source", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    w = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("n_tok"), "doc_id")
    )
    ranked = base.select("source", "doc_id", w.alias("rank")).where(
        F.col("rank") <= _NDCG_K
    )
    rels = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("rel")
    )
    src = docs.select("doc_id", "source")
    return ranking.ndcg_at_k(
        ranked,
        rels.join(src, "doc_id").select("source", "doc_id", "rel"),
        k=_NDCG_K,
        group_col="source",
    ).orderBy("source")


# one NDCG oracle shape for all NDCG gates (r12 review: hand-edited
# twin copies drift; the r11 NULL-group fix had to be mirrored by hand)
SQL_NDCG_BY_SOURCE = sql_ndcg_oracle("source", "len(string_split(text, ' '))")


# ------------------------------------------------- refined quartiles

# A value domain built to DEGENERATE the unrefined prefix core: the bulk
# (1e12 + k·1000, k < 9973 — exact in double, < 2^53) spans ~1e-5 of
# u-space while the zero outliers stretch the per-key range to ~27.6, so
# the whole bulk lands in ONE 65536th-width cell; count-equalized bucket
# assignment then maps that single cell to a single populous bucket (the
# documented residual). refine_narrow_domains re-grids the cell over its
# own sub-range (~1e-5 across 65536 sub-cells — far above the ~2^-32
# refined residual AND far above double ulp at u≈27.6), restoring the
# spread. The staged test audits this via the bucket_col hook.
_QR_MOD = 9973
_QR_BASE = 1_000_000_000_000


def _qr_value() -> F.Column:
    return (
        F.when(F.col("doc_id") % 101 == 0, F.lit(0))
        .otherwise(F.lit(_QR_BASE) + (F.col("doc_id") % _QR_MOD) * 1000)
        .cast("long")
    )


def q_quantiles_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-lang type-1 quartiles with the narrow-domain escape
    hatch ARMED (operators/ranking.py::quantiles_by_group(
    refine_narrow_domains=True) -> prefix_count_below's second-level
    grid): the first driver gate exercising the re-grid path. The
    quartile VALUES are exact inputs (no interpolation), so arming the
    hatch must not move a single output — bucketing affects only
    partitioning — which is exactly what the oracle hash pins."""
    docs = _t(spark, sf_dir, "documents")
    return ranking.quantiles_by_group(
        docs.select("lang", _qr_value().alias("v")),
        "lang",
        "v",
        refine_narrow_domains=True,
    ).orderBy("lang")


SQL_QUANTILES_REFINED = f"""
WITH per AS (
  SELECT lang AS g,
         CAST(CASE WHEN doc_id % 101 = 0 THEN 0
              ELSE {_QR_BASE} + (doc_id % {_QR_MOD}) * 1000 END AS BIGINT) AS v,
         COUNT(*) AS cnt
  FROM documents
  WHERE lang IS NOT NULL AND doc_id IS NOT NULL
  GROUP BY 1, 2
),
wb AS (
  SELECT g, v, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM per
)
SELECT g AS lang,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN below < (1 * n + 3) // 4
                 AND (1 * n + 3) // 4 <= below + cnt THEN v END) AS p25,
       MAX(CASE WHEN below < (2 * n + 3) // 4
                 AND (2 * n + 3) // 4 <= below + cnt THEN v END) AS p50,
       MAX(CASE WHEN below < (3 * n + 3) // 4
                 AND (3 * n + 3) // 4 <= below + cnt THEN v END) AS p75
FROM wb GROUP BY g ORDER BY g
"""


# --------------------------------------------- fixed-bin calibration

# Thresholds are part of the monitor's CONFIG (fixed, data-independent):
# millilogits-per-feature observed at sf0.1 span ~[-323, 301] with
# p5..p95 ~ [-157, 46]; lo=-250 / width=50 / 10 bins covers [-250, 250)
# with clamped edge bins absorbing outliers (visible in lo/hi_score).
_FB_LO = -250
_FB_WIDTH = 50
_FB_BINS = 10


def _fb_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clf_truth_frame(spark, sf_dir).select(
        # integer score: millilogits per feature — `div` truncates
        # toward zero on BOTH engines (DuckDB // also truncates), so
        # the binning input is engine-exact with no float in sight
        F.expr("logit_milli div n_feats").alias("s_int"),
        "y",
    )


def q_calibration_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-threshold reliability monitor of the hashed quality
    classifier against the embedding label >= 5
    (operators/ranking.py::fixed_bin_calibration): all-integer bin
    assignment over fixed millilogit thresholds, per-bin exact counts —
    the streaming-maintainable sibling of the percentile-binned
    calibration_curve gate. The identical expression tree runs as a
    Structured Streaming update-mode aggregate with bounded state
    (n_bins keys forever); the staged test pins stream end-state ==
    this batch twin on the same rows."""
    return ranking.fixed_bin_calibration(
        _fb_scored(spark, sf_dir),
        score_col="s_int",
        label_col="y",
        lo=_FB_LO,
        bin_width=_FB_WIDTH,
        n_bins=_FB_BINS,
    ).orderBy("bin")


SQL_CALIBRATION_FIXED_BINS = f"""
WITH clf AS MATERIALIZED (
  SELECT doc_id, n_feats, logit_milli
  FROM ({SQL_QUALITY_CLASSIFIER}) q WHERE n_feats > 0
),
sc AS (
  SELECT c.logit_milli // c.n_feats AS s,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS y
  FROM clf c JOIN embeddings e ON e.vec_id = c.doc_id
  WHERE e.label IS NOT NULL
),
b AS (
  SELECT LEAST(GREATEST((s - ({_FB_LO})) // {_FB_WIDTH}, 0), {_FB_BINS - 1})
           AS bin, s, y
  FROM sc
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       -- exact integer half-up (r16 rounding-class sweep; see
       -- ranking.exact_ratio_round)
       CAST((2000000 * SUM(y) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
         / 1000000.0 AS pos_rate,
       CAST(MIN(s) AS BIGINT) AS lo_score,
       CAST(MAX(s) AS BIGINT) AS hi_score
FROM b GROUP BY bin ORDER BY bin
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


# ---------------------------------------------- bucketed join layout

_BJP_BUCKETS = 8
# atexit-hook dedup keys: (table_name, id(session)) — per actual build
_BUILT_TABLES: set[tuple[str, int]] = set()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _bjp_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Per-(process, SF) managed-table names for the bucketed-layout
    gate, with dead-pid sibling pruning under the warehouse dir (the
    workloads_r10._artifact_dir policy: reuse within a run, no leak
    across runs, no race between concurrent runs)."""
    # table names must be bare identifiers: 'sf0.001' would parse as a
    # schema qualifier
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    pid = os.getpid()
    names = (f"bjp_docs_{tag}_{pid}", f"bjp_emb_{tag}_{pid}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    try:
        for d in os.listdir(wh):
            if d.startswith("bjp_"):
                owner = d.rsplit("_", 1)[-1]
                if owner.isdigit() and int(owner) != pid and not _pid_alive(
                    int(owner)
                ):
                    shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
    except FileNotFoundError:
        pass
    return names


def ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once accessor for the SHARED bucketed layout: the
    (documents, embeddings) pair persisted bucketed+sorted on doc_id
    into the same bucket count (sinks/bucketed.py::write_bucketed — one
    sorted file per bucket). Returns the two managed-table names;
    builds them only if the session catalog doesn't already have them.

    This is pipeline INFRASTRUCTURE, not one gate's private cache: the
    `bucketed_join_persist` gate, the nightly-join example
    (examples/nightly_join.py) and its second-consumer test all read
    the SAME tables — every consumer after the first build joins on
    doc_id with zero Exchange (r13 VERDICT #6: demonstrate the
    pay-the-shuffle-once layout as shared infrastructure)."""
    dt, et = _bjp_tables(spark, sf_dir)
    # build-once decision asks the CATALOG, not a process-global set:
    # managed tables live in the (default in-memory) session catalog,
    # so a session restart within one process would leave a stale
    # membership set pointing at tables the new catalog doesn't have
    sides = (
        (dt, lambda: _t(spark, sf_dir, "documents").select("doc_id", "lang")),
        (
            et,
            lambda: spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
                F.col("vec_id").alias("doc_id"), "label"
            ),
        ),
    )
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix(
        "file:"
    )
    for tname, mk in sides:
        if spark.catalog.tableExists(tname):
            continue
        # a missing catalog entry with leftover same-pid files (the
        # session-restart case) would make the managed-table CREATE
        # refuse the non-empty location — clear it first
        shutil.rmtree(os.path.join(wh, tname), ignore_errors=True)
        write_bucketed(mk(), tname, bucket_col="doc_id", n_buckets=_BJP_BUCKETS)
        # (re-)register the drop hook per ACTUAL build: a hook captured
        # by a now-stopped session is a swallowed no-op at exit, so the
        # dedup key includes the session identity
        hook_key = (tname, id(spark))
        if hook_key not in _BUILT_TABLES:
            _BUILT_TABLES.add(hook_key)
            atexit.register(_drop_bjp_tables, spark, tname)
    return dt, et


def q_bucketed_join_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once layout gate: persist BOTH join sides
    bucketed+sorted on doc_id into the same bucket count
    (ensure_bucketed_tables above — one sorted file per bucket),
    reload them as tables, and run the doc_id equi-join with ZERO
    exchange under the join (plan-pinned in the staged test: the only
    shuffle in the whole plan is the final per-lang aggregate). At
    100 TB this is the recurring star join's dominant cost moved to
    write time — every nightly run after the first joins shuffle-free.
    The oracle hashes the joined content (per-lang counts, label sum,
    doc_id sum), so a layout that corrupted or dropped rows flips the
    row, not just the plan shape."""
    dt, et = ensure_bucketed_tables(spark, sf_dir)
    j = read_table(spark, dt).join(read_table(spark, et), "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("label_sum"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


def _drop_bjp_tables(spark: SparkSession, *tables: str) -> None:
    try:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    except Exception:
        pass  # session already stopped at exit; files pruned by pid sweep


SQL_BUCKETED_JOIN_PERSIST = """
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(e.label) AS BIGINT) AS label_sum,
       CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
GROUP BY d.lang ORDER BY d.lang
"""


# ------------------------------------------------- MAP / P@k / R@k

_MAP_K = 10


def q_map_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10, Recall@10 and Average Precision per language of
    the length-ranked document list against binary relevance (embedding
    label >= 5) — the set-retrieval half of the IR-evaluation pair next
    to ndcg_quality's graded view, judging the IDENTICAL ranked input
    (operators/ranking.py::map_at_k; exact-integer hit counts, the
    <= k-term AP sum in the same accepted tiny-sum class as the NDCG
    discount sum)."""
    docs = _t(spark, sf_dir, "documents")
    w = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    )
    ranked = docs.select("lang", "doc_id", w.alias("rank")).where(
        F.col("rank") <= _MAP_K
    )
    rels = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") >= 5).cast("int").alias("rel"),
    )
    lang = docs.select("doc_id", "lang")
    return ranking.map_at_k(
        ranked,
        rels.join(lang, "doc_id").select("lang", "doc_id", "rel"),
        k=_MAP_K,
        group_col="lang",
    ).orderBy("lang")


SQL_MAP_QUALITY = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents WHERE lang IS NOT NULL
),
topk AS (SELECT * FROM ranked WHERE rk <= {_MAP_K}),
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
c AS (
  SELECT t.lang, t.rk, COALESCE(r.hit, 0) AS h,
         SUM(COALESCE(r.hit, 0)) OVER (
           PARTITION BY t.lang ORDER BY t.rk
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM topk t LEFT JOIN rels r ON r.lang = t.lang AND r.doc_id = t.doc_id
),
s AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_ranked,
         CAST(SUM(h) AS BIGINT) AS hits,
         SUM(h * CAST(cum AS DOUBLE) / rk) AS ap_num
  FROM c GROUP BY lang
)
SELECT COALESCE(s.lang, n.lang) AS lang,
       COALESCE(s.n_ranked, 0) AS n_ranked,
       COALESCE(n.n_rel, 0) AS n_rel,
       COALESCE(s.hits, 0) AS hits,
       round(CAST(COALESCE(s.hits, 0) AS DOUBLE) / {float(_MAP_K)}, 6)
         AS p_at_k,
       CASE WHEN n.n_rel > 0 THEN
         round(CAST(COALESCE(s.hits, 0) AS DOUBLE) / n.n_rel, 6) END AS r_at_k,
       CASE WHEN n.n_rel > 0 THEN
         round(COALESCE(s.ap_num, 0) / LEAST(n.n_rel, {_MAP_K}), 6) END AS ap
FROM s FULL OUTER JOIN nrel n ON s.lang = n.lang
ORDER BY 1
"""


# --------------------------------------------------- Cohen's kappa


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement per language between the hashed
    quality classifier's keep vote (logit > 0) and the embedding ground
    truth (label >= 5) — operators/ranking.py::cohen_kappa: one keyed
    aggregate of exact integer confusion counts, the closed-form
    (n·agree − pe_num)/(n² − pe_num) in DECIMAL(38,0), one final double
    division over identical exact operands."""
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = clf_truth_frame(spark, sf_dir).join(lang, "doc_id").select(
        "lang",
        (F.col("logit_milli") > 0).alias("pred"),
        (F.col("y") == 1).alias("truth"),
    )
    return ranking.cohen_kappa(
        scored, rater_a_col="pred", rater_b_col="truth", group_col="lang"
    ).orderBy("lang")


SQL_COHEN_KAPPA = f"""
WITH clf AS MATERIALIZED (
  SELECT doc_id, logit_milli
  FROM ({SQL_QUALITY_CLASSIFIER}) q WHERE n_feats > 0
),
sc AS (
  SELECT d.lang,
         CASE WHEN c.logit_milli > 0 THEN 1 ELSE 0 END AS a,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS b
  FROM clf c
  JOIN embeddings e ON e.vec_id = c.doc_id
  JOIN documents d ON d.doc_id = c.doc_id
  WHERE e.label IS NOT NULL AND d.lang IS NOT NULL
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
         CAST(SUM(a) AS BIGINT) AS pos_a,
         CAST(SUM(b) AS BIGINT) AS pos_b
  FROM sc GROUP BY lang
),
k AS (
  SELECT lang, n, agree, pos_a, pos_b,
         CAST(pos_a AS DECIMAL(18,0)) * CAST(pos_b AS DECIMAL(18,0))
           + CAST(n - pos_a AS DECIMAL(18,0)) * CAST(n - pos_b AS DECIMAL(18,0))
           AS pe_num,
         CAST(n AS DECIMAL(18,0)) * CAST(agree AS DECIMAL(18,0)) AS na,
         CAST(n AS DECIMAL(18,0)) * CAST(n AS DECIMAL(18,0)) AS nn
  FROM agg
)
SELECT lang, n, agree, pos_a, pos_b,
       CASE WHEN nn - pe_num <> 0 THEN
         round(CAST(na - pe_num AS DOUBLE) / CAST(nn - pe_num AS DOUBLE), 6)
       END AS kappa
FROM k ORDER BY lang
"""


# ------------------------------------------------ hard-negative mining

_HN_ANCHORS = "vec_id < 10 AND label >= 5"
_HN_NEGATIVES = "label < 5"
_HN_K = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each high-label anchor in
    the bounded query batch, the 5 nearest-by-cosine low-label vectors
    (operators/similarity.py::hard_negatives — the cosine_topk
    exact-integer core with the negative predicate pruning the
    candidate stream BEFORE the pair product). NULL labels fail both
    predicates and are excluded on both engines."""
    return similarity.hard_negatives(
        _t(spark, sf_dir, "embeddings"),
        anchor_filter=_HN_ANCHORS,
        negative_filter=_HN_NEGATIVES,
        k=_HN_K,
    ).orderBy("q_id", "rank")


SQL_HARD_NEGATIVES = f"""
WITH {_SQL_QUANT},
p AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id, SUM(q.qe[i] * c.qe[i]) AS dot
  FROM qe q, qe c, idx
  WHERE q.vec_id < 10 AND q.label >= 5
    AND c.label < 5 AND c.vec_id <> q.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT p.q_id, p.c_id,
         CAST(p.dot AS DOUBLE)
           / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
           AS cos_raw
  FROM p
  JOIN norms nq ON nq.vec_id = p.q_id
  JOIN norms nc ON nc.vec_id = p.c_id
),
ranked AS (
  SELECT q_id, c_id, cos_raw,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cos_raw DESC, c_id ASC) AS rank
  FROM scored
)
SELECT q_id, c_id, round(cos_raw, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {_HN_K}
ORDER BY q_id, rank
"""


QUERIES = {
    "ndcg_by_source": q_ndcg_by_source,
    "quantiles_refined": q_quantiles_refined,
    "calibration_fixed_bins": q_calibration_fixed_bins,
    "rule_attribution": q_rule_attribution,
    "bucketed_join_persist": q_bucketed_join_persist,
    "map_quality": q_map_quality,
    "cohen_kappa": q_cohen_kappa,
    "hard_negatives": q_hard_negatives,
}

ORACLES = {
    "ndcg_by_source": SQL_NDCG_BY_SOURCE,
    "quantiles_refined": SQL_QUANTILES_REFINED,
    "calibration_fixed_bins": SQL_CALIBRATION_FIXED_BINS,
    "rule_attribution": SQL_RULE_ATTRIBUTION,
    "bucketed_join_persist": SQL_BUCKETED_JOIN_PERSIST,
    "map_quality": SQL_MAP_QUALITY,
    "cohen_kappa": SQL_COHEN_KAPPA,
    "hard_negatives": SQL_HARD_NEGATIVES,
}
