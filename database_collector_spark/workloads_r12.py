"""Round-12 STAGED gates — NOT imported by __spark_entry__ until the
r12 registration round (the staging pattern: pre-verified oracles enter
the driver window as a two-line diff, keeping every new gate inside the
50-entry correctness window the round it registers).

The cohort — the r10-verdict r12 shortlist, completing the classifier-
evaluation and rank-stats tiers and hash-checking the governance
COMPOSITION (not just its stages):

- ``auc_by_group`` — exact per-language ROC AUC of the shared-LCG
  hyperplane scorer (operators/ranking.py::auc_by_group, the keyed twin
  of auc_exact riding the same prefix_count_below core; the operator
  shipped in r10, this adds its oracle-paired gate).
- ``calibration_curve`` — reliability curve of the hashed quality
  classifier vs the embedding label: percentile-binned observed
  positive rates with tie classes kept whole, all-integer bin
  assignment (operators/ranking.py::calibration_curve).
- ``kendall_tau_banded`` — banded Kendall tau-b per user over
  (timestamp, value-cents) events: pairwise order concordance with the
  standard tie correction, pairs bounded to each sample's next 12
  successors — the theil_sen banding applied to rank correlation
  (operators/ranking.py::banded_kendall_tau).
- ``calibration_by_source`` — the calibration gate's fairness twin:
  one independent reliability curve per source
  (operators/ranking.py::calibration_curve(group_col=...)).
- ``ndcg_quality`` — exact NDCG@10 per language of a bounded ranked
  list against graded relevance (operators/ranking.py::ndcg_at_k).
- ``quantiles_by_group`` — exact type-1 quartiles per group from
  per-(group, value) counts + the shared prefix-sum core: the
  100 TB-honest exact-quantile form whose memory is bounded by the
  compressed value domain, never the group size
  (operators/ranking.py::quantiles_by_group).
- ``source_governance`` — the examples/source_governance.py triage
  chain as ONE gate: verified MinHash-LSH mirror partners + per-source
  relative percentile floor + DSIR target-likeness + Hamilton token
  quotas over the SURVIVORS, one row per source — the composition is
  what a 100 TB ingest actually runs, so the composition is what gets
  hash-checked.

Reference parity: the reference (truemark/database-collector) has no
analytics engine of its own — its main loop
(collector/cmd/collector/database-collector.go) delegates queries to
pinned exporters; this tier extends the beyond-reference LLM-pipeline
surface the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark import curation
from database_collector_spark.operators import dedup, ranking, similarity, text
from database_collector_spark.workloads import _t
from database_collector_spark.workloads_ext import sql_minhash_lsh_ctes
from database_collector_spark.workloads_r9 import SQL_QUALITY_CLASSIFIER, _hv_sql


# --------------------------------------------------------- grouped exact AUC


def q_auc_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC per language of the fixed integer hyperplane
    scorer (the auc_scores scorer — shared-LCG plane, exact integer dot
    product over quantized embeddings) against label >= 5, grouped by
    the document's lang via the 1:1 vec_id = doc_id join
    (operators/ranking.py::auc_by_group — the shared keyed prefix-sum
    core, no per-group single-partition sort; 5 language groups is
    exactly the few-groups shape the core exists for)."""
    plane = similarity.hyperplanes_int(1, dim=64, seed=5)[0]
    emb = similarity.with_quantized(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )
    arr = "array(" + ",".join(str(c) for c in plane) + ")"
    score = F.expr(
        f"aggregate(zip_with(qe, {arr}, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    lang = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    scored = emb.join(lang, "vec_id").select(
        "lang",
        score.alias("score"),
        (F.col("label") >= 5).cast("int").alias("label"),
    )
    return ranking.auc_by_group(scored, "lang").orderBy("lang")


def _sql_auc_by_group() -> str:
    plane = similarity.hyperplanes_int(1, dim=64, seed=5)[0]
    dot = " + ".join(f"({c} * qe[{i + 1}])" for i, c in enumerate(plane))
    return f"""
WITH q AS (
  SELECT d.lang,
         list_transform(e.embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qe,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS y
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE e.label IS NOT NULL AND d.lang IS NOT NULL
),
sc AS (SELECT lang, CAST({dot} AS BIGINT) AS s, y FROM q WHERE qe IS NOT NULL),
per AS (
  SELECT lang, s, SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos,
         SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS neg
  FROM sc GROUP BY lang, s
),
u AS (
  SELECT lang, pos, neg,
         pos * (2 * COALESCE(SUM(neg) OVER (PARTITION BY lang ORDER BY s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + neg)
           AS u2_term
  FROM per
)
SELECT lang, CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
       -- exact integer half-up (r16 rounding-class sweep; see
       -- ranking.exact_ratio_round — 2U and 2·n_pos·n_neg are exact
       -- integers, the reachable-midpoint class)
       CASE WHEN SUM(pos) > 0 AND SUM(neg) > 0 THEN
         CAST((2000000 * SUM(u2_term) + 2 * SUM(pos) * SUM(neg))
              // (4 * SUM(pos) * SUM(neg)) AS DOUBLE) / 1000000.0 END AS auc
FROM u GROUP BY lang ORDER BY lang
"""


SQL_AUC_BY_GROUP = _sql_auc_by_group()


# -------------------------------------------------------- calibration curve

_CAL_BINS = 10


# Session-scoped memo for the shared classifier-feature frames: a DOZEN
# eval gates (both calibration gates, auc_by_group, the r13 fixed-bin /
# kappa / MAP cohort, the whole r14 eval cohort) consume the IDENTICAL
# scored frame, and without memoization each gate re-runs the hashed-
# classifier corpus fold — measured ~13% of the full bench suite at
# sf0.1 (r14 audit: 5 of the 8 most expensive rows shared this one
# pipeline). The frame persists MEMORY_AND_DISK per (session, sf_dir) —
# the feature-store pattern: score once, every evaluation reads the
# materialized features (the bucketed_join_persist precedent, in-memory
# tier; a production deployment lands it in the lake instead).
#
# Lifetime contract (review-honest, no weak-key theater: the cached
# DataFrames strongly reference their session, so a WeakKeyDictionary's
# cleanup would never fire anyway): entries live for the PROCESS unless
# ``clear_session_memo(spark)`` evicts them — long-lived multi-session
# services must call it on session teardown. Inputs are assumed
# IMMUTABLE per (session, sf_dir path) — the repo's snapshot-per-batch
# stance; a caller that regenerates parquet under a previously-scored
# path in the same session must clear first or later gates read the
# stale persisted frame. Values and oracles are untouched — pure reuse.
_FRAME_MEMO: dict[tuple[int, str], DataFrame] = {}
_FRAME_MEMO_LOCK = None  # created lazily; threading import stays cold


def _memo_lock():
    global _FRAME_MEMO_LOCK
    if _FRAME_MEMO_LOCK is None:
        import threading

        # REENTRANT: _clf_lang_frame's build() calls clf_truth_frame,
        # which re-enters _session_memo under the same lock — a plain
        # Lock self-deadlocked there (found via a hung dump_plans run,
        # futex-wait stack)
        _FRAME_MEMO_LOCK = threading.RLock()
    return _FRAME_MEMO_LOCK


_ATEXIT_REGISTERED = False


def _atexit_clear_memo() -> None:
    """Process-exit safety net (r14 ADVICE: teardown eviction should be
    automatic, not contract-only — the ensure_bucketed_tables atexit
    precedent): evict every remaining memo entry so the strong session
    references release even when a long-lived host forgot
    ``clear_session_memo``. Unpersist failures are suppressed here —
    unlike the live-session clear, staleness cannot matter at process
    exit and the JVM may already be gone."""
    with _memo_lock():
        while _FRAME_MEMO:
            _, df = _FRAME_MEMO.popitem()
            try:
                df.unpersist()
            except Exception:
                pass


def _session_memo(spark: SparkSession, key: str, build) -> DataFrame:
    import atexit

    from pyspark import StorageLevel

    # id(spark) cannot be recycled while entries exist: the cached
    # frames keep the session strongly referenced. The whole
    # check-build-insert runs under a lock (third-pass review: two
    # concurrent first callers would each persist a copy and the
    # loser's cache entry would leak with no handle to unpersist it);
    # build() only constructs the plan — persist is lazy — so the lock
    # is held for analysis time, never execution time.
    k = (id(spark), key)
    with _memo_lock():
        global _ATEXIT_REGISTERED
        if not _ATEXIT_REGISTERED:
            _ATEXIT_REGISTERED = True
            atexit.register(_atexit_clear_memo)
        if k not in _FRAME_MEMO:
            _FRAME_MEMO[k] = build().persist(StorageLevel.MEMORY_AND_DISK)
        return _FRAME_MEMO[k]


def clear_session_memo(spark: SparkSession) -> None:
    """Unpersist and evict this session's memoized feature frames (see
    the lifetime contract above): call on session teardown in
    multi-session processes, and before re-scoring after regenerating
    parquet under a previously-scored sf_dir.

    unpersist failures are suppressed ONLY when the session is actually
    stopped — on a LIVE session a failed unpersist is re-raised, because
    evicting the memo entry while the JVM CacheManager still holds the
    old InMemoryRelation would let a rebuilt identical plan silently
    serve the stale cache (third-pass review): the exact staleness this
    function exists to prevent."""
    with _memo_lock():
        mine = [k for k in _FRAME_MEMO if k[0] == id(spark)]
        for k in mine:
            df = _FRAME_MEMO.pop(k)
            try:
                df.unpersist()
            except Exception:
                try:
                    stopped = spark.sparkContext._jsc.sc().isStopped()
                except Exception:
                    stopped = True
                if not stopped:
                    raise


def clf_truth_frame(
    spark: SparkSession, sf_dir: str, *, memo: bool = False
) -> DataFrame:
    """(doc_id, n_feats, logit_milli, y): the hashed quality
    classifier's raw outputs joined 1:1 (vec_id = doc_id) with the
    binary ground truth (embedding label >= 5; NULL labels are
    actively dropped here — ``(label >= 5).cast('int')`` maps NULL to
    y=NULL and an inner join would keep it, so the helper filters
    ``y IS NOT NULL`` to make the advertised contract true rather than
    relying on every consumer's own NULL guard; the oracle twins'
    ``WHERE e.label IS NOT NULL`` matches). The classifier emits its
    own keep/drop
    ``label`` column — projected away HERE, exactly once, so no
    consumer can accidentally join the prediction instead of the truth
    (r12 review: this footgun was previously re-solved by comment at
    three call sites: both calibration gates and the staged fixed-bin
    monitor).

    ``memo=True`` additionally memoizes + persists the frame per
    (session, sf_dir) — see ``_session_memo`` — the feature-store tier
    for a long-lived evaluation service scoring many reads against one
    fold (``examples/classifier_eval.py``). The REGISTERED GATES call
    with the default ``memo=False`` (r15 optimization round,
    bench-integrity rule): every bench/oracle invocation of a declared
    query recomputes its full pipeline from the parquet inputs — a
    module-level cache in front of declared queries would time cache
    reads, not the engine. The honest fold is cheap anyway (~0.7 s at
    sf0.1 warm; the r14 numbers that motivated the memo were cold-box
    full-gate costs, not the fold).

    Storage-retention note (r15 ADVICE): with ``memo=False`` each
    invocation creates a fresh lazy localCheckpoint whose executor
    blocks are freed only when the returned DataFrame is
    garbage-collected. Fine for bench runs and batch jobs; a LONG-LIVED
    service invoking many gates should either use ``memo=True`` + an
    explicit ``clear_session_memo(spark)`` on teardown, or drop
    references promptly so GC can release the blocks."""

    def build() -> DataFrame:
        docs = _t(spark, sf_dir, "documents")
        # lazy localCheckpoint BEFORE the n_feats filter (r15
        # optimization round): a filter on a column COMPUTED by the
        # classifier fold gets pushed below the projection, where the
        # optimizer re-derives the tokenize+md5 fold a second time for
        # the predicate (guide §4.4's duplication, Catalyst-expression
        # flavor) — measured 0.6 s -> 2.0 s at sf0.1 from that filter
        # alone, and every downstream consumer branch multiplied it
        # again. The checkpoint materializes the narrow scored frame
        # once per invocation (the feature-store write, in-memory
        # tier); the filter and the truth join then read materialized
        # columns. Whole frame: 5.5 s -> 0.7 s at sf0.1.
        clf = (
            text.hashed_classifier(docs, n_buckets=4096, salt="clf", bigrams=True)
            .select("doc_id", "n_feats", "logit_milli")
            .localCheckpoint(eager=False)
            .where(F.col("n_feats") > 0)
        )
        lab = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id").alias("doc_id"),
            (F.col("label") >= 5).cast("int").alias("y"),
        )
        return clf.join(lab, "doc_id").where(F.col("y").isNotNull())

    if not memo:
        return build()
    return _session_memo(spark, f"clf_truth:{sf_dir}", build)


def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve of the hashed quality classifier
    (workloads_r9's fastText-shape linear gate) against the embedding
    label >= 5: percentile bins with tie classes kept whole, observed
    positive rate per bin (operators/ranking.py::calibration_curve —
    prefix_count_below over the compressed score domain, all-integer
    bin assignment, one exact integer division per bin). The score is
    logit_milli / (1000·n_feats): ONE division over identical exact
    integers, engine-equal without any decimal detour."""
    scored = clf_truth_frame(spark, sf_dir).select(
        (F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))).alias("score"),
        F.col("y").alias("truth"),
    )
    return ranking.calibration_curve(
        scored, label_col="truth", n_bins=_CAL_BINS
    ).orderBy("bin")


SQL_CALIBRATION_CURVE = f"""
WITH clf AS MATERIALIZED (
  SELECT doc_id, n_feats, logit_milli
  FROM ({SQL_QUALITY_CLASSIFIER}) q WHERE n_feats > 0
),
sc AS (
  SELECT c.logit_milli / (1000.0 * c.n_feats) AS s,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS y
  FROM clf c JOIN embeddings e ON e.vec_id = c.doc_id
  WHERE e.label IS NOT NULL
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
)
SELECT CAST((below * {_CAL_BINS}) // n AS BIGINT) AS bin,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       -- exact integer half-up at 6 decimals (r16 rounding-class sweep;
       -- mirrors ranking.exact_ratio_round — round(double, 6) diverges
       -- between the engines on reachable decimal midpoints)
       CAST((2000000 * SUM(pos) + SUM(cnt)) // (2 * SUM(cnt)) AS DOUBLE)
         / 1000000.0 AS pos_rate,
       round(MIN(s), 6) AS lo_score,
       round(MAX(s), 6) AS hi_score
FROM wb, tot GROUP BY 1 ORDER BY bin
"""


# ------------------------------------------------------ banded Kendall tau-b

_KT_BAND = 12


def q_kendall_tau_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Kendall tau-b per user over the event stream — does value
    trend with time, counted as pairwise order concordance with the
    standard tie correction, pairs bounded to each sample's next 12
    successors in (ts, event_id) order (operators/ranking.py::
    banded_kendall_tau — the theil_sen banding applied to rank
    correlation; one per-user window, an in-row band expansion, one
    keyed aggregate, never a pair join). Inputs are exact integers
    (unix seconds, value cents), so every count is exact and tau_b is
    one division over identical operands. The series projection and the
    band expansion are the SAME code theil_sen_slope runs
    (workloads_ts.user_value_series + ranking.banded_pair_deltas)."""
    from database_collector_spark.workloads_ts import user_value_series

    return ranking.banded_kendall_tau(
        user_value_series(spark, sf_dir),
        "user_id",
        x_col="s",
        y_col="v",
        id_col="event_id",
        band=_KT_BAND,
    ).orderBy("user_id")


def _sql_kendall_tau(band: int = _KT_BAND) -> str:
    leads = ",\n         ".join(
        f"LEAD(s, {k}) OVER w AS s{k}, LEAD(v, {k}) OVER w AS v{k}"
        for k in range(1, band + 1)
    )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT user_id, s{k} - s AS dx, v{k} - v AS dy FROM led"
        f" WHERE s{k} IS NOT NULL"
        for k in range(1, band + 1)
    )
    return f"""
WITH base AS (
  -- NULL key/x/y/id rows excluded on BOTH sides: the Spark core
  -- (ranking.banded_pair_deltas) filters them actively
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s, event_id,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_id IS NOT NULL AND value IS NOT NULL
),
led AS MATERIALIZED (
  SELECT user_id, s, v,
         {leads}
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
),
pairs AS (
  {unions}
),
agg AS (
  SELECT user_id,
         COUNT(*) AS n0,
         SUM(CASE WHEN dx > 0 AND dy > 0 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN dx > 0 AND dy < 0 THEN 1 ELSE 0 END) AS d,
         SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS n2
  FROM pairs GROUP BY user_id
)
SELECT user_id,
       CAST(n0 AS BIGINT) AS n_pairs,
       CAST(c AS BIGINT) AS concordant,
       CAST(d AS BIGINT) AS discordant,
       CASE WHEN (n0 - n1) * (n0 - n2) > 0 THEN
         round((c - d) / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE)), 6)
       END AS tau_b
FROM agg ORDER BY user_id
"""


SQL_KENDALL_TAU_BANDED = _sql_kendall_tau()


# -------------------------------------------------- grouped exact quartiles


def q_quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 (lower) quartiles of extended price cents per
    return flag WITHOUT a per-group value buffer — all-integer rank
    selection k_m = (m·n + 3) div 4 at three FIXED target ranks, so it
    rides ``ranking.rank_select_by_group``'s two-scan cell refinement
    (r15 optimization round, the approx_quantiles precedent): scan 1
    folds the corpus map-side onto the fixed 65536-cell log grid (NO
    corpus shuffle — the previous ``quantiles_by_group`` prefix-core
    form shuffled the per-(group, value) compressed table, which is
    corpus-sized when prices are ~all-distinct, and this one was:
    ~99.99% distinct cents at sf0.1), scan 2 re-reads only the <= 3
    candidate cells per group. Values are hash-identical (type-1 ranks,
    ties whole; differential green at sf0.001/0.01/0.1); Spark's
    built-in exact percentile still holds EVERY group value in its agg
    buffer — the memory cliff both forms exist to avoid — and the
    registered exact_percentiles gate keeps the interpolated built-in
    semantics for contrast. The running-counts prefix-core form stays
    exercised by quantiles_refined (narrow-domain hatch armed)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    return ranking.rank_select_by_group(
        li,
        "l_returnflag",
        "cents",
        {
            "p25": "(1 * n + 3) div 4",
            "p50": "(2 * n + 3) div 4",
            "p75": "(3 * n + 3) div 4",
        },
    ).orderBy("l_returnflag")


SQL_QUANTILES_BY_GROUP = """
WITH per AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
         COUNT(*) AS cnt
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1, 2
),
wb AS (
  SELECT g, v, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         SUM(cnt) OVER (PARTITION BY g) AS n
  FROM per
)
SELECT g AS l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN below < (1 * n + 3) // 4
                 AND (1 * n + 3) // 4 <= below + cnt THEN v END) AS p25,
       MAX(CASE WHEN below < (2 * n + 3) // 4
                 AND (2 * n + 3) // 4 <= below + cnt THEN v END) AS p50,
       MAX(CASE WHEN below < (3 * n + 3) // 4
                 AND (3 * n + 3) // 4 <= below + cnt THEN v END) AS p75
FROM wb GROUP BY g ORDER BY g
"""


# --------------------------------------------------------------- NDCG@k

_NDCG_K = 10


def q_ndcg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact NDCG@10 per language of the length-ranked document list
    against the embedding-label relevance grades (0-9) — the canonical
    ranked-retrieval evaluation (operators/ranking.py::ndcg_at_k,
    burgess gains, pooled-judgment semantics), each language playing
    the query role. The ranking is the exact-integer n_chars order
    (doc_id tie-break) truncated to the top 10 per language — a
    BOUNDED ranked-list input, the operator's contract; the per-lang
    row_number window is parallel across languages and its partitions
    are corpus-bounded only here at fixture scale (a real system feeds
    ndcg_at_k its retrieval top-k directly)."""
    docs = _t(spark, sf_dir, "documents")
    w = F.row_number().over(
        Window.partitionBy("lang").orderBy(F.desc("n_chars"), "doc_id")
    )
    ranked = docs.select("lang", "doc_id", w.alias("rank")).where(
        F.col("rank") <= _NDCG_K
    )
    rels = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), F.col("label").alias("rel")
    )
    lang = docs.select("doc_id", "lang")
    return ranking.ndcg_at_k(
        ranked,
        rels.join(lang, "doc_id").select("lang", "doc_id", "rel"),
        k=_NDCG_K,
        group_col="lang",
    ).orderBy("lang")


def sql_ndcg_oracle(group_col: str, rank_expr: str, k: int = _NDCG_K) -> str:
    """The ONE NDCG@k oracle shape, parameterized by grouping column
    and ranking expression — the r12 lang gate and the staged r13
    source gate both generate from here, so a semantic fix (like r11's
    NULL-group ranked-CTE exclusion) lands in every NDCG twin at once
    instead of drifting across hand-edited copies. ``group_col`` /
    ``rank_expr`` are CODE-supplied SQL fragments (the trusted-builder
    contract of the other sql_* helpers in this package). Both engines
    evaluate the IDENTICAL ln-ratio discount (never DuckDB's native
    log2); <= k-term sums rounded at 6 — the accepted tiny-sum class."""
    return f"""
WITH ranked AS (
  -- NULL-group rows excluded on BOTH sides: ndcg_at_k drops NULL
  -- groups from the ranked input too (the rels CTE already filters)
  SELECT {group_col}, doc_id,
         ROW_NUMBER() OVER (PARTITION BY {group_col}
                            ORDER BY {rank_expr} DESC, doc_id) AS rk
  FROM documents WHERE {group_col} IS NOT NULL
),
topk AS (SELECT * FROM ranked WHERE rk <= {k}),
rels AS (
  SELECT d.{group_col}, e.vec_id AS doc_id, e.label AS rel
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
  WHERE e.label IS NOT NULL AND d.{group_col} IS NOT NULL
),
dcg AS (
  SELECT t.{group_col},
         CAST(COUNT(*) AS BIGINT) AS n_ranked,
         SUM((pow(2.0, COALESCE(r.rel, 0)) - 1) / (ln(t.rk + 1) / ln(2.0)))
           AS dcg_raw
  FROM topk t LEFT JOIN rels r
    ON r.{group_col} = t.{group_col} AND r.doc_id = t.doc_id
  GROUP BY t.{group_col}
),
ideal AS (
  SELECT {group_col},
         CAST(COUNT(*) AS BIGINT) AS n_judged,
         SUM((pow(2.0, rel) - 1) / (ln(irk + 1) / ln(2.0))) AS idcg_raw
  FROM (
    SELECT {group_col}, rel,
           ROW_NUMBER() OVER (PARTITION BY {group_col}
                              ORDER BY rel DESC, doc_id) AS irk
    FROM rels
  ) WHERE irk <= {k}
  GROUP BY {group_col}
)
SELECT COALESCE(d.{group_col}, i.{group_col}) AS {group_col},
       COALESCE(d.n_ranked, 0) AS n_ranked,
       COALESCE(i.n_judged, 0) AS n_judged,
       round(COALESCE(d.dcg_raw, 0), 6) AS dcg,
       round(COALESCE(i.idcg_raw, 0), 6) AS idcg,
       CASE WHEN i.idcg_raw > 0 THEN
         round(COALESCE(d.dcg_raw, 0) / i.idcg_raw, 6) END AS ndcg
FROM dcg d FULL OUTER JOIN ideal i ON d.{group_col} = i.{group_col}
ORDER BY 1
"""


SQL_NDCG_QUALITY = sql_ndcg_oracle("lang", "n_chars")


# ------------------------------------------------ per-source calibration

_CAL_SRC_BINS = 4


def q_calibration_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibration_curve gate's fairness twin: one independent
    reliability curve PER SOURCE of the hashed quality classifier
    against the embedding label (operators/ranking.py::
    calibration_curve(group_col=...) — the same tie-classes-whole
    integer binning, percentiles computed within each source via the
    keyed prefix core). 4 bins x 20 sources keeps every bin populated
    at sf0.001."""
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    scored = clf_truth_frame(spark, sf_dir).join(src, "doc_id").select(
        "source",
        (F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))).alias("score"),
        F.col("y").alias("truth"),
    )
    return ranking.calibration_curve(
        scored, label_col="truth", n_bins=_CAL_SRC_BINS, group_col="source"
    ).orderBy("source", "bin")


SQL_CALIBRATION_BY_SOURCE = f"""
WITH clf AS MATERIALIZED (
  SELECT doc_id, n_feats, logit_milli
  FROM ({SQL_QUALITY_CLASSIFIER}) q WHERE n_feats > 0
),
sc AS (
  SELECT d.source, c.logit_milli / (1000.0 * c.n_feats) AS s,
         CASE WHEN e.label >= 5 THEN 1 ELSE 0 END AS y
  FROM clf c
  JOIN embeddings e ON e.vec_id = c.doc_id
  JOIN documents d ON d.doc_id = c.doc_id
  WHERE e.label IS NOT NULL AND d.source IS NOT NULL
),
per AS (
  SELECT source, s, COUNT(*) AS cnt, SUM(y) AS pos FROM sc GROUP BY source, s
),
wb AS (
  SELECT source, s, cnt, pos,
         COALESCE(SUM(cnt) OVER (PARTITION BY source ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
         SUM(cnt) OVER (PARTITION BY source) AS n
  FROM per
)
SELECT source,
       CAST((below * {_CAL_SRC_BINS}) // n AS BIGINT) AS bin,
       CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       -- exact integer half-up (r16 rounding-class sweep; see
       -- ranking.exact_ratio_round)
       CAST((2000000 * SUM(pos) + SUM(cnt)) // (2 * SUM(cnt)) AS DOUBLE)
         / 1000000.0 AS pos_rate,
       round(MIN(s), 6) AS lo_score,
       round(MAX(s), 6) AS hi_score
FROM wb GROUP BY source, bin ORDER BY source, bin
"""


# ------------------------------------------------- source governance report

_GOV_CUT = 0.40
_GOV_BUDGET = 1_000_000
_DSIR_B = 1024


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
         {_hv_sql("term || ':' || 'dsir'")} % {_DSIR_B} AS b
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


QUERIES = {
    "auc_by_group": q_auc_by_group,
    "calibration_curve": q_calibration_curve,
    "calibration_by_source": q_calibration_by_source,
    "kendall_tau_banded": q_kendall_tau_banded,
    "ndcg_quality": q_ndcg_quality,
    "quantiles_by_group": q_quantiles_by_group,
    "source_governance": q_source_governance,
}

ORACLES = {
    "auc_by_group": SQL_AUC_BY_GROUP,
    "calibration_curve": SQL_CALIBRATION_CURVE,
    "calibration_by_source": SQL_CALIBRATION_BY_SOURCE,
    "kendall_tau_banded": SQL_KENDALL_TAU_BANDED,
    "ndcg_quality": SQL_NDCG_QUALITY,
    "quantiles_by_group": SQL_QUANTILES_BY_GROUP,
    "source_governance": SQL_SOURCE_GOVERNANCE,
}
