"""Classifier-evaluation, rank / order-statistic and expectation gates.

AUC, calibration, PR and lift curves, Brier and ECE, KS, MCC, kappa
and agreement statistics, chi-squared, NDCG / MAP / MRR and rank
fusion; exact quantiles, medians, MAD, trimmed and winsorized means
and rank correlations on the fixed-rank selection core
(``operators/ranking.py``); and the data-quality expectations
(``operators/expectations.py``): column profiles, referential
integrity and key uniqueness.

Selections are exact (type-1 lower quantiles over integer domains),
and every ratio is one exact integer division rounded by
``ranking.exact_ratio_round``, so both engines agree bit for bit. Same
conventions as ``workloads.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators import (
    expectations,
    ranking,
    similarity,
    text,
)
from database_collector_spark.operators.ranking import rank_select_by_group
from database_collector_spark.workloads import SQL_QUALITY_CLASSIFIER, _t


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics — the pre-flight check before any
    big keyed join/agg (the salting decision in SCALE.md needs exactly
    these numbers). Per event_type, profile the user_id key
    distribution: key count, row count, the heaviest key's share
    numerator (max_n), the top-10-keys mass (top10_n), and the Gini
    coefficient of key counts. Every statistic is derived from exact
    integer counts; Gini's closed form over ascending-sorted counts
    G = (2·Σ rank·c − (n+1)·Σc) / (n·Σc) has an exact BIGINT numerator
    and denominator, so the rounded double agrees across engines.
    Plan (r13 rewrite): one (type,user) count aggregate — the only
    corpus-sized shuffle — then everything rides COMPRESSED tables. The
    old form ranked every per-key count row in per-type windows: with a
    handful of event types that is a |keys|-row single-task sort per
    type, the exact funnel this gate exists to warn about. Now the
    ascending rank mass comes from count-value compression + the
    two-level ``prefix_count_below`` pass — keys sharing count c occupy
    the contiguous rank run [below+1, below+m], so
    Σ rank·c = c·(m·below + m(m+1)/2) per distinct count — and the
    top-10 branch keeps Spark's rank-limit pushdown (row_number +
    filter ≤ 10 → WindowGroupLimit: each task keeps 10 rows before the
    per-type sort). Values identical to the windowed form. NULL
    event_type rows are ACTIVELY EXCLUDED on BOTH sides (third-pass
    review: the prefix pass drops NULL keys, so the old form's NULL-type
    output row would vanish from the Spark side only; NULL user_id
    stays — it is a legitimate key VALUE in both engines' grouping)."""
    from database_collector_spark.operators import ranking as _ranking

    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    counts = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("c"))
    # lazy localCheckpoint: counts feeds BOTH the compressed rank-mass
    # path and the top-10 branch; cc feeds the prefix branches
    counts = counts.localCheckpoint(eager=False)
    cc = counts.groupBy("event_type", "c").agg(
        F.count("*").cast("long").alias("m")
    ).localCheckpoint(eager=False)
    below = _ranking.prefix_count_below(
        cc, ["event_type"], "c", "m", out_col="below"
    )
    run_mass = F.col("c") * (
        F.col("m") * F.col("below") + F.expr("m * (m + 1) div 2")
    )
    agg_main = below.groupBy("event_type").agg(
        F.sum("m").cast("long").alias("n_keys"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("n_rows"),
        F.max("c").alias("max_n"),
        F.sum(run_mass).cast("long").alias("rank_mass"),
    )
    w_desc = Window.partitionBy("event_type").orderBy(
        F.desc("c"), F.asc("user_id")
    )
    top10 = (
        counts.withColumn("rk_desc", F.row_number().over(w_desc))
        .where(F.col("rk_desc") <= 10)
        .groupBy("event_type")
        .agg(F.sum("c").cast("long").alias("top10_n"))
    )
    agg = agg_main.join(F.broadcast(top10), "event_type")
    gini = (
        (2 * F.col("rank_mass") - (F.col("n_keys") + 1) * F.col("n_rows"))
        .cast("double")
        / (F.col("n_keys") * F.col("n_rows")).cast("double")
    )
    return agg.select(
        "event_type",
        "n_keys",
        "n_rows",
        "max_n",
        "top10_n",
        F.round(gini, 6).alias("gini"),
    )


SQL_KEY_SKEW_PROFILE = """
WITH counts AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  -- NULL-type exclusion mirrors the Spark side's active filter
  WHERE event_type IS NOT NULL
  GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, c,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c ASC, user_id ASC) AS rk_asc,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c DESC, user_id ASC) AS rk_desc
  FROM counts
),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(MAX(c) AS BIGINT) AS max_n,
         CAST(SUM(CASE WHEN rk_desc <= 10 THEN c ELSE 0 END) AS BIGINT) AS top10_n,
         CAST(SUM(rk_asc * c) AS BIGINT) AS rank_mass
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_keys, n_rows, max_n, top10_n,
       round(CAST(2*rank_mass - (n_keys + 1)*n_rows AS DOUBLE)
             / CAST(n_keys * n_rows AS DOUBLE), 6) AS gini
FROM agg
"""


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a feature column — the standard ML
    preprocessing step mapping each value to its within-group quantile
    rank: pr = (rank − 1) / (n − 1), RANK() semantics so ties share a
    rank. Exact rational from integer rank/count → one identical double
    division per row on both engines.

    Scale shape (r13 rewrite): the old form ranked EVERY event row in a
    per-event_type window — a handful of types means whole-corpus
    fractions sorted in single tasks. RANK() over (type, v) is exactly
    ``1 + (rows with strictly smaller v)``, so the rank table now comes
    from value-domain compression + ``prefix_count_below``'s two-level
    pass, and the per-row output is a (type, v)-keyed equi-join back to
    the rows — high-cardinality join keys supply the parallelism, no
    per-type corpus sort anywhere. Values identical (rank() = below+1,
    same n). NULL type/value rows are ACTIVELY EXCLUDED on BOTH sides
    (third-pass review: the prefix pass drops NULL keys/values and a
    NULL join key never matches, so without the explicit shared filter
    a NULL row would vanish from the Spark side only the first time
    real data carried one — the theil_sen contract stance)."""
    from database_collector_spark.operators import ranking

    ev = _t(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("v"))
    # lazy localCheckpoint (the auc/_ks pattern): the prefix branches +
    # totals + the join back each reference the compressed table
    comp = base.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("cnt")
    ).localCheckpoint(eager=False)
    below = ranking.prefix_count_below(
        comp, ["event_type"], "v", "cnt", out_col="below"
    )
    totals = comp.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    ranks = below.join(F.broadcast(totals), "event_type").select(
        "event_type", "v", F.col("below").alias("rk0"), "n"
    )
    return base.join(ranks, ["event_type", "v"]).select(
        "event_id",
        "event_type",
        F.round(
            F.col("rk0").cast("double") / (F.col("n") - 1).cast("double"), 6
        ).alias("pr"),
    )


SQL_QUANTILE_NORM = """
WITH base AS (
  SELECT event_id, event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
  -- NULL exclusion mirrors the Spark side's active filter (contract)
  WHERE event_type IS NOT NULL AND value IS NOT NULL
)
SELECT event_id, event_type,
       round(CAST(RANK() OVER (PARTITION BY event_type ORDER BY v ASC) - 1 AS DOUBLE)
             / CAST(COUNT(*) OVER (PARTITION BY event_type) - 1 AS DOUBLE), 6) AS pr
FROM base
"""


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


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch surface (GK/percentile_approx) with a bounded-
    RANK-error verdict, the approx_distinct pattern: sketch medians are
    engine-specific, but "the approx q50 lies within the exact
    [q45, q55] value bracket" is deterministic (the sketch guarantees
    rank error <= 1/accuracy = 0.01% here, far inside the 5% bracket) —
    so the gate hashes the exact median plus that boolean, and any
    sketch regression flips the row.

    The exact side rides ``ranking.rank_select_by_group`` (r14 VERDICT
    advisory closed r15): for a FIXED set of target ranks the two-scan
    cell-refinement design selects the exact values with NO corpus
    shuffle and state bounded by one log-cell's value population —
    Spark's exact ``percentile`` aggregate buffers per-distinct-value
    counts per group (a value-domain-sized map per agg buffer), and
    even the ``quantiles_by_group`` prefix pass shuffles the whole
    compressed value domain, which for ~all-distinct cents IS the
    corpus. The median is the standard (n−1)·q interpolation — ranks
    lo = (n+1) div 2, hi = (n+2) div 2, value (v_lo + v_hi)/2 — exact
    in doubles for integer cents (both operands < 2^52), bit-equal to
    DuckDB's quantile_cont and to the F.percentile call it replaces.
    The [q45, q55] bracket uses type-1 ranks ceil(0.45·n)/ceil(0.55·n):
    exact input values, and the sketch's <= 0.01% rank error keeps the
    verdict TRUE with ~5%-of-n rank margin on both sides. The sketch
    itself still runs as a plain map-side-partial aggregate over the
    corpus (it is the operator under test); the per-group 3-row frames
    broadcast-join.
    """
    from database_collector_spark.operators.ranking import rank_select_by_group

    # NULL-group stance made explicit on BOTH sides (review):
    # rank_select_by_group excludes NULL groups by contract, so the
    # sketch aggregate and the oracle filter them too — on TPC-H
    # l_returnflag is non-null and nothing changes, but a nullable
    # group column must not silently drop a row only on the Spark side
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isNotNull()
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    exact = rank_select_by_group(
        li.select(F.col("l_returnflag"), cents.alias("cents")),
        "l_returnflag",
        "cents",
        {
            "v_lo": "(n + 1) div 2",
            "v_hi": "(n + 2) div 2",
            "q45": "(45 * n + 99) div 100",
            "q55": "(55 * n + 99) div 100",
        },
    )
    sk = li.groupBy("l_returnflag").agg(
        F.percentile_approx(cents, F.lit(0.5), F.lit(10000))
        .cast("double")
        .alias("approx")
    )
    # sketch side is the LEFT of the join: a group whose cents are all
    # NULL is absent from the rank_select frame (NULL values excluded)
    # but present in the sketch groupBy and in the oracle's GROUP BY —
    # an inner join would drop the row only on the Spark side (review).
    # For such a group every operand is NULL, so within_rank_tol
    # coalesces to the oracle's literal TRUE and exact_q50 stays NULL
    # on both engines.
    return (
        sk.join(F.broadcast(exact), "l_returnflag", "left")
        .select(
            "l_returnflag",
            (
                (F.col("v_lo") + F.col("v_hi")).cast("double") / F.lit(2.0)
            ).alias("exact_q50"),
            F.coalesce(
                (F.col("approx") >= F.col("q45").cast("double"))
                & (F.col("approx") <= F.col("q55").cast("double")),
                F.lit(True),
            ).alias("within_rank_tol"),
        )
    )


SQL_APPROX_QUANTILES = """
SELECT l_returnflag,
       quantile_cont(CAST(ROUND(l_extendedprice*100) AS BIGINT), 0.5) AS exact_q50,
       TRUE AS within_rank_tol
FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
"""


_TS_BAND = 12  # banded Theil-Sen: pair each sample with its next 12


def user_value_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-integer per-user event series (user_id, s = unix
    seconds, event_id, v = value cents) shared by the banded-pair gates
    (theil_sen_slope and kendall_tau_banded)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )


def q_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil-Sen robust slope per user series: the median of
    pairwise slopes, with pairs limited to each sample and its next
    {band} successors — the standard scale-honest variant (full
    Theil-Sen is O(n²) per series; the band keeps it O(n·band) while
    retaining the median's outlier robustness). Expressed as {band}
    lead() columns sharing ONE per-user sort, then a second window on
    the same key for exact lower-median selection (rank (n+1)//2 with
    a (slope, rn, k) total order — no averaging, no float ambiguity:
    slopes are identical doubles in any engine since cents/seconds
    inputs are integers and division is correctly rounded)."""
    from database_collector_spark.operators.ranking import banded_pair_deltas

    base = user_value_series(spark, sf_dir)
    # the banded (rn, k)-identified pair deltas ride the SHARED core
    # under banded_kendall_tau (one per-user sort, in-row expansion).
    # try_divide: pairs with equal timestamps (dx = 0) have no defined
    # slope — classic Theil-Sen skips them (the null is filtered). A
    # plain `/` would THROW under ANSI the moment two samples share a
    # second, which the denser sf0.1 fixture does hit.
    slopes = (
        banded_pair_deltas(
            base, "user_id", x_col="s", y_col="v", id_col="event_id",
            band=_TS_BAND,
        )
        .select(
            F.col("g").alias("user_id"),
            F.try_divide(F.col("dy"), F.col("dx")).alias("slope"),
            "rn",
            "k",
        )
        .where(F.col("slope").isNotNull())
    )
    wm = Window.partitionBy("user_id").orderBy("slope", "rn", "k")
    wc = Window.partitionBy("user_id")
    return (
        slopes.select(
            "user_id",
            "slope",
            F.row_number().over(wm).alias("r"),
            F.count("*").over(wc).alias("n_slopes"),
        )
        .where(F.col("r") == F.floor((F.col("n_slopes") + 1) / 2))
        .select(
            "user_id",
            "n_slopes",
            F.round(F.col("slope") * 3600, 6).alias("median_slope_per_hour"),
        )
    )


def _sql_theil_sen(band: int = _TS_BAND) -> str:
    leads = ",\n         ".join(
        f"LEAD(s, {k}) OVER w AS s{k}, LEAD(v, {k}) OVER w AS v{k}"
        for k in range(1, band + 1)
    )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT user_id, (v{k} - v) / CAST(s{k} - s AS DOUBLE) AS slope,"
        f" rn, {k} AS k FROM led WHERE s{k} IS NOT NULL AND s{k} <> s"
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
led AS (
  SELECT user_id, ROW_NUMBER() OVER w AS rn, s, v,
         {leads}
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
),
slopes AS (
  {unions}
),
ranked AS (
  SELECT user_id, slope,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope, rn, k) AS r,
         COUNT(*) OVER (PARTITION BY user_id) AS n_slopes
  FROM slopes
)
SELECT user_id, CAST(n_slopes AS BIGINT) AS n_slopes,
       round(slope * 3600, 6) AS median_slope_per_hour
FROM ranked WHERE r = (n_slopes + 1) // 2
"""


SQL_THEIL_SEN_SLOPE = _sql_theil_sen()


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


# ------------------------------------------ tie-corrected Spearman rank corr


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation per return flag between
    quantity and price — `ranking.spearman_by_group`, the two-level
    distributed prefix-sum rank (no per-group single-partition corpus
    window; l_returnflag has only 3 values, exactly the few-groups
    shape where a naive Window.partitionBy(group) rank funnels a third
    of the corpus through one task). l_quantity has ~50 distinct values
    over ~200k rows per flag at sf0.1, so ties are the norm and the
    naive tie-free 6*sum(d^2) formula would be wrong; average ranks
    (Pearson-on-ranks) handle them exactly. See the operator docstring
    for the centered integer-moment exactness argument."""
    from database_collector_spark.operators.ranking import spearman_by_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = spearman_by_group(li, "l_returnflag", "l_quantity", "l_extendedprice")
    return out.select(
        "l_returnflag", "n", F.col("spearman").alias("spearman_qp")
    ).orderBy("l_returnflag")


# Oracle: same doubled average ranks (rank_asc - rank_desc + n + 1 =
# 2*avgrank, an integer for every tie pattern), CENTERED by their exact
# per-group mean n+1 so the moment sums match the operator's centered
# sums term-for-term (both engines then run the IDENTICAL double
# expression num/(sqrt*sqrt) over identical exact integers — the
# uncentered n*sxx - sx*sx form would scale num/den by n and round
# differently at the last ulp). The products are cast to HUGEINT
# BEFORE multiplying: a bare BIGINT dx*dy overflows (and DuckDB raises)
# past ~3e9 rows per group, well inside the operator's DECIMAL(38,0)
# envelope — the HUGEINT stays internal; final columns are
# BIGINT/DOUBLE per the portability contract.
SQL_SPEARMAN_CORR = """
WITH r AS (
  SELECT l_returnflag AS g,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity ASC)
           - RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
           + COUNT(*) OVER (PARTITION BY l_returnflag) + 1 AS rx,
         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC)
           - RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC)
           + COUNT(*) OVER (PARTITION BY l_returnflag) + 1 AS ry
  FROM lineitem
),
d AS (SELECT g, CAST(rx - n - 1 AS HUGEINT) AS dx,
             CAST(ry - n - 1 AS HUGEINT) AS dy FROM r),
s AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM d GROUP BY g
)
SELECT g AS l_returnflag, n,
       CASE WHEN CAST(sxx AS DOUBLE) > 0 AND CAST(syy AS DOUBLE) > 0
            THEN round(CAST(sxy AS DOUBLE)
                       / (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6)
       END AS spearman_qp
FROM s ORDER BY l_returnflag
"""


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


def clf_truth_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
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

    Each call builds a fresh lazy localCheckpoint whose executor blocks
    are freed when the returned DataFrame is garbage-collected; a
    long-lived service reading one fold many times persists the frame
    itself (``examples/classifier_eval.py``)."""
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


def _clf_lang_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_feats, logit_milli, y) — clf_truth_frame joined
    with the document language, the shared input of the per-lang eval
    gates below (NULL langs excluded, the grouped-operator contract)."""
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        clf_truth_frame(spark, sf_dir)
        .join(lang, "doc_id")
        .where(F.col("lang").isNotNull())
    )


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


# --------------------------------------------------------- table_profile

_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of orders (expectations.column_profile): one
    aggregate pass computing every column's row/null/exact-distinct
    counts together (multi-distinct via Spark's Expand — one shuffle),
    unpivoted in-row; null_frac is one division over exact integers."""
    return expectations.column_profile(
        _t(spark, sf_dir, "orders"), _PROFILE_COLS
    ).orderBy("col_name")


def _profile_oracle() -> str:
    nn = ",\n         ".join(
        f"COUNT({c})::BIGINT AS nn_{i}, COUNT(DISTINCT {c})::BIGINT AS nd_{i}"
        for i, c in enumerate(_PROFILE_COLS)
    )
    arms = "\n  UNION ALL\n".join(
        f"  SELECT '{c}' AS col_name, n_rows, n_rows - nn_{i} AS n_nulls, "
        f"nd_{i} AS n_distinct FROM s"
        for i, c in enumerate(_PROFILE_COLS)
    )
    return f"""
WITH s AS (
  SELECT COUNT(*)::BIGINT AS n_rows,
         {nn}
  FROM orders
)
SELECT col_name, n_rows, CAST(n_nulls AS BIGINT) AS n_nulls,
       CASE WHEN n_rows > 0
            THEN round(CAST(n_nulls AS DOUBLE) / n_rows, 6) END AS null_frac,
       n_distinct
FROM (
{arms}
)
ORDER BY col_name
"""


SQL_TABLE_PROFILE = _profile_oracle()


# ------------------------------------------------------ fk_orphan_report


def q_fk_orphan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich referential-integrity report for the two core fact→dim
    edges (expectations.referential_integrity): lineitem.l_orderkey →
    orders.o_orderkey and orders.o_custkey → customer.c_custkey. Each
    relationship's orphan counts come from an anti join of DISTINCT-key
    compressions — the fact table itself is scanned once and never
    joined. Clean fixture data has zero orphans (trivially hashable),
    so the parent sides deterministically DROP every 13th key first —
    the registered fk_integrity gate's damage recipe — making every
    report column nonzero and exactly computable."""
    orders = _t(spark, sf_dir, "orders")
    li = expectations.referential_integrity(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        orders.filter(F.col("o_orderkey") % 13 != 0),
        "o_orderkey",
        relationship="lineitem.l_orderkey->orders.o_orderkey",
    )
    oc = expectations.referential_integrity(
        orders,
        "o_custkey",
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 13 != 0),
        "c_custkey",
        relationship="orders.o_custkey->customer.c_custkey",
    )
    return li.unionByName(oc).orderBy("relationship")


def _fk_arm(rel: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
  SELECT '{rel}' AS relationship,
         t.n_child_rows, t.n_child_keyed,
         o.n_orphan_rows, o.n_orphan_keys,
         CASE WHEN t.n_child_keyed > 0
              THEN round(CAST(o.n_orphan_rows AS DOUBLE) / t.n_child_keyed, 6)
         END AS orphan_frac
  FROM (
    SELECT COUNT(*)::BIGINT AS n_child_rows,
           COUNT({ckey})::BIGINT AS n_child_keyed
    FROM {child}
  ) t CROSS JOIN (
    SELECT COALESCE(SUM(n), 0)::BIGINT AS n_orphan_rows,
           COUNT(*)::BIGINT AS n_orphan_keys
    FROM (
      SELECT ck.k, ck.n
      FROM (SELECT {ckey} AS k, COUNT(*)::BIGINT AS n FROM {child}
            WHERE {ckey} IS NOT NULL GROUP BY 1) ck
      ANTI JOIN (SELECT DISTINCT {pkey} AS k FROM {parent}
                 WHERE {pkey} IS NOT NULL AND {pkey} % 13 <> 0) pk USING (k)
    )
  ) o
"""


SQL_FK_ORPHAN_REPORT = (
    "SELECT * FROM (\n"
    + _fk_arm(
        "lineitem.l_orderkey->orders.o_orderkey",
        "lineitem",
        "l_orderkey",
        "orders",
        "o_orderkey",
    )
    + "  UNION ALL\n"
    + _fk_arm(
        "orders.o_custkey->customer.c_custkey",
        "orders",
        "o_custkey",
        "customer",
        "c_custkey",
    )
    + ") ORDER BY relationship"
)


# -------------------------------------------------------- key_uniqueness


def q_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key audit over documents (expectations.key_uniqueness):
    doc_id (the id contract), md5(text) (content identity — the
    exact-dedup group key, non-unique wherever the corpus has exact
    duplicates), and (lang, source) as the deliberate non-key negative
    control. One count-per-key pass per key set."""
    return expectations.key_uniqueness(
        _t(spark, sf_dir, "documents"),
        {
            "doc_id": ["doc_id"],
            "content_md5": [F.md5(F.col("text"))],
            "lang_source": ["lang", "source"],
        },
    ).orderBy("key_name")


def _uniq_arm(name: str, keys: str) -> str:
    return f"""
  SELECT '{name}' AS key_name,
         COALESCE(SUM(n), 0)::BIGINT AS n_rows,
         COUNT(*)::BIGINT AS n_keys,
         COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0)::BIGINT AS n_dup_keys,
         COALESCE(SUM(CASE WHEN n > 1 THEN n ELSE 0 END), 0)::BIGINT AS n_dup_rows,
         COALESCE(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END), 0) = 0 AS is_unique
  FROM (SELECT COUNT(*)::BIGINT AS n FROM documents GROUP BY {keys})
"""


SQL_KEY_UNIQUENESS = (
    "SELECT * FROM (\n"
    + _uniq_arm("doc_id", "doc_id")
    + "  UNION ALL\n"
    + _uniq_arm("content_md5", "md5(text)")
    + "  UNION ALL\n"
    + _uniq_arm("lang_source", "lang, source")
    + ") ORDER BY key_name"
)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tok) over text-bearing docs — the shared projection
    (whitespace token count, the repo-wide nonempty-token definition)."""
    return (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select(
            "source",
            F.size(text.nonempty_tokens_col("text")).cast("long").alias("n_tok"),
        )
    )


# ---------------------------------------------------------- rank_quartiles


def q_rank_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quartiles of per-document token counts per source
    via the two-scan cell refinement (rank_select_by_group): ranks
    k_m = ceil(m·n/4) = (m·n + 3) div 4 — the quantiles_by_group
    semantics without its compressed-domain corpus shuffle. All-integer
    values, so the hash pins the selection itself."""
    return rank_select_by_group(
        _doc_tokens(spark, sf_dir),
        "source",
        "n_tok",
        {
            "p25": "(n + 3) div 4",
            "p50": "(2 * n + 3) div 4",
            "p75": "(3 * n + 3) div 4",
        },
    ).orderBy("source")


SQL_RANK_QUARTILES = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM counted
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n,
       MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS p25,
       MAX(CASE WHEN rn = (2 * n + 3) // 4 THEN v END) AS p50,
       MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS p75
FROM ranked GROUP BY source ORDER BY source
"""


# --------------------------------------------------------- range_splitters

_N_RANGES = 8


def q_range_splitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth range-partition split points: the 7 exact boundary
    values cutting each return flag's price-cents distribution into 8
    equal-count ranges (k_i = ceil(i·n/8)) — what a distributed sort /
    range-bucketed layout job plans its partitioner from. Computed with
    the two-scan cell refinement: the corpus is never shuffled, so the
    PLANNING step costs two scans even when the table is the 100 TB
    fact itself."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag").isNotNull())
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return rank_select_by_group(
        li.select("l_returnflag", cents.alias("cents")),
        "l_returnflag",
        "cents",
        {
            f"s{i}": f"({i} * n + {_N_RANGES - 1}) div {_N_RANGES}"
            for i in range(1, _N_RANGES)
        },
    ).orderBy("l_returnflag")


SQL_RANGE_SPLITTERS = f"""
WITH counted AS (
  -- the price filter mirrors the operator's NULL-value exclusion: a
  -- NULL price would count into n (NULLS LAST under row_number) and
  -- shift every splitter rank only on the oracle side (review)
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM counted
)
SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
       {", ".join(
           f"MAX(CASE WHEN rn = ({i} * n + {_N_RANGES - 1}) // {_N_RANGES} "
           f"THEN v END) AS s{i}"
           for i in range(1, _N_RANGES)
       )}
FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ------------------------------------------------------- token_mass_median


def q_token_mass_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-MASS median document length per source: the n_tok value v*
    such that half the source's TOKENS live in documents of <= v*
    tokens (value = n_tok, weight = n_tok, k = (W + 1) div 2 over total
    token mass W) — the number a packing/curriculum plan reads next to
    the row median, which a few long documents cannot dominate the same
    way. Weighted mode of rank_select_by_group: weight sums replace
    counts in both scans, weights in-plan-guarded non-negative
    integers. Zero-token docs carry zero mass and can never be
    selected (and the row median of such a corpus would happily be 0)."""
    return rank_select_by_group(
        _doc_tokens(spark, sf_dir),
        "source",
        "n_tok",
        {"wmed_tokens": "(n + 1) div 2"},
        weight_col="n_tok",
    ).select(
        "source", F.col("n").alias("total_tokens"), "wmed_tokens"
    ).orderBy("source")


SQL_TOKEN_MASS_MEDIAN = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
perv AS (
  -- weight sum per distinct value: w = v * count(v); SUM promotes to
  -- HUGEINT in DuckDB -> pin BIGINT (Arrow-portability class)
  SELECT source, v, CAST(SUM(v) AS BIGINT) AS w
  FROM counted GROUP BY source, v
),
ranked AS (
  SELECT source, v, w,
         CAST(SUM(w) OVER (PARTITION BY source ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw,
         CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS tw
  FROM perv
)
SELECT source, CAST(MAX(tw) AS BIGINT) AS total_tokens,
       -- tw > 0 mirrors the operator's rank domain [1, n]: a source of
       -- only zero-token docs has k = 0, out of range, NULL on BOTH
       -- engines (review: the bare cw >= 0 form picked the zero-weight
       -- v = 0 row and diverged from Spark's NULL)
       MIN(CASE WHEN tw > 0 AND cw >= (tw + 1) // 2 THEN v END)
         AS wmed_tokens
FROM ranked GROUP BY source ORDER BY source
"""


# -------------------------------------------------------------- group_mad


def q_group_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MAD of per-document token counts per source: phase 1
    selects each source's lower median; phase 2 broadcast-joins the
    <= |sources|-row median table back and selects the lower median of
    |v − med|. Both phases are the two-scan cell refinement — four
    scans total, zero corpus shuffles, all-integer."""
    toks = _doc_tokens(spark, sf_dir)
    med = rank_select_by_group(
        toks, "source", "n_tok", {"med_tokens": "(n + 1) div 2"}
    ).select("source", "med_tokens")
    dev = toks.join(F.broadcast(med), "source").select(
        "source",
        "med_tokens",
        F.abs(F.col("n_tok") - F.col("med_tokens")).alias("dev"),
    )
    mad = rank_select_by_group(
        dev, "source", "dev", {"mad_tokens": "(n + 1) div 2"}
    )
    return (
        mad.join(F.broadcast(med), "source")
        .select("source", "n", "med_tokens", "mad_tokens")
        .orderBy("source")
    )


SQL_GROUP_MAD = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM counted
),
med AS (
  SELECT source, CAST(MAX(n) AS BIGINT) AS n,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med_tokens
  FROM ranked GROUP BY source
),
dev AS (
  SELECT c.source, abs(c.v - m.med_tokens) AS d
  FROM counted c JOIN med m USING (source)
),
ranked2 AS (
  SELECT source, d,
         row_number() OVER (PARTITION BY source ORDER BY d) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev
)
SELECT m.source, m.n, m.med_tokens,
       MAX(CASE WHEN r.rn = (r.n + 1) // 2 THEN r.d END) AS mad_tokens
FROM ranked2 r JOIN med m USING (source)
GROUP BY m.source, m.n, m.med_tokens ORDER BY m.source
"""


# -------------------------------------------------------- winsorized_mean


def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of price cents per return flag: exact type-1
    q05/q95 by rank selection (ranks ceil(0.05·n)/ceil(0.95·n)), then
    one conditional aggregate clamping into [q05, q95]. The clamped
    sum is an exact integer (n bounded, cents bounded), so the single
    final division is engine-identical; n stays the full group count —
    the winsorizing-vs-trimming distinction."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    vals = li.select("l_returnflag", cents.alias("cents"))
    br = rank_select_by_group(
        vals,
        "l_returnflag",
        "cents",
        {"q05": "(5 * n + 99) div 100", "q95": "(95 * n + 99) div 100"},
    ).select("l_returnflag", "q05", "q95")
    clamped = vals.join(F.broadcast(br), "l_returnflag").select(
        "l_returnflag",
        "q05",
        "q95",
        F.greatest(F.col("q05"), F.least(F.col("q95"), F.col("cents"))).alias(
            "w"
        ),
    )
    return (
        clamped.groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("q05").alias("q05_cents"),
            F.max("q95").alias("q95_cents"),
            # cast the ADDENDS, not the result: a long-typed sum could
            # wrap silently past 2^63 while DuckDB's HUGEINT stays
            # exact (the q_trimmed_mean precedent; review)
            F.sum(F.col("w").cast("decimal(38,0)")).alias("wsum"),
        )
        .select(
            "l_returnflag",
            "n",
            "q05_cents",
            "q95_cents",
            F.round(
                F.col("wsum").cast("double") / F.col("n").cast("double"), 6
            ).alias("winsorized_mean_cents"),
        )
        .orderBy("l_returnflag")
    )


SQL_WINSORIZED_MEAN = """
WITH counted AS (
  SELECT l_returnflag, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM counted
),
br AS (
  SELECT l_returnflag,
         MAX(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS q05,
         MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS q95
  FROM ranked GROUP BY l_returnflag
)
SELECT c.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(b.q05) AS q05_cents, MAX(b.q95) AS q95_cents,
       round(CAST(SUM(GREATEST(b.q05, LEAST(b.q95, c.v)))
                  AS DOUBLE) / COUNT(*), 6) AS winsorized_mean_cents
FROM counted c JOIN br b USING (l_returnflag)
GROUP BY c.l_returnflag ORDER BY c.l_returnflag
"""


# ----------------------------------------------------- iqr_outlier_report


def q_iqr_outlier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of token counts per source: exact
    p25/p75 by rank selection, fences at 1.5·IQR kept ENTIRELY in
    integers — a row is a low outlier iff 2·v < 2·p25 − 3·IQR and a
    high outlier iff 2·v > 2·p75 + 3·IQR (doubling clears the .5
    without floats, so both engines compare identical integers) — then
    one conditional count pass over the broadcast-joined corpus."""
    toks = _doc_tokens(spark, sf_dir)
    q = rank_select_by_group(
        toks,
        "source",
        "n_tok",
        {"p25": "(n + 3) div 4", "p75": "(3 * n + 3) div 4"},
    ).select("source", "p25", "p75")
    j = toks.join(F.broadcast(q), "source")
    iqr = F.col("p75") - F.col("p25")
    low = 2 * F.col("n_tok") < 2 * F.col("p25") - 3 * iqr
    high = 2 * F.col("n_tok") > 2 * F.col("p75") + 3 * iqr
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("p25").alias("p25"),
            F.max("p75").alias("p75"),
            F.sum(low.cast("long")).cast("long").alias("n_low_outliers"),
            F.sum(high.cast("long")).cast("long").alias("n_high_outliers"),
        )
        .orderBy("source")
    )


SQL_IQR_OUTLIER_REPORT = """
WITH counted AS (
  SELECT source,
         len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT AS v
  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
),
ranked AS (
  SELECT source, v,
         row_number() OVER (PARTITION BY source ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM counted
),
q AS (
  SELECT source,
         MAX(CASE WHEN rn = (n + 3) // 4 THEN v END) AS p25,
         MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS p75
  FROM ranked GROUP BY source
)
SELECT c.source, CAST(COUNT(*) AS BIGINT) AS n,
       MAX(q.p25) AS p25, MAX(q.p75) AS p75,
       CAST(SUM(CASE WHEN 2 * c.v < 2 * q.p25 - 3 * (q.p75 - q.p25)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       CAST(SUM(CASE WHEN 2 * c.v > 2 * q.p75 + 3 * (q.p75 - q.p25)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers
FROM counted c JOIN q USING (source)
GROUP BY c.source ORDER BY c.source
"""


QUERIES = {
    "key_skew_profile": q_key_skew_profile,
    "quantile_norm": q_quantile_norm,
    "bm25_scores": q_bm25_scores,
    "rrf_fusion": q_rrf_fusion,
    "trimmed_mean": q_trimmed_mean,
    "auc_scores": q_auc_scores,
    "spearman_corr": q_spearman_corr,
    "auc_by_group": q_auc_by_group,
    "calibration_curve": q_calibration_curve,
    "calibration_by_source": q_calibration_by_source,
    "kendall_tau_banded": q_kendall_tau_banded,
    "ndcg_quality": q_ndcg_quality,
    "quantiles_by_group": q_quantiles_by_group,
    "ndcg_by_source": q_ndcg_by_source,
    "quantiles_refined": q_quantiles_refined,
    "calibration_fixed_bins": q_calibration_fixed_bins,
    "map_quality": q_map_quality,
    "cohen_kappa": q_cohen_kappa,
    "pr_curve_sweep": q_pr_curve_sweep,
    "lift_deciles": q_lift_deciles,
    "mcc_by_lang": q_mcc_by_lang,
    "brier_quality": q_brier_quality,
    "ece_quality": q_ece_quality,
    "ks_separation": q_ks_separation,
    "mrr_quality": q_mrr_quality,
    "fleiss_panel": q_fleiss_panel,
    "chi2_lang_source": q_chi2_lang_source,
    "agreement_alpha": q_agreement_alpha,
    "token_gini": q_token_gini,
    "theil_sen_slope": q_theil_sen_slope,
    "approx_quantiles": q_approx_quantiles,
    "table_profile": q_table_profile,
    "fk_orphan_report": q_fk_orphan_report,
    "key_uniqueness": q_key_uniqueness,
    "rank_quartiles": q_rank_quartiles,
    "range_splitters": q_range_splitters,
    "token_mass_median": q_token_mass_median,
    "group_mad": q_group_mad,
    "winsorized_mean": q_winsorized_mean,
    "iqr_outlier_report": q_iqr_outlier_report,
}

ORACLES = {
    "key_skew_profile": SQL_KEY_SKEW_PROFILE,
    "quantile_norm": SQL_QUANTILE_NORM,
    "bm25_scores": SQL_BM25_SCORES,
    "rrf_fusion": SQL_RRF_FUSION,
    "trimmed_mean": SQL_TRIMMED_MEAN,
    "auc_scores": SQL_AUC_SCORES,
    "spearman_corr": SQL_SPEARMAN_CORR,
    "auc_by_group": SQL_AUC_BY_GROUP,
    "calibration_curve": SQL_CALIBRATION_CURVE,
    "calibration_by_source": SQL_CALIBRATION_BY_SOURCE,
    "kendall_tau_banded": SQL_KENDALL_TAU_BANDED,
    "ndcg_quality": SQL_NDCG_QUALITY,
    "quantiles_by_group": SQL_QUANTILES_BY_GROUP,
    "ndcg_by_source": SQL_NDCG_BY_SOURCE,
    "quantiles_refined": SQL_QUANTILES_REFINED,
    "calibration_fixed_bins": SQL_CALIBRATION_FIXED_BINS,
    "map_quality": SQL_MAP_QUALITY,
    "cohen_kappa": SQL_COHEN_KAPPA,
    "pr_curve_sweep": SQL_PR_CURVE_SWEEP,
    "lift_deciles": SQL_LIFT_DECILES,
    "mcc_by_lang": SQL_MCC_BY_LANG,
    "brier_quality": SQL_BRIER_QUALITY,
    "ece_quality": SQL_ECE_QUALITY,
    "ks_separation": SQL_KS_SEPARATION,
    "mrr_quality": SQL_MRR_QUALITY,
    "fleiss_panel": SQL_FLEISS_PANEL,
    "chi2_lang_source": SQL_CHI2_LANG_SOURCE,
    "agreement_alpha": SQL_AGREEMENT_ALPHA,
    "token_gini": SQL_TOKEN_GINI,
    "theil_sen_slope": SQL_THEIL_SEN_SLOPE,
    "approx_quantiles": SQL_APPROX_QUANTILES,
    "table_profile": SQL_TABLE_PROFILE,
    "fk_orphan_report": SQL_FK_ORPHAN_REPORT,
    "key_uniqueness": SQL_KEY_UNIQUENESS,
    "rank_quartiles": SQL_RANK_QUARTILES,
    "range_splitters": SQL_RANGE_SPLITTERS,
    "token_mass_median": SQL_TOKEN_MASS_MEDIAN,
    "group_mad": SQL_GROUP_MAD,
    "winsorized_mean": SQL_WINSORIZED_MEAN,
    "iqr_outlier_report": SQL_IQR_OUTLIER_REPORT,
}
