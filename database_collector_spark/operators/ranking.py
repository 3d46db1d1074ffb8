"""Text retrieval scoring over the documents corpus: BM25.

The reference's query surface has no IR tier (its analytics stop at the
exporter-style aggregates, SURVEY.md §2) — this module is part of the
training-data-pipeline extension: corpus-level relevance scoring is the
standard primitive behind retrieval-based data curation (e.g. selecting
documents relevant to a seed set).

Determinism conventions (shared with the workloads modules): every float that
reaches a differential gate is computed from engine-exact integer
intermediates (tf, df, dl, N, Σdl) and rounded; per-term contributions
are summed in a FIXED order (one conditional aggregate per query term,
added left-to-right) so double addition order cannot differ between
engines.

Scale notes (100 TB): the token explode is map-side; tf is one shuffle
keyed by (doc, term) AFTER the `isin(query_terms)` filter prunes the
token stream to |terms ∩ corpus| — the full vocabulary is never
shuffled. df and the corpus stats are tiny aggregates broadcast back;
the scoring join is therefore |matching docs| rows through one keyed
exchange, never |token stream|.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_collector_spark.operators.text import tokens_col


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document BM25 score for a fixed bag of query terms.

    idf is the standard Robertson–Sparck Jones smoothed form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (always positive), tf
    saturation uses (k1, b) with dl = whitespace token count and avgdl
    the exact corpus mean. Returns one row per document that matches at
    least one query term: (doc_id, dl, n_matched, score) with score
    rounded to 4 decimals.
    """
    terms = sorted(set(query_terms))
    dl = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokens_col(text_col)).alias("dl")
    )
    # Corpus stats: 2 integers (N docs, total tokens) — one-row broadcast.
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_dl")
    )

    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("term")
    ).where(F.col("term").isin(terms))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df falls out of tf (one row per matching (doc, term) already):
    # no second pass over the token stream
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("total_dl") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    contrib = idf * (
        (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl))
    )
    # One conditional SUM per query term -> per-term columns, then a
    # left-to-right fixed-order add: double summation order is pinned.
    per_term = scored.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),
        F.count("*").alias("n_matched"),
        *[
            F.sum(F.when(F.col("term") == t, contrib)).alias(f"_c_{i}")
            for i, t in enumerate(terms)
        ],
    )
    total = reduce(
        lambda acc, i: acc + F.coalesce(F.col(f"_c_{i}"), F.lit(0.0)),
        range(len(terms)),
        F.lit(0.0),
    )
    return per_term.select(
        "doc_id",
        "dl",
        F.col("n_matched").cast("int").alias("n_matched"),
        F.round(total, 4).alias("score"),
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    *,
    k: int = 60,
    id_col: str = "doc_id",
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two ranked lists: rrf(d) = Σ_lists 1/(k + rank_d), documents
    missing from a list contribute nothing from it — the standard
    score-free hybrid-retrieval combiner (lexical BM25 + vector ranks
    fuse without any score calibration).

    Inputs are (id, rank) frames that are ALREADY per-list top-N
    (bounded — real systems fuse top-k lists, never corpus-wide ranks),
    so the fusion is a tiny full-outer join + one bounded sort. The
    rrf score is a sum of at most two fixed rationals — rounded to 6
    it is cross-engine stable."""
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("rank_b"))
    fused = a.join(b, id_col, "full_outer").select(
        id_col,
        "rank_a",
        "rank_b",
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("rank_b")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= topk)
        .select("fused_rank", id_col, "rank_a", "rank_b", "rrf_score")
    )


def exact_ratio_round(num: F.Column, den: F.Column, digits: int = 6) -> F.Column:
    """round(num/den, digits) for NON-NEGATIVE exact integer/decimal
    operands with den > 0, computed as EXACT integer half-up in
    DECIMAL(38,0): q = (2·10^d·num + den) intdiv (2·den), then ONE
    long→double cast and /10^d — the engine-proof quantization of the
    token_gini fix. ``round(double, 6)``
    diverges between Spark (half-up on the double's shortest decimal
    repr) and DuckDB (binary-double rounding) exactly when the ratio
    lands on a representable decimal midpoint — reachable for ratios of
    exact integers (2148/7680 = 0.2796875 was the driver-caught gini
    case), so every exact-rational final metric routes through here.
    The DuckDB oracle twin is the mirrored HUGEINT expression
    ``CAST((2·10^d·num + den) // (2·den) AS DOUBLE) / 10^d``.

    The integral divisions are built from pmod (no Column-level ``div``
    operator exists): t − pmod(t, b) is an exact multiple of b, so the
    decimal division is exact; valid for the non-negative operands this
    contract requires (callers with signed ratios must decompose the
    sign first — integral division and pmod disagree across engines on
    negatives). Computed as long division in TWO steps — integer part
    first, then the remainder quantized — so the 2·10^d multiplier
    touches only the remainder (< den): identically equal to the
    one-step ``(2·10^d·num + den) div (2·den)`` with 10^d more
    overflow headroom on large numerators (the chi2 dev² class).

    Exact only while the quantized quotient q·10^d stays below 2^53:
    past it the one long→double cast rounds q·10^d to the nearest double,
    so the last units are lost (at d=6, ratios of about 9.0e9 and up).
    Callers with unbounded numerators (chi2 dev²) stay exact only while
    their ratio does."""
    d38 = "decimal(38,0)"
    p = F.lit(10**digits).cast(d38)
    t = num.cast(d38)
    b = den.cast(d38)
    rem = F.pmod(t, b)
    ip = (t - rem) / b  # exact integer (decimal)
    t2 = F.lit(2).cast(d38) * p * rem + b
    b2 = F.lit(2).cast(d38) * b
    fr = (t2 - F.pmod(t2, b2)) / b2  # exact integer in [0, 10^d]
    return (ip * p + fr).cast("double") / F.lit(float(10**digits))


def prefix_count_below(
    counts: DataFrame,
    keys: list[str],
    val_col: str,
    cnt_col: str,
    *,
    coarse_buckets: int = 1024,
    out_col: str = "below",
    max_key_groups: int = 256,
    refine_narrow_domains: bool = False,
    bucket_col: str | None = None,
    extra: dict[str, str] | None = None,
) -> DataFrame:
    """Add ``out_col`` = total ``cnt_col`` over rows of the same
    ``keys`` with STRICTLY smaller ``val_col`` — the running-count
    primitive behind distributed ranking (auc_exact's U statistic,
    spearman_by_group's average ranks) as ONE shared two-level prefix
    sum with no corpus-sized single-partition window. All other columns
    of ``counts`` are preserved.

    ``counts`` must hold one row per (keys, val) — value-domain
    compressed — and must not use column names starting with ``_``
    (``_cell``/``_hc``/``_hn``/``_cum_before``/``_cum_n``/``_tot_n``/
    ``_b``/``_lo``/``_hi``/``_before_b`` are internal).
    Rows with NULL keys or a NULL value are EXCLUDED here, actively:
    a NULL value would otherwise land in bucket 0 (isnan(NULL) is
    false and greatest() skips NULLs), sort NULLS FIRST, and inflate
    every bucket-0 below-count — enforced by filter, not by docstring.

    Bucket construction is DETERMINISTIC and COUNT-EQUALIZED, in two
    bounded steps. (1) Values map to one of 65536 fixed CELLS,
    equi-width in magnitude-log space u = sign(v)·log1p(|v|) over the
    exact per-key min/max of u — min/max are merge-order-independent
    aggregates, so the cell cuts are identical however Spark schedules
    the partials (a quantile sketch is not: its merge order varies run
    to run, and two plan branches consume the cuts). (2) The per-cell
    count histogram (integer sums — also order-independent) assigns
    cells to <= ``coarse_buckets`` buckets by CUMULATIVE COMPRESSED-ROW
    count: bucket(cell) = (distinct values in earlier cells) *
    coarse_buckets div total_distinct — the within-bucket window sorts
    COMPRESSED rows, so distinct values (not weights) are the load to
    balance. Every bucket therefore sorts at most total_distinct /
    coarse_buckets values PLUS one cell's worth — density skew cannot
    concentrate more than one log-cell's extra values, and a 1e300
    outlier (u≈691) cannot stretch the cell grid enough to fuse a
    [0,1]-style bulk into one cell (the bulk still spans many cells
    and is then spread over ~coarse_buckets buckets by the
    equalization; raw-value equi-width would collapse it into one).
    The residual worst case is real and documented: a value domain
    narrower than ONE cell (~1/65536 of the log-range) degenerates to
    a single populous bucket.

    The within-bucket windows run partitioned by (keys, bucket) —
    parallel; the histogram/assignment windows run over the bounded
    <= |keys-domain| x 65536-row cell table (unpartitioned when
    ``keys`` is empty). The cell and bucket maps are BROADCAST: the
    helper is built for LOW-cardinality key domains (auc_exact: none;
    spearman_by_group: a handful of groups) — for high-cardinality
    grouped ranking use a plain per-group window instead, where the
    groups themselves supply the parallelism. The contract is ENFORCED,
    not docstring-only: when ``keys`` is non-empty an
    IN-PLAN guard (count-over-the-rng-table window wrapping
    ``raise_error``) fires at action time whenever the key domain
    exceeds ``max_key_groups`` (default 256 — 256 keys x 65536 cells
    bounds the broadcast cell map at ~16.8M rows), naming the
    per-group-window alternative rather than silently building a
    driver-breaking broadcast from a user-supplied group column. Zero
    extra jobs and only a bounded |domain|-row exchange on the rng
    side branch (a driver-side count re-ran the whole upstream lineage
    per call — measured ~20% of the spearman gate).

    Bucket boundaries only affect PARTITIONING, never the result:
    u is strictly increasing in v, the clamped floor is monotone
    non-decreasing even under float roundoff, cumulative counts are
    monotone in the cell index, and the non-finite values get explicit
    edge cells in Spark's double order (-Inf → cell 0; +Inf and NaN →
    the top cell, where the within-cell sort orders them) — they are
    also EXCLUDED from the min/max so one Inf cannot make the span
    infinite and collapse every finite value into cell 0. The prefix
    sums are exact wherever the cuts land.

    ``extra`` maps ADDITIONAL ``{out_col: cnt_col}`` prefix counters
    computed in the SAME pass: the cell grid, bucket assignment and
    within-bucket windows are shared, so a caller needing running
    counts of two weight columns over the same value order (KS's
    per-class CDFs, Gini's count + value-weighted prefix) pays ONE
    bucket construction instead of chaining two calls. Every extra
    counter column must be NON-NEGATIVE: the fused per-bucket MIN of
    each cumulative (see the in-code note below) equals the value at
    the bucket's first cell only while the cumulative is non-decreasing
    in the cell index — a signed counter would silently produce wrong
    prefix values (current callers guard this in-plan,
    e.g. gini's ``_int_domain_guard(lo=0)``) — at corpus
    scale with an ~all-distinct value domain the compressed table is
    corpus-sized, so the second chained pass is a real second
    corpus-wide shuffle this parameter removes. Bucket boundaries are
    derived from the primary ``cnt_col``'s ROW counts exactly as
    before (boundaries never affect results), so ``extra=None``
    callers get a byte-identical plan.

    ``refine_narrow_domains=True`` arms the documented degenerate
    case's escape hatch: any cell holding more than 1/4 of a key's
    distinct values (at most three can) gets a second-level grid over
    its own finite-u sub-range — the identical construction one level
    down — so a domain concentrated inside one cell of the log-range
    spreads across buckets again (the residual shrinks to domains
    narrower than ~1/2^32 of the log-range). Opt-in because it costs
    one extra pass over the compressed frame (count + sub-range in the
    SAME aggregate) plus bounded-table work even when nothing is
    populous — and because a refined key can occupy 4x the cells, the
    keyed-domain ceiling shrinks to ``max_key_groups // 4`` to hold
    the same worst-case broadcast budget. ``bucket_col`` (audit hook)
    additionally
    emits each row's bucket id, so callers can MEASURE bucket skew on
    their own data before committing a big job to either mode.
    """
    n_cells = 65536
    extra = dict(extra or {})
    all_out = [out_col, *extra.keys()]
    if len(set(all_out)) != len(all_out):
        raise ValueError(
            f"prefix_count_below: duplicate output columns in {all_out!r}"
        )
    for oc in all_out:
        if oc in counts.columns:
            raise ValueError(
                f"prefix_count_below: out_col {oc!r} already exists in the "
                "input; alias it first"
            )
    for oc, cc in extra.items():
        if cc not in counts.columns:
            raise ValueError(
                f"prefix_count_below: extra cnt_col {cc!r} (for {oc!r}) is "
                "not an input column"
            )
    if bucket_col is not None and (
        bucket_col in counts.columns or bucket_col in all_out
    ):
        raise ValueError(
            f"prefix_count_below: bucket_col {bucket_col!r} collides with an "
            "input column or out_col; pick a fresh name"
        )
    for k in keys:
        counts = counts.where(F.col(k).isNotNull())
    counts = counts.where(F.col(val_col).isNotNull())
    vd = F.col(val_col).cast("double")
    u = F.signum(vd) * F.log1p(F.abs(vd))
    # NaN AND +/-Infinity excluded from the range: a NaN would poison
    # the min/max into NaN, and an Infinity would make span infinite —
    # every finite value then maps to cell 0 and the whole grid
    # collapses into one bucket; both get
    # explicit edge cells below instead
    inf = float("inf")
    finite_u = F.when(~F.isnan(vd) & (vd > -inf) & (vd < inf), u)
    rng = (
        counts.groupBy(*keys).agg(
            F.min(finite_u).alias("_lo"), F.max(finite_u).alias("_hi")
        )
        if keys
        else counts.agg(F.min(finite_u).alias("_lo"), F.max(finite_u).alias("_hi"))
    )
    if keys:
        # IN-PLAN cardinality guard: a count-over-the-rng-table window
        # wraps _lo in raise_error when the key domain exceeds the
        # ceiling. Costs ZERO extra jobs (a driver-side count here would
        # re-run the whole upstream lineage — measured ~20% of the
        # spearman gate at sf0.1) and only a bounded |domain|-row
        # single-partition exchange on the rng side branch; the guard
        # fires at ACTION time, before any cell map is broadcast. With
        # the narrow-domain refinement armed, a key can occupy up to
        # 4 x 65536 composite cells, so the ceiling shrinks 4x to keep
        # the worst-case broadcast map at the SAME driver budget.
        ceiling = (
            max(1, max_key_groups // 4)
            if refine_narrow_domains
            else max_key_groups
        )
        per_key_cells = "4 x 65536 composite" if refine_narrow_domains else "65536"
        guard_msg = (
            f"prefix_count_below: key domain exceeds {ceiling} "
            f"groups — the broadcast cell map would hold up to "
            f"|domain| x {per_key_cells} rows. Use a plain per-group "
            f"window (Window.partitionBy(*keys).orderBy(val)) instead: "
            f"with this many groups the groups themselves supply the "
            f"parallelism. Raise max_key_groups only if the domain "
            f"is genuinely bounded and the driver can hold the map."
        )
        w_all = Window.partitionBy()
        rng = rng.select(
            *keys,
            F.when(
                F.count("*").over(w_all) > ceiling,
                F.raise_error(F.lit(guard_msg)),
            )
            .otherwise(F.col("_lo"))
            .alias("_lo"),
            "_hi",
        )
    # ONE width binding shared by guard and divisor — the guard's
    # soundness is that it tests the IDENTICAL expression floor divides
    # by: a denormal-scale span can satisfy span > 0 while the width
    # underflows to 0.0, and (u-lo)/0.0 would put Inf (or 0/0 NaN)
    # inside floor — the degenerate one-cell fallback is exact anyway
    width = (F.col("_hi") - F.col("_lo")) / n_cells
    cell = (
        # explicit edge cells, ordered like Spark orders doubles
        # (-inf < finite < +inf < NaN): floor() must never see a
        # non-finite argument — (NaN-lo)/width is NaN (would land in
        # cell 0, under-counting everything above it) and floor(inf)
        # overflows the LONG cast under ANSI. +inf and NaN share the
        # top cell; the within-cell window orders them correctly.
        F.when(F.isnan(vd) | (vd == inf), F.lit(n_cells - 1))
        .when(vd == -inf, F.lit(0))
        .when(
            width > 0,
            F.least(
                F.lit(n_cells - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((u - F.col("_lo")) / width),
                ),
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    with_rng = (
        counts.join(F.broadcast(rng), keys)
        if keys
        else counts.crossJoin(F.broadcast(rng))
    )
    cols = counts.columns
    celled = with_rng.select(*cols, cell.alias("_cell"))
    if refine_narrow_domains:
        # ESCAPE HATCH for the documented degenerate case (SCALE.md): a
        # value domain concentrated inside ~1/65536 of its own log-range
        # collapses into one populous cell -> one populous bucket. Cells
        # holding > 1/4 of a key's DISTINCT values (there can be at most
        # THREE such cells per key, so the composite histogram stays
        # bounded at <= 65536 + 3*65536 rows/key) get a second-level
        # grid over the cell's own finite-u sub-range — the identical
        # deterministic construction one level down (min/max aggregates,
        # same clamped-floor monotonicity, same non-finite edge cells,
        # same denormal-width guard), so bucket boundaries stay monotone
        # in the value and the prefix sums stay exact wherever they
        # land. The decision is IN-PLAN from integer counts — no driver
        # branching, no run-to-run nondeterminism. Costs one extra pass
        # over the compressed frame plus bounded-table work even when
        # nothing is populous, which is why it is opt-in.
        sub_cells = n_cells
        # ONE pass over the compressed frame: the per-cell distinct
        # count AND the sub-range min/max come from the same aggregate;
        # the populous filter then runs on the bounded per-cell table
        load = celled.groupBy(*keys, "_cell").agg(
            F.count("*").alias("_dn"),
            F.min(finite_u).alias("_lo2"),
            F.max(finite_u).alias("_hi2"),
        )
        ltot = (
            load.groupBy(*keys).agg(F.sum("_dn").alias("_ltot"))
            if keys
            else load.agg(F.sum("_dn").alias("_ltot"))
        )
        lj = load.join(F.broadcast(ltot), keys) if keys else load.crossJoin(
            F.broadcast(ltot)
        )
        sub_rng = lj.where(F.col("_dn") * 4 > F.col("_ltot")).select(
            *keys, "_cell", "_lo2", "_hi2"
        )
        width2 = (F.col("_hi2") - F.col("_lo2")) / sub_cells
        sub = (
            F.when(F.isnan(vd) | (vd == inf), F.lit(sub_cells - 1))
            .when(vd == -inf, F.lit(0))
            .when(
                width2 > 0,
                F.least(
                    F.lit(sub_cells - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor((u - F.col("_lo2")) / width2),
                    ),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )
        composite = F.when(
            F.col("_lo2").isNotNull(),
            F.col("_cell") * sub_cells + sub,
        ).otherwise(F.col("_cell") * sub_cells)
        celled = (
            celled.join(F.broadcast(sub_rng), [*keys, "_cell"], "left")
            .select(*cols, composite.alias("_cell"))
        )
    # cell histogram -> count-equalized bucket id + exact rows-before-
    # bucket, all on the bounded cell table (integer arithmetic only)
    w_cell = (
        Window.partitionBy(*keys)
        .orderBy("_cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(*keys)
    x_ids = list(range(len(extra)))  # stable order for internal aliases
    x_items = list(extra.items())
    cellmap = (
        celled.groupBy(*keys, "_cell")
        .agg(
            F.sum(cnt_col).alias("_hc"),
            F.count("*").alias("_hn"),
            *[F.sum(x_items[i][1]).alias(f"_hcx{i}") for i in x_ids],
        )
        .select(
            *keys,
            "_cell",
            # weight-cumulative: feeds the below-count semantics
            F.coalesce(F.sum("_hc").over(w_cell), F.lit(0)).alias("_cum_before"),
            *[
                F.coalesce(F.sum(f"_hcx{i}").over(w_cell), F.lit(0)).alias(
                    f"_cum_beforex{i}"
                )
                for i in x_ids
            ],
            # ROW-cumulative: feeds the balance — the within-bucket
            # window sorts COMPRESSED rows, so buckets must equalize
            # distinct-value counts, not weights (and _tot_n >= 1
            # whenever a cell row exists, so the division is total;
            # an all-zero-weight input — auc's single-class case —
            # would make a weight total of 0)
            F.coalesce(F.sum("_hn").over(w_cell), F.lit(0)).alias("_cum_n"),
            F.sum("_hn").over(w_tot).alias("_tot_n"),
        )
        .select(
            *keys,
            "_cell",
            "_cum_before",
            *[f"_cum_beforex{i}" for i in x_ids],
            F.expr(f"(_cum_n * {coarse_buckets}) div _tot_n").alias("_b"),
        )
    )
    # rows in strictly earlier buckets = cumulative count at the
    # bucket's FIRST cell — no second corpus-wide aggregate needed.
    # The extra counters take the cumulative at the SAME first cell:
    # every cumulative is non-decreasing in _cell, so a per-bucket MIN
    # of each cumulative column equals its value at the bucket's first
    # cell, keeping the whole family consistent with the primary.
    # FUSED into the cell map itself: the
    # per-bucket min rides a partition-only window over the SAME
    # bounded cell table — HashPartitioning(keys) from the histogram
    # aggregate already satisfies the (keys, _b) clustering, so the
    # window adds no exchange — and the _before_b columns travel in the
    # ONE broadcast cell map. The previous shape built a separate
    # before_bucket table and joined it back as a SECOND broadcast
    # join: one more broadcast build per call and one more map-side
    # join pass over the compressed corpus frame (2x per spearman
    # gate, 1x per AUC/KS/Gini/quantile gate) for values derivable on
    # the bounded side.
    w_bucket = Window.partitionBy(*keys, "_b")
    cellmap = cellmap.select(
        *keys,
        "_cell",
        "_b",
        F.min("_cum_before").over(w_bucket).alias("_before_b"),
        *[
            F.min(f"_cum_beforex{i}").over(w_bucket).alias(f"_before_bx{i}")
            for i in x_ids
        ],
    )
    bucketed = celled.join(F.broadcast(cellmap), [*keys, "_cell"])
    ww = (
        Window.partitionBy(*keys, "_b")
        .orderBy(val_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = [
        *cols,
        (F.col("_before_b") + F.coalesce(F.sum(cnt_col).over(ww), F.lit(0))).alias(
            out_col
        ),
        *[
            (
                F.col(f"_before_bx{i}")
                + F.coalesce(F.sum(x_items[i][1]).over(ww), F.lit(0))
            ).alias(x_items[i][0])
            for i in x_ids
        ],
    ]
    if bucket_col is not None:
        out.append(F.col("_b").alias(bucket_col))
    return bucketed.select(*out)


def auc_exact(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Exact ROC AUC of a score against a binary label, at corpus scale
    — the evaluation tier for any scorer in the engine (the hashed
    quality classifier, BM25 relevance, an uploaded model's scores).
    AUC = P(score_pos > score_neg) + 0.5 P(tie), the Mann-Whitney U
    statistic normalized by n_pos * n_neg.

    Scale shape: ONE groupBy collapses the corpus to per-distinct-score
    (n_pos, n_neg) counts (value-domain compression, same trick as the
    exact weighted median); the running negative-count below each score
    then comes from ``prefix_count_below``'s two-level distributed
    prefix sum — scores map to deterministic count-equalized monotone
    buckets (see that docstring for the cell-histogram construction and
    its balance bound), the within-bucket windows run partitioned
    (parallel), and the only unpartitioned windows run over the bounded
    <= 65536-row cell-histogram table. No corpus-sized single-partition
    sort exists for ANY score cardinality (an all-distinct score column
    — the common case for real-valued model scores — compresses
    nothing, so a plain global window would funnel the corpus through
    one task). Bucket boundaries only affect partitioning, never the
    result. Never a pos x neg pair join.

    Exactness: counts are integers; the 2U accumulation runs in
    DECIMAL(38,0) (2U <= 2*n_pos*n_neg overflows int64 past ~3e9
    balanced rows — the ANSI overflow class); the single division
    2U / (2 * n_pos * n_neg) happens once in double, rounded to 6.
    NULL scores and NULL labels are EXCLUDED (documented contract,
    mirrored in oracle twins — engines disagree on NULL sort order).
    Degenerate inputs (no positives or no negatives) return NULL auc,
    fail-soft.

    Output: one row (n_pos, n_neg, auc).
    """
    lab = F.col(label_col).cast("int")
    # filter BEFORE the projection: a .where() after .select() resolves
    # original names against the projection's own aliases, so an input
    # column literally named 's'/'y' would shadow the exclusion
    # (the rank_select_by_group class)
    base = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(score_col).alias("s"), lab.alias("y"))
    return _auc_core(base, [], coarse_buckets)


def _auc_core(base, keys: list[str], coarse_buckets: int) -> DataFrame:
    """The ONE Mann-Whitney pipeline behind ``auc_exact`` (keys=[]) and
    ``auc_by_group`` (keys=[group]) — the overflow/exactness discipline
    lives here exactly once. ``base`` is (keys..., s, y) with NULLs
    already excluded by the caller's documented contract."""
    # localCheckpoint: three downstream branches (cut range, cell
    # histogram, the U accumulation) reference this table — without the
    # checkpoint each branch re-derives it from a full corpus scan
    # (4 scans at 100 TB); the materialized form is the narrow
    # compressed table (|distinct (keys, score)| rows). Lazy: building
    # the plan must not itself run a job.
    per_score = (
        base.groupBy(*keys, "s")
        .agg(
            F.count(F.when(F.col("y") == 1, 1)).alias("pos"),
            F.count(F.when(F.col("y") == 0, 1)).alias("neg"),
        )
        .localCheckpoint(eager=False)
    )
    # running negatives strictly below each score: the shared two-level
    # prefix sum (deterministic count-equalized buckets; the coarser
    # windows run over the bounded cell-histogram table)
    below = prefix_count_below(
        per_score, keys, "s", "neg", coarse_buckets=coarse_buckets,
        out_col="neg_below",
    )
    dec = "decimal(38,0)"
    u2 = below.select(
        *keys,
        "pos",
        "neg",
        (
            F.col("pos").cast(dec)
            * (2 * F.col("neg_below") + F.col("neg")).cast(dec)
        ).alias("u2_term"),
    )
    dpn = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return u2.groupBy(*keys).agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.when(
            (F.sum("pos") > 0) & (F.sum("neg") > 0),
            # 2U/(2·n_pos·n_neg) as EXACT integer half-up at 6 decimals
            # (the token_gini midpoint class;
            # AUC is a ratio of exact integers, so round(double, 6)
            # midpoints are reachable)
            exact_ratio_round(
                F.sum("u2_term"),
                F.lit(2).cast("decimal(38,0)")
                * dpn(F.sum("pos"))
                * dpn(F.sum("neg")),
            ),
        ).alias("auc"),
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    *,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Tie-corrected Spearman rank correlation of two columns within
    each group — Pearson over AVERAGE ranks, the textbook tie
    treatment — at corpus scale even when there are only a handful of
    groups.

    Scale shape (the auc_exact discipline applied per group): ONE
    groupBy collapses the corpus to per-(group, x, y) joint counts
    (value-domain compression); each column's doubled average rank
    2*avgrank = 2*|<v| + |=v| + 1 is then computed DIRECTLY on the
    joint table — values map to deterministic
    count-equalized monotone buckets per group per axis (the
    prefix_count_below cell-histogram construction over bounded
    broadcast tables; see that docstring for the balance bound), and
    the strictly-below / tie weights come from RANGE-frame window sums
    over the joint rows partitioned by (group, bucket): every value's
    complete tie class shares one bucket, so below = before_bucket +
    cum_upto_value − ties. No marginal aggregates and no rank
    join-backs exist — the corpus-side plan is exactly two window
    exchanges (one per axis) plus the moment aggregate, where the
    join-back form paid two marginal shuffles AND two corpus-sized
    equi-join shuffles. A naive Window.partitionBy(group) rank would
    funnel each group through ONE task — with few groups (this gate's
    l_returnflag has 3) that is a single-node sort of a third of the
    corpus, not a distributed plan. Bucket boundaries only affect
    partitioning, never the result.

    Exactness: doubled average ranks are INTEGERS for every tie
    pattern, and their row-weighted sum per group is identically
    n*(n+1), so the CENTERED deviations dx = r - (n+1) sum to exactly
    zero and Pearson reduces to three moment sums sum(cnt*dx*dy),
    sum(cnt*dx^2), sum(cnt*dy^2) — each bounded by n^3, kept in
    DECIMAL(38,0) (exact past 4e12 rows per group; the UNcentered
    n*sxx - sx*sx form overflows 38 digits at ~2e9 rows, the ANSI
    overflow class). One double division over identical exact
    operands, round 6. NULL x/y rows AND NULL-group rows are EXCLUDED
    (engines disagree on NULL rank placement, and the rank join-backs
    are equi-joins, which never match NULL keys — the exclusion is
    explicit so it cannot silently depend on join semantics; coalesce
    the group key to a sentinel upstream to rank a NULL cohort);
    zero-variance groups emit NULL, fail-soft.

    Output: one row per group (group_col, n, spearman). The reference
    has no correlation surface at all (its Go loop in
    collector/cmd/collector/database-collector.go ships exporter rows
    verbatim); this extends the engine's stats tier (stats_moments'
    linear corr) to rank correlation.
    """
    # filter before projecting (the alias-shadowing class)
    base = df.where(
        F.col(group_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"), F.col(x_col).alias("x"), F.col(y_col).alias("y")
    )
    # the bounded side branches (joint rng/cell histograms x2, n-per-g)
    # and the final ranked pass all reuse the compressed joint table;
    # without the checkpoint each branch re-derives it from a corpus scan
    joint = (
        base.groupBy("g", "x", "y")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    # FUSED joint rank fold: both doubled
    # average ranks are computed DIRECTLY on the joint table — no
    # marginal aggregates and no rank join-backs. A two-pass form
    # built per-axis marginal tables (the y marginal is ~corpus-sized
    # for near-all-distinct values), ran prefix_count_below over each,
    # and equi-joined both rank tables back onto the joint frame — two
    # corpus-sized join shuffles plus two marginal shuffles. Here the
    # strictly-below and tie counts come from RANGE-frame windows over
    # the joint rows themselves (all rows of equal value share a bucket,
    # so the tie class is complete within one window partition):
    #     2*avgrank = 2*below + ties + 1
    #               = 2*(before_bucket + cum_upto_val) - ties_at_val + 1
    # with the same deterministic count-equalized log-grid buckets as
    # prefix_count_below (boundaries only affect partitioning, never
    # results — see that docstring). The corpus-side plan is exactly two
    # window exchanges (one per axis) + the moment aggregate. (A
    # union-based fusion attempt was slower because it needed a
    # checkpoint barrier before two join-backs; this form has NO
    # join-backs, so no barrier exists to pay.)
    n_cells = 65536
    inf = float("inf")

    def _u(c: str):
        vd = F.col(c).cast("double")
        return F.signum(vd) * F.log1p(F.abs(vd))

    def _finite_u(c: str):
        vd = F.col(c).cast("double")
        return F.when(~F.isnan(vd) & (vd > -inf) & (vd < inf), _u(c))

    # ONE bounded rng aggregate for both axes, with prefix_count_below's
    # in-plan key-domain guard (broadcast cell maps require a bounded
    # group domain; see that docstring for the contract)
    rng = joint.groupBy("g").agg(
        F.min(_finite_u("x")).alias("_lox"),
        F.max(_finite_u("x")).alias("_hix"),
        F.min(_finite_u("y")).alias("_loy"),
        F.max(_finite_u("y")).alias("_hiy"),
    )
    guard_msg = (
        "spearman_by_group: group domain exceeds 256 groups — the "
        "broadcast cell maps would hold up to |domain| x 65536 rows. "
        "Use a plain per-group window rank instead: with this many "
        "groups the groups themselves supply the parallelism."
    )
    w_all = Window.partitionBy()
    rng = rng.select(
        "g",
        F.when(F.count("*").over(w_all) > 256, F.raise_error(F.lit(guard_msg)))
        .otherwise(F.col("_lox"))
        .alias("_lox"),
        "_hix",
        "_loy",
        "_hiy",
    )

    def _cell(c: str, lo: str, hi: str):
        vd = F.col(c).cast("double")
        width = (F.col(hi) - F.col(lo)) / n_cells
        return (
            F.when(F.isnan(vd) | (vd == inf), F.lit(n_cells - 1))
            .when(vd == -inf, F.lit(0))
            .when(
                width > 0,
                F.least(
                    F.lit(n_cells - 1),
                    F.greatest(F.lit(0), F.floor((_u(c) - F.col(lo)) / width)),
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    celled = joint.join(F.broadcast(rng), "g").select(
        "g",
        "x",
        "y",
        "cnt",
        _cell("x", "_lox", "_hix").alias("_cx"),
        _cell("y", "_loy", "_hiy").alias("_cy"),
    )

    def _cellmap(cell_col: str, b_col: str, before_col: str) -> DataFrame:
        # bounded (<= |groups| x 65536 rows): per-cell joint-row counts
        # -> count-equalized bucket id + exact weight-below-bucket, the
        # prefix_count_below construction with joint rows as the load
        w_cell = (
            Window.partitionBy("g")
            .orderBy(cell_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_tot = Window.partitionBy("g")
        cm = (
            celled.groupBy("g", cell_col)
            .agg(F.sum("cnt").alias("_hc"), F.count("*").alias("_hn"))
            .select(
                "g",
                cell_col,
                F.coalesce(F.sum("_hc").over(w_cell), F.lit(0)).alias("_cum"),
                F.coalesce(F.sum("_hn").over(w_cell), F.lit(0)).alias("_cum_n"),
                F.sum("_hn").over(w_tot).alias("_tot_n"),
            )
            .select(
                "g",
                cell_col,
                "_cum",
                F.expr(f"(_cum_n * {coarse_buckets}) div _tot_n").alias(b_col),
            )
        )
        w_bucket = Window.partitionBy("g", b_col)
        return cm.select(
            "g",
            cell_col,
            b_col,
            F.min("_cum").over(w_bucket).alias(before_col),
        )

    ranked = (
        celled.join(F.broadcast(_cellmap("_cx", "_bx", "_befx")), ["g", "_cx"])
        .join(F.broadcast(_cellmap("_cy", "_by", "_befy")), ["g", "_cy"])
    )

    def _dbl_rank(val: str, b_col: str, before_col: str):
        # 2*below + ties + 1 from two range-frame sums over ONE window
        # order: cum = weight at values <= val (peers included), ties =
        # weight of the val's tie class -> 2*(before+cum) - ties + 1
        w = Window.partitionBy("g", b_col).orderBy(val)
        cum = F.sum("cnt").over(
            w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        ties = F.sum("cnt").over(
            w.rangeBetween(Window.currentRow, Window.currentRow)
        )
        return (2 * (F.col(before_col) + cum) - ties + 1).cast("long")

    ranked = ranked.withColumn("rx", _dbl_rank("x", "_bx", "_befx")).withColumn(
        "ry", _dbl_rank("y", "_by", "_befy")
    )
    nn = joint.groupBy("g").agg(F.sum("cnt").cast("long").alias("n"))
    dec = "decimal(19,0)"
    centered = ranked.join(F.broadcast(nn), "g").select(
        "g",
        "cnt",
        (F.col("rx") - F.col("n") - 1).cast(dec).alias("dx"),
        (F.col("ry") - F.col("n") - 1).cast(dec).alias("dy"),
    )
    s = centered.groupBy("g").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("cnt") * F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("cnt") * F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("cnt") * F.col("dy") * F.col("dy")).alias("syy"),
    )
    sxx_d = F.col("sxx").cast("double")
    syy_d = F.col("syy").cast("double")
    return s.select(
        F.col("g").alias(group_col),
        "n",
        F.when(
            (sxx_d > 0) & (syy_d > 0),
            F.round(
                F.col("sxy").cast("double") / (F.sqrt(sxx_d) * F.sqrt(syy_d)), 6
            ),
        ).alias("spearman"),
    )


def auc_by_group(
    scored: DataFrame,
    group_col: str,
    *,
    score_col: str = "score",
    label_col: str = "label",
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Exact ROC AUC per group — the evaluation every per-language /
    per-source classifier audit actually asks for ("is the quality
    model as good on 'fr' as on 'en'?"), at corpus scale even when the
    group count is tiny. The keyed twin of ``auc_exact``, riding the
    same shared machinery: value-domain compression to per-(group,
    score) counts, the running negatives-below from
    ``prefix_count_below(keys=[group])`` (deterministic count-equalized
    buckets; no per-group single-partition sort), DECIMAL(38,0) 2U
    accumulation, one double division rounded to 6.

    NULL group/score/label rows are EXCLUDED (the auc_exact contract
    plus the helper's key contract); single-class groups emit NULL auc,
    fail-soft. Output: one row per group (group_col, n_pos, n_neg,
    auc). The low-cardinality-keys broadcast contract of
    ``prefix_count_below`` applies: for thousands of groups use a
    plain per-group window instead — the groups themselves then supply
    the parallelism.
    """
    lab = F.col(label_col).cast("int")
    # filter before projecting (the alias-shadowing class)
    base = scored.where(
        F.col(group_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(score_col).alias("s"),
        lab.alias("y"),
    )
    return _auc_core(base, ["g"], coarse_buckets).withColumnRenamed("g", group_col)


def calibration_curve(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
    coarse_buckets: int = 1024,
    group_col: str | None = None,
) -> DataFrame:
    """Reliability / calibration curve of a binary scorer: percentile-
    binned observed-positive rates — next to AUC, the evaluation a
    quality classifier actually needs before its scores gate a corpus
    ("when the model says 0.8, is it right 80% of the time?").

    Bins are PERCENTILE bins with tie classes kept whole: every row
    with the same score lands in the same bin via
    bin = (rows with strictly smaller score) * n_bins div n_total —
    integer arithmetic over exact counts, so the binning is engine-
    deterministic with no per-row rank (a row_number percentile would
    split ties by physical order). The strictly-below counts ride
    ``prefix_count_below`` over the value-domain-COMPRESSED per-score
    table — no corpus-sized single-partition window; the per-bin stats
    are integer sums, one division over identical integers (exact in
    any engine), and min/max of scores both engines computed
    identically (order-independent aggregates).

    NULL score/label rows are EXCLUDED (the auc_exact contract).
    Output: one row per non-empty bin (bin, n_docs, n_pos, pos_rate,
    lo_score, hi_score) — trailing bins can be empty when one tie
    class spans several percentile widths.

    ``group_col`` produces one independent curve PER GROUP (percentile
    bins computed within each group — the per-source/per-language
    reliability audit next to auc_by_group), prepending the group to
    the output. The low-cardinality-keys broadcast contract of
    ``prefix_count_below`` then applies.
    """
    keys = ["g"] if group_col else []
    sel = [F.col(score_col).alias("s"), F.col(label_col).cast("int").alias("y")]
    cond = F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    if group_col:
        sel.insert(0, F.col(group_col).alias("g"))
        cond = cond & F.col(group_col).isNotNull()
    # filter before projecting (the alias-shadowing class)
    base = scored.where(cond).select(*sel)
    # localCheckpoint (lazy): the compressed per-score table feeds the
    # prefix core's branches PLUS the totals and the bin join-back —
    # without it every branch re-derives `scored`'s whole upstream (the
    # registered gate's hashed classifier re-tokenized the corpus three
    # times: measured 8.2 -> 5.8 s at sf0.1). Values cannot move either
    # way (the bucket cuts are deterministic aggregates, unlike sketch
    # cuts); the trade-off is AVAILABILITY: localCheckpoint
    # truncates lineage, so a lost executor block fails the job for a
    # retry instead of recomputing — fail-stop, never wrong data, same
    # policy as _auc_core/spearman_by_group.
    per = (
        base.groupBy(*keys, "s")
        .agg(F.count("*").alias("cnt"), F.sum("y").cast("long").alias("pos"))
        .localCheckpoint(eager=False)
    )
    below = prefix_count_below(
        per, keys, "s", "cnt", coarse_buckets=coarse_buckets, out_col="below"
    )
    tot = (
        per.groupBy(*keys).agg(F.sum("cnt").alias("_n"))
        if keys
        else per.agg(F.sum("cnt").alias("_n"))
    )
    binned = (
        below.join(F.broadcast(tot), keys)
        if keys
        else below.crossJoin(F.broadcast(tot))
    ).select(
        *keys,
        "s",
        "cnt",
        "pos",
        F.expr(f"(below * {n_bins}) div _n").alias("bin"),
    )
    out_head = [F.col("g").alias(group_col)] if group_col else []
    return (
        binned.groupBy(*keys, "bin")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.sum("pos").alias("n_pos"),
            F.round(F.min("s"), 6).alias("lo_score"),
            F.round(F.max("s"), 6).alias("hi_score"),
        )
        .select(
            *out_head,
            "bin",
            "n_docs",
            "n_pos",
            # exact integer half-up
            exact_ratio_round(F.col("n_pos"), F.col("n_docs")).alias("pos_rate"),
            "lo_score",
            "hi_score",
        )
    )


def fixed_bin_calibration(
    scored: DataFrame,
    *,
    score_col: str = "score_int",
    label_col: str = "label",
    lo: int = 0,
    bin_width: int = 1,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability counts over FIXED integer score thresholds — the
    streaming-friendly sibling of ``calibration_curve``. Percentile
    bins need the whole score distribution (the strictly-below prefix),
    so they cannot be maintained incrementally; a production monitor
    watching a classifier *while the corpus streams in* bins on fixed
    thresholds instead: bin = clamp((score − lo) div bin_width,
    0, n_bins−1) — all-integer, so the binning is engine- and
    arrival-order-deterministic, and the per-bin (n, positives) counts
    are plain commutative sums.

    The same expression tree runs on a BATCH frame and on a STREAMING
    frame: applied to ``readStream`` input it is a keyed running
    aggregate (outputMode('update'), no watermark needed — bins are a
    bounded key domain by construction, n_bins keys forever, so state
    cannot grow), and its end-state equals this batch twin on the same
    rows (pytest-pinned, the ttl_expiry_counts pattern).

    ``score_col`` must be an exact INTEGER score (e.g. the hashed
    classifier's logit_milli div n_feats — millilogits per feature);
    deriving bins from a float score would hang the bin edge on a
    last-ulp libm difference across engines. NULL score/label rows are
    excluded (the auc_exact contract). ``pos_rate`` is one division
    over identical exact integers. Output: (bin, n_docs, n_pos,
    pos_rate, lo_score, hi_score) per non-empty bin; lo/hi are the
    exact integer score bounds seen inside the bin (clamped outliers
    land in the edge bins and stretch their bounds — visible, not
    silently dropped).
    """
    if not (isinstance(n_bins, int) and n_bins >= 1):
        raise ValueError(f"fixed_bin_calibration: n_bins must be >= 1, got {n_bins!r}")
    if not (isinstance(bin_width, int) and bin_width >= 1):
        raise ValueError(
            f"fixed_bin_calibration: bin_width must be a positive int, got {bin_width!r}"
        )
    if not isinstance(lo, int):
        raise ValueError(f"fixed_bin_calibration: lo must be an int, got {lo!r}")
    s = F.col(score_col)
    # user column names go through F.col (never string-interpolated into
    # expr — a name needing backticks would break the parse); only the
    # validated int literals and the internal `_s` alias reach F.expr,
    # which is needed solely for the integral `div` (trunc-toward-zero
    # on BOTH engines; no Column-level operator exists for it)
    pre = scored.where(s.isNotNull() & F.col(label_col).isNotNull()).select(
        s.cast("long").alias("_s"), F.col(label_col).cast("int").alias("y")
    )
    raw = F.expr(f"(_s - {int(lo)}) div {int(bin_width)}")
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(n_bins - 1))
    return (
        pre.select(
            bin_.cast("long").alias("bin"),
            F.col("_s").alias("s"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.min("s").alias("lo_score"),
            F.max("s").alias("hi_score"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            # exact integer half-up
            exact_ratio_round(F.col("n_pos"), F.col("n_docs")).alias("pos_rate"),
            "lo_score",
            "hi_score",
        )
    )


def banded_pair_deltas(
    df: DataFrame,
    group_col: str,
    *,
    x_col: str,
    y_col: str,
    id_col: str,
    band: int = 12,
) -> DataFrame:
    """The shared banded-pair core: one row per (sample, sample+k) pair
    with k <= ``band`` in the tie-free (x, id) order per group —
    (g, rn, k, dx, dy) where rn is the origin row's 1-based position in
    that order and (rn, k) is a deterministic pair identity for
    order-dependent consumers (banded Theil-Sen's median tie-break),
    dx/dy the x/y deltas from origin to successor. One group-
    partitioned window feeding a band-wide in-row lead() expansion —
    never a pair join; work is O(n·band) per group and the groups
    supply the parallelism.

    Rows with a NULL group, x, y, or id are EXCLUDED actively, not by
    docstring (the prefix_count_below discipline): a NULL x would sort
    NULLS FIRST in Spark but NULLS LAST in SQL oracles and change the
    banded pair SET, and a NULL y would pass the dx-derived pair filter
    yet match no comparison, silently inflating pair counts."""
    for c in (group_col, x_col, y_col, id_col):
        df = df.where(F.col(c).isNotNull())
    w = Window.partitionBy(group_col).orderBy(x_col, id_col)
    cols = [
        F.col(group_col).alias("g"),
        F.row_number().over(w).alias("rn"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    ]
    for k in range(1, band + 1):
        cols.append(F.lead(x_col, k).over(w).alias(f"x{k}"))
        cols.append(F.lead(y_col, k).over(w).alias(f"y{k}"))
    led = df.select(*cols)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                (F.col(f"x{k}") - F.col("x")).alias("dx"),
                (F.col(f"y{k}") - F.col("y")).alias("dy"),
            )
            for k in range(1, band + 1)
        ]
    )
    return (
        led.select("g", "rn", F.explode(pair_structs).alias("p"))
        .where(F.col("p.dx").isNotNull())
        .select("g", "rn", "p.k", "p.dx", "p.dy")
    )


def banded_kendall_tau(
    df: DataFrame,
    group_col: str,
    *,
    x_col: str,
    y_col: str,
    id_col: str,
    band: int = 12,
) -> DataFrame:
    """Banded Kendall tau-b per group: concordance of (x, y) over pairs
    limited to each sample and its next ``band`` successors in the
    tie-free (x, id) order — the scale-honest variant of the same
    O(n²)-pairs problem banded Theil-Sen solves (full Kendall is all
    pairs; the band keeps it O(n·band) per group while retaining rank-
    correlation semantics over the local ordering). Completes the
    rank-stats tier next to spearman_by_group: Spearman correlates
    global average ranks, tau-b counts pairwise order agreement with
    the standard tie correction.

    Over the banded pair set P: C/D = pairs where y strictly agrees/
    disagrees with the (strict) x order, n1/n2 = pairs tied on x/on y,
    n0 = |P|; tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)). All counts
    are exact integers from one lead() expansion sharing ONE per-group
    sort (x and y must be exact integer columns for cross-engine
    parity); sqrt is IEEE correctly-rounded over an exact integer
    product and the one division runs over identical operands, so
    tau_b is engine-exact. Groups where every banded pair ties on x or
    on y emit NULL tau_b, fail-soft.

    NULL group/x/y/id rows are EXCLUDED by the shared
    ``banded_pair_deltas`` core (a NULL y would otherwise count in
    n_pairs yet match no comparison, biasing tau_b toward 0; a NULL x
    would change the pair set engine-dependently).
    Output: (group_col, n_pairs, concordant, discordant, tau_b).
    Scale: one group-partitioned window (the groups supply the
    parallelism), a band-wide in-row expansion, one keyed aggregate —
    never a pair join.
    """
    pairs = banded_pair_deltas(
        df, group_col, x_col=x_col, y_col=y_col, id_col=id_col, band=band
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    dx, dy = F.col("dx"), F.col("dy")
    agg = pairs.groupBy("g").agg(
        F.count("*").cast("long").alias("n0"),
        cnt((dx > 0) & (dy > 0)).alias("c"),
        cnt((dx > 0) & (dy < 0)).alias("d"),
        cnt(dx == 0).alias("n1"),
        cnt(dy == 0).alias("n2"),
    )
    denom_sq = (F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n2"))
    return agg.select(
        F.col("g").alias(group_col),
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(
            F.when(
                denom_sq > 0,
                (F.col("c") - F.col("d")) / F.sqrt(denom_sq.cast("double")),
            ),
            6,
        ).alias("tau_b"),
    )


def quantiles_by_group(
    df: DataFrame,
    group_col: str,
    val_col: str,
    *,
    coarse_buckets: int = 1024,
    refine_narrow_domains: bool = False,
) -> DataFrame:
    """Exact type-1 (lower) quartiles per group WITHOUT a per-group
    value buffer: Spark's built-in exact ``percentile`` aggregate holds
    every group value in its agg buffer — a memory cliff when one group
    spans a large corpus share. This computes the exact lower quartile
    values from per-(group, value) COUNTS plus the shared
    ``prefix_count_below`` core instead: memory is bounded by the
    compressed value domain, never the group size, and there is no
    per-group single-partition sort.

    Semantics: k_m = ceil(m·n/4) for m in (1, 2, 3) — the classic
    type-1 quantile rank, all-integer ((m·n + 3) div 4), so the
    selected values are exact inputs (no interpolation, engine-exact
    for any value type). The quartile value is the unique compressed
    row where below < k_m <= below + cnt. NULL group/value rows are
    excluded (the core's contract). The low-cardinality-keys broadcast
    contract of ``prefix_count_below`` applies — for thousands of
    groups use a plain per-group window instead.

    Output: (group_col, n, p25, p50, p75) — n BIGINT, quartiles in the
    input value's type.

    ``refine_narrow_domains`` passes through to ``prefix_count_below``:
    arm it when a group's value domain can concentrate inside one
    log-space cell (a tight bulk next to a range-stretching outlier) —
    the core then re-grids the populous cells so no single bucket
    inherits the whole bulk; the keyed-domain ceiling shrinks to
    ``max_key_groups // 4`` per the core's contract.
    """
    # filter before projecting (the alias-shadowing class)
    base = df.where(
        F.col(group_col).isNotNull() & F.col(val_col).isNotNull()
    ).select(F.col(group_col).alias("g"), F.col(val_col).alias("v"))
    # lazy localCheckpoint for the same reason as _auc_core /
    # calibration_curve: the compressed table has multiple consumers
    # (prefix branches, totals, quartile join-back) and must not
    # re-derive its upstream once per branch. Same availability
    # trade-off as there: lineage truncation makes executor block loss
    # fail-stop (job retry), never wrong data.
    per = (
        base.groupBy("g", "v")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    below = prefix_count_below(
        per,
        ["g"],
        "v",
        "cnt",
        coarse_buckets=coarse_buckets,
        out_col="below",
        refine_narrow_domains=refine_narrow_domains,
    )
    totals = per.groupBy("g").agg(F.sum("cnt").alias("n"))
    joined = below.join(F.broadcast(totals), "g")
    qcols = []
    for m, name in ((1, "p25"), (2, "p50"), (3, "p75")):
        k = F.expr(f"({m} * n + 3) div 4")
        hit = (F.col("below") < k) & (k <= F.col("below") + F.col("cnt"))
        qcols.append(F.max(F.when(hit, F.col("v"))).alias(name))
    return (
        joined.groupBy("g")
        .agg(F.max("n").cast("long").alias("n"), *qcols)
        .select(F.col("g").alias(group_col), "n", "p25", "p50", "p75")
    )


def rank_select_by_group(
    df: DataFrame,
    group_col: str,
    val_col: str,
    rank_exprs: dict[str, str],
) -> DataFrame:
    """Exact value at a FIXED set of target ranks per group — the
    two-scan cell-refinement design: when a caller needs a handful of
    specific order statistics (a median, a quantile bracket) rather
    than running counts at EVERY value, paying ``prefix_count_below``'s
    corpus-wide compressed shuffle is waste. This selects each target
    value with NO corpus shuffle at all:

    1. **Scan 1** aggregates per-(group, cell) counts on a FIXED
       65536-cell grid, equi-width in magnitude-log space
       u = sign(v)·log1p(|v|) over the full double range — deterministic
       per value (no data-dependent cuts, so one pass suffices), and
       map-side combine collapses the corpus to <= |groups| x 65536
       rows before any exchange. Cumulative cell counts (a window over
       that BOUNDED table) locate, for each target rank k, the single
       candidate cell where below < k <= below + cnt.
    2. **Scan 2** re-reads only rows in candidate cells (a broadcast
       semi-join on (group, cell) — candidates are <= |groups| x
       |targets| cells), aggregates exact per-(group, cell, value)
       counts there, and picks the value whose within-cell running
       count straddles k − below.

    Memory is bounded by a cell's population of DISTINCT values — a
    fixed cell spans a ~2.2% multiplicative value range (1420/65534 in
    log space), so integer domains hold ~0.022·|v| distinct values per
    cell; the residual degenerate is a value domain narrower than one
    cell (everything lands in one cell and scan 2 degenerates to a
    per-(group, value) aggregate of the whole corpus — the
    ``prefix_count_below`` narrow-domain caveat one level up).
    Non-finite values get explicit edge cells in Spark's double order
    (-Inf → cell 0, +Inf/NaN → top cell) so they cannot poison the
    grid; NULL groups/values are excluded (the core's contract).

    ``rank_exprs`` maps output column name → a SQL expression over the
    per-group total ``n`` yielding the 1-based target rank, e.g.
    ``{"p50_lo": "(n + 1) div 2"}``. Ranks outside [1, n] yield NULL
    for that column. Ties are whole: the selected value is the exact
    input value whose [below, below+cnt) rank span covers k (type-1).

    Output: one row per group — (group_col, n, *rank_exprs-keys), the
    selected values in the input value type.
    """
    if not rank_exprs:
        raise ValueError("rank_select_by_group: no target ranks given")
    # every name comparison is CASEFOLDED: Spark resolves column names
    # case-insensitively by default, so 'N' vs 'n' is the same
    # AMBIGUOUS_REFERENCE the guards exist to prevent
    reserved = {"g", "v", "n", "_w", "_cell", "_cnt", "_below", "_k", "_name"}
    lowered_names = {name.lower() for name in rank_exprs}
    clash = reserved & lowered_names
    if clash:
        raise ValueError(
            f"rank_select_by_group: rank names {sorted(clash)} collide with "
            "internal/output columns (case-insensitively); rename them"
        )
    if len(lowered_names) != len(rank_exprs):
        raise ValueError(
            "rank_select_by_group: rank names collide with each other "
            "case-insensitively; rename them"
        )
    # output columns are (group_col, n, *rank names) — a group column
    # named 'n' or shadowed by a rank name would emit duplicate names
    # and every downstream reference throws AMBIGUOUS_REFERENCE
    # (prefix_count_below validates the same class)
    if group_col.lower() == "n" or group_col.lower() in lowered_names:
        raise ValueError(
            f"rank_select_by_group: group_col {group_col!r} collides with an "
            "output column ('n' or a rank name, case-insensitively); alias "
            "it first"
        )
    # the cell grid orders by the DOUBLE image of v; for non-numeric
    # types the cast silently NULLs (every such row would land in cell
    # 1 via greatest() while the within-cell sort uses the raw type's
    # own order — plausible wrong answers). Fail fast instead.
    dtypes = {c.lower(): t for c, t in df.dtypes}
    if val_col.lower() not in dtypes:
        raise ValueError(
            f"rank_select_by_group: val_col {val_col!r} is not a column of "
            f"the input (columns: {df.columns})"
        )
    vtype = dtypes[val_col.lower()]
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if not (vtype in numeric or vtype.startswith("decimal")):
        raise ValueError(
            f"rank_select_by_group: val_col {val_col!r} has non-numeric type "
            f"{vtype}; the log-cell grid is defined for numeric values only"
        )
    # the NULL exclusions apply BEFORE the projection: a .where() AFTER
    # .select() resolves original column names against the Project's
    # OWN aliases, so an input column literally named 'g' or 'v' would
    # shadow the filter and NULL rows would leak into the ranks
    base = df.where(
        F.col(group_col).isNotNull() & F.col(val_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        F.col(val_col).alias("v"),
        F.lit(1).cast("long").alias("_w"),
    )
    vd = F.col("v").cast("double")
    u = F.signum(vd) * F.log1p(F.abs(vd))
    inf = float("inf")
    # fixed grid: u of any finite double lies in (-709.79, 709.79);
    # interior cells 1..65534, edge cells for -Inf / (+Inf, NaN)
    span = 1420.0 / 65534.0
    interior = F.least(
        F.lit(65534),
        F.greatest(F.lit(1), F.floor((u + F.lit(710.0)) / F.lit(span)) + 1),
    )
    cell = (
        F.when(F.isnan(vd) | (vd >= inf), F.lit(65535))
        .when(vd <= -inf, F.lit(0))
        .otherwise(interior)
        .cast("int")
    )
    with_cell = base.withColumn("_cell", cell)
    # scan 1: bounded per-(g, cell) histogram; two consumers (cum,
    # totals) — lazy localCheckpoint so the corpus aggregate runs once
    cells = (
        with_cell.groupBy("g", "_cell")
        .agg(F.sum("_w").cast("long").alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    win = (
        Window.partitionBy("g")
        .orderBy("_cell")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.withColumn(
        "_below", F.coalesce(F.sum("_cnt").over(win), F.lit(0))
    )
    totals = cells.groupBy("g").agg(F.sum("_cnt").cast("long").alias("n"))
    ranks = totals.select(
        "g",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("_name"),
                        F.expr(expr).cast("long").alias("_k"),
                    )
                    for name, expr in rank_exprs.items()
                ]
            )
        ).alias("_t"),
    ).select("g", "n", F.col("_t._name").alias("_name"), F.col("_t._k").alias("_k"))
    cand = (
        cum.join(F.broadcast(ranks), "g")
        .where(
            (F.col("_below") < F.col("_k"))
            & (F.col("_k") <= F.col("_below") + F.col("_cnt"))
        )
        .select("g", "_cell", "_name", "_k", "_below")
    )
    # scan 2: exact per-value counts inside candidate cells only
    perv = (
        with_cell.join(
            F.broadcast(cand.select("g", "_cell").distinct()), ["g", "_cell"]
        )
        .groupBy("g", "_cell", "v")
        .agg(F.sum("_w").cast("long").alias("_cnt"))
    )
    wv = (
        Window.partitionBy("g", "_cell")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    perv_below = perv.withColumn(
        "_vbelow", F.coalesce(F.sum("_cnt").over(wv), F.lit(0))
    )
    hit = (
        (F.col("_below") + F.col("_vbelow") < F.col("_k"))
        & (F.col("_k") <= F.col("_below") + F.col("_vbelow") + F.col("_cnt"))
    )
    picked = (
        perv_below.join(F.broadcast(cand), ["g", "_cell"])
        .where(hit)
        .groupBy("g")
        .agg(
            *[
                F.max(F.when(F.col("_name") == name, F.col("v"))).alias(name)
                for name in rank_exprs
            ]
        )
    )
    # both sides are <= |groups| rows; without the hint Spark picks a
    # sort-merge join for the outer join (plan-pinned broadcast)
    return (
        totals.join(F.broadcast(picked), "g", "left")
        .select(F.col("g").alias(group_col), "n", *rank_exprs)
    )


def _unique_judgments_guard(
    lab, gkeys: list[str], id_col: str, *, op_name: str, val_col: str,
    inflates: str,
):
    """Opt-in in-plan duplicate-judgment check shared by ndcg_at_k /
    map_at_k / reciprocal_rank (the same contract three ways — one
    guard so the raise semantics cannot drift, the _int_domain_guard
    stance): wraps ``val_col`` in raise_error when more than one
    judgment row exists for a (group, id). Costs a keyed count-window
    over the judgment table, which is why callers arm it explicitly."""
    dupw = Window.partitionBy(*gkeys, "_id")
    return lab.withColumn(
        val_col,
        F.when(
            F.count("*").over(dupw) > 1,
            F.raise_error(
                F.lit(
                    f"{op_name}: duplicate judgment rows for one "
                    f"({', '.join([*gkeys, id_col])}) — duplicates "
                    f"multiply ranked rows via the left join and inflate "
                    f"{inflates}; deduplicate the relevance table first"
                )
            ),
        ).otherwise(F.col(val_col)),
    )


def ndcg_at_k(
    ranked: DataFrame,
    rels: DataFrame,
    *,
    k: int = 10,
    group_col: str | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    check_unique_judgments: bool = False,
) -> DataFrame:
    """Exact NDCG@k of a ranked list against graded relevance labels —
    the canonical ranked-retrieval evaluation, completing the tier next
    to AUC (binary, corpus-wide) and calibration (probability quality):
    BM25/ANN/RRF rankings get judged by the metric IR actually reports.

    DCG@k = sum over the TOP-k ranked items of (2^rel - 1)/log2(rank+1)
    (the standard burgess-gain form); IDCG@k is the same sum over the
    k best labels in the group (ties broken immaterially — gains are
    rank-position products of the sorted label multiset). Items missing
    a label count as rel = 0; labels without a ranked item contribute
    only to IDCG (the classic pooled-judgment semantics).

    Inputs are BOUNDED per group (a ranked list is already top-N —
    real systems never rank the corpus), so every step is a small
    join + window per group: this is an evaluation operator, not a
    corpus operator. Gains 2^rel are exact integers (rel is a small
    int grade); each term divides an exact integer by log(rank+1) —
    identical operands in any engine — and the <= k-term sum is
    rounded to 6 (association-order residue ~1e-15 against a 1e-6
    step, the accepted tiny-sum class). Single-partition windows here
    are FINE: the frames are top-N lists, not corpora.

    Output: one row per group (group_col?, n_ranked, n_judged, dcg,
    idcg, ndcg) with ndcg NULL when IDCG = 0 (no positive labels),
    fail-soft.

    Contracts, enforced vs documented: ``rank >= 1`` is ENFORCED
    in-plan — a rank of 0 would make the discount log2(1) = 0 and dcg
    silently Infinity, so the checked rank raises per-row at execution
    (zero cost on clean data, the relative_percentile_filter pattern).
    Judgments must be UNIQUE per (group, id) — duplicates multiply
    ranked rows through the left join, inflating n_ranked/DCG/IDCG.
    That check needs a keyed count-window over the whole judgment
    table (an extra shuffle a corpus-sized label table would pay every
    call), so it is opt-in: ``check_unique_judgments=True`` arms the
    same raise_error guard; callers that mint judgments from a unique
    key (the registered gate joins on the embeddings PK) leave it off.
    """
    gkeys = [group_col] if group_col else []
    # NULL-group rows are EXCLUDED like every grouped operator here —
    # groupBy would aggregate them while the (group, id) equi-joins
    # never match NULL keys, yielding two disjoint bogus NULL rows
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    checked_rank = F.when(
        F.col(rank_col) < 1,
        F.raise_error(
            F.lit(
                f"ndcg_at_k: {rank_col!r} < 1 — ranks are 1-based; a rank "
                "of 0 makes the log2(rank+1) discount zero and DCG infinite"
            )
        ),
    ).otherwise(F.col(rank_col))
    # filter before projecting (the alias-shadowing class);
    # the rank guard also now computes only on contract-included rows
    r = ranked.where((F.col(rank_col) <= k) & gfilter).select(
        *gkeys, F.col(id_col).alias("_id"), checked_rank.alias("_rk")
    )
    lab = rels.where(F.col(rel_col).isNotNull() & gfilter).select(
        *gkeys, F.col(id_col).alias("_id"), F.col(rel_col).cast("int").alias("_rel")
    )
    if check_unique_judgments:
        lab = _unique_judgments_guard(
            lab, gkeys, id_col, op_name="ndcg_at_k", val_col="_rel",
            inflates="n_ranked/DCG/IDCG",
        )
    gain = F.pow(F.lit(2.0), F.col("_rel")) - 1
    disc = F.log(F.col("_rk") + 1) / F.log(F.lit(2.0))
    dcg = (
        r.join(lab, [*gkeys, "_id"], "left")
        .select(*gkeys, F.coalesce(F.col("_rel"), F.lit(0)).alias("_rel"), "_rk")
        .groupBy(*gkeys)
        .agg(
            F.count("*").cast("long").alias("n_ranked"),
            F.sum(gain / disc).alias("_dcg"),
        )
    )
    w = (
        Window.partitionBy(*gkeys).orderBy(F.desc("_rel"), "_id")
        if gkeys
        else Window.orderBy(F.desc("_rel"), "_id")
    )
    ideal = (
        lab.select(*gkeys, "_rel", "_id", F.row_number().over(w).alias("_rk"))
        .where(F.col("_rk") <= k)
        .groupBy(*gkeys)
        .agg(
            F.count("*").cast("long").alias("n_judged"),
            F.sum(gain / disc).alias("_idcg"),
        )
    )
    joined = (
        dcg.join(ideal, gkeys, "full_outer") if gkeys else dcg.crossJoin(ideal)
    )
    # a judged group with NO ranked items (full-outer right side only)
    # has a NULL _dcg but a positive _idcg: it scores ndcg = 0.0 — a
    # system returning nothing for a judged query is WRONG, not
    # unjudgeable; NULL stays reserved for IDCG = 0
    dcg0 = F.coalesce(F.col("_dcg"), F.lit(0.0))
    return joined.select(
        *gkeys,
        F.coalesce(F.col("n_ranked"), F.lit(0)).alias("n_ranked"),
        F.coalesce(F.col("n_judged"), F.lit(0)).alias("n_judged"),
        F.round(dcg0, 6).alias("dcg"),
        F.round(F.coalesce(F.col("_idcg"), F.lit(0.0)), 6).alias("idcg"),
        F.round(
            F.when(F.col("_idcg") > 0, dcg0 / F.col("_idcg")), 6
        ).alias("ndcg"),
    )


def map_at_k(
    ranked: DataFrame,
    rels: DataFrame,
    *,
    k: int = 10,
    group_col: str | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    check_unique_judgments: bool = False,
) -> DataFrame:
    """Binary set-retrieval metrics at cutoff k — Precision@k, Recall@k
    and Average Precision (the per-group term of MAP) — next to
    ndcg_at_k's graded-gain view; together they are the two numbers IR
    evaluations actually report (TREC-style: AP averaged over queries =
    MAP). Relevance is BINARY here: any ``rel_col > 0`` judgment counts
    as relevant (graded labels collapse, the standard MAP convention).

    Definitions (per group): hits = |top-k ∩ relevant|;
    ``p_at_k`` = hits / k (fixed-k denominator — an engine returning
    fewer than k items is penalized, not renormalized);
    ``r_at_k`` = hits / n_rel over ALL relevant judgments in the group
    (not just top-k); ``ap`` = (Σ_{i<=k, item_i relevant} hits_i / i)
    / min(n_rel, k) — the cutoff-AP normalizer that keeps AP = 1
    reachable when a group has more relevant items than k. Groups with
    n_rel = 0 get NULL r_at_k/ap (nothing to retrieve is unjudgeable,
    mirroring ndcg's NULL-on-IDCG=0); judged groups with NO ranked
    rows score 0.0 (a system returning nothing for a judged query is
    WRONG, not unjudgeable — same stance as ndcg_at_k).

    Judgments must be UNIQUE per (group, id) — duplicates multiply
    ranked rows through the left join (the ndcg_at_k contract);
    ``check_unique_judgments=True`` arms the shared in-plan guard.

    Engine parity: hits/k and hits/n_rel are single divisions over
    identical exact integers (bit-equal cross-engine); the AP
    sum is <= k terms of exact-integer ratios rounded at 6 — the same
    accepted tiny-sum class as the NDCG discount sum. ``rank >= 1`` is
    enforced in-plan with the same raise_error guard as ndcg_at_k
    (rank semantics, not discount safety: a 0-rank would silently
    shift every cumulative-hit prefix).

    Scale (100 TB): ranked lists are top-N per group by construction —
    the per-group cumulative-hit window runs over <= k rows per frame,
    never a corpus partition; n_rel is one keyed aggregate over the
    judgment table; the join is a (group, id) equi-join. Nothing here
    touches the corpus itself.
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    checked_rank = F.when(
        F.col(rank_col) < 1,
        F.raise_error(
            F.lit(
                f"map_at_k: {rank_col!r} < 1 — ranks are 1-based; a rank of "
                "0 would shift every cumulative-hit prefix in the AP sum"
            )
        ),
    ).otherwise(F.col(rank_col))
    # filter before projecting (the alias-shadowing class);
    # the rank guard also now computes only on contract-included rows
    r = ranked.where((F.col(rank_col) <= k) & gfilter).select(
        *gkeys, F.col(id_col).alias("_id"), checked_rank.alias("_rk")
    )
    lab = rels.where(F.col(rel_col).isNotNull() & gfilter).select(
        *gkeys,
        F.col(id_col).alias("_id"),
        (F.col(rel_col) > 0).cast("int").alias("_hit"),
    )
    if check_unique_judgments:
        lab = _unique_judgments_guard(
            lab, gkeys, id_col, op_name="map_at_k", val_col="_hit",
            inflates="hits/n_ranked/n_rel/AP",
        )
    n_rel = (
        lab.where(F.col("_hit") == 1)
        .groupBy(*gkeys)
        .agg(F.count("*").cast("long").alias("n_rel"))
    )
    cumw = (
        Window.partitionBy(*gkeys) if gkeys else Window.partitionBy()
    ).orderBy("_rk").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hit = F.coalesce(F.col("_hit"), F.lit(0))
    scored = (
        r.join(lab, [*gkeys, "_id"], "left")
        .select(*gkeys, "_rk", hit.alias("_h"))
        .withColumn("_cum", F.sum("_h").over(cumw))
        .groupBy(*gkeys)
        .agg(
            F.count("*").cast("long").alias("n_ranked"),
            F.sum("_h").cast("long").alias("hits"),
            F.sum(
                F.col("_h") * F.col("_cum").cast("double") / F.col("_rk")
            ).alias("_ap_num"),
        )
    )
    joined = (
        scored.join(n_rel, gkeys, "full_outer")
        if gkeys
        else scored.crossJoin(n_rel)
    )
    hits0 = F.coalesce(F.col("hits"), F.lit(0))
    apnum0 = F.coalesce(F.col("_ap_num"), F.lit(0.0))
    norm = F.least(F.col("n_rel"), F.lit(k).cast("long"))
    return joined.select(
        *gkeys,
        F.coalesce(F.col("n_ranked"), F.lit(0)).alias("n_ranked"),
        F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
        hits0.alias("hits"),
        F.round(hits0.cast("double") / F.lit(float(k)), 6).alias("p_at_k"),
        F.round(
            F.when(
                F.col("n_rel") > 0, hits0.cast("double") / F.col("n_rel")
            ),
            6,
        ).alias("r_at_k"),
        F.round(F.when(F.col("n_rel") > 0, apnum0 / norm), 6).alias("ap"),
    )


def cohen_kappa(
    df: DataFrame,
    *,
    rater_a_col: str,
    rater_b_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Cohen's kappa between two binary raters — chance-corrected
    agreement, the standard number for "do these two labelers /
    classifiers / annotation passes actually agree" in dataset
    curation (e.g. a learned quality gate vs a rule heuristic, or two
    annotation vendors). Completes the eval tier's agreement corner
    next to AUC (ranking), calibration (probability), and the rank
    correlations.

    Raters are read as booleans: any non-NULL truthy/nonzero value is
    a positive vote; rows where EITHER rater is NULL are dropped (an
    abstention is not a vote — the pairwise-deletion convention).

    All-integer core: with per-group n, agree = |a = b|, pos_a, pos_b,
        kappa = (n·agree − pe_num) / (n² − pe_num),
        pe_num = pos_a·pos_b + (n−pos_a)·(n−pos_b)
    — the closed form of (po − pe)/(1 − pe) with both sides multiplied
    by n². Products are computed in DECIMAL(≤38,0) so the identity is
    EXACT far past the 2^63 row counts where BIGINT n² would overflow
    (n up to 1e18); the single final division casts both exact decimal
    operands to double (round-to-nearest of identical integers —
    engine-equal) and rounds at 6. kappa is NULL when the
    denominator is 0 — both raters constant on the SAME side (pe = 1,
    chance agreement is certain and the statistic is undefined); one
    constant rater against a mixed one yields an exact 0 (den =
    n·neg_b, num = 0), the no-better-than-chance reading.

    Scale (100 TB): ONE keyed aggregate over exact integer counts per
    group — map-side partial, no window, no join. The decimal algebra
    is per-group scalar arithmetic on the aggregate row.
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    a = F.col(rater_a_col).cast("boolean")
    b = F.col(rater_b_col).cast("boolean")
    base = df.where(a.isNotNull() & b.isNotNull() & gfilter).select(
        *gkeys,
        a.cast("int").alias("_a"),
        b.cast("int").alias("_b"),
    )
    agg = base.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("_a") == F.col("_b")).cast("long")).alias("agree"),
        F.sum("_a").cast("long").alias("pos_a"),
        F.sum("_b").cast("long").alias("pos_b"),
    )
    d = lambda c: c.cast("decimal(18,0)")  # noqa: E731 — local shorthand
    pe_num = d(F.col("pos_a")) * d(F.col("pos_b")) + d(
        F.col("n") - F.col("pos_a")
    ) * d(F.col("n") - F.col("pos_b"))
    num = d(F.col("n")) * d(F.col("agree")) - pe_num
    den = d(F.col("n")) * d(F.col("n")) - pe_num
    return agg.select(
        *gkeys,
        "n",
        "agree",
        "pos_a",
        "pos_b",
        F.round(
            F.when(den != 0, num.cast("double") / den.cast("double")), 6
        ).alias("kappa"),
    )


def pr_curve(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 20,
    coarse_buckets: int = 1024,
    group_col: str | None = None,
) -> DataFrame:
    """Precision-recall sweep of a binary scorer: one (threshold,
    precision, recall) point per percentile bin — the operating-curve
    view that closes the eval tier (AUC summarizes ranking in one
    number; calibration audits probabilities; THIS answers "which
    cutoff do I gate the corpus at, and what does it cost in
    precision/recall?" — the decision a 100 TB curation run actually
    makes).

    Rides ``calibration_curve``'s percentile-bin machinery verbatim
    (tie classes whole, compressed score domain, the prefix core), then
    takes SUFFIX sums over the <= n_bins-per-group bin table: a point
    at bin b reads "keep every document scoring in bin b or higher"
    (threshold = the bin's lo_score), with pred_pos/tp exact suffix-
    summed integers, precision = tp/pred_pos and recall = tp/total_pos
    each ONE division over identical exact integers (bit-equal
    cross-engine). recall is NULL when the group has no
    positives at all (nothing to recall — the auc single-class
    stance).

    The suffix-sum window runs over the AGGREGATED bin table —
    <= n_bins rows per group, n_bins a caller constant — so the
    ungrouped form's single-partition window is bounded by
    construction, never corpus-sized (the ndcg "frames are top-N
    lists" argument; at 100 TB the corpus-scale work all happened in
    the calibration binning underneath).

    Output: (group?, bin, threshold, pred_pos, tp, precision, recall),
    one row per non-empty bin, highest-score bin first in `bin` order.
    """
    keys = [group_col] if group_col else []
    cal = calibration_curve(
        scored,
        score_col=score_col,
        label_col=label_col,
        n_bins=n_bins,
        coarse_buckets=coarse_buckets,
        group_col=group_col,
    )
    sufw = (
        (Window.partitionBy(*keys) if keys else Window.partitionBy())
        .orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totw = Window.partitionBy(*keys) if keys else Window.partitionBy()
    return (
        cal.select(
            *keys,
            "bin",
            F.col("lo_score").alias("threshold"),
            F.sum("n_docs").over(sufw).cast("long").alias("pred_pos"),
            F.sum("n_pos").over(sufw).cast("long").alias("tp"),
            F.sum("n_pos").over(totw).cast("long").alias("_all_pos"),
        )
        .select(
            *keys,
            "bin",
            "threshold",
            "pred_pos",
            "tp",
            # exact integer half-up: both are
            # ratios of exact integer counts, the reachable-midpoint class
            exact_ratio_round(F.col("tp"), F.col("pred_pos")).alias("precision"),
            F.when(
                F.col("_all_pos") > 0,
                exact_ratio_round(F.col("tp"), F.col("_all_pos")),
            ).alias("recall"),
        )
    )


def _int_domain_guard(
    col_name: str, *, lo: int | None, hi: int | None, msg: str
) -> F.Column:
    """Checked integer read of ``col_name``: returns the value as a
    long, raising in-plan (raise_error per row — zero cost on clean
    data, the rank-guard pattern) when it falls outside [lo, hi] OR is
    not an integer. The integrality check is the load-bearing half: a
    real-valued column would otherwise ``cast('long')``-truncate INTO
    the valid range (0.73 → 0) and silently distort the statistic the
    range check exists to protect. NULLs pass through (callers filter
    them under their own documented contract). One guard shared by
    brier_score / ece_report / gini_by_group so the comparison
    semantics cannot drift between them."""
    v = F.col(col_name).cast("long")
    bad = F.col(col_name).cast("double") != v.cast("double")
    if lo is not None:
        bad = bad | (v < lo)
    if hi is not None:
        bad = bad | (v > hi)
    return F.when(bad, F.raise_error(F.lit(msg))).otherwise(v)


def mcc(
    df: DataFrame,
    pred_col: str,
    truth_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Matthews correlation coefficient between a binary prediction and
    a binary truth — the single-number confusion-matrix summary that
    stays honest under class imbalance (accuracy and F1 both saturate
    when 99% of a corpus is one class; a quality gate on a mostly-good
    corpus is exactly that regime). Completes the agreement corner next
    to ``cohen_kappa``: kappa reads the two columns as symmetric raters,
    MCC reads them as prediction vs ground truth and is the number
    classifier evaluations report.

    Inputs are read as booleans (non-NULL truthy = positive); rows where
    EITHER side is NULL are dropped (pairwise deletion, the
    ``cohen_kappa`` convention), as are NULL-group rows.

    All-integer core: per group n, tp, pred_pos, truth_pos give
    fp = pred_pos − tp, fn = truth_pos − tp, tn = n − pred_pos −
    truth_pos + tp, and

        mcc = (tp·tn − fp·fn) / (√(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn))

    with the numerator's products in DECIMAL(≤38,0) (exact past the
    counts where BIGINT products overflow). The denominator multiplies
    four IEEE-correctly-rounded sqrts of EXACT integer margins
    left-to-right — the same expression tree on both engines is
    bit-equal (each sqrt and each multiply correctly rounded over
    identical operands) — and the single final division rounds at 6.
    MCC is NULL when any margin is 0 (a constant row or column makes
    the statistic undefined — the kappa NULL stance).

    Scale (100 TB): ONE keyed aggregate over exact integer counts —
    map-side partial, no window, no join.
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    a = F.col(pred_col).cast("boolean")
    b = F.col(truth_col).cast("boolean")
    base = df.where(a.isNotNull() & b.isNotNull() & gfilter).select(
        *gkeys, a.cast("int").alias("_p"), b.cast("int").alias("_t")
    )
    agg = base.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("_p") * F.col("_t")).cast("long").alias("tp"),
        F.sum("_p").cast("long").alias("_pp"),
        F.sum("_t").cast("long").alias("_tq"),
    )
    tp = F.col("tp")
    fp = (F.col("_pp") - tp).alias("fp")
    fn = (F.col("_tq") - tp).alias("fn")
    tn = (F.col("n") - F.col("_pp") - F.col("_tq") + tp).alias("tn")
    cells = agg.select(*gkeys, "n", tp, fp, fn, tn)
    d = lambda c: c.cast("decimal(18,0)")  # noqa: E731 — local shorthand
    num = d(F.col("tp")) * d(F.col("tn")) - d(F.col("fp")) * d(F.col("fn"))
    m1 = F.col("tp") + F.col("fp")
    m2 = F.col("tp") + F.col("fn")
    m3 = F.col("tn") + F.col("fp")
    m4 = F.col("tn") + F.col("fn")
    den = (
        F.sqrt(m1.cast("double"))
        * F.sqrt(m2.cast("double"))
        * F.sqrt(m3.cast("double"))
        * F.sqrt(m4.cast("double"))
    )
    ok = (m1 > 0) & (m2 > 0) & (m3 > 0) & (m4 > 0)
    return cells.select(
        *gkeys,
        "n",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.when(ok, num.cast("double") / den), 6).alias("mcc"),
    )


def brier_score(
    scored: DataFrame,
    *,
    p_col: str = "p_milli",
    label_col: str = "label",
    scale: int = 1000,
    group_col: str | None = None,
) -> DataFrame:
    """Brier score of a QUANTIZED probability against a binary outcome
    — mean squared error of the forecast, the proper scoring rule that
    (unlike AUC) punishes mis-calibration, not just mis-ranking.

    ``p_col`` must be an exact INTEGER milli-probability in
    [0, ``scale``] (e.g. the hard-sigmoid projection of the hashed
    classifier's millilogits) — a float probability would make the
    per-row square engine-divergent, while the integer form keeps the
    whole accumulation exact:

        brier = Σ (p_i − scale·y_i)² / (scale²·N)

    has an exact-integer numerator (each term ≤ scale², summed in
    DECIMAL(38,0)) and ONE final division over exact operands, rounded
    at 6. The [0, scale] domain is ENFORCED in-plan (raise_error per
    row, zero cost on clean data — the rank-guard pattern): a p outside
    the domain is a caller bug that would silently distort the score.
    NULL p/label/group rows are excluded (pairwise deletion).

    Scale (100 TB): one zero-shuffle per-row square + ONE keyed
    aggregate, map-side partial. Output: (group?, n, brier).
    """
    if not (isinstance(scale, int) and scale >= 1):
        raise ValueError(f"brier_score: scale must be a positive int, got {scale!r}")
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    p = F.col(p_col).cast("long")
    y = F.col(label_col).cast("int")
    checked_p = _int_domain_guard(
        p_col,
        lo=0,
        hi=scale,
        msg=(
            f"brier_score: {p_col!r} outside [0, {scale}] or non-integer "
            "— the column must be an integer milli-probability on the "
            "declared scale (quantize a float probability first)"
        ),
    )
    base = scored.where(p.isNotNull() & y.isNotNull() & gfilter).select(
        *gkeys, (checked_p - F.lit(scale) * y).alias("_e")
    )
    # square IN decimal — a BIGINT square of |_e| <= scale overflows
    # int64 past scale ~ 3e9 under ANSI (the auc_exact overflow class);
    # casting the factors first keeps the docstring's exactness claim
    # true for any validated scale
    e_dec = F.col("_e").cast("decimal(19,0)")
    return base.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n"),
        F.round(
            F.sum(e_dec * e_dec).cast("double")
            / (F.lit(float(scale * scale)) * F.count("*")),
            6,
        ).alias("brier"),
    )


def ece_report(
    scored: DataFrame,
    *,
    p_col: str = "p_milli",
    label_col: str = "label",
    scale: int = 1000,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Expected / maximum calibration error of a QUANTIZED probability
    — the one-number summary a calibration_curve eyeballs: bin the
    forecasts, compare each bin's mean forecast with its observed
    positive rate, weight by bin mass (ECE) or take the worst bin
    (MCE).

    ``p_col`` is an exact INTEGER milli-probability in [0, ``scale``]
    (enforced in-plan, the ``brier_score`` guard). Bins are fixed
    equal-width: bin = min(p·n_bins div scale, n_bins−1) — all-integer,
    engine- and order-deterministic.

    The per-bin gap |mean_p − pos_rate| = |scale·pos_b − Σp_b| /
    (scale·n_b): since ECE weights each bin by n_b/N, the n_b CANCELS —

        ece = Σ_b |scale·pos_b − Σp_b| / (scale·N)

    is ONE division over an exact-integer numerator (per-bin absolute
    differences summed in DECIMAL(38,0)). MCE keeps the per-bin
    division (one exact division per bin, ≤ n_bins of them) and takes
    the max of those deterministic doubles. Both round at 6. NULL
    p/label/group rows are excluded.

    Scale (100 TB): one zero-shuffle integer bin projection, ONE keyed
    aggregate to ≤ n_bins rows per group, then a bounded fold — the
    fixed_bin_calibration shape with the report folded on top.
    Output: (group?, n, ece, mce).
    """
    if not (isinstance(scale, int) and scale >= 1):
        raise ValueError(f"ece_report: scale must be a positive int, got {scale!r}")
    if not (isinstance(n_bins, int) and n_bins >= 1):
        raise ValueError(f"ece_report: n_bins must be >= 1, got {n_bins!r}")
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    p = F.col(p_col).cast("long")
    y = F.col(label_col).cast("int")
    checked_p = _int_domain_guard(
        p_col,
        lo=0,
        hi=scale,
        msg=(
            f"ece_report: {p_col!r} outside [0, {scale}] or non-integer "
            "— the column must be an integer milli-probability on the "
            "declared scale (quantize a float probability first)"
        ),
    )
    base = scored.where(p.isNotNull() & y.isNotNull() & gfilter).select(
        *gkeys, checked_p.alias("_p"), y.alias("_y")
    )
    # `div` needs F.expr; only the validated int literals and internal
    # aliases reach it (the fixed_bin_calibration discipline)
    bin_ = F.least(
        F.expr(f"(_p * {int(n_bins)}) div {int(scale)}"), F.lit(n_bins - 1)
    )
    per_bin = (
        base.select(*gkeys, bin_.alias("_b"), "_p", "_y")
        .groupBy(*gkeys, "_b")
        .agg(
            F.count("*").cast("long").alias("_nb"),
            F.sum("_y").cast("long").alias("_pos"),
            F.sum("_p").cast("decimal(38,0)").alias("_sp"),
        )
    )
    gap = F.abs(
        F.lit(scale).cast("decimal(38,0)") * F.col("_pos") - F.col("_sp")
    )
    return per_bin.groupBy(*gkeys).agg(
        F.sum("_nb").cast("long").alias("n"),
        F.round(
            F.sum(gap).cast("double")
            / (F.lit(float(scale)) * F.sum("_nb")),
            6,
        ).alias("ece"),
        F.round(
            F.max(gap.cast("double") / (F.lit(float(scale)) * F.col("_nb"))), 6
        ).alias("mce"),
    )


def lift_curve(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
    n_bins: int = 10,
    coarse_buckets: int = 1024,
    group_col: str | None = None,
) -> DataFrame:
    """Lift / cumulative-gains view of a binary scorer: per percentile
    bin, how much denser are positives than the base rate — the
    campaign-targeting twin of ``pr_curve`` (PR answers "what does a
    cutoff cost"; lift answers "how much better than random is the
    top X%", the number a sampling budget gets allocated by).

    Rides ``calibration_curve``'s tie-classes-whole percentile binning
    verbatim, then over the ≤ n_bins-per-group bin table computes

        lift_b     = (pos_b·N) / (n_b·P)
        cum_lift_b = (cum_pos_b·N) / (cum_n_b·P)

    with cum_* suffix sums from the highest-score bin down (bin order
    is ascending-score, so "top of the list" is the suffix — the
    pr_curve convention). Every product is exact DECIMAL over exact
    integer counts; each lift is ONE division over identical exact
    operands (bit-equal cross-engine), rounded at 6; NULL when the
    group has no positives (base rate 0 — lift undefined, the auc
    single-class stance).

    The suffix/total windows run over the AGGREGATED bin table —
    bounded by construction (the pr_curve argument); the corpus-scale
    work all happened in the calibration binning underneath.

    Output: (group?, bin, n_docs, n_pos, lift, cum_n, cum_pos,
    cum_lift), one row per non-empty bin.
    """
    keys = [group_col] if group_col else []
    cal = calibration_curve(
        scored,
        score_col=score_col,
        label_col=label_col,
        n_bins=n_bins,
        coarse_buckets=coarse_buckets,
        group_col=group_col,
    )
    sufw = (
        (Window.partitionBy(*keys) if keys else Window.partitionBy())
        .orderBy(F.desc("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    totw = Window.partitionBy(*keys) if keys else Window.partitionBy()
    d = lambda c: c.cast("decimal(18,0)")  # noqa: E731 — local shorthand
    with_cums = cal.select(
        *keys,
        "bin",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(sufw).cast("long").alias("cum_n"),
        F.sum("n_pos").over(sufw).cast("long").alias("cum_pos"),
        F.sum("n_docs").over(totw).cast("long").alias("_n_all"),
        F.sum("n_pos").over(totw).cast("long").alias("_p_all"),
    )
    pos_ok = F.col("_p_all") > 0
    return with_cums.select(
        *keys,
        "bin",
        "n_docs",
        "n_pos",
        F.round(
            F.when(
                pos_ok,
                (d(F.col("n_pos")) * d(F.col("_n_all"))).cast("double")
                / (d(F.col("n_docs")) * d(F.col("_p_all"))).cast("double"),
            ),
            6,
        ).alias("lift"),
        "cum_n",
        "cum_pos",
        F.round(
            F.when(
                pos_ok,
                (d(F.col("cum_pos")) * d(F.col("_n_all"))).cast("double")
                / (d(F.col("cum_n")) * d(F.col("_p_all"))).cast("double"),
            ),
            6,
        ).alias("cum_lift"),
    )


def ks_statistic(
    scored: DataFrame,
    *,
    score_col: str = "score",
    label_col: str = "label",
    group_col: str | None = None,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the positive and
    negative score distributions — max_s |F_pos(s) − F_neg(s)|, the
    classic credit-scoring discrimination number next to AUC (AUC
    averages the separation; KS reports the single best operating
    point's worth of it).

    EXACT at corpus scale, the ``auc_exact`` discipline: ONE groupBy
    collapses the corpus to per-distinct-score (pos, neg) counts, BOTH
    per-class running counts come from a SINGLE shared
    ``prefix_count_below`` pass (the ``extra`` counter rides the same
    cell grid and bucket windows), and the supremum is attained at a
    data point, so

        ks = max_s |cum_pos(s)·n_neg − cum_neg(s)·n_pos| / (n_pos·n_neg)

    has an exact DECIMAL numerator per score class, an exact integer
    max, and ONE final division, rounded at 6. NULL scores/labels are
    excluded (documented contract, mirrored in oracle twins); a group
    with no positives or no negatives returns NULL ks, fail-soft.

    No corpus-sized single-partition sort for ANY score cardinality;
    never a pos × neg pair join. Output: (group?, n_pos, n_neg, ks).
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    base = scored.where(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull() & gfilter
    ).select(
        *gkeys,
        F.col(score_col).alias("s"),
        F.col(label_col).cast("int").alias("y"),
    )
    # lazily checkpointed: the fused prefix pass's range / histogram /
    # fold branches re-derive this compressed table otherwise (the
    # _auc_core rationale)
    per_score = (
        base.groupBy(*gkeys, "s")
        .agg(
            F.count(F.when(F.col("y") == 1, 1)).alias("pos"),
            F.count(F.when(F.col("y") == 0, 1)).alias("neg"),
        )
        .localCheckpoint(eager=False)
    )
    # ONE shared pass for both per-class CDFs: the `extra` counter rides
    # the same cell grid / bucket assignment / within-bucket windows —
    # a chained second call would re-pay the whole bucket construction
    # over the compressed table (corpus-sized when scores are
    # ~all-distinct)
    below = prefix_count_below(
        per_score, gkeys, "s", "pos", coarse_buckets=coarse_buckets,
        out_col="pos_below", extra={"neg_below": "neg"},
    )
    # per-class totals via aggregate + broadcast join-back — NOT a
    # partition-spanning window: a Window.partitionBy() total over the
    # per-score table funnels it (corpus-sized when scores are
    # ~all-distinct) through one task, the exact anti-pattern this
    # operator's docstring rules out (the
    # calibration_curve totals pattern)
    tots = per_score.groupBy(*gkeys).agg(
        F.sum("pos").cast("long").alias("_np"),
        F.sum("neg").cast("long").alias("_nn"),
    )
    # no broadcast HINT on the grouped join: tots' lineage bypasses
    # prefix_count_below's 256-group guard, so forcing a broadcast
    # could hit a driver OOM before the guard's clean raise on a
    # high-cardinality group column; AQE broadcasts small sides anyway.
    # The ungrouped total is one row by construction.
    joined = (
        below.join(tots, gkeys)
        if gkeys
        else below.crossJoin(F.broadcast(tots))
    )
    d = lambda c: c.cast("decimal(18,0)")  # noqa: E731 — local shorthand
    cums = joined.select(
        *gkeys,
        "pos",
        "neg",
        "_np",
        "_nn",
        (F.col("pos_below") + F.col("pos")).alias("_cp"),
        (F.col("neg_below") + F.col("neg")).alias("_cn"),
    )
    dnum = F.abs(d(F.col("_cp")) * d(F.col("_nn")) - d(F.col("_cn")) * d(F.col("_np")))
    return (
        cums.select(*gkeys, "pos", "neg", "_np", "_nn", dnum.alias("_d"))
        .groupBy(*gkeys)
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("neg").cast("long").alias("n_neg"),
            F.when(
                (F.sum("pos") > 0) & (F.sum("neg") > 0),
                F.round(
                    F.max("_d").cast("double")
                    / (d(F.max("_np")) * d(F.max("_nn"))).cast("double"),
                    6,
                ),
            ).alias("ks"),
        )
    )


def reciprocal_rank(
    ranked: DataFrame,
    rels: DataFrame,
    *,
    k: int = 10,
    group_col: str | None = None,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    check_unique_judgments: bool = False,
) -> DataFrame:
    """Reciprocal rank at cutoff k — 1 / (rank of the FIRST relevant
    item in the top-k), the per-query term of MRR and the third number
    TREC-style evaluations report next to AP (``map_at_k``) and NDCG
    (``ndcg_at_k``). Relevance is binary (``rel_col > 0``, the MAP
    convention).

    Per group: ``first_rel_rank`` = min rank of a relevant ranked item
    within the top-k (NULL when no relevant item made the cutoff);
    ``rr`` = 1/first_rel_rank — ONE division over an exact integer
    (bit-equal cross-engine) — with the map_at_k edge stances: judged
    groups with relevant items but no top-k hit score rr = 0.0 (the
    system MISSED, not unjudgeable), groups with n_rel = 0 get NULL
    (nothing to find), and ``rank >= 1`` is enforced in-plan.

    Judgments must be UNIQUE per (group, id) — duplicates multiply
    matched ranked rows through the left join, inflating n_ranked and
    n_rel (the ndcg_at_k contract). The keyed count-window check costs
    a judgment-table shuffle, so it is opt-in:
    ``check_unique_judgments=True`` arms the same raise_error guard;
    callers minting judgments from a unique key leave it off.

    Scale (100 TB): ranked lists are top-N per group by construction;
    one (group, id) equi-join, one keyed min — never touches the
    corpus. Output: (group?, n_ranked, n_rel, first_rel_rank, rr).
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    checked_rank = F.when(
        F.col(rank_col) < 1,
        F.raise_error(
            F.lit(
                f"reciprocal_rank: {rank_col!r} < 1 — ranks are 1-based; a "
                "rank of 0 would make rr = 1/0 infinite"
            )
        ),
    ).otherwise(F.col(rank_col))
    # filter before projecting (the alias-shadowing class);
    # the rank guard also now computes only on contract-included rows
    r = ranked.where((F.col(rank_col) <= k) & gfilter).select(
        *gkeys, F.col(id_col).alias("_id"), checked_rank.alias("_rk")
    )
    lab = rels.where(F.col(rel_col).isNotNull() & gfilter).select(
        *gkeys,
        F.col(id_col).alias("_id"),
        (F.col(rel_col) > 0).cast("int").alias("_hit"),
    )
    if check_unique_judgments:
        lab = _unique_judgments_guard(
            lab, gkeys, id_col, op_name="reciprocal_rank", val_col="_hit",
            inflates="n_ranked/n_rel",
        )
    n_rel = (
        lab.where(F.col("_hit") == 1)
        .groupBy(*gkeys)
        .agg(F.count("*").cast("long").alias("n_rel"))
    )
    firsts = (
        r.join(lab, [*gkeys, "_id"], "left")
        .groupBy(*gkeys)
        .agg(
            F.count("*").cast("long").alias("n_ranked"),
            F.min(F.when(F.col("_hit") == 1, F.col("_rk")))
            .cast("long")
            .alias("first_rel_rank"),
        )
    )
    joined = (
        firsts.join(n_rel, gkeys, "full_outer")
        if gkeys
        else firsts.crossJoin(n_rel)
    )
    # exact integer half-up: 1/rank IS the
    # reachable-midpoint class (1/640 = 0.0015625 — a 7-digit decimal
    # midpoint — occurs the first time a relevant doc ranks 640th)
    rr = F.when(
        F.col("first_rel_rank").isNotNull(),
        exact_ratio_round(F.lit(1), F.col("first_rel_rank")),
    ).otherwise(F.lit(0.0))
    return joined.select(
        *gkeys,
        F.coalesce(F.col("n_ranked"), F.lit(0)).alias("n_ranked"),
        F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
        "first_rel_rank",
        F.when(F.col("n_rel") > 0, rr).alias("rr"),
    )


def fleiss_kappa(
    votes: DataFrame,
    *,
    item_col: str = "item_id",
    cat_col: str = "category",
    group_col: str | None = None,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED number
    of raters per item, over any number of categories: the multi-rater
    generalization of ``cohen_kappa`` (which compares exactly two named
    raters). The curation read: n annotation passes (rule gate,
    learned gate, heuristic gate) each vote a category per document —
    is their agreement better than chance?

    Input is LONG format: one row per (item, vote); raters are
    anonymous (Fleiss' statistic only reads per-item category counts).
    NULL item/category/group rows are excluded. The fixed-raters
    precondition is ENFORCED in-plan (raise_error when any two items in
    a group have different vote counts — unequal panels silently bias
    P_o, so the guard names the failure rather than mis-scoring).

    All-integer core: with N items, n raters, n_ij votes for category j
    on item i, T_j = Σ_i n_ij,

        A = Σ_ij n_ij(n_ij−1)        (observed-agreement numerator)
        D = N·n·(n−1)                 (its denominator)
        B = Σ_j T_j²                  (chance-agreement numerator)
        E = (N·n)²                    (its denominator)
        kappa = (A·E − B·D) / (D·(E − B))

    — the closed form of (P_o − P_e)/(1 − P_e) with every product in
    DECIMAL(38,0) (exact for N·n up to ~1e9 raters·items; the operand
    bound is documented, not silently wrapped) and ONE final division
    over exact operands, rounded at 6. kappa is NULL when n = 1 (no
    pairs to agree) or P_e = 1 (every vote one category — chance
    agreement certain, the cohen_kappa stance).

    Scale (100 TB): two keyed aggregates — (group, item, cat) counts
    folded per item, then per group — both map-side partial; the
    category-marginal branch is a second bounded aggregate over the
    same compressed table. Output: (group?, n_items, n_raters, n_cats,
    kappa).
    """
    gkeys = [group_col] if group_col else []
    cond = F.col(item_col).isNotNull() & F.col(cat_col).isNotNull()
    if group_col:
        cond = cond & F.col(group_col).isNotNull()
    base = votes.where(cond).select(
        *gkeys, F.col(item_col).alias("_it"), F.col(cat_col).alias("_cat")
    )
    # compressed (group, item, cat) vote counts — both branches below
    # fold this same table (lazy checkpoint: the per-item and per-cat
    # branches would otherwise each re-scan the corpus)
    nij = (
        base.groupBy(*gkeys, "_it", "_cat")
        .agg(F.count("*").cast("long").alias("_nij"))
        .localCheckpoint(eager=False)
    )
    per_item = nij.groupBy(*gkeys, "_it").agg(
        F.sum("_nij").cast("long").alias("_ni"),
        F.sum(F.col("_nij") * (F.col("_nij") - 1))
        .cast("decimal(38,0)")
        .alias("_a_i"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — local shorthand
    item_agg = per_item.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n_items"),
        F.when(
            F.min("_ni") != F.max("_ni"),
            F.raise_error(
                F.lit(
                    "fleiss_kappa: unequal vote counts per item — Fleiss' "
                    "statistic requires a fixed rater panel; filter to "
                    "fully-voted items (or use cohen_kappa for two named "
                    "raters) first"
                )
            ),
        ).otherwise(F.max("_ni")).cast("long").alias("n_raters"),
        F.sum("_a_i").alias("_a"),
    )
    per_cat = nij.groupBy(*gkeys, "_cat").agg(
        F.sum("_nij").cast("decimal(38,0)").alias("_tj")
    )
    cat_agg = per_cat.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n_cats"),
        F.sum(F.col("_tj") * F.col("_tj")).alias("_b"),
    )
    joined = (
        item_agg.join(cat_agg, gkeys) if gkeys else item_agg.crossJoin(cat_agg)
    )
    nn = d(F.col("n_items")) * d(F.col("n_raters"))
    dd = nn * d(F.col("n_raters") - 1)
    ee = nn * nn
    num = d(F.col("_a")) * ee - d(F.col("_b")) * dd
    den = dd * (ee - d(F.col("_b")))
    return joined.select(
        *gkeys,
        "n_items",
        "n_raters",
        "n_cats",
        F.round(
            F.when(den != 0, num.cast("double") / den.cast("double")), 6
        ).alias("kappa"),
    )


def chi2_association(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Chi-squared association cells between two categorical columns —
    the contingency-table report behind "is quality flag X independent
    of source Y": per (a, b) cell, the observed count, the
    independence-expected count, and the cell's χ² contribution. The
    drift/governance read is per-cell (WHICH source × flag combination
    is over-represented), so the operator emits the table, not a
    single order-dependent scalar sum.

    The full cross of observed marginals is reported — including
    ZERO-observed cells (χ² counts them; omitting them silently
    understates association). With N rows, r_a = marginal of a,
    c_b = marginal of b:

        expected = r_a·c_b / N
        contrib  = (O·N − r_a·c_b)² / (N·r_a·c_b)

    — both ONE division over exact DECIMAL(38,0) integer operands
    (O·N ≤ ~1e18 squared stays inside 38 digits for N up to ~1e9
    per marginal product; documented bound), rounded at 6. NULL in
    either column is excluded (a missing category is not a category).

    Scale (100 TB): one (a, b) keyed aggregate over the corpus; the
    marginals and the zero-cell cross run over the BOUNDED distinct
    category domains (broadcast join back). Category domains are
    assumed low-cardinality (flags, sources, langs — the contingency
    use case); a high-cardinality pair would make the cross itself the
    output size.

    Output: (a, b, observed, n_a, n_b, n, expected, contrib).
    """
    base = df.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull()).select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    )
    # ONE corpus scan: marginals and the total all derive from the
    # bounded (a, b) cell table (lazily checkpointed — re-deriving them
    # from `base` would read the corpus four times, the re-derivation
    # class calibration_curve/_auc_core already paid for and fixed)
    obs = (
        base.groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("observed"))
        .localCheckpoint(eager=False)
    )
    ma = obs.groupBy("a").agg(F.sum("observed").cast("long").alias("n_a"))
    mb = obs.groupBy("b").agg(F.sum("observed").cast("long").alias("n_b"))
    tot = obs.agg(F.sum("observed").cast("long").alias("n"))
    # full cross of the bounded marginal tables (zero cells included),
    # then the observed counts attach by equi-join
    cells = (
        ma.crossJoin(F.broadcast(mb))
        .crossJoin(F.broadcast(tot))
        .join(obs, ["a", "b"], "left")
        .select(
            "a",
            "b",
            F.coalesce(F.col("observed"), F.lit(0)).alias("observed"),
            "n_a",
            "n_b",
            "n",
        )
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — local shorthand
    rc = d(F.col("n_a")) * d(F.col("n_b"))
    dev = d(F.col("observed")) * d(F.col("n")) - rc
    return cells.select(
        "a",
        "b",
        "observed",
        "n_a",
        "n_b",
        "n",
        # exact integer half-up: expected and
        # contrib are ratios of exact integers; the helper's two-step
        # long division keeps contrib's dev² numerator inside the same
        # DECIMAL(38,0) envelope the double form already required
        exact_ratio_round(rc, d(F.col("n"))).alias("expected"),
        exact_ratio_round(dev * dev, d(F.col("n")) * rc).alias("contrib"),
    )


def krippendorff_alpha(
    votes: DataFrame,
    *,
    item_col: str = "item_id",
    cat_col: str = "category",
    group_col: str | None = None,
) -> DataFrame:
    """Krippendorff's alpha (nominal data) — chance-corrected agreement
    that, unlike ``fleiss_kappa``, TOLERATES MISSING VOTES: items may
    carry any number of votes (raters skip items, panels change
    mid-corpus), and only items with >= 2 votes ("pairable") enter the
    statistic. The annotation-ops read: real labeling campaigns never
    produce a complete rater x item grid, and alpha is the standard
    number reported over the grid you actually have.

    Long-format anonymous votes (the fleiss_kappa input shape); NULL
    item/category/group rows are excluded.

    Closed form over exact integers: with m_i votes and n_ic per-category
    counts on pairable item i, t_c = Σ_i n_ic, n_p = Σ_i m_i,

        ΣA    = Σ_i (m_i² − Σ_c n_ic²) / (m_i − 1)
        alpha = 1 − (n_p − 1)·ΣA / (n_p² − Σ_c t_c²)

    (the observed-disagreement sum with n_p cancelled against D_e's
    denominator). ΣA is computed by GROUPING ITEMS BY m_i — per
    distinct vote count m, T_m = Σ(m² − Σn²) is an exact integer and
    T_m/(m−1) ONE exact division — so ΣA is a <= |distinct m| (i.e.
    <= max panel size) term tiny-sum of exact-rational doubles, the
    accepted NDCG class, never a per-item float accumulation. The
    remaining products run in DECIMAL(38,0) and the final division is
    one double op, rounded at 6. alpha is NULL when n_p < 2 (nothing
    pairable) or every pairable vote is one category (D_e = 0).

    Scale (100 TB): one (group, item, cat) compressed aggregate
    (lazily checkpointed — three consumers), an item-level fold, a
    <= |m-domain|-row fold, and one (group, item) equi-join to restrict
    the category marginals to pairable items. No window, no pair join.

    Output: (group?, n_items, n_values, n_cats, alpha) — n_items/
    n_values count PAIRABLE items and their votes.
    """
    gkeys = [group_col] if group_col else []
    cond = F.col(item_col).isNotNull() & F.col(cat_col).isNotNull()
    if group_col:
        cond = cond & F.col(group_col).isNotNull()
    base = votes.where(cond).select(
        *gkeys, F.col(item_col).alias("_it"), F.col(cat_col).alias("_cat")
    )
    nij = (
        base.groupBy(*gkeys, "_it", "_cat")
        .agg(F.count("*").cast("long").alias("_nij"))
        .localCheckpoint(eager=False)
    )
    per_item = nij.groupBy(*gkeys, "_it").agg(
        F.sum("_nij").cast("long").alias("_mi"),
        F.sum(F.col("_nij") * F.col("_nij")).cast("long").alias("_si"),
    )
    pairable = per_item.where(F.col("_mi") >= 2).localCheckpoint(eager=False)
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — local shorthand
    # ΣA via the m-grouped fold: T_m exact, ONE division per distinct m,
    # tiny-sum over <= max-panel-size terms
    per_m = pairable.groupBy(*gkeys, "_mi").agg(
        F.sum(F.col("_mi") * F.col("_mi") - F.col("_si"))
        .cast("long")
        .alias("_tm")
    )
    sum_a = per_m.groupBy(*gkeys).agg(
        F.sum(
            F.col("_tm").cast("double") / (F.col("_mi") - 1).cast("double")
        ).alias("_sum_a")
    )
    items = pairable.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("_mi").cast("long").alias("n_values"),
    )
    # category marginals restricted to pairable items
    pair_nij = nij.join(
        pairable.select(*gkeys, "_it"), [*gkeys, "_it"]
    )
    per_cat = pair_nij.groupBy(*gkeys, "_cat").agg(
        F.sum("_nij").cast("decimal(38,0)").alias("_tj")
    )
    cats = per_cat.groupBy(*gkeys).agg(
        F.count("*").cast("long").alias("n_cats"),
        F.sum(F.col("_tj") * F.col("_tj")).alias("_b"),
    )
    if gkeys:
        joined = items.join(sum_a, gkeys).join(cats, gkeys)
    else:
        joined = items.crossJoin(sum_a).crossJoin(cats)
    den = d(F.col("n_values")) * d(F.col("n_values")) - d(F.col("_b"))
    alpha = F.lit(1.0) - (
        (F.col("n_values") - 1).cast("double") * F.col("_sum_a")
    ) / den.cast("double")
    return joined.select(
        *gkeys,
        "n_items",
        "n_values",
        "n_cats",
        F.round(
            F.when((F.col("n_values") >= 2) & (den != 0), alpha), 6
        ).alias("alpha"),
    )


def gini_by_group(
    df: DataFrame,
    val_col: str,
    *,
    group_col: str | None = None,
    coarse_buckets: int = 1024,
) -> DataFrame:
    """Exact Gini coefficient of a NON-NEGATIVE INTEGER value column per
    group — the contribution-inequality number behind "do three domains
    supply 90% of this source's tokens?": G = 0 when every document
    contributes equally, → 1 when one contributor dominates. The
    curation-governance twin of key_skew_profile (skew measures the
    worst key; Gini prices the whole distribution).

    G = Σ_{i,j} |x_i − x_j| / (2 n² μ), computed EXACTLY at corpus
    scale via value-domain compression and the shared prefix core
    (the ks_statistic shape): per distinct value v with count c_v,

        ordered-pair sum Σ_{x_i > x_j} (x_i − x_j)
          = Σ_v c_v·(v·below_cnt_v − below_sum_v)

    with below_cnt / below_sum from ONE shared ``prefix_count_below``
    pass (count + v-weighted counters over the same cell grid) on the
    lazily-checkpointed compressed table. All products in DECIMAL(38,0);
    G = num/(n·S) is quantized to 6 decimals by EXACT integer half-up
    division — ``(2·10⁶·num + den) div (2·den)`` over DECIMAL(38,0)
    operands, then one long→double cast and /1e6 — because
    ``round(double, 6)`` diverges between engines on reachable decimal
    midpoints (Spark rounds the shortest decimal repr half-up, DuckDB
    rounds the binary double; gini is a ratio of exact integers so
    midpoints like 2148/7680 = 0.2796875 occur). NULL when S = 0
    (all-zero values — inequality of nothing). Values must be >= 0
    integers — ENFORCED in-plan (raise_error per row): a negative value
    silently breaks the |x_i − x_j| identity, and a float value breaks
    engine-exact compression. NULL values/groups are excluded.

    Output: (group?, n, total, gini).
    """
    gkeys = [group_col] if group_col else []
    gfilter = F.col(group_col).isNotNull() if group_col else F.lit(True)
    v = F.col(val_col).cast("long")
    checked_v = _int_domain_guard(
        val_col,
        lo=0,
        hi=None,
        msg=(
            f"gini_by_group: negative or non-integer value in "
            f"{val_col!r} — the Gini identity here requires "
            "non-negative integer values (scale floats to a fixed "
            "integer grid first)"
        ),
    )
    base = df.where(v.isNotNull() & gfilter).select(
        *gkeys, checked_v.alias("_v")
    )
    per_v = (
        base.groupBy(*gkeys, "_v")
        .agg(F.count("*").cast("long").alias("_cnt"))
        # the weighted counter stays DECIMAL end-to-end: v*cnt in BIGINT
        # overflows int64 for large-value domains (v ~ 1e12 byte sizes
        # x 1e7 occurrences), the ANSI overflow class the docstring's
        # exactness claim rules out. decimal(19,0) covers the FULL
        # int64 range — 18 digits would itself overflow on valid
        # v >= 1e18 inputs
        .withColumn(
            "_w",
            F.col("_v").cast("decimal(19,0)") * F.col("_cnt").cast("decimal(19,0)"),
        )
        .localCheckpoint(eager=False)
    )
    # count + value-weighted prefixes in ONE shared pass (the ks
    # single-pass rationale: a chained call re-pays the bucket
    # construction over the compressed table)
    below = prefix_count_below(
        per_v, gkeys, "_v", "_cnt", coarse_buckets=coarse_buckets,
        out_col="_below_cnt", extra={"_below_sum": "_w"},
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — local shorthand
    term = d(F.col("_cnt")) * (
        d(F.col("_v")) * d(F.col("_below_cnt")) - d(F.col("_below_sum"))
    )
    # `total` stays DECIMAL(38,0): casting it back to long would re-hit
    # the very overflow the decimal counter exists to avoid (the
    # motivating 1e12-value x 1e7-count domain sums past int64)
    agg = below.groupBy(*gkeys).agg(
        F.sum("_cnt").cast("long").alias("n"),
        F.sum("_w").cast("decimal(38,0)").alias("total"),
        F.sum(term).alias("_num"),
    )
    # exact half-up quantization at 6 decimals: for num, den >= 0,
    # (2e6·num + den) div (2·den) = floor(1e6·num/den + 1/2). Integral
    # division over DECIMAL(38,0) is engine-exact (DuckDB twin: `//`
    # over HUGEINT); the final e6/1e6 is ONE correctly-rounded IEEE op,
    # identical in both engines — unlike round(double, 6), which the two
    # engines define differently on decimal midpoints. Bounds: den =
    # n·total <= ~1e26 at the motivating 1e12-value x 1e7-count domain,
    # so 2e6·num <= 2e6·den stays inside DECIMAL(38,0).
    return agg.withColumn("_den", d(F.col("n")) * F.col("total")).select(
        *gkeys,
        "n",
        "total",
        F.when(
            F.col("total") > 0,
            F.expr(
                "(cast(2000000 as decimal(38,0)) * _num + _den) "
                "div (cast(2 as decimal(38,0)) * _den)"
            ).cast("double")
            / F.lit(1000000.0),
        ).alias("gini"),
    )
