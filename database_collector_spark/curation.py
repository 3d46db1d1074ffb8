"""End-to-end training-data curation pipeline.

Composes the extension operators into the canonical prep DAG a corpus
goes through before tokenization:

    quality filter → exact dedup (keep canonical) → deterministic
    train/val/test split → partitioned lake write

Everything stays one declarative plan until the sink — Catalyst fuses
the quality scalar pipeline into the scan, the dedup semi-join is the
single corpus shuffle, and the split label is a map-side expression —
so the whole pipeline costs scan + one shuffle + write. The write
lands partitioned by (split, lang): low cardinality (3 × |langs|
directories), prunes both the trainer's reads (split=train) and
per-language budget queries, and uses dynamic partition overwrite so a
re-run replaces exactly the partitions it produces (idempotent retries,
same policy as sinks/parquet.py).

Near-dup tiers (minhash_lsh_dedup → connected_components) slot in
between the exact tier and the split as an anti-join against the
cluster non-canonical set; ``near_dup=True`` attaches that tier, and it
runs over the quality-filtered, exact-deduped survivors — NOT the raw
corpus. Ordering matters: computed on the raw corpus, a cluster whose
canonical member (min doc_id) is itself removed by the quality filter
would lose every member, leaving no representative of that content in
the output. The tier stays off by default because its cost profile is
corpus-dependent (see SCALE.md); ``extra_drop`` remains the hook for
externally-computed removals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_collector_spark.operators import dedup, text


def split_col(key: str = "doc_id") -> F.Column:
    """Deterministic ~80/10/10 split label from the md5 of the id —
    identical rule to the hash_split gate query (leakage-stable: a doc's
    split never changes as the corpus grows)."""
    b = F.substring(F.md5(F.col(key).cast("string")), 1, 2)
    return F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")


def curate(
    docs: DataFrame,
    *,
    quality_min: float = 0.3,
    repetition_max: float | None = None,
    near_dup: bool = False,
    extra_drop: DataFrame | None = None,
    expectations: dict | None = None,
) -> DataFrame:
    """documents → curated, split-labeled documents.

    ``expectations``: optional data-quality gate run BEFORE the DAG —
    keyword arguments for :func:`operators.expectations.verify`
    (``max_null_frac`` / ``unique_keys`` / ``references``). Deequ's
    check semantics: a violated expectation raises
    ``ExpectationViolation`` with the measured report attached and
    nothing downstream runs — a poisoned ingest (nulled column,
    duplicated doc_id, orphaned foreign keys) aborts at the audit, not
    three shuffles later inside the dedup tier. This makes curate()
    EAGER when the gate is on (the audit is an action by design); the
    audit costs one aggregate pass per check family, bounded report
    rows (see expectations.py scale notes).

    ``repetition_max``: optional Gopher-style repetition gate — drop docs
    whose duplicate-bigram fraction exceeds the bound (boilerplate/spam).
    Like the quality score it is a per-row scalar (zero-shuffle), so the
    filter fuses into the same scan.

    ``near_dup``: attach the MinHash-LSH near-dup tier AFTER the quality
    and exact tiers — pairs, components and canonical selection are all
    computed over the surviving set, so every cluster keeps exactly one
    surviving representative (min surviving doc_id). At corpus scale,
    persist/checkpoint the survivor frame first: the tier re-derives it
    twice (signature branch + verify branch) by design.

    ``extra_drop``: optional single-column (doc_id) frame of additional
    removals — e.g. an externally computed block list — applied last as
    a left-anti join.
    """
    if expectations:
        from database_collector_spark.operators import expectations as exp

        exp.verify(docs, **expectations)
    # quality tier as ONE inline filter (r15 optimization round): the
    # previous shape scored into a (doc_id, quality_score) frame and
    # joined it back — a corpus self-join whose quality_score filter
    # was then pushed below the scoring projection, re-deriving the
    # tokenize folds a second time for the predicate (the
    # clf_truth_frame duplication class). Filtering directly on the
    # shared score expression evaluates the folds ONCE per row, joins
    # nothing, and matches the oracle twins' shape exactly (they filter
    # a scored CTE — no doc_id join; the join form also silently
    # dropped NULL-doc_id rows the oracle keeps). The score columns
    # were dropped immediately afterwards anyway.
    q = text.quality_score_col(
        F.size(text.tokens_col()), text.stopword_count_col()
    )
    kept = docs.filter(q >= quality_min)
    if repetition_max is not None:
        # fused scalar filter, not a join against a stats table: the
        # TOKEN array binds first (grams_of's lambda referencing an
        # unbound split(...) re-splits the text per gram — review
        # finding class), then the gram array materializes as its own
        # projection (CollapseProject keeps non-cheap expressions
        # single-evaluation), the fraction derives from it, and the
        # whole gate rides the same scan — zero shuffle
        kept = (
            kept.withColumn("__toks", F.split(F.col("text"), " "))
            .withColumn("__rep_grams", text.grams_of(F.col("__toks")))
            .filter(text.dup_gram_frac(F.col("__rep_grams")) <= repetition_max)
            .drop("__toks", "__rep_grams")
        )
    # exact tier: keep one doc per identical text (canonical = min doc_id)
    canon = dedup.exact_dedup(kept).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    kept = kept.join(canon, "doc_id", "left_semi")
    if near_dup:
        from database_collector_spark.operators import graph

        # the near-dup tier consumes the survivor frame from MULTIPLE
        # branches (signature build, jaccard verify, the final
        # anti-join) — materialize it once (r15 optimization round;
        # this was already this docstring's own advice to callers, now
        # done where the fan-out actually happens). Lazy: plan
        # construction must not run a job.
        kept = kept.localCheckpoint(eager=False)
        pairs = dedup.minhash_lsh_dedup(kept)
        comp = graph.connected_components(pairs)
        nd_drop = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        kept = kept.join(nd_drop, "doc_id", "left_anti")
    if extra_drop is not None:
        kept = kept.join(
            extra_drop.select("doc_id").distinct(), "doc_id", "left_anti"
        )
    return kept.withColumn("split", split_col())


_NUMERIC_ORDER_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _numeric_order_key(
    dtypes: dict[str, str], order_col: str, op: str
) -> F.Column | None:
    """Order-preserving numeric image of ``order_col`` for the two-level
    prefix layout, or None when the column is already numeric.

    Promotions are TIMEZONE-FREE by construction (r14 review: casting a
    date/ntz wall time through the session-zone ``timestamp`` is not
    injective — a spring-forward DST gap maps two distinct wall times
    to one instant, silently violating prefix_count_below's
    one-row-per-key contract AFTER the duplicate check passed on the
    distinct originals): ``date`` promotes via calendar ``datediff``
    from the epoch (1 day = 1 unit, injective, monotone, no zone
    involved); ``timestamp`` — an absolute instant — promotes via
    ``unix_micros`` (injective and monotone regardless of zone; exact
    in double until ~2255, far under 2^53 micros). ``timestamp_ntz``
    has NO zone-free numeric image a cast can build and raises.
    Anything else (string, binary, array) also has no order-preserving
    numeric image and raises, naming the ``windowed_streams=True``
    escape — the per-stream window form orders by ANY comparable type,
    and when streams are many and small the streams themselves supply
    the parallelism (r13 ADVICE: rejecting these keys outright was a
    capability regression vs the pre-r13 window form)."""
    if order_col not in dtypes:
        raise ValueError(
            f"{op}: order_col {order_col!r} is not a column of the "
            f"input (columns: {sorted(dtypes)})"
        )
    # EXACT type-name match (plus the parameterized decimal family):
    # a prefix test would let 'interval day to second' pass as 'int'
    # and die later inside prefix_count_below with an error that never
    # mentions order_col (review finding)
    t = dtypes[order_col]
    if t in _NUMERIC_ORDER_TYPES or t.startswith("decimal("):
        return None
    if t == "date":
        return F.datediff(F.col(order_col), F.lit("1970-01-01")).cast("double")
    if t == "timestamp":
        return F.unix_micros(F.col(order_col)).cast("double")
    raise ValueError(
        f"{op}: order_col {order_col!r} has type {t!r}; the two-level "
        "prefix layout needs a numeric, date, or timestamp order key — "
        "derive a numeric rank first, or pass windowed_streams=True for "
        "the per-stream window form (correct for any comparable order "
        "type — including timestamp_ntz, whose wall times have no "
        "zone-free numeric image — and the RIGHT plan when streams are "
        "many and small: high stream cardinality is itself the "
        "parallelism)"
    )


def _stream_start_offsets(
    sized: DataFrame,
    stream_col: str,
    order_col: str,
    op: str,
    *,
    dtypes: dict[str, str],
    max_stream_groups: int,
    windowed_streams: bool,
) -> DataFrame:
    """Shared offsets core for both packing operators (r14 review: the
    two siblings had drifted line-for-line copies): given ``sized``
    (columns exactly [stream, order, n_tokens], pre-filtered of NULLs),
    attach ``_start`` = total n_tokens over strictly-earlier rows of
    the same stream, with the DUPLICATE-(stream, order)-key raise
    enforced in-plan on BOTH paths — on the prefix path it rides the
    (stream, order) compression aggregate the pass needs anyway; on
    the windowed path it rides the window's own sort via a null-safe
    lag compare (no compression there — see below).

    Default path: the two-level ``prefix_count_below`` pass (promoted
    numeric order key when needed), with the compressed table lazily
    localCheckpoint'ed first — the primitive consumes its input from
    two plan branches (the rng min/max aggregate and the celled main
    path), and without the checkpoint each branch re-derives the
    compression from a full corpus scan (the r13 aggregation-buffer
    audit's repeated-scan class). ``windowed_streams=True``: ONE
    per-stream cumulative window directly over ``sized`` — the
    duplicate check rides the window's own sort via lag (Spark's
    NaN = NaN is TRUE, probed, so NaN order keys cannot slip past it),
    costing zero extra shuffles (second-pass review: routing this
    branch through the compression aggregate doubled the shuffle
    volume for the exact high-cardinality case the escape exists
    for) — correct for any comparable order type. Both paths compute
    the identical pure function."""
    dup_err = F.raise_error(
        F.lit(
            f"{op}: duplicate ({stream_col}, {order_col}) key — "
            "the token-stream layout is only deterministic under a unique "
            "per-stream order; deduplicate or refine order_col"
        )
    )
    if windowed_streams:
        from pyspark.sql.window import Window

        w = Window.partitionBy(stream_col).orderBy(order_col)
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        # null-safe equality: callers pre-filter NULL order keys, but a
        # plain == would let duplicate NULLs through silently if one
        # ever forgot (NULL == NULL is NULL); eqNullSafe keeps both
        # paths enforcing the identical invariant (third-pass review).
        # Side effect accepted: a partition-FIRST row with a NULL order
        # key also trips the guard (lag is NULL there) — any NULL order
        # key is already a precondition violation, and a loud raise
        # beats order-dependent offsets
        is_dup = F.lag(F.col(order_col)).over(w).eqNullSafe(F.col(order_col))
        return sized.withColumn(
            "_start",
            F.when(is_dup, dup_err).otherwise(
                F.sum("n_tokens").over(cum) - F.col("n_tokens")
            ),
        )
    from .operators.ranking import prefix_count_below

    # the (stream, order) compression the prefix pass needs anyway (its
    # contract is one row per key) hosts the duplicate check — and it
    # MUST live here: fed duplicate keys, prefix_count_below would
    # silently give both rows the same offset
    compressed = (
        sized.groupBy(stream_col, order_col)
        .agg(F.sum("n_tokens").alias("n_tokens"), F.count("*").alias("dupn"))
        .withColumn(
            "n_tokens",
            F.when(F.col("dupn") > 1, dup_err).otherwise(F.col("n_tokens")),
        )
        .drop("dupn")
    )
    promoted = _numeric_order_key(dtypes, order_col, op)
    compressed = compressed.localCheckpoint(eager=False)
    val = order_col
    if promoted is not None:
        # no leading underscore: prefix_count_below reserves that
        # namespace for its internals (r14 review); stream_col and
        # order_col are caller-chosen, so probe for collisions instead
        # of assuming them away (second-pass review: stream_col =
        # f"{order_col}__num" would have been silently overwritten)
        # case-INSENSITIVE probe: Spark resolves names case-
        # insensitively by default, so a case-variant collision would
        # still overwrite (third-pass review, reproduced)
        taken = {c.lower() for c in compressed.columns}
        val = f"{order_col}__num"
        while val.lower() in taken:
            val += "_"
        compressed = compressed.withColumn(val, promoted)
    base = prefix_count_below(
        compressed,
        [stream_col],
        val,
        "n_tokens",
        out_col="_start",
        max_key_groups=max_stream_groups,
    )
    return base.drop(val) if promoted is not None else base


def pack_sequences(
    docs: DataFrame,
    *,
    budget_tokens: int = 512,
    stream_col: str = "lang",
    order_col: str = "doc_id",
    max_stream_groups: int = 256,
    windowed_streams: bool = False,
) -> DataFrame:
    """Assign documents to fixed-token-budget training chunks.

    The tokenizer-feeding step after curation: documents are laid out in
    a deterministic order per stream (``stream_col`` partitions, e.g.
    per-language shards) and a document belongs to the chunk containing
    its START offset in the concatenated token stream —
    ``chunk_id = floor(tokens_before / budget)``. Contiguous greedy fill:
    chunks may overflow by at most one document (standard
    concat-then-split packing), and the assignment is a pure function of
    (order, token counts), so re-runs and engine ports agree exactly —
    no bin-packing heuristic whose result depends on traversal order.
    The preconditions of that exactness are ENFORCED exactly as in
    ``pack_segments``: NULL stream/order/text rows are excluded (no
    defined stream position) and a duplicate (stream, order) key raises
    in-plan (ties would make every later offset depend on physical row
    order). Token counts are whitespace-split words (``split`` on a
    single space — the historical contract of this operator and its
    oracles; note non-empty text always counts >= 1 because ``split``
    never returns an empty array); swap in ``text.subtoken_estimate``
    for budget-accurate BPE-ish counts.

    Scale (100 TB): the cumulative stream offset is the TWO-LEVEL
    distributed prefix sum (``ranking.prefix_count_below``), the same
    layout ``pack_segments`` moved to in r13 — a plain
    ``Window.partitionBy(stream)`` cumulative sum funnels each stream
    through ONE task's sort, and with a dominant language (English is
    routinely >half a web corpus) that is a corpus-sized single-task
    sort (r13 VERDICT: this operator was the audit's miss). date and
    timestamp order keys promote to a zone-free monotone numeric image
    (``_numeric_order_key`` — offsets unchanged); ``windowed_streams=
    True`` keeps the classic per-stream-window form for
    HIGH-cardinality streams (> ``max_stream_groups`` — where
    per-stream windows are genuinely well-parallelized and the prefix
    core's broadcast cell map would be the bottleneck instead) and for
    order keys with no numeric image; both paths share one offsets core
    (``_stream_start_offsets``) enforcing the identical duplicate
    guard and computing the identical pure function, so switching
    never changes values.
    """
    if not (isinstance(budget_tokens, int) and budget_tokens >= 1):
        raise ValueError(
            f"pack_sequences: budget_tokens must be a positive int, got "
            f"{budget_tokens!r}"
        )
    b = int(budget_tokens)
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    sized = docs.where(
        F.col("text").isNotNull()
        & F.col(stream_col).isNotNull()
        & F.col(order_col).isNotNull()
    ).select(stream_col, order_col, n_tok.alias("n_tokens"))
    base = _stream_start_offsets(
        sized,
        stream_col,
        order_col,
        "pack_sequences",
        dtypes=dict(docs.dtypes),
        max_stream_groups=max_stream_groups,
        windowed_streams=windowed_streams,
    )
    return base.select(
        stream_col,
        order_col,
        "n_tokens",
        F.expr(f"_start div {b}").cast("long").alias("chunk_id"),
    )


def write_curated(curated: DataFrame, path: str) -> None:
    """Land the curated corpus partitioned by (split, lang) with dynamic
    partition overwrite — re-running a curation batch replaces its own
    partitions and never duplicates or truncates others'."""
    spark = curated.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        curated.write.partitionBy("split", "lang").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def leakage_safe_split(
    docs: DataFrame,
    group_col: F.Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """GROUP-aware ~80/10/10 split: the split label is hashed from a
    duplicate-GROUP key (default: md5 of the text, i.e. exact-dup
    groups) instead of the doc id, so duplicates and near-duplicates
    sharing the key can never straddle train/test — the leakage mode a
    per-doc hash split cannot prevent. Plug any grouping key in:
    canonical URL, MinHash cluster id, dHash. Pure map-side labeling
    (the group key is a scalar of the row), no join against a group
    table — the label is a function of the key itself, so two members
    of a group get identical labels without ever being co-located."""
    key = group_col if group_col is not None else F.md5(F.col("text"))
    b = F.substring(F.md5(key.cast("string")), 1, 2)
    label = F.when(b < "cc", "train").when(b < "e6", "val").otherwise("test")
    return docs.select(
        F.col(id_col), key.alias("group_key"), label.alias("split")
    )


def elect_representatives(
    members: DataFrame,
    group_col: str,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical election: per duplicate group keep the
    highest-quality member (ties -> lowest id) instead of the blind
    min-id keeper the exact-dedup tier uses. One max-struct aggregate
    per group — no window, no sort, so the shuffle carries one struct
    per group and the plan stays a partial-aggregate shape.

    Total order: (quality DESC, id ASC) encoded as max of
    (quality, -id); deterministic for any engine."""
    best = F.max(
        F.struct(
            F.col(quality_col).alias("q"),
            (-F.col(id_col)).alias("neg_id"),
        )
    )
    return (
        members.groupBy(group_col)
        .agg(
            F.count("*").alias("n_members"),
            best.alias("_best"),
        )
        .select(
            group_col,
            "n_members",
            (-F.col("_best.neg_id")).alias("keeper_id"),
            F.col("_best.q").alias("keeper_quality"),
        )
    )


def kfold_split(
    docs: DataFrame,
    *,
    k: int = 5,
    group_col: F.Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """GROUP-aware k-fold assignment for cross-validation: fold =
    md5(group_key) mod k, so every member of a duplicate group lands in
    the SAME fold (the k-way generalization of leakage_safe_split's
    train/val/test) and the assignment is reproducible across corpus
    versions — adding documents never moves existing groups between
    folds. Pure map-side labeling, no join, no shuffle.

    NULL group keys (e.g. NULL text under the default md5 key) coalesce
    to an explicit sentinel, so NULL-key docs land deterministically in
    one fold instead of silently dropping out of every fold
    (md5(NULL) would propagate NULL through the assignment)."""
    key = group_col if group_col is not None else F.md5(F.col("text"))
    hashed = F.coalesce(key.cast("string"), F.lit("\x00__null_key__"))
    hv = F.conv(F.substring(F.md5(hashed), 1, 8), 16, 10).cast("long")
    return docs.select(
        F.col(id_col),
        key.alias("group_key"),
        (hv % k).cast("int").alias("fold"),
    )


def temperature_mixture(
    docs: DataFrame,
    *,
    by: str = "source",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled domain sampling weights — the published
    multilingual/domain mixture rule (XLM-R / mT5 style): sample domain
    i with probability p_i ∝ (n_i / N)^(1/T). T = 1 reproduces natural
    token shares; T → ∞ approaches uniform; the usual 1 < T < 5 range
    up-weights the tail without flattening the head. This computes the
    RECIPE the existing mixture_sample gate consumes as rates.

    Token counts are the exact in-row whitespace fold (ONE scan, no
    explode); the per-domain aggregate moves |domains| rows, and the
    normalization runs over that post-aggregate frame via a global
    window documented-bounded at |domains| rows (the same bounded
    pattern as market_share's windows in workloads.py). Exactness: counts and
    shares are integer rationals; ``pow`` is the single transcendental
    per domain, summed over |domains| doubles before one divide, then
    rounded (same exact-intermediates convention as char_entropy).

    Output per domain: (domain, n_docs, n_tokens, raw_share,
    temp_weight, oversample) where temp_weight sums to 1 and
    oversample = temp_weight / raw_share is the per-domain duplication
    factor a sampler must apply to realize the recipe.
    """
    from pyspark.sql.window import Window

    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    n_tok = F.expr("size(filter(split(text, ' '), t -> t <> ''))").cast("long")
    per = docs.groupBy(F.col(by).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("n_tokens"),
    )
    # |domains| rows post-aggregate: the unpartitioned windows are bounded
    # by construction, never data-sized
    w = Window.partitionBy()
    total = F.sum("n_tokens").over(w)
    share = F.when(total > 0, F.col("n_tokens") / total)
    powed = F.pow(share, F.lit(1.0 / temperature))
    # zero-token inputs degrade to NULL weights instead of aborting the
    # job (Spark 4 ANSI DIVIDE_BY_ZERO): an all-empty domain gets
    # share 0 / oversample NULL, an all-empty corpus gets NULL shares —
    # fail-soft like the rest of the engine's boundaries
    psum = F.sum("_p").over(w)
    return (
        per.withColumn("raw_share", share)
        .withColumn("_p", powed)
        .withColumn("temp_weight", F.when(psum > 0, F.col("_p") / psum))
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            F.round("raw_share", 6).alias("raw_share"),
            F.round("temp_weight", 6).alias("temp_weight"),
            F.when(
                F.col("raw_share") > 0,
                F.round(F.col("temp_weight") / F.col("raw_share"), 4),
            ).alias("oversample"),
        )
        .orderBy("domain")
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus version diff: per-document added / removed / changed /
    unchanged status between two snapshots, by content hash — the audit
    every dataset release needs (what moved between corpus v1 and v2,
    and is the churn rate sane) and the input to incremental
    re-processing (only 'added' + 'changed' re-enter the pipeline).

    Plan: each side reduces to (id, md5(text)) map-side, then ONE
    full-outer equi-join on the id — co-partitioned, one exchange per
    side (zero with both snapshots bucketed by id via sinks/bucketed).
    Never a text-comparison join: texts meet only through their hashes.

    Output: (id_col, old_h, new_h, status); hash columns are NULL on
    the absent side — and ONLY there: a NULL text hashes to a sentinel
    (md5(NULL) would propagate NULL and make a NULL-text doc present in
    both snapshots read as 'added'; NULL text is in-domain for this
    module, see kfold_split), so NULL->NULL is 'unchanged' and
    NULL<->text transitions are 'changed'.
    """
    h = F.coalesce(F.md5(F.col(text_col)), F.lit("\x00__null_text__"))
    o = old.select(F.col(id_col).alias("_id"), h.alias("old_h"))
    n = new.select(F.col(id_col).alias("_id"), h.alias("new_h"))
    status = (
        F.when(F.col("old_h").isNull(), F.lit("added"))
        .when(F.col("new_h").isNull(), F.lit("removed"))
        .when(F.col("old_h") != F.col("new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, "_id", "full_outer").select(
        F.col("_id").alias(id_col), "old_h", "new_h", status.alias("status")
    )


def corpus_diff_summary(diff: DataFrame) -> DataFrame:
    """Status counts from :func:`corpus_diff` — the release-gate
    numbers (4 rows max; churn thresholds alert on these)."""
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))


def token_budget_allocation(per_source: DataFrame, budget: int) -> DataFrame:
    """Largest-remainder (Hamilton) integer apportionment of a global
    training-token ``budget`` across sources — the step that turns
    mixture weights into the integer quotas a trainer's loader actually
    consumes. Input: (source, n_toks). Weight is the sqrt-flattened
    w_i = floor(sqrt(n_toks_i)) (temperature T=2 in the
    ``temperature_mixture`` sense; sqrt is IEEE correctly-rounded, so
    the weights are engine-exact integers). base_i = floor(B*w_i / W),
    then the B - sum(base) leftover units go to the largest remainders
    (B*w_i mod W), source-name tie-break. ALL integer arithmetic, so
    quotas sum to B exactly on any engine — the contract float shares
    cannot give. One |sources|-row aggregate, two 1-row broadcasts, one
    bounded |sources|-row window; never touches row-level data.

    Duplicate source rows are summed before weighting (so the operator
    is safe on un-aggregated input AND the leftover ranking's
    (remainder, source) tie-break stays deterministic — duplicate
    source keys would make row_number assignment physical-order
    dependent). ``budget`` must be a non-negative int: a float would
    silently turn the div/mod chain into double arithmetic and break
    the exact-sum contract.

    Output: (source, n_toks, wt, quota). Empty result if every source
    has zero weight (nothing to apportion; ANSI-safe, no div/0)."""
    from pyspark.sql.window import Window

    if not isinstance(budget, int) or isinstance(budget, bool) or budget < 0:
        raise ValueError(
            f"budget must be a non-negative int, got {budget!r} "
            "(a float would break the exact-integer quota contract)"
        )
    if budget > 2**63 - 1:
        raise ValueError(
            f"budget {budget} exceeds int64 — the quota column is BIGINT "
            "and no single source can receive more than the whole budget"
        )
    w = per_source.groupBy("source").agg(
        F.sum("n_toks").alias("n_toks")
    ).select(
        "source",
        "n_toks",
        F.coalesce(
            F.floor(F.sqrt(F.col("n_toks").cast("double"))).cast("long"), F.lit(0)
        ).alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("tot_w"))
    b = (
        w.crossJoin(F.broadcast(tot))
        .where(F.col("tot_w") > 0)
        .select(
            "source",
            "n_toks",
            "wt",
            # budget * wt in DECIMAL(38,0): a realistic training budget
            # (1e13 tokens) times a large source weight (sqrt of int64
            # n_toks, up to ~3.04e9) overflows BIGINT — ANSI mode would
            # fail opaquely and a non-ANSI session would wrap silently.
            # Decimal keeps the product exact (<= ~1e19 * 3e9 = 1e28,
            # far inside 38 digits); div/% stay exact integer math and
            # the RESULTS fit BIGINT by construction (base_q <= budget,
            # rem < tot_w). DuckDB's oracle twin promotes to HUGEINT on
            # the same product, so both engines stay exact.
            F.expr(
                f"CAST(CAST({budget} AS DECIMAL(38,0)) * wt div tot_w AS BIGINT)"
            ).alias("base_q"),
            F.expr(
                f"CAST(CAST({budget} AS DECIMAL(38,0)) * wt % tot_w AS BIGINT)"
            ).alias("rem"),
        )
    )
    spent = b.agg(F.sum("base_q").alias("spent"))
    wr = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        b.crossJoin(F.broadcast(spent))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "source",
            "n_toks",
            "wt",
            (
                F.col("base_q")
                + F.when(F.col("rk") <= budget - F.col("spent"), 1).otherwise(0)
            ).alias("quota"),
        )
    )


def relative_percentile_filter(
    scored: DataFrame,
    *,
    cut: float = 0.40,
    score_col: str = "score",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group RELATIVE quality cut: keep each group's top share of
    rows by score instead of one global threshold — the curation rule
    that stops a verbose domain from drowning a terse one when both
    face the same absolute cutoff. cume_dist over the tie-free
    (score, id) order is engine-identical (rows<=current / n on the
    same integers), and ``cd > cut`` keeps exactly
    n - floor(cut * n) rows per group. ONE group-partitioned window —
    never a global sort. Output: input columns + ``pct`` (the kept
    row's cume_dist, rounded). Rejects inputs already carrying a
    ``pct`` or ``_cd`` column — withColumn would silently clobber them
    (e.g. when re-filtering the output of a previous pass; alias the
    old column first)."""
    from pyspark.sql.window import Window

    clash = {"pct", "_cd"} & set(scored.columns)
    if clash:
        raise ValueError(
            f"relative_percentile_filter: input column(s) {sorted(clash)} "
            "would be overwritten; rename them before filtering"
        )
    # NULL scores fail LOUDLY at execution instead of silently diverging:
    # Spark windows sort NULLs FIRST ascending while SQL engines like
    # DuckDB sort them LAST, so a NULL row would land at a different
    # cume_dist on each engine and break the exact n - floor(cut*n)
    # keep-count contract. Callers must filter or coalesce first (the
    # registered gate does); the checked sort key raises per-row, so the
    # guard costs nothing on clean data and never scans eagerly.
    checked_score = F.when(
        F.col(score_col).isNull(),
        F.raise_error(
            F.lit(
                f"relative_percentile_filter: NULL in {score_col!r} — "
                "engines disagree on NULL ordering; filter or coalesce "
                "scores before the percentile cut"
            )
        ),
    ).otherwise(F.col(score_col))
    w = Window.partitionBy(group_col).orderBy(checked_score, F.col(id_col))
    return (
        scored.withColumn("_cd", F.cume_dist().over(w))
        .where(F.col("_cd") > cut)
        .withColumn("pct", F.round("_cd", 9))
        .drop("_cd")
    )


def class_balance_plan(
    df: DataFrame,
    *,
    group_col: str = "source",
    label_col: str = "lang",
) -> DataFrame:
    """Downsampling plan that balances classes within each group — the
    step before training-mix assembly: per (group, label) cell, the
    observed count, the group's balance target (its SMALLEST class —
    balancing down, never oversampling), and the keep fraction a
    sampler should apply to that cell.

    Emits a PLAN, not sampled rows: at 100 TB the decision table (one
    row per (group, label) cell) is what the orchestrator reviews and
    what a later `sample(fraction=...)`/filter pass consumes; computing
    it never touches row payloads.

    ``keep_frac`` = target/n — ONE division over exact integer counts
    (bit-equal cross-engine), rounded at 6; target = min cell count
    within the group, from a window over the BOUNDED per-cell aggregate
    (|groups|x|labels| rows, never the corpus). NULL group/label rows
    are excluded (a missing class is not a class).

    Output: (group, label, n, target, keep_frac).
    """
    from pyspark.sql.window import Window

    base = df.where(
        F.col(group_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(F.col(group_col).alias("grp"), F.col(label_col).alias("label"))
    cells = base.groupBy("grp", "label").agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("grp")
    return cells.select(
        F.col("grp").alias(group_col),
        "label",
        "n",
        F.min("n").over(w).cast("long").alias("target"),
        F.round(
            F.min("n").over(w).cast("double") / F.col("n"), 6
        ).alias("keep_frac"),
    )


def pack_segments(
    docs: DataFrame,
    *,
    budget_tokens: int = 512,
    stream_col: str = "lang",
    order_col: str = "doc_id",
    text_col: str = "text",
    max_stream_groups: int = 256,
    windowed_streams: bool = False,
) -> DataFrame:
    """Concat-and-SPLIT sequence packing: lay the token stream out per
    stream in deterministic order and cut it every ``budget_tokens``,
    letting documents STRADDLE chunk boundaries — the GPT-style packing
    that wastes zero tokens (``pack_sequences`` above assigns whole
    documents to the chunk holding their start offset; this operator
    emits the exact per-chunk SEGMENTS a tokenizer-feeding job writes,
    so every chunk is exactly full except each stream's last).

    Output: one row per (document x chunk) overlap —
    (stream, order, n_tokens, chunk_id, tok_from, tok_to) with
    [tok_from, tok_to) the WITHIN-DOCUMENT token slice that lands in
    chunk_id; segments of one document are contiguous, cover
    [0, n_tokens) exactly, and a document spans
    floor(start/budget)..floor((end−1)/budget) — all integer
    arithmetic, so engines and re-runs agree exactly — and the
    preconditions of that exactness are ENFORCED: NULL order keys are
    excluded (no defined stream position) and a duplicate
    (stream, order) key raises in-plan (ties would make every later
    offset depend on physical row order). Zero-token documents are
    excluded (nothing to place). Token counts are whitespace words via
    ``text.nonempty_tokens_col`` (the repo's one word definition); swap
    in ``text.subtoken_estimate`` for budget-accurate BPE-ish counts.

    Scale (100 TB): the cumulative stream offset is a TWO-LEVEL
    distributed prefix sum (``ranking.prefix_count_below`` — the same
    primitive behind auc_exact/spearman): the order domain maps to
    deterministic count-equalized monotone buckets, within-bucket
    windows run partitioned by (stream, bucket) — parallel — and the
    only unpartitioned windows run over the bounded cell-histogram
    table. A plain ``Window.partitionBy(stream)`` cumulative sum would
    funnel each stream through ONE task's sort — with a dominant
    language (English is routinely >half a web corpus) that is a
    corpus-sized single-task sort, exactly the skew this avoids (r12
    VERDICT advisory). Monotonicity of the bucket map in the order key
    (int64→double cast is order-preserving; within-bucket windows
    compare the ORIGINAL key) keeps the offsets exact wherever the
    bucket cuts land. Per-document segment expansion stays an in-row
    ``sequence()`` explode bounded by ceil(n_tokens/budget)+1 segments.
    Cost vs the old single-window layout: one extra narrow-projection
    aggregation (the (stream, order) compression that also hosts the
    duplicate check) plus the bounded cell-map machinery — the
    trade every caller at scale wants.

    ``order_col`` must be NUMERIC or date/timestamp (the bucket grid is
    built on its value; date/timestamp promote to their monotone epoch
    image, see ``_numeric_order_key``). For a string order key, derive
    a numeric rank first — or pass ``windowed_streams=True`` for the
    classic per-stream window form, which orders by any comparable type
    and is the RIGHT plan when stream cardinality exceeds
    ``max_stream_groups`` (many small streams are themselves the
    parallelism; the prefix core's broadcast cell map would be the
    bottleneck instead — r13 ADVICE). Both paths compute the identical
    pure function of (stream, order, counts), so switching never
    changes values. On the prefix path stream cardinality is bounded by
    ``max_stream_groups`` (enforced in-plan by the primitive's guard).
    """
    if not (isinstance(budget_tokens, int) and budget_tokens >= 1):
        raise ValueError(
            f"pack_segments: budget_tokens must be a positive int, got "
            f"{budget_tokens!r}"
        )
    n_tok = F.size(text.nonempty_tokens_col(text_col)).cast("long")
    # determinism is the whole contract, so its preconditions are
    # ENFORCED: NULL order keys are excluded (they have no defined
    # position in the stream — same stance as NULL text/stream), and a
    # DUPLICATE (stream, order) key raises in-plan inside the shared
    # offsets core (_stream_start_offsets) — ties would make every
    # later offset depend on physical row order.
    sized = (
        docs.where(
            F.col(text_col).isNotNull()
            & F.col(stream_col).isNotNull()
            & F.col(order_col).isNotNull()
        )
        .select(stream_col, order_col, n_tok.alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    base = _stream_start_offsets(
        sized,
        stream_col,
        order_col,
        "pack_segments",
        dtypes=dict(docs.dtypes),
        max_stream_groups=max_stream_groups,
        windowed_streams=windowed_streams,
    )
    base = base.withColumn("_end", F.col("_start") + F.col("n_tokens"))
    b = int(budget_tokens)
    first = F.expr(f"_start div {b}")
    last = F.expr(f"(_end - 1) div {b}")
    seg = base.select(
        stream_col,
        order_col,
        "n_tokens",
        "_start",
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    return seg.select(
        stream_col,
        order_col,
        "n_tokens",
        "chunk_id",
        F.greatest(
            F.col("chunk_id") * b - F.col("_start"), F.lit(0)
        ).cast("long").alias("tok_from"),
        F.least(
            (F.col("chunk_id") + 1) * b - F.col("_start"), F.col("n_tokens")
        ).cast("long").alias("tok_to"),
    )
