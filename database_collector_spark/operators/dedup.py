"""Deduplication operators for the training-data pipeline (extension
surface; BASELINE.json north star), each designed for the 100 TB path:

* exact          — hash-groupBy; one shuffle on the content hash.
* minhash + LSH  — shingle -> minhash signature -> band buckets ->
                   candidate pairs by band-equality join -> exact-Jaccard
                   verify of candidates only. Never all-pairs: the join is
                   |bucket|-bounded, the verify is |candidates|-bounded.
* n-gram Jaccard — shingle-blocked exact Jaccard (candidates = pairs
                   sharing >= 1 shingle); the fallback when recall must be
                   total and shingle frequency is bounded.
* SimHash        — 16-bit term-frequency simhash from md5 nibbles; near-dup
                   = small Hamming distance, bucketable by signature.

Hashes are md5 hex strings: identical lowercase hex in every engine, and
string MIN is binary-collation in both Spark and DuckDB, which makes the
minhash signatures engine-exact (no integer-conversion portability traps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4  # 4 bands x 4 rows

_INFER_GEN_RULE = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def _exclude_infer_filters_from_generate(df: DataFrame) -> None:
    """Disable InferFiltersFromGenerate for this session.

    NOTE this is a SESSION-GLOBAL setting, applied deliberately: optimizer
    rules take effect at action time, so a save-and-restore around lazy
    plan construction would not govern execution. ``session.get_spark``
    already sets it at session build (the primary path — keeps plans
    independent of operator call order); this call-site setter only covers
    foreign sessions (e.g. the external driver's plain SparkSession) and
    is additive-idempotent.

    The rule derives ``size(arr) > 0 AND isnotnull(arr)`` from an explode,
    and predicate pushdown then drags that predicate — with the FULL
    generator expression substituted into it — below any repartition down
    to the scan. For the shingle pipeline that means the whole
    transform/array_distinct chain is evaluated a second time per input
    row, before the fan-out exchange (i.e. at the scan's parallelism, one
    task for a single-split file): measured 6.7 s of an 8 s explode stage
    at sf0.1. The inferred predicate is semantically redundant here —
    ``shingle_sets`` already filters ``size(t) >= n``, which guarantees a
    non-null, non-empty shingle array — so excluding the rule changes no
    results, only the plan.
    """
    spark = df.sparkSession
    try:
        cur = spark.conf.get("spark.sql.optimizer.excludedRules")
    except Exception:
        cur = None
    if not cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", _INFER_GEN_RULE)
    elif _INFER_GEN_RULE not in cur:
        spark.conf.set("spark.sql.optimizer.excludedRules", cur + "," + _INFER_GEN_RULE)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate grouping by content hash.

    Output: (text_hash, n_docs, canonical_doc_id) — canonical = min doc_id,
    the standard keep-first policy. One shuffle keyed by the hash; at
    100 TB the md5 pre-hash keeps the shuffle key 32 bytes regardless of
    document size.
    """
    return (
        docs.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


def span_dedup(
    docs: DataFrame, *, span_words: int = 8, text_col: str = "text"
) -> DataFrame:
    """Span-level exact dedup (the C4/CCNet boilerplate-removal shape):
    split each document into fixed ``span_words``-word segments, keep only
    the globally FIRST occurrence of each distinct segment (first = min
    (doc_id, span_idx) lexicographic — deterministic), and reassemble the
    surviving segments in document order.

    Plan shape, and why it holds at 100 TB:
    * segmentation is a zero-shuffle projection (split + transform +
      posexplode — all codegen);
    * first-occurrence election is ONE shuffle keyed by ``md5(segment)``
      (32-byte key regardless of span text size) with a row_number
      window inside each key group — the canonical distributed
      keep-first, never an all-pairs comparison;
    * reassembly is one shuffle back on doc_id with an in-agg
      sort_array — the same partitioning a downstream per-doc write
      would need anyway.

    Output: (doc_id, n_spans, kept_spans, text_dedup) where text_dedup
    is the document with duplicated spans dropped.
    """
    # bind the split array ONCE per row: a lambda referencing the
    # split(...) expression re-splits the document per span
    # (O(tokens · spans) per doc); against the bound column each slice
    # is an O(span) copy of an existing array
    wref = F.col("_w")
    segs = docs.select("doc_id", F.split(F.col(text_col), " ").alias("_w")).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.size(wref) / span_words).cast("int") - 1,
                ),
                lambda i: F.array_join(
                    F.slice(wref, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("span_idx", "seg"),
    )
    w = Window.partitionBy(F.md5("seg")).orderBy("doc_id", "span_idx")
    firsts = segs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.count("*").alias("kept_spans"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("span_idx", "seg"))
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .join(
            docs.select(
                "doc_id",
                F.ceil(
                    F.size(F.split(F.col(text_col), " ")) / span_words
                ).cast("long").alias("n_spans"),
            ),
            "doc_id",
        )
        .select("doc_id", "n_spans", "kept_spans", "text_dedup")
    )


def shingle_sets(
    docs: DataFrame, *, n: int = 3, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Distinct word n-gram shingle SET per document: (doc_id, sh_arr).

    One narrow projection — no explode, no shuffle. Documents shorter than
    n tokens are dropped (they have no shingles; mirrors the exploded
    form, where such docs simply produce no rows). ``carry`` names extra
    input columns to keep alongside (e.g. an event-time column for
    streaming composition).

    The token array is materialized as a column BEFORE the transform lambda:
    expressions inside higher-order-function lambdas get no common-
    subexpression elimination, so referencing split(text) in the lambda body
    would re-split the document once per shingle position.
    """
    toks = docs.select("doc_id", *carry, F.split(F.col("text"), " ").alias("t"))
    # The when() guard looks redundant with the row filter, but is not:
    # InferFiltersFromGenerate derives a size(sh_arr) > 0 predicate from a
    # downstream explode and pushes it next to the size filter, where it
    # can evaluate the transform on short docs — whose descending
    # sequence() would feed slice() a start of 0 (runtime error in ANSI
    # mode). The guard makes the expression total; the filter keeps the
    # "short docs produce no row" semantics.
    # direct element indexing, not slice(): slice allocates a copy of the
    # n-token window per position (~|tokens| array allocations per doc);
    # t[i+j] lookups are O(1) on the backing array — measured 2x faster
    # over the fixture corpus with byte-identical output
    window = ", ' ', ".join(f"t[i + {j}]" for j in range(n))
    shingle_arr = F.when(
        F.size(F.col("t")) >= n,
        F.expr(f"transform(sequence(0, size(t) - {n}), i -> concat({window}))"),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toks.filter(F.size(F.col("t")) >= n)
        .select("doc_id", *carry, F.array_distinct(shingle_arr).alias("sh_arr"))
    )


def shingles(docs: DataFrame, *, n: int = 3) -> DataFrame:
    """Exploded long form (doc_id, shingle) — the blocking-join input."""
    _exclude_infer_filters_from_generate(docs)
    return shingle_sets(docs, n=n).select(
        "doc_id", F.explode("sh_arr").alias("shingle")
    )


def minhash_signatures(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """documents -> one wide row per doc: (doc_id, n_sh, h0..h15).

    h_s(doc) = MIN over shingles of md5('<s>:' || shingle), computed as
    array_min(transform(sh_arr, ...)) — a pure per-document projection.
    ZERO shuffles for the whole signature table: the classic formulation
    (explode shingles -> groupBy(doc) with num_hashes MIN aggregates)
    shuffles one row per document anyway, but pays explode + partial-agg
    hash-map churn on a shingle stream ~50x the corpus row count. At
    100 TB signatures-at-scan-speed is the difference that matters.
    """
    sets = shingle_sets(docs, n=n, carry=carry)
    mins = [
        F.expr(
            f"array_min(transform(sh_arr, x -> md5(concat('{s}', ':', x))))"
        ).alias(f"h{s}")
        for s in range(num_hashes)
    ]
    return sets.select(
        "doc_id", *carry, F.size("sh_arr").cast("long").alias("n_sh"), *mins
    )


def band_values(
    signatures: DataFrame,
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band, band_val) — the LSH bucket keys of a signature
    table. band_val = md5('|'-concat of the band's minhashes in seed
    order): one 32-byte join key per (doc, band), pure column ops."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{s}")
                            for s in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ],
                    )
                ).alias("band_val"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", *carry, F.explode(band_structs).alias("bv")
    ).select(
        "doc_id",
        *carry,
        F.col("bv.band").alias("band"),
        F.col("bv.band_val").alias("band_val"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Band the wide signature and bucket-join: docs agreeing on ALL rows
    of any band become a candidate pair.

    band value = md5('|'-concat of the band's minhashes in seed order) —
    one 32-byte join key per (doc, band), derived by pure column ops (no
    shuffle). The self-join is on (band, band_val): only same-bucket docs
    ever meet, which is the whole point of LSH at scale. Output: distinct
    (doc_a, doc_b), doc_a < doc_b.
    """
    band_vals = band_values(signatures, num_hashes=num_hashes, bands=bands)
    a = band_vals.alias("a")
    b = band_vals.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_verify(
    sets: DataFrame,
    pairs: DataFrame,
    *,
    threshold: float = 0.8,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate pairs only.

    The candidate pair list (small post-LSH) joins the per-doc shingle-set
    table twice to attach both arrays, then |A ∩ B| is a single
    array_intersect per pair — no exploded shingle-equality join, no
    count shuffle. Jaccard is an integer rational
    (shared / (|A|+|B|-shared)) -> double divide -> round, engine-exact.

    No explicit broadcast hint on the pair list: Spark honors explicit
    hints regardless of actual size, and the candidate count is
    data-dependent (a band-bucket blowup on a low-entropy corpus could
    make it huge) — a forced broadcast would OOM the driver exactly when
    LSH misbehaves. AQE broadcasts it dynamically whenever the runtime
    size is small (the common case) and otherwise degrades to a shuffle
    join that stays |pairs|-bounded, never |shingles|-bounded.
    """
    a = sets.select(
        F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a")
    )
    # sets_b: separate set table for the doc_b side (cross-corpus verify,
    # e.g. incremental new-vs-existing pairs); defaults to the same table
    b = (sets_b if sets_b is not None else sets).select(
        F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b")
    )
    return jaccard_from_arrays(
        pairs.join(a, "doc_a").join(b, "doc_b"),
        keys=("doc_a", "doc_b"),
        threshold=threshold,
    )


def jaccard_from_arrays(
    attached: DataFrame,
    *,
    keys: tuple[str, ...],
    threshold: float,
) -> DataFrame:
    """(keys..., arr_a, arr_b) -> (keys..., jaccard >= threshold).

    THE one definition of the exact-Jaccard arithmetic (integer rational
    -> double divide -> round 4 -> non-strict threshold) shared by the
    batch verifiers — the engine-exactness contract lives here, in one
    place.
    """
    return (
        attached.select(
            *keys,
            F.size(F.array_intersect("arr_a", "arr_b")).alias("shared"),
            F.size("arr_a").alias("n_a"),
            F.size("arr_b").alias("n_b"),
        )
        .select(
            *keys,
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    candidates -> exact verify. Output (doc_a, doc_b, jaccard >= threshold).

    Plan shape: both the signature branch and the verify branch are narrow
    per-document projections over the corpus (two scans, zero wide
    intermediates); the only shuffles are the tiny banded-signature
    self-join and the candidate-pair attach joins. At 100 TB re-scanning
    documents beats materializing an exploded shingle table many times the
    corpus size.
    """
    sigs = minhash_signatures(docs, n=n, num_hashes=num_hashes)
    pairs = lsh_candidate_pairs(sigs, num_hashes=num_hashes, bands=bands)
    return jaccard_verify(shingle_sets(docs, n=n), pairs, threshold=threshold)


def simhash_pairs(
    docs: DataFrame, *, bits: int = 16, max_hamming: int = 2
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball — the search step the
    signature operator feeds (SCALE.md: "Hamming-ball search buckets by
    signature prefix").

    Pigeonhole blocking: the b-bit signature splits into
    ``max_hamming + 1`` contiguous blocks; two signatures within Hamming
    distance ``max_hamming`` must agree EXACTLY on at least one block, so
    candidates are the (block_idx, block_val) bucket collisions — never
    an all-pairs product — and the exact ``bit_count(xor)`` check then
    prunes false bucketmates. At corpus scale the block id is a
    partition key like the LSH band: each bucket's pair generation is
    local, and worst-case bucket size is governed by block width
    (bits / (max_hamming+1)) — widen ``bits`` if buckets run hot.

    Output: (doc_a, doc_b, hamming <= max_hamming), doc_a < doc_b.
    """
    n_blocks = max_hamming + 1
    if bits % 4 != 0:
        raise ValueError(f"bits={bits} must be a multiple of 4 (md5 nibbles)")
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_blocks} blocks of >=1 bit "
            f"but the signature has only {bits} bits"
        )
    sigs = simhash(docs, bits=bits).localCheckpoint(eager=True)
    # widths distributed evenly (bits//n_blocks, +1 for the first
    # bits%n_blocks blocks) so every block is non-empty — a ceil-width
    # scheme would leave trailing blocks zero-width when bits is not
    # divisible, degenerating their bucket to a corpus-wide constant
    base_w, extra = divmod(bits, n_blocks)
    widths = [base_w + (1 if j < extra else 0) for j in range(n_blocks)]
    offsets = [sum(widths[:j]) for j in range(n_blocks)]
    block_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("block"),
                (
                    F.shiftrightunsigned(F.col("simhash"), offsets[j])
                    % F.lit(1 << widths[j])
                ).alias("block_val"),
            )
            for j in range(n_blocks)
        ]
    )
    blocks = sigs.select(
        "doc_id", "simhash", F.explode(block_structs).alias("bv")
    ).select(
        "doc_id",
        "simhash",
        F.col("bv.block").alias("block"),
        F.col("bv.block_val").alias("block_val"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, *, n: int = 8
) -> DataFrame:
    """Benchmark decontamination: which corpus documents share any token
    n-gram with a held-out evaluation set (the standard pre-training
    hygiene step — contaminated docs leak test answers into training).

    Output: (doc_id, n_hit_shingles) for every corpus doc with >= 1
    overlapping distinct n-gram; anti-join the result to drop them.

    Plan shape at 100 TB: the benchmark side is DISTINCT n-grams of an
    evaluation suite — bounded small BY DEFINITION (benchmarks are
    thousands of docs, not corpora), hence the explicit broadcast is a
    contract, not a data-dependent guess (cf. jaccard_verify, where the
    pair list is unbounded and the hint is deliberately absent). The
    corpus side explodes to an n-gram stream but that is a narrow
    flat-map feeding a broadcast-hash SEMI-shaped join at scan
    parallelism: only MATCHING (doc, gram) rows — contamination is rare
    by construction — reach the per-doc count exchange. Nothing
    |corpus|-sized ever shuffles.
    """
    bench_sh = shingles(benchmark, n=n).select("shingle").distinct()
    return (
        shingles(docs, n=n)
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit_shingles"))
    )


def incremental_minhash_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-dup check of a NEW batch against an EXISTING corpus — the
    nightly-ingest shape: which incoming documents duplicate content the
    lake already holds?

    Candidates are band-bucket collisions BETWEEN the sides only (the
    band join is new x corpus) — corpus x corpus pairs never form, so a
    steady-state 100 TB lake pays |new| signature scans plus a join whose
    corpus side is touched only in colliding buckets, NOT a re-dedup of
    the whole lake. In practice the corpus band table is computed once
    and persisted (it is a pure function of content); each ingest then
    joins its fresh bands against the stored table. Exact-Jaccard verify
    runs per side (sets_b), so neither side's shingle table is unioned.

    Output: (new_doc, corpus_doc, jaccard >= threshold). A new doc with
    any row here is a drop candidate; doc_ids must be unique across both
    sides (the lake's global-id contract).
    """
    new_b = band_values(
        minhash_signatures(new_docs, n=n, num_hashes=num_hashes),
        num_hashes=num_hashes, bands=bands,
    )
    old_b = band_values(
        minhash_signatures(corpus_docs, n=n, num_hashes=num_hashes),
        num_hashes=num_hashes, bands=bands,
    )
    cands = (
        new_b.alias("a")
        .join(
            old_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = jaccard_verify(
        shingle_sets(new_docs, n=n),
        cands,
        threshold=threshold,
        sets_b=shingle_sets(corpus_docs, n=n),
    )
    return verified.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("corpus_doc"),
        "jaccard",
    )


def ngram_jaccard_pairs(
    docs: DataFrame, *, n: int = 3, threshold: float = 0.3, df_max: int | None = 64
) -> DataFrame:
    """Shingle-blocked exact Jaccard: candidates = any pair sharing a
    kept shingle.

    ``df_max`` bounds shingle document frequency: buckets with more than
    ``df_max`` docs are dropped before pair generation (stopword-gram
    suppression). Pair generation is quadratic PER BUCKET, so one
    boilerplate shingle ("all rights reserved") appearing in d docs would
    otherwise emit d(d-1)/2 pairs — at corpus scale a multi-billion-row
    explosion from a single hot 3-gram. The cap makes the worst bucket
    cost df_max²/2 regardless of corpus size. Recall tradeoff, explicit:
    a pair sharing ONLY dropped shingles is missed, and surviving pairs'
    shared-counts exclude dropped shingles (denominators stay full-set
    sizes), so reported jaccard is a lower bound. ``df_max=None`` restores
    full recall for bounded-frequency corpora.

    Blocking is grouped pair-GENERATION, not a self-join: group the
    exploded (doc_id, n_sh, shingle) stream by shingle once, emit each
    bucket's i<j pairs with an array comprehension, and count pairs.
    Two shuffles total (bucket build + pair count). The equivalent
    self-join shuffles the shingle stream twice for the join, hash-probes
    |stream| rows, and then still pays the pair-count shuffle — same
    output, three wide stages instead of two, measured ~1.6x slower at
    sf0.1. Bucket doc lists are sorted by doc_id (first struct field),
    so emitted pairs are ordered (doc_a < doc_b) by construction.

    Each doc's shingle-set SIZE rides along through the bucket into the
    generated pair, so the Jaccard denominator is available straight off
    the pair-count aggregate — no per-doc size table, which would cost a
    second scan of the corpus plus two attach joins over the ~|pairs|
    stream (both measurably slower than the few extra bytes per shuffle
    row).
    """
    _exclude_infer_filters_from_generate(docs)
    buckets = _shingle_buckets(docs, n=n, df_max=df_max)
    return _bucket_pair_counts(buckets).select(
        "doc_a",
        "doc_b",
        F.round(
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 4
        ).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def _shingle_buckets(
    docs: DataFrame, *, n: int, df_max: int | None
) -> DataFrame:
    """The one shingle-blocking definition shared by every set-overlap
    measure: exploded (doc_id, set-size, shingle) stream grouped per
    shingle into a doc_id-sorted bucket, singleton buckets dropped,
    hot buckets capped at ``df_max`` docs (recall caveat documented on
    ``ngram_jaccard_pairs``). A change to the bucket order or the cap
    semantics here changes Jaccard and containment TOGETHER — they can
    no longer silently diverge."""
    sh = shingle_sets(docs, n=n).select(
        "doc_id",
        F.size("sh_arr").cast("long").alias("n_sh"),
        F.explode("sh_arr").alias("shingle"),
    )
    if df_max is not None:
        # drop hot shingles BEFORE collecting their bucket arrays: the
        # old order built the full per-shingle array first and filtered
        # on its size after — a stopword-gram with
        # 1e8 docs materializes a multi-GB aggregation buffer before
        # being thrown away. The pre-count costs one extra map-side-
        # combinable aggregate over the shingle stream (only on the
        # capped path — df_max=None keeps the single-pass shape) and
        # produces the identical bucket set.
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > df_max)
            .select("shingle")
        )
        sh = sh.join(hot, "shingle", "left_anti")
    buckets = (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return buckets


def _bucket_pair_counts(buckets: DataFrame) -> DataFrame:
    """Shingle buckets -> (doc_a, doc_b, n_a, n_b, shared): each bucket's
    i<j pairs via an index-pair comprehension (O(1) element lookups; the
    slice()-based form copied the bucket's tail array once per left
    element — O(bucket²) allocation on top of the O(bucket²) pairs), one
    pair-count aggregate. Shared tail of every set-overlap measure
    (Jaccard, containment)."""
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ds) - 2), i -> "
                    "transform(sequence(i + 1, size(ds) - 1), "
                    "j -> struct(ds[i].doc_id AS doc_a, ds[j].doc_id AS doc_b, "
                    "ds[i].n_sh AS n_a, ds[j].n_sh AS n_b))))"
                )
            ).alias("pr")
        )
        .groupBy(
            F.col("pr.doc_a").alias("doc_a"),
            F.col("pr.doc_b").alias("doc_b"),
            F.col("pr.n_a").alias("n_a"),
            F.col("pr.n_b").alias("n_b"),
        )
        .agg(F.count("*").alias("shared"))
    )


def containment_pairs(
    docs: DataFrame, *, n: int = 3, threshold: float = 0.9, df_max: int | None = 64
) -> DataFrame:
    """Broder CONTAINMENT dedup — the asymmetric overlap Jaccard misses:
    c(A→B) = |S_A ∩ S_B| / |S_A| finds a short document swallowed by a
    long one (quote-inside-article, chunk-inside-corpus), where Jaccard
    stays low because the union is dominated by the big doc. Emits pairs
    where EITHER direction reaches ``threshold``, with both directional
    containments; the smaller side is the removal candidate.

    Same blocking/plan as ``ngram_jaccard_pairs`` (grouped bucket pair
    generation, df_max hot-shingle cap with the identical recall
    caveat); the threshold test is exact integer cross-multiplication
    at millesimal resolution (shared·1000 ≥ round(t·1000)·n) — no float
    enters the decision and arbitrary thresholds survive exactly."""
    _exclude_infer_filters_from_generate(docs)
    # exact rational threshold at millesimal resolution: round(0.9*1000)
    # = 900/1000; a tenths-only quantization (round(t*10)) silently
    # rewrote e.g. 0.85 -> 0.8 (banker's rounding) and 0.95 -> 1.0
    num, den = round(threshold * 1000), 1000
    pairs = _bucket_pair_counts(_shingle_buckets(docs, n=n, df_max=df_max))
    hit = (F.col("shared") * den >= num * F.col("n_a")) | (
        F.col("shared") * den >= num * F.col("n_b")
    )
    return pairs.filter(hit).select(
        "doc_a",
        "doc_b",
        F.round(F.col("shared") / F.col("n_a"), 4).alias("cont_a_in_b"),
        F.round(F.col("shared") / F.col("n_b"), 4).alias("cont_b_in_a"),
    )


def simhash(docs: DataFrame, *, bits: int = 16) -> DataFrame:
    """Term-frequency SimHash from md5 nibbles (portable bit arithmetic).

    Each token contributes ±1 per bit position, bits taken from the first
    bits/4 hex chars of md5(token); signature bit = sign of the sum.
    Near-dup docs differ in few bits (Hamming). Output (doc_id, simhash).

    SimHash is a pure function of the document's token multiset, so the
    whole signature is ONE narrow projection: md5-prefix array
    materialized once per document (tokens hashed once, not once per
    bit), then a per-bit ±1 fold over that array. ZERO shuffles — the
    previous formulation exploded tokens x bit-positions (a stream 16x
    the token count) through two groupBys; at 100 TB signatures must
    come off the scan directly.
    """
    n_hex = bits // 4
    toks = docs.select(
        "doc_id",
        F.expr(
            f"transform(split(text, ' '), t -> substring(md5(t), 1, {n_hex}))"
        ).alias("hx"),
    )
    sig: F.Column = F.lit(0).cast("long")
    for j in range(bits):
        char_idx = j // 4 + 1  # 1-based hex char holding bit j
        div = 1 << (3 - j % 4)
        s_j = F.expr(
            f"aggregate(hx, 0, (acc, h) -> acc + "
            f"CASE WHEN CAST((instr('0123456789abcdef', substring(h, {char_idx}, 1)) - 1) "
            f"/ {div} AS INT) % 2 = 1 THEN 1 ELSE -1 END)"
        )
        sig = sig + F.when(s_j > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return toks.select("doc_id", sig.alias("simhash"))


def fuzzy_pairs(
    docs: DataFrame,
    *,
    bucket_width: int = 8,
    max_distance: int = 5,
) -> DataFrame:
    """Edit-distance near-dup pairs: documents whose FULL texts are
    within ``max_distance`` Levenshtein edits — the fuzzy tier below
    SimHash/MinHash (those need token overlap; this catches
    character-level mutations: OCR noise, truncation, small edits).

    Scale shape: all-pairs Levenshtein is O(n² · L²); blocking by text-
    length bucket (``len div bucket_width``, probing own + adjacent
    buckets) turns the plan into an EQUI-join on bucket id with the
    Levenshtein as a residual filter over candidate pairs only — the
    range-join trick applied to edit space. The blocking is LOSSLESS,
    not heuristic: the bucketed quantity is the length of the exact
    string the distance is computed on, so the standard bound
    |len(a) - len(b)| <= lev(a, b) guarantees any pair within
    ``max_distance < bucket_width`` edits lands in the same or an
    adjacent bucket. The residual uses Spark's THRESHOLDED levenshtein
    (banded DP: O(max_distance · L) per candidate, early-exit -1 past
    the threshold), so candidate cost scales with the edit budget, not
    L². Length buckets also keep their discriminative power on real
    corpora (length varies; an earlier prefix-length bucketing scheme
    collapsed every doc longer than the prefix into ONE bucket — the
    all-pairs cliff this blocking exists to avoid). Output:
    (doc_a, doc_b, distance), doc_a < doc_b."""
    assert max_distance < bucket_width, (
        "adjacent-bucket probing is only lossless when max_distance < "
        "bucket_width (a larger edit budget could cross 2+ buckets)"
    )
    p = docs.select(
        "doc_id",
        "text",
        F.floor(F.length("text") / bucket_width).alias("b"),
    )
    probes = p.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("probe"),
    )
    right = p.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
        F.col("b").alias("rb"),
    )
    # thresholded form returns -1 once the band is exceeded
    dist = F.levenshtein("text_a", "text_b", max_distance)
    return (
        probes.join(right, probes["probe"] == right["rb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.alias("distance"))
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_distance))
    )


def set_similarity_join(
    docs: DataFrame,
    *,
    threshold_num: int = 9,
    threshold_den: int = 10,
    text_col: str = "text",
    shingle_words: int | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join: all pairs whose distinct-token
    Jaccard >= threshold_num/threshold_den — the AllPairs/PPJoin prefix-
    filtering plan (Bayardo-Ma-Srikant WWW'07; Chaudhuri et al. SSJoin),
    the exact counterpart of the MinHash tier (LSH trades recall for
    candidate count; prefix filtering keeps recall = 1 and still prunes).

    Why it prunes: order every doc's tokens by ascending global document
    frequency (rarest first, token string tie-break — a total order).
    If J(x, y) >= t, the two docs MUST share a token inside each other's
    first |x| - ceil(t|x|) + 1 tokens, so candidate generation explodes
    only that prefix (~(1-t)|x| tokens) instead of the whole set, and
    the hottest (most frequent) tokens — the ones that blow up an
    inverted-index join — sit at the END of the order and rarely enter
    prefixes. A length filter (t·max(|x|,|y|) <= min) prunes further;
    the exact array_intersect verify then removes false candidates, so
    the threshold answer is identical to the naive all-pairs join.

    Plan: token df = one vocabulary-sized aggregate (broadcast back);
    prefix inverted index = one explode of ~(1-t) of the token stream;
    candidates = equi-join on prefix token; verify = two doc-keyed joins
    carrying the token arrays. Worst-case candidate volume is sum of
    squared prefix-posting lengths — governed by t, not by the hot-token
    df, which is what makes this shape survive a 100 TB corpus where the
    plain token self-join (the oracle form) dies on stop-words.

    ``shingle_words=n`` switches the set elements from single words to
    n-word shingles — the near-dup setting prefix filtering is built
    for: shingle vocabularies are huge and dfs tiny, so prefix posting
    lists stay short. Word-level sets over a SMALL vocabulary (every
    token hot) are the adversarial case — every prefix token carries a
    long posting list and candidate volume degrades toward all-pairs;
    prefer shingles (or the MinHash tier) on such corpora.

    Output: (doc_a, doc_b, inter, un, jacc_ppb) with doc_a < doc_b and
    jacc_ppb = floor(inter * 1e9 / union) — exact int64.
    """
    t = threshold_num / threshold_den
    assert 0 < t <= 1, "threshold must be in (0, 1]"
    # bind the split array ONCE per row: the shingle lambda referencing
    # the split(...) expression re-splits the document per shingle
    # position — O(tokens²) per doc on the corpus scan; against the
    # bound column each slice is O(shingle)
    wref = F.col("_w")
    if shingle_words:
        n_sh = F.size(wref) - (shingle_words - 1)
        elems = F.when(
            n_sh >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(n_sh, F.lit(1))),
                    lambda i: F.array_join(F.slice(wref, i, shingle_words), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))
    else:
        elems = F.array_distinct(wref)
    toks = (
        docs.select("doc_id", F.split(F.col(text_col), " ").alias("_w"))
        .select("doc_id", F.explode(elems).alias("tok"))
        .where(F.col("tok") != "")
    )
    df_tok = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ordered = (
        toks.join(F.broadcast(df_tok), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .select("doc_id", "toks", F.size("toks").alias("n"))
    )
    # prefix length p = n - ceil(t*n) + 1; ceil(a/b) = (a + b - 1) // b
    ceil_tn = F.floor(
        (F.lit(threshold_num) * F.col("n") + threshold_den - 1) / threshold_den
    )
    prefix = ordered.select(
        "doc_id",
        "n",
        F.explode(
            F.slice(F.col("toks"), 1, (F.col("n") - ceil_tn + 1).cast("int"))
        ).alias("ptok"),
    )
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"), "ptok"
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"), "ptok"
    )
    cands = (
        a.join(b, "ptok")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.lit(threshold_num) * F.greatest("na", "nb")
                <= F.lit(threshold_den) * F.least("na", "nb")
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ta = ordered.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("n").alias("na")
    )
    tb = ordered.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("n").alias("nb")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b")).cast("long")
    un = (F.col("na") + F.col("nb")).cast("long") - inter
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("inter"),
            un.alias("un"),
            # exact floor-div: subtract the remainder first so the divide
            # is of an exactly-divisible int64 (result <= 1e9 << 2^53)
            (
                (inter * 1_000_000_000 - (inter * 1_000_000_000) % un) / un
            ).cast("long").alias("jacc_ppb"),
        )
        .where(
            F.col("inter") * threshold_den >= F.lit(threshold_num) * F.col("un")
        )
    )


def boundary_overlap_pairs(
    docs: DataFrame, *, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Shard-boundary duplication detector: find ordered pairs where doc
    A's LAST ``k`` words equal doc B's FIRST ``k`` words — the signature
    of a document split across extraction shards or a crawl that
    re-emitted a page's tail as the next record's head. Containment and
    Jaccard both miss this shape when the overlap is a small fraction of
    either document.

    Plan: each doc contributes one md5 of its head window and one of its
    tail window (zero-shuffle projection); candidates come from ONE
    equi-join tail_hash = head_hash (never a substring scan), then the
    actual word windows verify the match (md5 collision safety) and the
    pair is emitted with the overlap text. Self-pairs are excluded;
    docs shorter than ``k`` words have no window and never match."""
    from database_collector_spark.operators.text import nonempty_tokens_col

    toks = nonempty_tokens_col(text_col)
    base = docs.select(
        "doc_id",
        toks.alias("ts"),
    ).where(F.size("ts") >= k)
    head = F.array_join(F.slice("ts", 1, k), " ")
    # greatest() keeps the slice total: the size >= k guard above does
    # NOT protect this expression — whole-stage codegen can evaluate it
    # as a shared subexpression inside the Filter stage, where rows with
    # fewer than k words would make the start argument non-positive and
    # abort the job
    tail = F.array_join(
        F.slice("ts", F.greatest(F.size("ts") - k + 1, F.lit(1)), k), " "
    )
    sides = base.select(
        "doc_id",
        head.alias("head_txt"),
        tail.alias("tail_txt"),
        F.md5(head).alias("head_h"),
        F.md5(tail).alias("tail_h"),
    )
    a = sides.select(
        F.col("doc_id").alias("doc_a"),
        F.col("tail_txt").alias("overlap_a"),
        F.col("tail_h").alias("h"),
    )
    b = sides.select(
        F.col("doc_id").alias("doc_b"),
        F.col("head_txt").alias("overlap_b"),
        F.col("head_h").alias("h"),
    )
    return (
        a.join(b, "h")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (F.col("overlap_a") == F.col("overlap_b"))
        )
        .select("doc_a", "doc_b", F.col("overlap_a").alias("overlap"))
    )


def incremental_signature_pairs(
    new_docs: DataFrame,
    corpus_sigs: DataFrame,
    corpus_docs: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.8,
) -> DataFrame:
    """``incremental_minhash_pairs`` with a PERSISTED corpus signature
    table: the corpus side's signatures arrive precomputed (read back
    from the parquet store the previous build wrote) instead of being
    recomputed from text — the steady-state nightly shape, where
    signature cost is O(|new|) and the lake's signature table is an
    immutable content-addressed artifact. ``corpus_docs`` supplies the
    corpus-side TEXT only for the exact-Jaccard verify of colliding
    candidates (production stores sh_arr alongside the signatures to
    skip even that; the fixture-scale gate recomputes it to keep the
    stored artifact minimal). Band join is new x store only; output is
    (new_doc, corpus_doc, jaccard >= threshold)."""
    new_b = band_values(
        minhash_signatures(new_docs, n=n, num_hashes=num_hashes),
        num_hashes=num_hashes, bands=bands,
    )
    old_b = band_values(corpus_sigs, num_hashes=num_hashes, bands=bands)
    cands = (
        new_b.alias("a")
        .join(
            old_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    verified = jaccard_verify(
        shingle_sets(new_docs, n=n),
        cands,
        threshold=threshold,
        sets_b=shingle_sets(corpus_docs, n=n),
    )
    return verified.select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("corpus_doc"),
        "jaccard",
    )


def cross_doc_duplicate_spans(
    docs: DataFrame, *, k: int = 8, text_col: str = "text"
) -> DataFrame:
    """Exact substring deduplication ACROSS documents (the Lee et al.
    2022 "Deduplicating Training Data Makes Language Models Better"
    shape): find every maximal token span that appears VERBATIM, at
    least ``k`` tokens long, in two or more distinct documents, and emit
    the cut list (doc_id, span_start, span_end, span_tokens; positions
    1-based, inclusive) a downstream pass would excise — the cross-doc
    complement of ``span_dedup`` (which cuts fixed intra-corpus
    segments, C4-style).

    The reference has no text surface (its rows are metric samples,
    collector/cmd/collector/database-collector.go); this extends the
    training-data-pipeline tier.

    Distributed formulation — a sorted-shingle-chain approximation of
    the paper's suffix array, exact for the emitted contract: a verbatim
    overlap of length L >= k between two documents produces L - k + 1
    consecutive duplicated-k-shingle positions in each, and merging
    positions whose k-token windows overlap or touch (gap <= k)
    reconstructs exactly the maximal [p, p + L - 1] span. Conversely
    every emitted span is covered end-to-end by k-shingles that each
    occur in >= 2 distinct documents. (A merged span may chain overlaps
    against DIFFERENT partners — the same union-of-duplicated-bytes
    semantics the paper's ExactSubstr cut list has.)

    Plan shape, and why it holds at 100 TB:
    * positioned shingling is a zero-shuffle projection (split +
      transform + explode, all codegen; md5 collapses arbitrary-width
      span text to a 32-byte shuffle key);
    * the duplicated-shingle vocabulary is ONE (doc, shingle)-distinct
      aggregate keyed by the hash — never doc x doc;
    * the join-back is a broadcast-or-shuffle hash join on the same key;
    * span merge is the classic gaps-and-islands: one doc-keyed window
      (lag + running sum) — partitions are single documents.
    """
    _exclude_infer_filters_from_generate(docs)
    toks = docs.select("doc_id", F.split(F.col(text_col), " ").alias("t"))
    span_txt = ", ' ', ".join(f"t[i + {j} - 1]" for j in range(k))
    # 1-based positions: shingle at pos i covers tokens [i, i+k-1],
    # matching DuckDB's 1-based list indexing so the emitted span
    # coordinates are engine-identical. Same when()-guard totality
    # pattern as shingle_sets (ANSI sequence() on short docs).
    pos_sh = (
        toks.filter(F.size("t") >= k)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("t") >= k,
                    F.expr(
                        f"transform(sequence(1, size(t) - {k} + 1), "
                        f"i -> struct(i AS pos, md5(concat({span_txt})) AS sh))"
                    ),
                ).otherwise(
                    F.array().cast("array<struct<pos:int,sh:string>>")
                )
            ).alias("ps"),
        )
        .select("doc_id", F.col("ps.pos").alias("pos"), F.col("ps.sh").alias("sh"))
    )
    dup_sh = (
        pos_sh.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("sh")
    )
    marked = pos_sh.join(dup_sh, "sh")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        marked.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1
            ).otherwise(0),
        )
        .withColumn(
            "isl",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )
