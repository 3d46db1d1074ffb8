"""Text-analysis operators for the training-data pipeline (extension
surface; BASELINE.json north star).

All operators are pure DataFrame expressions — no Python UDFs in the hot
path — so whole-stage codegen keeps them JVM-side at 100 TB. Each has an
exact ANSI-SQL twin in workloads.py for the DuckDB gate; determinism
rules: tokenization = literal single-space split (the corpus is
single-space normalized), hashing = md5 hex (identical lowercase hex in
every engine), ratios = integer-count rationals divided in double and
rounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Per-language stopword lists for the n-gram/voting language heuristic.
# Tiny on purpose: broadcast as a literal VALUES relation; at 100 TB this
# is a broadcast-hash-join against an exploded token stream.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "los"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "des", "et", "une"),
    "zh": ("的", "是", "不"),
}


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(F.col(text_col), " ")


def nonempty_tokens_col(text_col: str = "text") -> F.Column:
    """Whitespace tokens with empties dropped — the ONE definition of
    "word" for operators that must agree on word counts (readability,
    boundary overlap, bigram LM). A tokenization tweak here changes
    them together instead of letting five inline copies drift."""
    return F.expr(f"filter(split({text_col}, ' '), t -> t <> '')")


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counting: whitespace tokens, distinct tokens,
    type-token ratio, average token length (exact rational -> round 4)."""
    t = tokens_col()
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
        F.round(F.size(F.array_distinct(t)) / F.size(t), 4).alias("type_token_ratio"),
        # tokens are single-space separated: total token chars = n_chars - (n_tokens - 1)
        F.round(
            (F.length("text") - (F.size(t) - F.lit(1))) / F.size(t), 4
        ).alias("avg_token_len"),
    )


def subtoken_estimate(docs: DataFrame, *, chars_per_subtoken: int = 4) -> DataFrame:
    """BPE-ish token-count estimate without a vocabulary: each whitespace
    word contributes ceil(len/4) subtokens (the empirical ~4-chars-per-
    BPE-token rule), so long words cost proportionally more — the property
    budget planning needs and a bare whitespace count lacks.

    Pure higher-order array expression (transform + aggregate), zero
    Python: per-row work stays in codegen, and the 100 TB plan is a
    map-only scan feeding whatever aggregation consumes the estimate.
    """
    est = F.expr(
        "aggregate(transform(split(text, ' '), "
        f"w -> CAST(ceil(length(w) / {chars_per_subtoken}.0) AS BIGINT)), "
        "0L, (acc, x) -> acc + x)"
    )
    return docs.select(
        "doc_id",
        "lang",
        F.size(tokens_col()).cast("long").alias("n_words"),
        est.alias("n_subtokens_est"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-voting language identification.

    Votes for every candidate language are per-document array expressions
    (count of tokens in that language's stopword set), and the argmax is a
    strictly-greater fold over candidates in ascending-name order — which
    reproduces the tie-break ``votes DESC, lang ASC`` exactly. The whole
    operator is ONE narrow projection: no token explode, no join, no vote
    shuffle, no window. At 100 TB this runs at scan speed; the
    exploded-token broadcast-join formulation (the SQL twin) shuffles a
    token stream ~50x the corpus row count.

    Docs with zero votes for every language -> 'unknown' (the fold's
    initial accumulator, never beaten without a strictly positive count).
    """
    toks = docs.select("doc_id", "lang", tokens_col().alias("t"))
    best_v: F.Column = F.lit(0)
    best_l: F.Column = F.lit("unknown")
    for lang in sorted(LANG_STOPWORDS):
        words = ",".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        v = F.expr(f"size(filter(t, x -> array_contains(array({words}), x)))")
        wins = v > best_v
        best_l = F.when(wins, F.lit(lang)).otherwise(best_l)
        best_v = F.when(wins, v).otherwise(best_v)
    return toks.select(
        "doc_id",
        best_l.alias("pred_lang"),
        best_v.cast("long").alias("votes"),
        F.col("lang").alias("actual_lang"),
    )


def stopword_count_col(text_col: str = "text") -> F.Column:
    """Per-row count of whitespace tokens that are stopwords (union of
    every language's list) — the ONE stopword-count definition shared
    by ``quality_score`` and the inline quality filter below."""
    all_stops = sorted({w for ws in LANG_STOPWORDS.values() for w in ws})
    stop_list = ",".join(f"'{w}'" for w in all_stops)
    return F.expr(
        f"size(filter(split({text_col}, ' '), "
        f"x -> array_contains(array({stop_list}), x)))"
    )


def quality_score_col(
    n_tokens: F.Column, n_stopwords: F.Column
) -> F.Column:
    """score = round(0.5·min(n_tokens/100, 1) + 0.5·stopword_ratio, 4)
    from the two exact integer counts — the ONE formula behind
    ``quality_score`` and curation's inline quality filter, so the two
    cannot drift. All components are integer-count rationals ->
    engine-exact."""
    return F.round(
        0.5 * F.least(n_tokens / 100.0, F.lit(1.0))
        + 0.5 * (n_stopwords / n_tokens),
        4,
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: length saturation + stopword ratio.

    score = 0.5 * min(n_tokens/100, 1) + 0.5 * stopword_ratio, rounded.
    All components are integer-count rationals -> engine-exact.
    """
    t = tokens_col()
    base = docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        stopword_count_col().alias("n_stopwords"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_stopwords",
        F.round(F.col("n_stopwords") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        quality_score_col(F.col("n_tokens"), F.col("n_stopwords")).alias(
            "quality_score"
        ),
    )


def char_entropy(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Shannon character entropy per document — the standard
    compressibility quality signal for LLM-corpus curation (entropy is
    the information-theoretic floor of any compressor's ratio: near-0
    flags repeated-character/boilerplate junk, near-log2(alphabet)
    flags random/encoded blobs; both ends are the rows a quality gate
    drops). Companion to the Gopher repetition stats, one level below
    tokens.

    Zero-shuffle projection: character counts are computed INSIDE the
    row via array_distinct + a nested filter/size fold — integer-exact,
    no explode, no groupBy, so the corpus never shuffles. Per-row cost
    is O(|alphabet| * len): bounded by the ~100-char alphabet of real
    text, and the whole computation stays in whole-stage codegen.

    H = log2(n) - (Σ_c count_c * log2(count_c)) / n  — every input to
    the float stage is an exact integer identical across engines, and
    the float outputs are rounded (the repo's exact-intermediates
    convention); n_chars / n_distinct / collision_mass (Σ c², the
    Rényi-2 numerator) are emitted as exact integers alongside. Rows
    with no characters are dropped (entropy undefined)."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda x: x != F.lit(""))
    base = (
        docs.select("doc_id", chars.alias("chs"))
        .withColumn("n", F.size("chs"))
        .where(F.col("n") > 0)
    )
    counts = F.transform(
        F.array_distinct(F.col("chs")),
        lambda c: F.size(F.filter(F.col("chs"), lambda x: x == c)),
    )
    with_counts = base.select("doc_id", "n", counts.alias("cnts"))
    slc = F.aggregate(
        F.col("cnts"),
        F.lit(0.0),
        lambda acc, c: acc + c.cast("double") * F.log2(c),
    )
    cm = F.aggregate(
        F.col("cnts"),
        F.lit(0).cast("long"),
        lambda acc, c: acc + c.cast("long") * c,
    )
    return with_counts.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.size("cnts").alias("n_distinct"),
        cm.alias("collision_mass"),
        F.round(F.log2("n") - slc / F.col("n"), 4).alias("entropy"),
    )


def grams_of(tokens: F.Column, *, n: int = 2) -> F.Column:
    """Token n-gram array of a token-array column, total over short
    inputs (< n tokens -> empty array; an unguarded sequence() would run
    descending and feed slice() an invalid start under ANSI mode).
    Shared by ``repetition_stats`` and curation's fused repetition gate
    so the gram definition cannot diverge."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def dup_gram_frac(grams: F.Column) -> F.Column:
    """Duplicate-gram fraction of an already-materialized gram-array
    column (0.0 when empty) — the fused-filter form of
    ``repetition_stats``'s dup_gram_frac for scans that must not join a
    stats table. Callers materialize ``grams_of(...)`` as its own column
    first so the transform evaluates once."""
    return F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
        (F.size(grams) - F.size(F.array_distinct(grams))) / F.size(grams)
    )


def repetition_stats(docs: DataFrame, *, n: int = 2) -> DataFrame:
    """Gopher-style repetition signals: top n-gram fraction and duplicate
    n-gram fraction per document (the standard boilerplate/spam filters
    for training-corpus curation).

    - ``top_gram_frac``  = occurrences of the most frequent n-gram / total
      n-grams (high -> one phrase dominates the document);
    - ``dup_gram_frac``  = (total - distinct) / total n-grams (fraction of
      n-gram occurrences that are repeats).

    All n-grams of a document live in ONE row's token array, so both
    signals are per-row array expressions: the n-gram list is a
    slice-transform, the duplicate fraction is array_distinct, and the
    top-gram count is a run-length fold over the SORTED gram array (max
    run of equal neighbors == max frequency). ZERO shuffles, no explode —
    the exploded groupBy(doc_id, gram) formulation (the SQL twin) moves a
    gram stream ~|tokens| x corpus through an exchange; this runs at scan
    speed, O(L log L) per document. Ties on frequency need no break: only
    the count is emitted. Docs with < n tokens are dropped (no grams).
    """
    grams = grams_of(F.col("t"), n=n)
    top_run = F.expr(
        "aggregate(sort_array(grams), "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(x <=> acc.prev, acc.run + 1L, 1L), "
        "  'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))), "
        "acc -> acc.best)"
    )
    return (
        docs.select("doc_id", tokens_col().alias("t"))
        .filter(F.size("t") >= n)
        .select("doc_id", grams.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").cast("long").alias("n_grams"),
            top_run.alias("top_gram_n"),
            (F.size("grams") - F.size(F.array_distinct("grams")))
            .cast("long")
            .alias("dup_gram_n"),
        )
        .select(
            "doc_id",
            "n_grams",
            "top_gram_n",
            "dup_gram_n",
            F.round(F.col("top_gram_n") / F.col("n_grams"), 4).alias("top_gram_frac"),
            F.round(F.col("dup_gram_n") / F.col("n_grams"), 4).alias("dup_gram_frac"),
        )
    )


def fingerprint(docs: DataFrame, *, k: int = 8, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    Char k-gram at every position -> md5 -> per-position minimum over the
    next `window` hashes -> distinct selected fingerprints. Standard
    winnowing guarantees shared substrings of length >= k+window-1 share a
    fingerprint. Aggregated to (doc_id, n_fingerprints, min_fingerprint)
    to keep the gate output compact.

    Winnowing is per-document local, so the whole thing is array
    expressions inside one projection: ZERO shuffles, no explode that
    would duplicate the document text once per position (at 100 TB an
    exploded (doc_id, pos, text) stream is ~300x the corpus), and no
    window function. slice() truncates at the array end, which exactly
    matches the SQL window frame ``ROWS BETWEEN CURRENT ROW AND w-1
    FOLLOWING`` on the trailing positions.
    """
    hashes = F.expr(
        f"transform(sequence(1, length(text) - {k - 1}), "
        f"i -> md5(substring(text, i, {k})))"
    )
    fps = F.expr(
        f"transform(sequence(1, size(harr)), j -> array_min(slice(harr, j, {window})))"
    )
    return (
        docs.filter(F.length("text") >= k)
        .select("doc_id", hashes.alias("harr"))
        .select("doc_id", fps.alias("fps"))
        .select(
            "doc_id",
            F.size(F.array_distinct("fps")).cast("long").alias("n_fingerprints"),
            F.array_min("fps").alias("min_fingerprint"),
        )
    )


# PII patterns kept to the regex subset where Java (Spark) and RE2
# (DuckDB/Go) agree exactly: no backrefs, no lookaround, explicit classes
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Redact emails and IPv4 literals — the standard pre-training
    privacy pass. Zero shuffle: counts (on the ORIGINAL text) and the
    two-stage regexp_replace are per-row projections that fuse into the
    scan; at 100 TB the pass costs scan + codegen'd regex only.

    Output: doc_id, scrubbed ``text`` (emails -> <EMAIL>, IPs -> <IP>),
    n_emails, n_ipv4. Patterns deliberately stay in the Java/RE2-common
    subset so differential oracles (and a Go/Rust port) match exactly."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ).alias(text_col),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{PII_EMAIL}', 0)"))
        .cast("long")
        .alias("n_emails"),
        F.size(F.expr(f"regexp_extract_all({text_col}, '{PII_IPV4.replace(chr(92), chr(92)*2)}', 0)"))
        .cast("long")
        .alias("n_ipv4"),
    )


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (chunk_tokens window, stride step — overlap = chunk_tokens - stride),
    the standard long-document preparation for training windows and RAG
    passage indexes. Entirely JVM-side: token array -> transform over
    the chunk-start sequence -> slice + array_join, then ONE posexplode;
    no shuffle, no Python. The final short chunk is kept iff it starts
    inside the doc (every token appears in >= 1 chunk; no empty chunks).

    Scale: output rows ~= n_tokens/stride per doc — a pure map
    expansion, so it composes with downstream dedup/packing at scan
    speed; chunk_id is (doc_id, chunk_idx), deterministic for re-runs.
    """
    # bind the filtered token array ONCE per row:
    # a lambda referencing the filter(split(...)) expression re-tokenizes
    # the document per chunk; against the bound column each slice is an
    # O(chunk) copy
    toks = F.col("_toks")
    n = F.size(toks)
    # chunk starts: 0, stride, 2*stride, ... while start < n
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)) + 1
    ).cast("int")
    starts = F.sequence(F.lit(0), (n_chunks - 1) * stride, F.lit(stride))
    chunks = F.transform(
        starts,
        lambda st: F.struct(
            F.array_join(
                F.slice(toks, st + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - st).alias("chunk_len"),
        ),
    )
    return docs.select(
        "doc_id",
        F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit("")).alias(
            "_toks"
        ),
    ).select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "c")
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_len").cast("int").alias("chunk_len"),
    )


def pmi_collocations(
    docs: DataFrame, *, min_count: int = 5, text_col: str = "text"
) -> DataFrame:
    """Collocation mining: adjacent word bigrams ranked by pointwise
    mutual information — the standard corpus-analytics pass for finding
    multiword expressions worth protecting from tokenization splits.

    PMI = log(P(x,y) / (P(x)P(y))) = log(c_xy * N / (c_x * c_y)). The
    log is monotone, so instead of emitting a cross-engine-fragile float
    log the operator emits the exact rational argument scaled to parts
    per billion: ``pmi_ppb = floor(c_xy * N * 1e9 / (c_x * c_y))`` —
    identical ordering, bit-exact everywhere. The product is computed in
    DECIMAL(38,0) and floor-divided exactly ((num - num % den) / den is
    an exact integer the decimal divide then represents losslessly), so
    there is no int64 overflow cliff in the intermediates; the final
    cast to BIGINT holds while the PMI ratio is < ~9.2e9 (a ratio that
    large needs c_xy*N comparable to (c_x c_y)*9.2e9 — with min_count
    filtering that means a multi-ten-billion-token corpus of near-
    perfectly-correlated pairs; emit the DECIMAL unchanged there).

    Plan shape at 100 TB: bigram construction is a zero-shuffle array
    transform (codegen); c_xy is ONE token-stream-sized aggregate; the
    unigram table is vocabulary-sized, so both count lookups are
    broadcast hash joins, and N is a one-row broadcast. Nothing
    |corpus|-sized shuffles more than once.
    """
    # bind the token array ONCE per row before the lambda: referencing
    # the split(...) expression inside it would re-split the document
    # per bigram element — O(tokens²) per doc in the corpus-scan hot
    # path; against a bound column w[i+1] is an O(1) array access, and
    # CollapseProject keeps the non-cheap multi-referenced alias in its
    # own project
    w = tokens_col(text_col)
    wref = F.col("_w")
    bigrams = (
        docs.select(w.alias("_w"))
        .select(
            F.explode(
                F.transform(
                    F.slice(wref, 1, F.size(wref) - 1),
                    lambda x, i: F.struct(x.alias("x"), wref[i + 1].alias("y")),
                )
            ).alias("bg")
        )
        .select("bg.x", "bg.y")
        .where((F.col("x") != "") & (F.col("y") != ""))
    )
    c_xy = bigrams.groupBy("x", "y").agg(F.count("*").alias("c_xy"))
    uni = (
        docs.select(F.explode(w).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tokens"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("c_xy")) * dec(F.col("n_tokens")) * F.lit(1_000_000_000).cast(
        "decimal(38,0)"
    )
    den = dec(F.col("c_x")) * dec(F.col("c_y"))
    return (
        c_xy.where(F.col("c_xy") >= min_count)
        .join(
            F.broadcast(uni.select(F.col("t").alias("x"), F.col("c").alias("c_x"))),
            "x",
        )
        .join(
            F.broadcast(uni.select(F.col("t").alias("y"), F.col("c").alias("c_y"))),
            "y",
        )
        .join(F.broadcast(n_tok))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            ((num - num % den) / den).cast("long").alias("pmi_ppb"),
        )
    )


def _feature_col(tok_col: str, bigrams: bool) -> F.Column:
    """Unigram (and optionally word-bigram) feature array over an
    ALREADY-BOUND token-array column (callers select
    ``nonempty_tokens_col`` under a name first): referencing the
    filter(split(...)) expression inside the transform lambda would
    re-tokenize the document per bigram element — O(tokens²) per doc —
    while against a bound column every ``element_at`` is O(1)."""
    if not bigrams:
        return F.col(tok_col)
    # bigram i joins token i with token i+1; element_at is 1-based and the
    # slice bounds keep i+2 in range. slice length is floored at 0 so
    # single-token and empty docs yield an empty bigram array, not an error.
    return F.expr(
        f"concat({tok_col}, transform("
        f" slice({tok_col}, 1, greatest(size({tok_col}) - 1, 0)),"
        f" (x, i) -> concat(x, '_', element_at({tok_col}, i + 2))))"
    )


def _check_clf_params(n_buckets: int, salt: str) -> None:
    """Shared guard for EVERY function that interpolates the salt into
    a SQL expression string (hashed_classifier and
    dsir_logratio_weights): identifier-safe salts can never alter the
    expression, and the entry points accept exactly the same salt
    domain so a weight table always round-trips through the classifier.
    The salt-domain regex itself lives in ONE place
    (sketches.check_identifier_salt) so the Bloom tier and this module
    cannot drift apart."""
    from database_collector_spark.operators.sketches import check_identifier_salt

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    check_identifier_salt(salt)


def _hash_weight_sql(feat: str, n_buckets: int, salt: str) -> str:
    """SQL for the per-feature signed milli-weight.

    bucket = first 8 md5 hex digits of ``feat || ':' || salt`` as a
    32-bit int (the engine-exact idiom from operators/sampling.py), mod
    ``n_buckets``; weight = the same hash construction over the BUCKET
    re-keyed with a 'w:' prefix, mapped into [-1000, 1000]. Hashing the
    bucket (not the feature) is what makes this a genuine hashed model:
    features that collide into one bucket share ONE weight, exactly as a
    trained hashing-trick model would."""
    bucket = (
        f"(CAST(conv(substring(md5(concat({feat}, ':', '{salt}')), 1, 8), 16, 10)"
        f" AS BIGINT) % {n_buckets})"
    )
    return (
        f"(CAST(conv(substring(md5(concat('w:', CAST({bucket} AS STRING),"
        f" ':', '{salt}')), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000)"
    )


def hashed_classifier(
    docs: DataFrame,
    *,
    n_buckets: int = 4096,
    salt: str = "clf",
    bigrams: bool = False,
    weights: DataFrame | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Hashed bag-of-features linear classifier inference (the fastText
    architecture: hashing-trick features -> shared-bucket weights ->
    mean-pooled linear score -> sigmoid), the standard model-based
    quality gate LLM-corpus curation runs after the heuristic filters
    (quality_score / readability / unigram LM are feature-free; this is
    the learned-filter shape, e.g. a "looks like reference text" model).

    Two execution paths with IDENTICAL output contract:

    * ``weights=None`` — self-contained deterministic model: the weight
      of bucket b is derived from md5(b) (a stand-in for trained
      parameters, engine-exact so a DuckDB oracle can replay it). The
      whole operator is a zero-shuffle in-row fold: per doc, ONE
      ``aggregate(transform(features, f -> w(f)))`` expression — at
      100 TB this runs at scan speed with no explode and no join.
    * ``weights=<DataFrame(bucket: long, weight_milli: long)>`` — the
      production trained-model path: explode features -> broadcast-join
      the (≤ n_buckets)-row weight table -> re-aggregate per doc.
      The weight table is model-sized, never data-sized, so the join is
      always a broadcast; the one shuffle is the per-doc re-aggregate.

    Exactness: logits accumulate INTEGER milli-weights (engine-exact);
    the single transcendental is the final sigmoid, rounded to 6 (same
    exact-intermediates convention as char_entropy / weighted_sample).
    Missing buckets in a supplied weight table read as weight 0, the
    hashing-trick convention for unseen features.

    Output: (doc_id, n_feats, logit_milli, p_keep, label) where
    label = 'keep' iff the mean feature weight is strictly positive.
    """
    _check_clf_params(n_buckets, salt)
    # TWO-step binding: tokens once, then the feature array once —
    # lambda-bearing expressions get no common-subexpression
    # elimination (see readability), so the bigram lambda must read a
    # bound token column (O(1) element_at, not a per-element
    # re-tokenization) and every later consumer (fold, size) reads the
    # bound feature column.
    base = (
        docs.select("doc_id", nonempty_tokens_col(text_col).alias("_toks"))
        .select("doc_id", _feature_col("_toks", bigrams).alias("_feats"))
    )
    if weights is None:
        w_sql = _hash_weight_sql("f", n_buckets, salt)
        scored = base.select(
            "doc_id",
            F.size("_feats").cast("long").alias("n_feats"),
            F.expr(
                f"aggregate(_feats, CAST(0 AS BIGINT), (acc, f) -> acc + {w_sql})"
            ).alias("logit_milli"),
        )
    else:
        bucket_sql = (
            f"CAST(conv(substring(md5(concat(f, ':', '{salt}')), 1, 8), 16, 10)"
            f" AS BIGINT) % {n_buckets}"
        )
        # explode_outer keeps zero-feature docs as one NULL row, so they
        # survive the re-aggregate with n_feats = 0 instead of vanishing
        exploded = base.select(
            "doc_id", F.explode_outer("_feats").alias("f")
        ).select("doc_id", F.expr(bucket_sql).alias("bucket"))
        joined = exploded.join(F.broadcast(weights), "bucket", "left")
        scored = joined.groupBy("doc_id").agg(
            F.count("bucket").cast("long").alias("n_feats"),
            F.coalesce(
                F.sum(F.coalesce(F.col("weight_milli"), F.lit(0))), F.lit(0)
            ).cast("long").alias("logit_milli"),
        )
    nonzero = F.col("n_feats") > 0
    logit = F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))
    return scored.select(
        "doc_id",
        "n_feats",
        "logit_milli",
        F.when(nonzero, F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)).alias(
            "p_keep"
        ),
        F.when(nonzero & (F.col("logit_milli") > 0), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("label"),
    )


def readability(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease and Flesch–Kincaid grade per document from
    deterministic surface counts — the classic readability pair corpus
    filters bucket documents with (alongside the perplexity and Gopher
    signals). Real syllabification needs a dictionary; the standard
    dictionary-free approximation counts VOWEL GROUPS per word
    (runs of [aeiouy], minimum 1 per non-empty word) — deterministic,
    language-naive, and the convention readability tooling uses when no
    lexicon ships.

    All three inputs (words, sentences, syllables) are exact integers
    computed ONCE in an inner projection (expressions containing lambda
    variables get no common-subexpression elimination, so deriving the
    scores directly from the folds would re-run the per-word regexp
    fold three times per row); the two scores are fixed rational
    combinations of those columns rounded to 3. Sentences = runs of
    [.!?] (minimum 1 so the formulas stay total on fragment
    documents). Zero shuffles."""
    toks = nonempty_tokens_col(text_col)
    # per-word vowel-group count, min 1; summed in-row (no explode) —
    # one SQL expr so the lambda variable binds inside the nested
    # regexp_extract_all
    syl = F.expr(
        "aggregate("
        f" filter(split({text_col}, ' '), t -> t <> ''),"
        " cast(0 as bigint),"
        " (acc, w) -> acc + cast(greatest("
        "   size(regexp_extract_all(w, '[aeiouyAEIOUY]+', 0)), 1) as bigint))"
    )
    # NULL text is in-domain (curation.py declares it): size()/aggregate()
    # over a NULL array yield NULL, but the oracle's LEFT JOIN COALESCEs
    # word/syllable counts to 0 — match that (scores stay NULL via the
    # n_words > 0 guard; greatest(NULL, 1) is 1 in both engines).
    counts = docs.select(
        "doc_id",
        F.coalesce(F.size(toks), F.lit(0)).alias("n_words"),
        F.greatest(
            F.size(F.expr(rf"regexp_extract_all({text_col}, '[.!?]+', 0)")),
            F.lit(1),
        ).alias("n_sentences"),
        F.coalesce(syl, F.lit(0).cast("bigint")).alias("n_syllables"),
    )
    wd = F.col("n_words").cast("double")
    sent = F.col("n_sentences").cast("double")
    sy = F.col("n_syllables").cast("double")
    ease = F.lit(206.835) - 1.015 * (wd / sent) - 84.6 * (sy / wd)
    grade = 0.39 * (wd / sent) + 11.8 * (sy / wd) - F.lit(15.59)
    nonzero = F.col("n_words") > 0
    return counts.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.when(nonzero, F.round(ease, 3)).alias("flesch_ease"),
        F.when(nonzero, F.round(grade, 3)).alias("fk_grade"),
    )


def lang_id_confusion(docs: DataFrame) -> DataFrame:
    """Confusion table for the stopword language identifier against the
    corpus's ground-truth ``lang`` column — the accuracy audit that
    turns lang_id from a heuristic into a measured one (which languages
    it misroutes, and where 'unknown' concentrates), the same
    measurement-tier completion auc_exact gives the scorers.

    Composition: lang_id's zero-shuffle projection, ONE
    (actual, predicted)-keyed aggregate, and a per-actual share from a
    window over the post-aggregate frame (≤ |langs|·(|langs|+1) rows —
    bounded by label cardinality, never data-sized).

    Output: (actual_lang, pred_lang, n_docs, frac_of_actual).
    """
    from pyspark.sql.window import Window

    per = (
        lang_id(docs)
        .groupBy("actual_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("actual_lang")
    return per.select(
        "actual_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias(
            "frac_of_actual"
        ),
    )


def dsir_logratio_weights(
    docs: DataFrame,
    *,
    target_filter: Column | str | None = None,
    n_buckets: int = 1024,
    salt: str = "dsir",
    allow_sql_string: bool = False,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    document by the log-likelihood ratio of a hashed-unigram model of a
    TARGET slice vs the model of the RAW corpus — the standard
    select-pretraining-data-that-looks-like-the-target signal. Tokens
    hash into ``n_buckets`` features (the same md5 bucket idiom as
    hashed_classifier); both models are add-1-smoothed bucket unigram
    distributions; weight(doc) = sum over tokens of
    ln(p_target(b)/p_raw(b)).

    Factored for cross-engine exactness: with ct/cr the bucket counts
    and Nt/Nr the totals, each token contributes
    [ln(ct+1) - ln(cr+1)] + [ln(Nr + B) - ln(Nt + B)] — every ln is
    over an exact integer (the unigram_logppl class), the constant term
    rides once per token, and the per-doc reduction aggregates the
    (doc, bucket) COUNTS first so the float sum has at most
    ``n_buckets`` terms per doc, rounded to 4. The residual
    engine-order float-sum exposure (SUM over doubles is association-
    order sensitive) is the same accepted class as unigram_logppl /
    char_entropy's SUM(ln(integer)) — rounded to 4, green across three
    SFs for multiple rounds; a rounding-boundary flip would surface as
    a one-row hash diff, never silent corruption.

    Plan shape at 100 TB: one token-keyed partial-agg shuffle bounded by
    |docs| x |distinct buckets per doc| rows, a BROADCAST of the
    n_buckets-row model table (n_buckets is a constant, never corpus-
    sized), one doc-keyed re-aggregate. The target model reuses the same
    scan via a conditional aggregate — the target slice is never
    re-scanned.

    Output: (doc_id, n_toks, is_target, log_w).

    ``target_filter`` is a ``Column`` predicate (default:
    ``F.col("lang") == "en"``). A raw SQL expression string is only
    accepted with ``allow_sql_string=True`` (the string path is
    otherwise too easy to reach by accident): the string form
    is TRUSTED INPUT, parsed verbatim by ``F.expr``, so it executes
    whatever expression the caller supplies — the same contract as
    ``DataFrame.filter(str)`` itself. Never interpolate
    user-controlled text into it; pass a ``Column`` built from
    ``F.col``/literals instead (the salt, by contrast, is
    identifier-checked because it is embedded in a generated hash
    expression).
    """
    _check_clf_params(n_buckets, salt)
    bucket = (
        f"(CAST(conv(substring(md5(concat(term, ':', '{salt}')), 1, 8), 16, 10)"
        f" AS BIGINT) % {n_buckets})"
    )
    if target_filter is None:
        is_target = F.col("lang") == "en"
    elif isinstance(target_filter, Column):
        is_target = target_filter
    elif allow_sql_string:
        is_target = F.expr(f"({target_filter})")
    else:
        raise ValueError(
            "dsir_logratio_weights: target_filter is a raw SQL string; "
            "pass a Column predicate (F.col(...) == ...) or opt in "
            "explicitly with allow_sql_string=True (trusted-input "
            "contract)"
        )
    toks = (
        docs.withColumn("is_target", is_target)
        .select(
            "doc_id",
            "is_target",
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .where(F.col("term") != "")
        .select("doc_id", "is_target", F.expr(bucket).alias("b"))
    )
    model = toks.groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("ct"),
    )
    totals = model.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    per_bucket = toks.groupBy("doc_id", "is_target", "b").agg(
        F.count("*").alias("n_b")
    )
    scored = (
        per_bucket.join(F.broadcast(model), "b")
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum("n_b").cast("long").alias("n_toks"),
            F.sum(
                F.col("n_b")
                * (F.log(F.col("ct") + 1) - F.log(F.col("cr") + 1))
            ).alias("s_cnt"),
        )
    )
    return scored.crossJoin(F.broadcast(totals)).select(
        "doc_id",
        "n_toks",
        "is_target",
        F.round(
            F.col("s_cnt")
            + F.col("n_toks")
            * (
                F.log(F.col("nr") + F.lit(n_buckets))
                - F.log(F.col("nt") + F.lit(n_buckets))
            ),
            4,
        ).alias("log_w"),
    )


def rule_attribution(
    df: DataFrame, rules: list[tuple[str, Column]]
) -> DataFrame:
    """Per-rule drop attribution for an ORDERED quality-rule funnel —
    the governance report behind every Gopher/C4-style filter chain:
    "rule 3 would drop 12% of the corpus, but only 2% that rules 1–2
    hadn't already dropped". ``n_flagged`` counts documents the rule
    fires on independently; ``n_marginal`` counts documents where it is
    the FIRST firing rule (the funnel attribution — marginals sum to
    the total dropped, so the report reconciles exactly against the
    survivor count, which independent counts never do).

    One zero-shuffle boolean projection over the corpus, ONE global
    aggregate of exact integer sums (the only exchange is the bounded
    1-row-per-partition partial gather), then a |rules|-row stack
    unpivot — at 100 TB this is a single corpus scan regardless of rule
    count, where evaluating the funnel rule-by-rule would scan once per
    rule. A NULL predicate result counts as not-fired (coalesce 0), so
    e.g. a regex over a NULL text cannot silently poison the sums.

    ``rules`` is an ordered list of (name, boolean Column). Names are
    CODE-supplied labels interpolated into a stack() expression —
    enforced to a safe identifier charset, not a user-input surface.
    Output: (rule_order, rule, n_flagged, n_marginal, n_docs) — one row
    per rule, n_docs the constant corpus size for ratio computation
    downstream.
    """
    import re as _re

    if not rules:
        raise ValueError("rule_attribution: need at least one rule")
    for name, _ in rules:
        if not _re.fullmatch(r"[A-Za-z0-9_\- ]+", name):
            raise ValueError(
                f"rule_attribution: rule name {name!r} must be a plain "
                "label ([A-Za-z0-9_- ]); it is interpolated into stack()"
            )
    flags = df.select(
        *[
            F.coalesce(pred.cast("int"), F.lit(0)).alias(f"_f{i}")
            for i, (_, pred) in enumerate(rules)
        ]
    )
    aggs = [F.count("*").cast("long").alias("_n")]
    for i in range(len(rules)):
        prior = F.lit(False)
        for j in range(i):
            prior = prior | (F.col(f"_f{j}") == 1)
        aggs.append(F.sum(f"_f{i}").cast("long").alias(f"_flag{i}"))
        aggs.append(
            F.sum(F.when((F.col(f"_f{i}") == 1) & ~prior, 1).otherwise(0))
            .cast("long")
            .alias(f"_marg{i}")
        )
    row = flags.agg(*aggs)
    stack = ", ".join(
        f"CAST({i} AS BIGINT), '{name}', _flag{i}, _marg{i}"
        for i, (name, _) in enumerate(rules)
    )
    return row.select(
        F.expr(
            f"stack({len(rules)}, {stack}) "
            "AS (rule_order, rule, n_flagged, n_marginal)"
        ),
        F.col("_n").alias("n_docs"),
    ).select("rule_order", "rule", "n_flagged", "n_marginal", "n_docs")


def vocab_richness(
    docs: DataFrame,
    *,
    text_col: str = "text",
    group_col: str | None = None,
) -> DataFrame:
    """Chao1 vocabulary-coverage estimate: how much of a corpus slice's
    vocabulary have we actually SEEN — the curation question behind
    "is this source mined out, or does sampling more of it still buy
    new tokens?". The Chao1 estimator reads unseen-species mass off
    the rare end of the frequency spectrum: with f1 = hapax count
    (tokens seen exactly once) and f2 = doubleton count,

        chao1 = observed + f1·(f1 − 1) / (2·(f2 + 1))

    (the bias-corrected form — defined even when f2 = 0, unlike the
    classic f1²/2f2). A slice whose chao1 is close to its observed
    vocabulary is exhausted; a large gap means more sampling still
    yields novel types.

    Whitespace tokenization via ``nonempty_tokens_col`` (the one shared
    word definition); NULL text / NULL group rows are excluded.

    Engine parity: observed/f1/f2/n_tokens are exact integer counts;
    the correction term is ONE double division of exact integer
    operands (f1·(f1−1) <= ~1e18 stays in BIGINT for any real vocab),
    added to an exact integer and rounded at 6.

    Scale (100 TB): ONE (group, token) aggregate — the same shuffle
    shape as TF-IDF's document-frequency pass — then a |vocab|-row
    keyed count-by-frequency fold to a single row per group. Nothing
    corpus-sized crosses the second shuffle: the frequency spectrum
    per group is at most |distinct tokens| rows compressed to <= a
    handful of aggregate counters.
    """
    keys = [group_col] if group_col else []
    cond = F.col(text_col).isNotNull()
    if group_col:
        cond = cond & F.col(group_col).isNotNull()
    toks = docs.where(cond).select(
        *keys, F.explode(nonempty_tokens_col(text_col)).alias("tok")
    )
    freq = toks.groupBy(*keys, "tok").agg(F.count("*").alias("f"))
    agg = freq.groupBy(*keys).agg(
        F.count("*").cast("long").alias("observed"),
        F.sum("f").cast("long").alias("n_tokens"),
        F.sum((F.col("f") == 1).cast("long")).alias("f1"),
        F.sum((F.col("f") == 2).cast("long")).alias("f2"),
    )
    chao1 = F.col("observed") + (
        F.col("f1") * (F.col("f1") - 1)
    ).cast("double") / (2.0 * (F.col("f2") + 1))
    return agg.select(
        *keys,
        "observed",
        "n_tokens",
        "f1",
        "f2",
        F.round(chao1, 6).alias("chao1"),
    )


def vocab_overlap_matrix(
    docs: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus slices: for every
    unordered pair of groups, the shared-type count, Jaccard similarity
    and containment of the smaller vocabulary — the lexical-redundancy
    governance read next to ``cross_source_dup_matrix`` (that one asks
    "do these sources share DOCUMENTS?"; this asks "do they even speak
    the same vocabulary?", the cheap first signal for merge/dedup
    planning).

    The FULL matrix is reported — zero-overlap pairs included (absent
    rows read as "not measured"; an explicit 0 reads as "disjoint").
    Tokenization is the shared ``nonempty_tokens_col`` definition; NULL
    text/group rows are excluded.

    Exactness: every count is an exact integer; jaccard =
    inter/(a + b − inter) and containment = inter/min(a, b) are each
    ONE division over identical exact integers (bit-equal
    cross-engine), rounded at 6.

    Scale (100 TB): one DISTINCT (group, token) aggregate — the df
    shuffle TF-IDF pays — then a token-keyed self-join whose output is
    Σ_token deg(token)² with deg <= |groups| (bounded by the group
    domain, never corpus-sized), and a |groups|²-row broadcast cross
    for the zero cells. Group domains are low-cardinality by use-case
    contract (sources/langs).

    Output: (g_a, g_b, vocab_a, vocab_b, inter, jaccard, containment)
    with g_a < g_b.
    """
    base = docs.where(
        F.col(text_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("_g"),
        F.explode(nonempty_tokens_col(text_col)).alias("_tok"),
    )
    vocab = base.distinct().localCheckpoint(eager=False)
    sizes = vocab.groupBy("_g").agg(F.count("*").cast("long").alias("_sz"))
    a = vocab.select(F.col("_g").alias("g_a"), "_tok")
    b = vocab.select(F.col("_g").alias("g_b"), "_tok")
    inter = (
        a.join(b, "_tok")
        .where(F.col("g_a") < F.col("g_b"))
        .groupBy("g_a", "g_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    pairs = (
        sizes.select(F.col("_g").alias("g_a"), F.col("_sz").alias("vocab_a"))
        .crossJoin(
            F.broadcast(
                sizes.select(
                    F.col("_g").alias("g_b"), F.col("_sz").alias("vocab_b")
                )
            )
        )
        .where(F.col("g_a") < F.col("g_b"))
        .join(inter, ["g_a", "g_b"], "left")
        .select(
            "g_a",
            "g_b",
            "vocab_a",
            "vocab_b",
            F.coalesce(F.col("inter"), F.lit(0)).alias("inter"),
        )
    )
    union_sz = F.col("vocab_a") + F.col("vocab_b") - F.col("inter")
    return pairs.select(
        "g_a",
        "g_b",
        "vocab_a",
        "vocab_b",
        "inter",
        F.round(F.col("inter").cast("double") / union_sz, 6).alias("jaccard"),
        F.round(
            F.col("inter").cast("double")
            / F.least(F.col("vocab_a"), F.col("vocab_b")),
            6,
        ).alias("containment"),
    )
