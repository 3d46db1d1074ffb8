"""BPE (byte-pair encoding) tokenizer-training statistics.

The first phase of training any BPE/WordPiece-family tokenizer over a
corpus: build the (word, frequency) vocabulary, then repeatedly merge
the most frequent adjacent symbol pair. The reference has no tokenizer
surface — this is part of the training-data-pipeline tier (tokenizer
fitting is a standard corpus-level job alongside dedup/quality).

Scale design (100 TB): the corpus is touched ONCE — one scan + one
shuffle keyed by word builds the (word, freq) vocabulary, which is
orders of magnitude smaller than the token stream (real-corpus vocabs
are ~10⁶–10⁸ rows). Every merge round then runs on the vocabulary only:
one small aggregate + a single-row argmax collect (bounded driver
traffic, the same contract as the IVF k-means loop), never another
corpus pass. This is exactly how production BPE trainers scale.

Determinism: the merge argmax orders by (count DESC, pair ASC) — total
order, engine-portable. Greedy left-to-right non-overlapping pair
merging is encoded as a plain string replace over a DOUBLE-SPACE
symbol encoding:

    seq  = '  s1  s2  ...  sk  '   (two spaces between symbols and at
                                    both sentinel ends)
    find = ' a  b '                (single outer margins, double inner)
    repl = ' ab '

Each match consumes ONE space of each flanking margin, leaving the
other for the neighboring match — so ``replace`` (which scans left to
right, non-overlapping, identically in Spark and DuckDB) implements
exactly the greedy single-pass fold: 'a a a a' + (a,a) -> 'aa aa',
'a a a' + (a,a) -> 'aa a'. Symbols never contain spaces (merges only
concatenate space-free base symbols), so false submatches like
'e h' inside 'xe  h' are impossible: the pattern demands a space
immediately before 'a' and after 'b'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators.text import tokens_col
from database_collector_spark.session import local_frame


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, seq): the corpus-reduced vocabulary with each word's
    initial symbol sequence (its characters, double-space encoded)."""
    words = docs.select(
        F.explode(tokens_col(text_col)).alias("word")
    ).where(F.col("word") != "")
    vocab = words.groupBy("word").agg(F.count("*").alias("freq"))
    seq = F.concat(
        F.lit("  "), F.array_join(F.split(F.col("word"), ""), "  "), F.lit("  ")
    )
    return vocab.withColumn("seq", seq)


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-symbol pair counts over the vocabulary
    (counts every adjacent POSITION, the standard BPE statistic)."""
    syms = F.split(F.trim(F.col("seq")), "  ")
    k = F.size(syms)
    # sequence(1, k-1) would DESCEND for k=1 (Spark defaults step=-1 when
    # start > stop); clamp the stop and drop the out-of-bounds pair via
    # F.get's null (0-based and null-safe even under ANSI mode, unlike
    # element_at which throws on out-of-bounds there).
    idx = F.sequence(F.lit(0), F.greatest(k - 2, F.lit(0)))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.get(syms, i).alias("sym_a"),
            F.get(syms, i + 1).alias("sym_b"),
        ),
    )
    return (
        vocab.select("freq", F.explode(pairs).alias("p"))
        .where(F.col("p.sym_b").isNotNull())
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _top_pair(vocab: DataFrame) -> Row | None:
    rows = (
        pair_counts(vocab)
        .orderBy(F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b"))
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def apply_merge(vocab: DataFrame, sym_a: str, sym_b: str) -> DataFrame:
    """Greedy left-to-right merge of (sym_a, sym_b) in every word's
    symbol sequence (see module docstring for the encoding proof)."""
    find = f" {sym_a}  {sym_b} "
    repl = f" {sym_a}{sym_b} "
    return vocab.withColumn("seq", F.replace(F.col("seq"), F.lit(find), F.lit(repl)))


def train_merges(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns the ordered merge list
    [(rank, sym_a, sym_b, merged, pair_count)] as plain driver values —
    the APPLY-side gates (encode_corpus / fertility_report) consume the
    pairs directly, without a createDataFrame + re-collect round trip
    (the list already lives on the driver when training ends).
    One corpus pass builds the vocab (persisted); each round is a
    vocab-sized aggregate + a 1-row collect."""
    base = word_vocab(docs, text_col).persist()
    try:
        merges: list[tuple[int, str, str, str, int]] = []
        vocab = base
        for rank in range(1, n_merges + 1):
            top = _top_pair(vocab)
            if top is None:
                break
            merges.append(
                (rank, top.sym_a, top.sym_b, top.sym_a + top.sym_b, top.pair_count)
            )
            # merges stay a LAZY replace chain over the one persisted
            # base vocab: round r's top-pair scan evaluates r cheap
            # string replaces inline instead of paying a persist + count
            # materialization job per round — half the driver jobs of a
            # per-round persist, and no round-r copy of the vocab held
            # in storage. The oracle unrolls the same chain as CTEs.
            vocab = apply_merge(vocab, top.sym_a, top.sym_b)
            # the chain's O(n_merges²/2) inline replace work and O(rank)
            # plan depth need a guard: re-flatten the plan every 16
            # rounds with a lazy checkpoint (materialized by the next
            # round's top-pair scan), so a long-merge trainer stays
            # O(16·|vocab|) replace work per round with bounded plan
            # depth.
            if rank % 16 == 0:
                vocab = vocab.localCheckpoint(eager=False)
    finally:
        base.unpersist()
    return merges


def train(docs: DataFrame, n_merges: int, text_col: str = "text") -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    (rank, sym_a, sym_b, merged, pair_count). See :func:`train_merges`
    for the training-loop shape (this wraps it in a DataFrame for the
    merge-table gates)."""
    return local_frame(
        docs.sparkSession,
        train_merges(docs, n_merges, text_col),
        "rank int, sym_a string, sym_b string, merged string, pair_count bigint",
    )


def encode(vocab: DataFrame) -> DataFrame:
    """Final segmentation after training: (word, freq, symbols array) —
    what a tokenizer-apply stage would broadcast."""
    return vocab.select(
        "word", "freq", F.split(F.trim(F.col("seq")), "  ").alias("symbols")
    )


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    extra_cols: list | None = None,
) -> DataFrame:
    """Tokenize every document with an already-learned merge list: the
    APPLY side of BPE. Each word is char-spaced into the double-space
    encoding, the k merges are applied in rank order as a composed
    chain of k plain replaces (one expression, no per-row Python, no
    data-sized loop — the loop is over the k merges at PLAN-build time),
    and the token count is the surviving symbol count.

    Scale: the merge list is a plan constant (broadcast-by-construction;
    real vocabularies would ship via a broadcast join on a precomputed
    word->n_tokens table — word_vocab gives exactly that shape). This
    expression form is the zero-shuffle scan-speed path: returns
    (id cols.., n_words, n_bpe_tokens) as a pure projection.

    ``extra_cols`` appends caller-supplied column expressions to the
    projection (fertility_report carries its group key and char count
    here instead of equi-joining the counts back onto the corpus — a
    doc_id self-join of two full corpus scans for columns that were
    already on the row)."""

    def seq_of(word: F.Column) -> F.Column:
        seq = F.concat(
            F.lit("  "), F.array_join(F.split(word, ""), "  "), F.lit("  ")
        )
        for a, b in merges:
            seq = F.replace(seq, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
        return seq

    toks = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != F.lit("")
    )
    n_tokens = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc + F.size(F.split(F.trim(seq_of(w)), "  ")),
    )
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        n_tokens.alias("n_bpe_tokens"),
        *(extra_cols or []),
    )


def fertility_report(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    by: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility audit: BPE tokens per word and
    characters per BPE token — the standard suitability check before
    committing a tokenizer to a multilingual corpus (high fertility on
    a language means its texts cost disproportionate sequence length;
    the mT5/XLM-R papers report exactly this table). Groups are
    typically languages or sources.

    Composition: :func:`encode_corpus`'s zero-shuffle projection
    supplies exact integer (n_words, n_bpe_tokens) per doc WITH the
    group key and character count carried on the same row (a doc_id
    equi-join of the counts back onto the corpus would scan the corpus
    twice and shuffle it once, for columns already present);
    the report is ONE |groups|-row aggregate of integer sums —
    fertility and chars/token are the only doubles, derived from exact
    totals and rounded (corpus-size-free state, scan-speed cost). The
    NULL-doc_id filter preserves the old inner-join semantics (a NULL
    key never matched).

    Assumes ``doc_id`` is unique: every row counts as one document, so a
    duplicated doc_id is counted (and its words and tokens summed) once
    per row. Nothing checks this; deduplicate the input first if it can
    repeat ids.

    Output per group: (group, n_docs, n_words, n_chars, n_bpe_tokens,
    fertility, chars_per_token).
    """
    keyed = encode_corpus(
        docs.where(F.col("doc_id").isNotNull()),
        merges,
        text_col=text_col,
        extra_cols=[
            F.col(by).alias("grp"),
            F.length(text_col).alias("n_chars"),
        ],
    )
    return (
        keyed.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            F.col("grp").alias(by),
            "n_docs",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            # zero-word / zero-token groups (all-empty texts) report
            # NULL ratios instead of aborting under ANSI DIVIDE_BY_ZERO
            F.when(
                F.col("n_words") > 0,
                F.round(F.col("n_bpe_tokens") / F.col("n_words"), 4),
            ).alias("fertility"),
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 4),
            ).alias("chars_per_token"),
        )
    )
