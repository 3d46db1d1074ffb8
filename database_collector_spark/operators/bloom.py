"""Broadcast Bloom-filter join pre-reduction.

The standard 100 TB trick for a *selective* join (FK/orphan audits,
decontamination against a benchmark set, semi-join reductions): build a
Bloom filter over the small/parent side's keys, broadcast it, and test
every child row BEFORE the shuffle — rows the filter rejects are
*definitely* not in the parent (Bloom filters have no false negatives),
so only probable matches pay the exchange. The exact join downstream
then resolves the false positives, which makes the whole construction
EXACT: ``bloom_anti_join`` ≡ plain left-anti join, row for row. This is the
same row-level runtime-filter idea Spark's own
``InjectRuntimeFilter``/``BloomFilterAggregate`` applies when statistics
let it; implementing it as an explicit operator makes the reduction
available unconditionally and to DataFrames whose selectivity Catalyst
cannot see (the reference has no joins at all — SURVEY.md §2.3 — so
this is extension surface, not parity).

Implementation is a deterministic k-hash bitset in PURE column
expressions (no JVM BloomFilter object crosses the Py4J boundary):

- positions: ``pmod(xxhash64(i, key), m)`` for seed rows i = 0..k-1 —
  xxhash64 is Spark's own 64-bit hash, seeded by prepending a literal.
- build: explode the k positions, ``bit_or``-aggregate per 64-bit word
  (map-side partial combine means the shuffle carries at most m/64 rows
  per partition), collect the ≤ m/64 words — the collect is bounded by
  the FILTER size (8 KiB per 2^16 bits), never by the parent row count.
- probe: the words array attached from a broadcast one-row frame +
  ``getbit`` per hash, a pure projection evaluated inside whole-stage
  codegen before any exchange.

False-positive rate ~ (1 - e^{-kn/m})^k; with the default k=5 the
filter stays useful up to n ≈ m/8 keys. Saturation degrades pruning,
never correctness.

Sibling tier: operators/sketches.py's bloom_build/bloom_probe is the
PORTABLE ARTIFACT form of the same structure — md5 positions replayable
in any engine, the word table kept as a persistable/mergeable DataFrame,
and the membership verdict itself oracle-checkable. Use THIS module to
cheapen a join; use the sketches tier when the filter (or its verdict)
is the product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_collector_spark.session import local_frame

DEFAULT_NUM_BITS = 1 << 20  # 128 KiB of filter, ~130k keys at fp<1%
DEFAULT_NUM_HASHES = 5


def _positions(key: Column, *, num_bits: int, num_hashes: int) -> list[Column]:
    """The k bit positions of ``key``: pmod(xxhash64(seed_i, key), m)."""
    return [
        F.pmod(F.xxhash64(F.lit(i), key), F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_build(
    parent: DataFrame,
    key_col: str,
    *,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> list[int]:
    """Build the filter over ``parent[key_col]`` and return it as
    ``num_bits // 64`` signed-64 words. The driver-side collect is
    bounded by construction at m/64 rows (the bit_or aggregation has
    already reduced the exploded positions), independent of |parent|."""
    assert num_bits % 64 == 0, "num_bits must be a multiple of 64"
    pos = _positions(F.col(key_col), num_bits=num_bits, num_hashes=num_hashes)
    words = (
        parent.where(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*pos)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "m"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    arr = [0] * (num_bits // 64)
    for r in words:
        arr[r["w"]] = r["word"]
    return arr


def _might_contain_col(
    words_col: Column, key: Column, *, num_bits: int, num_hashes: int
) -> Column:
    """The k-bit membership test against a COLUMN holding the words
    array (an attribute reference, cheap to repeat — unlike a literal,
    which would serialize the whole bitset into the plan once per
    probe). Never NULL: positions are always in range and the words
    array is fully materialized."""
    cond = F.lit(True)
    for p in _positions(key, num_bits=num_bits, num_hashes=num_hashes):
        word = F.element_at(words_col, (p / 64 + 1).cast("int"))
        cond = cond & (F.getbit(word, (p % 64).cast("int")) == 1)
    return cond


def _with_words(child: DataFrame, words: list[int]) -> DataFrame:
    """Attach the filter words to every child row from a broadcast
    one-row ``local_frame``: a map-side attach (no shuffle) whose build
    side is one ``LocalTableScan`` task, with the bitset riding the
    broadcast once instead of being serialized into each probe
    expression."""
    row = local_frame(child.sparkSession, [(words,)], "__bloom_words array<bigint>")
    return child.crossJoin(F.broadcast(row))


def bloom_anti_join(
    child: DataFrame,
    parent: DataFrame,
    *,
    child_key: str,
    parent_key: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """EXACTLY ``child LEFT ANTI JOIN parent``: bloom-rejected rows are
    emitted as orphans directly (no false negatives → definitely
    unmatched, zero shuffle for them); only bloom-accepted rows pay the
    exact anti join, which re-ejects the false positives."""
    words = bloom_build(
        parent, parent_key, num_bits=num_bits, num_hashes=num_hashes
    )
    probed = _with_words(child, words)
    mc = _might_contain_col(
        F.col("__bloom_words"),
        F.col(child_key),
        num_bits=num_bits,
        num_hashes=num_hashes,
    )
    keys = parent.select(F.col(parent_key).alias("__bloom_pk")).where(
        F.col("__bloom_pk").isNotNull()
    )
    definite = probed.where(~mc).drop("__bloom_words")
    survivors = (
        probed.where(mc)
        .drop("__bloom_words")
        .join(keys, F.col(child_key) == F.col("__bloom_pk"), "left_anti")
    )
    return definite.unionByName(survivors)
