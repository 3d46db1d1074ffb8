"""Bloom-filter join pre-reduction (operators/bloom.py): the
no-false-negative invariant, pruning power on absent keys, exact
equivalence to the plain anti join (including NULL child keys),
and the plan shape — the probe filter must be evaluated before the
exact join's exchange so rejected rows never shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_collector_spark.operators import bloom

BITS = 1 << 14


def _parent(spark):
    # keys 0,3,6,...,5997
    return spark.range(0, 2000).select((F.col("id") * 3).alias("k"))


def _might_contain(words, key):
    # the column builder bloom_anti_join probes with, fed a literal array
    return bloom._might_contain_col(
        F.lit(words), key, num_bits=BITS, num_hashes=bloom.DEFAULT_NUM_HASHES
    )


def test_no_false_negatives(spark):
    parent = _parent(spark)
    words = bloom.bloom_build(parent, "k", num_bits=BITS)
    missed = (
        parent.select(
            _might_contain(words, F.col("k")).alias("m")
        )
        .where(~F.col("m"))
        .count()
    )
    assert missed == 0


def test_absent_keys_mostly_rejected(spark):
    # 2000 keys in 2^14 bits (m/n = 8): fp rate ~2%; assert well under 10%
    parent = _parent(spark)
    words = bloom.bloom_build(parent, "k", num_bits=BITS)
    absent = spark.range(0, 5000).select((F.col("id") * 3 + 1).alias("k"))
    fp = (
        absent.select(
            _might_contain(words, F.col("k")).alias("m")
        )
        .where(F.col("m"))
        .count()
    )
    assert fp < 500


def _child(spark):
    # overlaps parent on multiples of 3 within [0, 3000); every 11th key
    # NULL to pin the null-key contract against the plain joins
    return spark.range(0, 1000).select(
        F.when(F.col("id") % 11 != 0, F.col("id") * 3 + F.col("id") % 2)
        .alias("k"),
        F.col("id").alias("payload"),
    )


def test_anti_join_equals_plain(spark):
    parent, child = _parent(spark), _child(spark)
    got = sorted(
        r["payload"]
        for r in bloom.bloom_anti_join(
            child, parent, child_key="k", parent_key="k", num_bits=BITS
        ).collect()
    )
    want = sorted(
        r["payload"] for r in child.join(parent, "k", "left_anti").collect()
    )
    # NULL-key rows never match, so the anti join must keep them
    assert got == want and len(want) > 0


def test_probe_filter_precedes_exchange(spark):
    # the getbit membership test must appear in the plan BEFORE the first
    # hash exchange (the definite branch has no exchange at all; the
    # survivors branch filters pre-shuffle), and the bitset must ride a
    # broadcast, not the task binary (no giant literal -> plan stays
    # printable and the 1-row attach shows as a broadcast join)
    parent, child = _parent(spark), _child(spark)
    df = bloom.bloom_anti_join(
        child, parent, child_key="k", parent_key="k", num_bits=BITS
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    first_getbit = plan.find("getbit")
    first_exchange = plan.find("Exchange hashpartitioning")
    assert first_getbit != -1
    assert first_exchange == -1 or first_getbit < first_exchange
    assert "CartesianProduct" not in plan
