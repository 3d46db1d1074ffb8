"""Merge/CDC, layout, bucketing, bloom-filter and checksum gates.

SCD1/SCD2 merges, CDC apply, incremental aggregation, snapshot diffs
and upsert compaction (``operators/merge.py``,
``operators/incremental.py``); z-order layout and bucketed tables
persisted and joined without a shuffle (``operators/layout.py``,
``sinks/bucketed.py``); bloom-filter semi-joins and decontamination
(``operators/bloom.py``, ``operators/sketches.py``); and order-free
table checksums (``operators/checksum.py``).

Same determinism conventions as ``workloads.py``.
"""

from __future__ import annotations

import atexit
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators import layout
from database_collector_spark.operators.merge import scd1_merge
from database_collector_spark.operators.sketches import (
    bloom_build,
    bloom_probe,
)
from database_collector_spark.session import local_frame
from database_collector_spark.sinks.bucketed import read_table, write_bucketed
from database_collector_spark.workloads import _cents, _t, hv_sql
from database_collector_spark.workloads import artifact_dir as _artifact_dir


def q_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins merge (operators/merge.py::scd1_merge): orders as the
    base snapshot, a deterministic delta of updates (every 10th key:
    status X, +1.00) and inserts (negated every-97th key), merged
    one-shuffle latest-wins, then aggregated per status so the gate
    hashes the post-merge state."""
    from database_collector_spark.operators.merge import scd1_merge

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
        F.lit(1).alias("version"),
    )
    merged = scd1_merge(
        base, updates.unionByName(inserts), key="o_orderkey", version_col="version"
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_SCD1_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, 0 AS version
  FROM orders
),
delta AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents, 1 AS version
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents, 1 FROM base WHERE o_orderkey % 97 = 0
),
u AS (
  SELECT *, 0 AS _src FROM base
  UNION ALL
  SELECT *, 1 AS _src FROM delta
),
m AS (
  SELECT o_orderkey, o_orderstatus, cents FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC, _src DESC) AS rn
    FROM u) t
  WHERE rn = 1
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM m GROUP BY 1
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-keeping merge (operators/merge.py::scd2_merge) on the
    scd1_upsert fixture: every version survives, updates end-date their
    version-0 predecessor (valid_to=1, is_current=false), inserts and
    untouched rows stay open. Aggregated per (status, is_current) with a
    closed-row count so the gate hashes the full interval structure."""
    from database_collector_spark.operators.merge import scd2_merge

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    updates = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
    )
    inserts = base.filter(F.col("o_orderkey") % 97 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
        F.lit(1).alias("version"),
    )
    hist = scd2_merge(
        base, updates.unionByName(inserts), key="o_orderkey", version_col="version"
    )
    return hist.groupBy("o_orderstatus", "is_current").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("cents_sum"),
        F.count("valid_to").alias("n_closed"),
    )


SQL_SCD2_HISTORY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, 0 AS version
  FROM orders
),
delta AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents, 1 AS version
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents, 1 FROM base WHERE o_orderkey % 97 = 0
),
u AS (
  SELECT *, 0 AS _src FROM base
  UNION ALL
  SELECT *, 1 AS _src FROM delta
),
hist AS (
  SELECT o_orderkey, o_orderstatus, cents, version,
         LEAD(version) OVER (PARTITION BY o_orderkey ORDER BY version) AS valid_to
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey, version
                                 ORDER BY _src DESC) AS rn
    FROM u) t
  WHERE rn = 1
)
SELECT o_orderstatus, valid_to IS NULL AS is_current,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(COUNT(valid_to) AS BIGINT) AS n_closed
FROM hist GROUP BY 1, 2
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with deletes (operators/merge.py::cdc_apply): orders as
    the snapshot, a change stream of upserts (every 10th key: status X,
    +1.00, version 1) and later deletes (every 7th key, version 2).
    Delete-wins keys vanish; the post-apply state aggregates per status.
    Versions are strictly ordered so every key's outcome is
    deterministic."""
    from database_collector_spark.operators.merge import cdc_apply

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
        F.lit(0).alias("version"),
    )
    upserts = base.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("cents") + 100).alias("cents"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    deletes = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "cents",
        F.lit(2).alias("version"),
        F.lit("D").alias("op"),
    )
    applied = cdc_apply(
        base,
        upserts.unionByName(deletes),
        key="o_orderkey",
        version_col="version",
    )
    return applied.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         0 AS version, 'U' AS op, 0 AS _src
  FROM orders
),
chg AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, cents + 100 AS cents,
         1 AS version, 'U' AS op, 1 AS _src
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, cents, 2, 'D', 1
  FROM base WHERE o_orderkey % 7 = 0
),
m AS (
  SELECT o_orderkey, o_orderstatus, cents, op FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC, _src DESC) AS rn
    FROM (SELECT * FROM base UNION ALL SELECT * FROM chg) u) t
  WHERE rn = 1 AND op <> 'D'
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM m GROUP BY 1
"""


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py):
    "yesterday's" aggregate (orders with o_orderkey%3 != 0) merged with
    today's delta (the %3 == 0 rows, including a retraction pair that
    cancels itself) must equal the from-scratch aggregate over ALL
    orders — which is exactly what the oracle computes, so the gate pins
    the maintenance identity itself, not the mechanics."""
    from database_collector_spark.operators.incremental import delta_agg, merge_agg

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents("o_totalprice").alias("cents")
    )
    base_agg = delta_agg(
        orders.filter(F.col("o_orderkey") % 3 != 0),
        group_cols=["o_orderstatus"],
        sum_cols={"cents": "cents_sum"},
    )
    fresh = orders.filter(F.col("o_orderkey") % 3 == 0)
    # a self-cancelling retraction: one synthetic row + its negation —
    # the merged result must be unaffected (additive-fold absorption)
    wiggle = local_frame(
        spark,
        [(-1, "Z", 500), (-1, "Z", -500)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    merged = merge_agg(
        base_agg,
        fresh.unionByName(wiggle),
        group_cols=["o_orderstatus"],
        sum_cols={"cents": "cents_sum"},
    )
    # the Z group keeps count 2 (two physical rows) but nets to 0 cents;
    # drop it the way a real pipeline drops fully-retracted groups —
    # count-negated retractions: emit (-1-count) rows... simpler: the
    # wiggle rows model a same-batch correction, so Z survives with n=2,
    # cents_sum=0, and the oracle reproduces that pair explicitly.
    return merged


SQL_INCREMENTAL_AGG = """
WITH all_rows AS (
  SELECT o_orderstatus, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  UNION ALL SELECT 'Z', 500
  UNION ALL SELECT 'Z', -500
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM all_rows GROUP BY 1
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-set generation (operators/merge.py::snapshot_diff):
    "old" = orders as-is; "new" = orders with every 10th key's price
    bumped (update), every 97th key dropped (delete), and a negated-key
    copy of every 53rd key added (insert). The diff must emit exactly
    those I/U/D rows — aggregated per (op, status) so the gate hashes
    the full change classification. Keys hit by both rules exercise
    precedence (a dropped key can't also update)."""
    from database_collector_spark.operators.merge import snapshot_diff

    old = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", _cents("o_totalprice").alias("cents")
    )
    kept = old.filter(F.col("o_orderkey") % 97 != 0)
    bumped = kept.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("cents") + 100)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    inserted = old.filter(F.col("o_orderkey") % 53 == 0).select(
        (-F.col("o_orderkey") - 1).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
    )
    new = bumped.unionByName(inserted)
    diff = snapshot_diff(old, new, key="o_orderkey")
    return diff.groupBy("op", "o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents_sum")
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN cents + 100 ELSE cents END AS cents
  FROM old WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT -o_orderkey - 1, 'N', cents FROM old WHERE o_orderkey % 53 = 0
),
d AS (
  SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN n.o_orderstatus
              WHEN n.o_orderkey IS NULL THEN o.o_orderstatus
              ELSE n.o_orderstatus END AS o_orderstatus,
         CASE WHEN o.o_orderkey IS NULL THEN n.cents
              WHEN n.o_orderkey IS NULL THEN o.cents
              ELSE n.cents END AS cents,
         CASE WHEN o.o_orderkey IS NULL THEN 'I'
              WHEN n.o_orderkey IS NULL THEN 'D'
              WHEN n.o_orderstatus <> o.o_orderstatus OR n.cents <> o.cents THEN 'U'
              END AS op
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT op, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS cents_sum
FROM d WHERE op IS NOT NULL
GROUP BY 1, 2
"""


def q_fk_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fk_integrity orphan audit re-planned through the broadcast
    Bloom-filter pre-reduction (operators/bloom.py::bloom_anti_join):
    per FK edge, bloom-rejected child rows are counted as orphans with
    ZERO shuffle (no false negatives), and only bloom-accepted rows —
    matches plus a ~1e-3 sliver of false positives — pay the exact anti
    join. Exactness is free (the exact join re-ejects false positives),
    so the oracle is the PLAIN NOT-EXISTS SQL with no bloom anywhere in
    it: any hash/bitset/routing defect changes the orphan counts. Parent
    drops every 7th key (vs fk_integrity's 13th) so the two gates'
    expected counts differ."""
    from database_collector_spark.operators import bloom

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders_kept = orders.filter(F.col("o_orderkey") % 7 != 0).select("o_orderkey")
    cust_kept = cust.filter(F.col("c_custkey") % 7 != 0)
    e1 = (
        bloom.bloom_anti_join(
            li,
            orders_kept,
            child_key="l_orderkey",
            parent_key="o_orderkey",
            num_bits=1 << 21,
        )
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("lineitem->orders").alias("edge"), "n_orphans")
    )
    e2 = (
        bloom.bloom_anti_join(
            orders.select("o_custkey"),
            cust_kept,
            child_key="o_custkey",
            parent_key="c_custkey",
            num_bits=1 << 21,
        )
        .agg(F.count("*").alias("n_orphans"))
        .select(F.lit("orders->customer").alias("edge"), "n_orphans")
    )
    return e1.unionByName(e2)


SQL_FK_BLOOM = """
SELECT 'lineitem->orders' AS edge,
       CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderkey % 7 <> 0)
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 7 <> 0)
"""


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum of the orders table
    (`operators/checksum.py::table_checksum`) — the replica-equality
    primitive for every copy this engine makes (JDBC ingest, CDC apply,
    upsert generations). Columns are canonicalized to engine-stable
    strings (ints, cents, epoch days); the fold is four commutative
    32-bit md5-word sums, so the result is independent of partitioning
    and row order and comparable across engines."""
    from database_collector_spark.operators.checksum import table_checksum

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("string").alias("k"),
        F.col("o_custkey").cast("string").alias("c"),
        F.col("o_orderstatus").alias("s"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string").alias("cents"),
        F.floor(F.col("o_orderdate").cast("timestamp_ltz").cast("long") / 86400)
        .cast("long")
        .cast("string")
        .alias("day"),
    )
    return table_checksum(o, ("k", "c", "s", "p", "cents", "day"))


SQL_TABLE_CHECKSUM = """
WITH canon AS (
  SELECT md5(concat_ws('|',
           CAST(o_orderkey AS VARCHAR),
           CAST(o_custkey AS VARCHAR),
           o_orderstatus,
           o_orderpriority,
           CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS VARCHAR)
         )) AS h
  FROM orders
),
words AS (
  SELECT
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h1,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 8 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h2,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 16 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h3,
    list_sum(list_transform(range(1, 9),
      i -> CAST(strpos('0123456789abcdef', substr(h, 24 + i, 1)) - 1 AS BIGINT)
           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h4
  FROM canon
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(h1) AS BIGINT) AS sum_h1,
       CAST(SUM(h2) AS BIGINT) AS sum_h2,
       CAST(SUM(h3) AS BIGINT) AS sum_h3,
       CAST(SUM(h4) AS BIGINT) AS sum_h4
FROM words
"""


_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z, the fixture's time origin


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key layout report over events, dims (user_id, hour index)
    (operators/layout.py): 16 fixed-width z-ranges with per-dimension
    min/max — the footer stats a z-ordered write would give the scan
    pruner. Pure integer bit arithmetic, one map stage + one 16-row
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    hour = F.floor((F.unix_timestamp("ts") - F.lit(_EPOCH_2024)) / 3600)
    return layout.cluster_stats(ev, F.col("user_id"), hour, n_buckets=16)


SQL_ZORDER_LAYOUT = f"""
WITH d AS (
  SELECT user_id AS x,
         CAST(floor((floor(epoch(ts)) - {_EPOCH_2024}) / 3600) AS BIGINT) AS y
  FROM events
),
keyed AS (
  SELECT x, y,
         (SELECT SUM(((x >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                     + ((y >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))
          FROM (SELECT unnest(generate_series(0, 15)) AS i)) AS zkey
  FROM d
),
m AS (SELECT MAX(zkey) AS zmax FROM keyed)
SELECT CAST(floor(zkey * 16.0 / (zmax + 1)) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max
FROM keyed CROSS JOIN m
GROUP BY 1
"""


# ------------------------------------------------------ upsert compaction

_UPSERT_GENS = 4


def q_upsert_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming upsert sink's generation fold, replayed in batch
    with REAL parquet generations: the event stream becomes a keyed
    change feed (key=user_id, version=event_id, op='D' for 'error'
    events — tombstones RETAINED through intermediate generations, the
    log-compaction rule that makes the fold order-independent), split
    into 4 batches; each generation g = scd1_merge(previous generation
    read from disk, batch g) written to gen=g parquet; the final state
    is read back through streaming/upsert.py::read_state (largest
    _SUCCESS-marked generation) and tombstones filtered once at the
    end. The oracle computes the one-shot latest-wins answer directly —
    equality proves the iterated merge, the tombstone retention rule
    AND the generation round-trip all compose to the same state, the
    parity the streaming sink's foreachBatch path relies on
    (streaming/upsert.py's idempotent-replay argument).

    Plan/scale: each fold is ONE keyed window shuffle (scd1_merge);
    generations are immutable directories exactly like the streaming
    sink writes them. Versions (event_id) are unique, so every fold is
    deterministic."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("version"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    from database_collector_spark.streaming.upsert import read_state

    path = os.path.join(_artifact_dir("upsert", sf_dir), "state")
    state: DataFrame | None = None
    for g in range(_UPSERT_GENS):
        batch = ev.filter(F.col("version") % _UPSERT_GENS == g)
        state = (
            batch
            if state is None
            else scd1_merge(state, batch, key="user_id", version_col="version")
        )
        state.write.mode("overwrite").parquet(f"{path}/gen={g}")
        # next fold reads the PERSISTED generation, like foreachBatch
        state = spark.read.parquet(f"{path}/gen={g}")
    final = read_state(spark, path)
    assert final is not None
    return final.filter(F.col("op") != "D").select(
        "user_id", "version", "event_type", "cents"
    )


SQL_UPSERT_COMPACTION = """
WITH ev AS (
  SELECT user_id, event_id AS version, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
w AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
  FROM ev
)
SELECT user_id, version, event_type, cents
FROM w WHERE rn = 1 AND op <> 'D'
"""


# ------------------------------------------------------ Bloom membership

_BLOOM_M = 16128  # 256 words x 63 usable bits
_BLOOM_K = 4


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen: build a deterministic Bloom
    filter over a benchmark set's content hashes (docs with
    doc_id % 7 = 0), probe EVERY document, and emit the membership
    verdict next to the exact answer — false_positive marks the Bloom
    overcount, and a false NEGATIVE is impossible by construction (any
    one would flip exact_member > bloom_hit and fail the hash).
    operators/sketches.py::bloom_build/bloom_probe: the word table is
    <= 256 rows at ANY corpus size (algebraic bit_or — partials fold
    map-side and filters over disjoint shards merge by bit_or), the
    probe is one explode + broadcast join + keyed bool_and. The
    production decontamination shape: the benchmark filter is built
    once, broadcast everywhere, and 100 TB of candidate documents
    stream past it at scan speed."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("item")
    )
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    bloom = bloom_build(bench, "item", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    probed = bloom_probe(
        bloom, docs, "item", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    # probed already carries exactly one row per doc_id (every doc's
    # item yields k probe rows that re-aggregate to one) — no join back
    return probed.withColumn("exact_member", F.col("doc_id") % 7 == 0).select(
        "doc_id",
        "exact_member",
        "bloom_hit",
        (F.col("bloom_hit") & ~F.col("exact_member")).alias("false_positive"),
    )


def _sql_bloom_decontaminate(m: int = _BLOOM_M, k: int = _BLOOM_K) -> str:
    hv = hv_sql("d.item || ':' || 'bloom' || ':' || CAST(j AS VARCHAR)")
    return f"""
WITH d AS (SELECT doc_id, md5(text) AS item FROM documents),
js AS (SELECT unnest(generate_series(0, {k - 1})) AS j),
pos AS (
  SELECT d.doc_id, ({hv} % {m}) AS pos
  FROM d, js WHERE d.doc_id % 7 = 0
),
bloom AS (
  SELECT pos // 63 AS word, bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
  FROM pos GROUP BY 1
),
probe AS (
  SELECT d.doc_id, ({hv} % {m}) // 63 AS word,
         CAST(({hv} % {m}) % 63 AS INT) AS bit
  FROM d, js
),
hits AS (
  SELECT p.doc_id,
         bool_and((COALESCE(b.bits, 0) & (CAST(1 AS BIGINT) << p.bit)) <> 0)
           AS bloom_hit
  FROM probe p LEFT JOIN bloom b USING (word)
  GROUP BY p.doc_id
)
SELECT h.doc_id, (h.doc_id % 7 = 0) AS exact_member, h.bloom_hit,
       (h.bloom_hit AND NOT (h.doc_id % 7 = 0)) AS false_positive
FROM hits h
"""


SQL_BLOOM_DECONTAMINATE = _sql_bloom_decontaminate()


# ---------------------------------------------- bucketed join layout

_BJP_BUCKETS = 8
# atexit-hook dedup keys: (table_name, id(session)) — per actual build
_BUILT_TABLES: set[tuple[str, int]] = set()


def _bjp_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Per-(process, SF) managed-table names for the bucketed-layout
    gate, with dead-pid sibling pruning under the warehouse dir (the
    workloads.artifact_dir policy: reuse within a run, no leak
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
                if owner.isdigit() and int(owner) != pid and not pid_alive(
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
    doc_id with zero Exchange: the shuffle is paid once, by the layout
    all of them share."""
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


QUERIES = {
    "table_checksum": q_table_checksum,
    "scd1_upsert": q_scd1_upsert,
    "scd2_history": q_scd2_history,
    "cdc_apply": q_cdc_apply,
    "incremental_agg": q_incremental_agg,
    "snapshot_diff": q_snapshot_diff,
    "fk_bloom": q_fk_bloom,
    "zorder_layout": q_zorder_layout,
    "bloom_decontaminate": q_bloom_decontaminate,
    "upsert_compaction": q_upsert_compaction,
    "bucketed_join_persist": q_bucketed_join_persist,
}

ORACLES = {
    "table_checksum": SQL_TABLE_CHECKSUM,
    "scd1_upsert": SQL_SCD1_UPSERT,
    "scd2_history": SQL_SCD2_HISTORY,
    "cdc_apply": SQL_CDC_APPLY,
    "incremental_agg": SQL_INCREMENTAL_AGG,
    "snapshot_diff": SQL_SNAPSHOT_DIFF,
    "fk_bloom": SQL_FK_BLOOM,
    "zorder_layout": SQL_ZORDER_LAYOUT,
    "bloom_decontaminate": SQL_BLOOM_DECONTAMINATE,
    "upsert_compaction": SQL_UPSERT_COMPACTION,
    "bucketed_join_persist": SQL_BUCKETED_JOIN_PERSIST,
}
