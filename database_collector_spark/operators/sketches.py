"""Mergeable sketch aggregates (extension surface): roaring-style
bitmaps, count-min cells, deterministic md5 HLL registers and Bloom
words.

100 TB cost model: every sketch here is an algebraic aggregate — each
input partition folds into a fixed-size sketch map-side, and the shuffle
moves ONE sketch per (group x partition), not rows, so the network cost
is O(groups x sketch_size), independent of row count. Mergeability is
also what makes the same calls valid under Structured Streaming —
partial sketches merge across micro-batches like any other partial
aggregate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bitmap_distinct(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
) -> DataFrame:
    """Per-group EXACT count-distinct of a non-negative integer key via
    mergeable roaring-style bitmaps — the middle point between
    ``approx_count_distinct`` (fixed cost, ~2% error) and a plain
    COUNT(DISTINCT) (exact, but the Expand/shuffle carries every
    distinct value as its own row).

    Plan: bucket the key space into 32768-bit blocks
    (``bitmap_bucket_number``), build one 4 KiB bitmap per
    (group, bucket) with ``bitmap_construct_agg`` — an algebraic
    aggregate, so partitions fold map-side and the first shuffle moves
    at most one 4 KiB bitmap per (group, bucket, partition), not one
    row per distinct key — then sum ``bitmap_count`` per group. At
    100 TB with billions of distinct dense keys this is the exact-count
    plan that still combines map-side; COUNT(DISTINCT)'s expand ships
    every (group, key) pair to the reducer.

    Contract: ``key_col`` must be integral and >= 0 (bitmap position =
    key); NULL keys are excluded, matching COUNT(DISTINCT) semantics.

    Output: group columns + ``n_distinct_<key_col>`` (long).
    """
    bm = (
        df.where(F.col(key_col).isNotNull())
        .groupBy(*group_cols, F.bitmap_bucket_number(key_col).alias("__bkt"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position(key_col)).alias("__bm"))
    )
    return bm.groupBy(*group_cols).agg(
        F.sum(F.bitmap_count("__bm")).alias(f"n_distinct_{key_col}")
    )


def cms_cell_structs(item_col: str, depth: int, width: int) -> list[F.Column]:
    """The one CMS hashing definition: for each of ``depth`` md5-salted
    rows, the item maps to column ``int(md5(d || ':' || item)[:8], 16)
    % width``. Shared by every sketch builder (batch, grouped, probe,
    streaming twin) — a salt/width change in one place keeps all
    sketches mutually mergeable and comparable."""
    cells = []
    for d in range(depth):
        hx = F.md5(F.concat(F.lit(f"{d}:"), F.col(item_col).cast("string")))
        col_idx = (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % width).cast(
            "int"
        )
        cells.append(F.struct(F.lit(d).alias("row"), col_idx.alias("col")))
    return cells


def cms_cells(
    items: DataFrame,
    *,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch as a DataFrame of non-zero cells (hashing:
    :func:`cms_cell_structs`); a cell's value is the exact count of
    items hashing there. Deterministic by construction (md5), so unlike
    HLL the SKETCH ITSELF is oracle-checkable, not just a bounded-error
    verdict.

    100 TB shape: the cell table is at most depth*width rows — a partial
    aggregate folds each partition's items map-side, the shuffle moves
    O(depth*width) cells, and the sketch is mergeable across batches and
    streams by cell-wise addition (the CMS property)."""
    cells = cms_cell_structs(item_col, depth, width)
    return (
        items.select(F.explode(F.array(*cells)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_point_estimates(
    items: DataFrame,
    probes: DataFrame,
    *,
    item_col: str = "item",
    probe_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """CMS point-frequency estimates for the probe items: estimate =
    MIN over the depth cells the probe hashes to. Guaranteed >= the true
    count; the probe side broadcasts against the tiny cell table."""
    sketch = cms_cells(items, item_col=item_col, depth=depth, width=width)
    probe_cells = cms_cell_structs(probe_col, depth, width)
    probed = probes.select(
        F.col(probe_col).alias("probe_item"),
        F.explode(F.array(*probe_cells)).alias("c"),
    ).select("probe_item", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    return (
        probed.join(F.broadcast(sketch), ["row", "col"], "left")
        .groupBy("probe_item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate"))
    )


def cms_cells_by(
    items: DataFrame,
    *,
    by: str,
    item_col: str = "item",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Grouped Count-Min: one depth x width sketch PER ``by`` group,
    built in a single pass (cells keyed (group, row, col) — the shuffle
    moves at most |groups| * depth * width cells however large the
    input). Same md5 hashing as ``cms_cells``, so grouped sketches stay
    deterministic and cross-engine checkable."""
    cells = cms_cell_structs(item_col, depth, width)
    return (
        items.select(by, F.explode(F.array(*cells)).alias("c"))
        .groupBy(by, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_inner_product(cells_a: DataFrame, cells_b: DataFrame) -> DataFrame:
    """Equi-join SIZE estimate from two CMS sketches (AMS/CMS inner
    product): estimate = MIN over hash rows of sum_col cnt_a * cnt_b.
    One-sided like point queries — never an undercount of the true
    join size sum_v f_a(v) * f_b(v); collisions only add. Inputs are
    ``cms_cells``-shaped frames (row, col, cnt); any extra key columns
    are carried through and the output holds one estimate per
    (keys_a x keys_b) combination — grouped sketches therefore estimate
    ALL pairings in one call (that is the point: sketches build once,
    answer every pairing). The two sides' key column names must be
    DISJOINT (rename before calling, as q_cms_join_size does with
    type_a/type_b); identical names would make the join output
    ambiguous, so that is rejected loudly.

    This is the planner's question — "how big is A join B on this key?"
    — answered from two O(depth x width) summaries without touching
    either table again; sketches are reusable across every pairing."""
    keys_a = [c for c in cells_a.columns if c not in ("row", "col", "cnt")]
    keys_b = [c for c in cells_b.columns if c not in ("row", "col", "cnt")]
    clash = sorted(set(keys_a) & set(keys_b))
    if clash:
        raise ValueError(
            f"cms_inner_product: key column(s) {clash} appear on both "
            "sides; rename one side (e.g. type_a/type_b) so every "
            "pairing's keys are distinguishable in the output"
        )
    a = cells_a.withColumnRenamed("cnt", "cnt_a")
    b = cells_b.withColumnRenamed("cnt", "cnt_b")
    per_row = (
        a.join(b, ["row", "col"])
        .groupBy(*keys_a, *keys_b, "row")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("dot"))
    )
    return per_row.groupBy(*keys_a, *keys_b).agg(
        F.min("dot").alias("cms_join_estimate")
    )


# ---------------------------------------------------------------------------
# Deterministic HLL registers (cross-engine reproducible sketch state)
# ---------------------------------------------------------------------------
#
# approx_count_distinct is the production default, but its register
# hash is Spark-internal: the sketch STATE cannot be recomputed by another
# engine, so gates can only bound its error. This tier is the
# persistable/mergeable alternative the 100 TB rollup story needs: an HLL
# whose registers are a pure function of the item strings via md5, so (a)
# a register table written to parquet today merges with one computed by a
# different engine tomorrow, and (b) a DuckDB oracle can recompute the
# exact same registers and the differential hashes sketch STATE, not just
# an error band. Hash split: md5 hex chars [1,8] -> 32-bit h1, register =
# h1 % m; hex chars [9,16] -> 32-bit h2, rho = 33 - bit_length(h2)
# (h2 = 0 -> 33). bin()/length() agree between Spark and DuckDB, so rho
# is engine-exact. Estimation is Flajolet et al.'s HLL with the linear-
# counting small-range correction; the register sum is kept as the exact
# integer sum(2^(33 - rho)) so every float enters through ONE division
# (or one log) on identical operands.

HLL_M = 256  # registers; rsd ~ 1.04/sqrt(m) = 6.5%
_HLL_POW33 = 1 << 33


def hop_expand(
    df: DataFrame,
    *,
    window_s: int,
    hop_s: int,
    s_col: str = "s",
) -> DataFrame:
    """Expand each row into every hop-aligned sliding window containing
    it: input has an epoch-second BIGINT column ``s_col``; output keeps
    all columns and adds ``win_s`` (the window's start second), the
    expansion the sliding-HLL gate folds its registers over.

    ``window_s`` must be a whole multiple of ``hop_s``: with
    ``nhops = window_s // hop_s`` copies a non-divisible pair would
    silently miss each event's oldest covering window (the partial-hop
    tail), undercounting distinct users — rejected loudly instead.
    Alignment uses pmod, so negative epochs FLOOR-align; NB DuckDB's
    ``//`` TRUNCATES toward zero, so oracle twins must floor-align with
    the same pmod idiom (``s - ((s % h) + h) % h``), never bare ``//``
    (pinned cross-engine by the negative-epoch parity test).

    Rejects inputs already carrying ``win_s`` or ``_h`` columns — the
    projection would silently clobber them (e.g. when re-expanding an
    already-expanded frame with a second hop size)."""
    clash = {"win_s", "_h"} & set(df.columns)
    if clash:
        raise ValueError(
            f"hop_expand: input column(s) {sorted(clash)} would be "
            "overwritten; rename them before expanding"
        )
    if window_s % hop_s != 0:
        raise ValueError(
            f"hop_expand: window_s={window_s} is not a multiple of "
            f"hop_s={hop_s}; the last partial hop's window would be "
            "silently dropped"
        )
    nhops = window_s // hop_s
    s = F.col(s_col)
    # no containment filter needed: with window_s = nhops * hop_s, every
    # generated win_s provably satisfies win_s <= s (pmod >= 0, h >= 0)
    # and win_s + window_s > s ((nhops - h) * hop_s > pmod for
    # h <= nhops - 1) — the divisibility guard above is what makes the
    # expansion exact
    return (
        df.select("*", F.explode(F.expr(f"sequence(0, {nhops - 1})")).alias("_h"))
        .withColumn("win_s", (s - F.pmod(s, hop_s)) - F.col("_h") * F.lit(hop_s))
        .drop("_h")
    )


def hll_rho_projection(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    *,
    salt: str,
    m: int = HLL_M,
) -> DataFrame:
    """(group..., reg, rho) per input row — the map-side projection.

    Pure per-row column ops (md5 + conv + bin), no shuffle. Feed into
    ``hll_partial_registers`` for the partial-aggregate collapse.

    NULL items are dropped here (matching ``count(DISTINCT x)``'s NULL
    semantics): without the filter a NULL item would yield a
    (reg=NULL, rho=NULL) row that ``hll_finalize`` counts in n_regs but
    skips in the register sum — silently deflating v_zero/reg_sum. A
    group whose items are ALL NULL therefore produces no registers (as
    it produces no distinct values).
    """
    h = f"md5(concat(cast({item_col} as string), ':', '{salt}'))"
    h1 = f"cast(conv(substring({h}, 1, 8), 16, 10) as bigint)"
    h2 = f"cast(conv(substring({h}, 9, 8), 16, 10) as bigint)"
    return df.where(F.expr(f"({item_col}) IS NOT NULL")).select(
        *group_cols,
        F.expr(f"cast({h1} % {m} as int)").alias("reg"),
        F.expr(
            f"cast(case when {h2} = 0 then 33 else 33 - length(bin({h2})) end as int)"
        ).alias("rho"),
    )


def hll_partial_registers(
    df: DataFrame,
    group_cols: Sequence[str],
    item_col: str,
    *,
    salt: str,
    m: int = HLL_M,
) -> DataFrame:
    """Per-group register table: (group..., reg, rho = max over items).

    This IS the persistable sketch state: at most ``m`` rows per group,
    mergeable by max(rho) per register across any partitioning of the
    input (days, shards, engines) — union partial tables and re-run
    ``merge_hll_registers`` to roll up. One partial-agg shuffle of
    O(groups x m) rows, map-side combined.
    """
    return (
        hll_rho_projection(df, group_cols, item_col, salt=salt, m=m)
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def merge_hll_registers(
    partials: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Merge register tables down to coarser groups: max(rho) per
    (group, reg). Losslessly associative/commutative — merging daily
    partials to a month equals sketching the month directly."""
    return partials.groupBy(*group_cols, "reg").agg(F.max("rho").alias("rho"))


def hll_finalize(
    registers: DataFrame,
    group_cols: Sequence[str],
    *,
    m: int = HLL_M,
) -> DataFrame:
    """Registers -> estimate per group.

    Output columns: ``n_regs`` (hit registers), ``v_zero`` (empty
    registers), ``reg_sum`` (exact integer sum over ALL m registers of
    2^(33 - rho), empty regs contributing 2^33 — the scaled-integer form
    of HLL's harmonic denominator, order-independent and cross-engine
    exact), ``est_users`` (double: alpha_m * m^2 * 2^33 / reg_sum, with
    the standard linear-counting switch m * ln(m / v_zero) when the raw
    estimate <= 2.5 m and empty registers remain).
    """
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_regs"),
        # shiftleft's numBits arg must be a literal int in the Python API;
        # the SQL form takes the column expression
        F.sum(F.expr("shiftleft(cast(1 as bigint), 33 - rho)")).alias("hit_sum"),
    )
    v_zero = (F.lit(m) - F.col("n_regs")).cast("int")
    reg_sum = (F.col("hit_sum") + v_zero.cast("long") * F.lit(_HLL_POW33)).alias(
        "reg_sum"
    )
    raw = F.lit(alpha * m * m * float(_HLL_POW33)) / F.col("reg_sum").cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    return (
        agg.select(*group_cols, "n_regs", v_zero.alias("v_zero"), reg_sum)
        .withColumn("est_users", est)
    )


# --------------------------------------------------------------- Bloom
#
# Deterministic Bloom filter (Bloom 1970, public) with the same
# cross-engine register discipline as the HLL tier: positions come from
# the md5 idiom, the bitmap lives as (word, bits) BIGINT rows, and the
# build aggregate is bit_or — algebraic, so partitions fold map-side and
# the shuffle moves O(m/63) words regardless of item count, and two
# filters over disjoint corpora MERGE by bit_or of their word tables
# (the property that lets 1000 executors build one filter, or nightly
# filters roll up). 63 bits per word, not 64: both engines' BIGINT
# 1 << 63 is an overflow (DuckDB raises), and staying under the sign
# bit keeps every word value positive and portable.
#
# Complementary to operators/bloom.py, NOT a duplicate: that module is
# the JOIN PRE-REDUCTION form — xxhash64 positions (Spark-only), filter
# collected to an array literal so the probe is a pure projection ahead
# of an exact join that resolves false positives. This tier is the
# PORTABLE ARTIFACT form — md5 positions replayable in any engine, the
# word TABLE stays a DataFrame (persistable/mergeable/broadcastable),
# and the membership verdict itself (FPs included) is the deterministic
# oracle-checkable output.

BLOOM_WORD_BITS = 63


def check_identifier_salt(salt: str) -> None:
    """Shared guard for EVERY operator that interpolates a salt into a
    SQL expression string (this module's Bloom tier and text.py's hashed
    classifier): identifier-safe salts can never alter the expression,
    and one definition keeps the accepted salt domain identical across
    operators."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9_.-]*", salt):
        raise ValueError(f"salt must be identifier-safe, got {salt!r}")


def _check_bloom_params(m_bits: int, k_hashes: int, salt: str) -> None:
    """Build and probe accept the same parameter domain so a filter
    always round-trips."""
    if m_bits < BLOOM_WORD_BITS:
        raise ValueError(f"m_bits must be >= {BLOOM_WORD_BITS}, got {m_bits}")
    if k_hashes < 1:
        raise ValueError(f"k_hashes must be >= 1, got {k_hashes}")
    check_identifier_salt(salt)


def bloom_positions(
    item: str, *, m_bits: int, k_hashes: int, salt: str
) -> F.Column:
    """array<struct<word,bit>> of the item's ``k_hashes`` positions —
    h_j = md5(item:salt:j) first 8 hex digits as a 32-bit int mod
    m_bits. Pure per-row projection; shared by build and probe so the
    two sides cannot disagree on the hashing scheme."""
    _check_bloom_params(m_bits, k_hashes, salt)
    structs = []
    for j in range(k_hashes):
        h = (
            f"CAST(conv(substring(md5(concat({item}, ':', '{salt}', ':', '{j}')),"
            f" 1, 8), 16, 10) AS BIGINT) % {m_bits}"
        )
        structs.append(
            f"struct(CAST(({h}) div {BLOOM_WORD_BITS} AS BIGINT) AS word,"
            f" CAST(({h}) % {BLOOM_WORD_BITS} AS INT) AS bit)"
        )
    return F.expr(f"array({', '.join(structs)})")


def bloom_build(
    df: DataFrame,
    item_col: str,
    *,
    m_bits: int = 16128,
    k_hashes: int = 4,
    salt: str = "bloom",
) -> DataFrame:
    """(word, bits) BIGINT word table of the Bloom filter over the
    item column. ONE explode + ONE bit_or aggregate; output is at most
    ceil(m_bits / 63) rows independent of input size (words with no set
    bit are absent — probe treats missing as 0)."""
    pos = df.select(
        F.explode(
            bloom_positions(item_col, m_bits=m_bits, k_hashes=k_hashes, salt=salt)
        ).alias("p")
    )
    return (
        pos.select(
            F.col("p.word").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), p.bit)").alias("b"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    item_col: str,
    *,
    m_bits: int = 16128,
    k_hashes: int = 4,
    salt: str = "bloom",
    id_cols: Sequence[str] = ("doc_id",),
) -> DataFrame:
    """Membership test: ``id_cols`` + ``bloom_hit`` (true iff ALL k bits
    are set — possibly a false positive, never a false negative, the
    Bloom contract). The word table is broadcast (<= ceil(m/63) rows by
    construction); the probe is one explode + broadcast join + one
    keyed bool_and — never a shuffle of the filter itself."""
    pos = probes.select(
        *id_cols,
        F.explode(
            bloom_positions(item_col, m_bits=m_bits, k_hashes=k_hashes, salt=salt)
        ).alias("p"),
    ).select(*id_cols, F.col("p.word").alias("word"), F.col("p.bit").alias("bit"))
    joined = pos.join(F.broadcast(bloom), "word", "left")
    set_bit = (
        F.coalesce(F.col("bits"), F.lit(0))
        .bitwiseAND(F.expr("shiftleft(CAST(1 AS BIGINT), bit)"))
        != 0
    )
    return (
        joined.select(*id_cols, set_bit.alias("s"))
        .groupBy(*id_cols)
        .agg(F.expr("bool_and(s)").alias("bloom_hit"))
    )
