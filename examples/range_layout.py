"""Range-partitioned layout planning from exact equi-depth splitters.

The `range_splitters` gate (workloads_eval) computes the exact
boundaries cutting a distribution into equal-count ranges with TWO
scans and ZERO corpus shuffle (ranking.rank_select_by_group). This
example shows what those numbers are FOR: planning a range-partitioned
lake layout the way a 100 TB sort/layout job does —

  1. PLAN: compute the 7 exact split points of the price-cents
     distribution (global, one group) — the cheap planning step.
  2. EXECUTE: assign each row its range id with a zero-shuffle
     in-row expression over the BROADCAST splitter list, then write
     partitioned by range_id (8 directories, each ~n/8 rows by
     construction — equi-depth means no partition skew, unlike
     equi-width splits on a skewed value domain).
  3. CONSUME: a price-band query reads only the range directories
     that can contain the band — partition pruning does the work a
     full-scan filter would.

Spark's own ``repartitionByRange`` samples to estimate boundaries
(non-deterministic, resampled per job); planning from exact splitters
makes the layout deterministic and REUSABLE — the boundary table is a
few rows, persistable next to the data as the layout's contract.

Run:  python examples/range_layout.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from database_collector_spark.operators.ranking import rank_select_by_group
from database_collector_spark.session import get_spark
from database_collector_spark.workloads import _t

N_RANGES = 8


def plan_splitters(spark, sf_dir: str) -> list[int]:
    """PLAN: the 7 exact equi-depth boundaries of the global
    price-cents distribution (one constant group; two scans, no
    corpus shuffle)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice").isNotNull())
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    [row] = rank_select_by_group(
        li.select(F.lit("all").alias("part"), cents.alias("cents")),
        "part",
        "cents",
        {
            f"s{i}": f"({i} * n + {N_RANGES - 1}) div {N_RANGES}"
            for i in range(1, N_RANGES)
        },
    ).collect()
    return [row[f"s{i}"] for i in range(1, N_RANGES)]


def range_id_col(splitters: list[int], value_col: str) -> F.Column:
    """Zero-shuffle range assignment: range_id = number of splitters
    strictly below the value (splitters are a tiny in-plan literal
    array — the broadcast side of the plan, no join needed)."""
    arr = F.array(*[F.lit(int(s)) for s in splitters])
    return F.size(F.filter(arr, lambda s: s < F.col(value_col))).alias("range_id")


def write_range_layout(spark, sf_dir: str, out_dir: str, splitters: list[int]):
    """EXECUTE: one scan, in-row range assignment, partitioned write."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_extendedprice").isNotNull())
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    (
        li.select(
            "l_orderkey",
            "l_returnflag",
            cents.alias("cents"),
            range_id_col(splitters, "cents"),
        )
        .write.mode("overwrite")
        .partitionBy("range_id")
        .parquet(out_dir)
    )


def price_band_ranges(splitters: list[int], lo: int, hi: int) -> list[int]:
    """CONSUME-side planning: which range ids can hold cents in
    [lo, hi]? Driver-side over the tiny boundary list. A value v lives
    in range_id = #{s : s < v}, so the inclusive band spans
    n_below(lo) .. n_below(hi) exactly — n_below(hi + 1) would
    over-select one all-greater partition whenever hi equals a
    splitter (review)."""
    n_below = lambda v: sum(1 for s in splitters if s < v)  # noqa: E731
    return list(range(n_below(lo), n_below(hi) + 1))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="rlayout_")
    spark = get_spark("range-layout-example")
    try:
        splitters = plan_splitters(spark, sf_dir)
        print(f"splitters (cents): {splitters}")
        write_range_layout(spark, sf_dir, out, splitters)
        sizes = (
            spark.read.parquet(out)
            .groupBy("range_id")
            .count()
            .orderBy("range_id")
            .collect()
        )
        print("range sizes (equi-depth => near-equal):")
        for r in sizes:
            print(f"  range {r['range_id']}: {r['count']} rows")
        lo, hi = splitters[2], splitters[3]
        wanted = price_band_ranges(splitters, lo, hi)
        band = spark.read.parquet(out).where(
            F.col("range_id").isin(wanted) & F.col("cents").between(lo, hi)
        )
        print(
            f"price band [{lo}, {hi}] touches ranges {wanted} "
            f"({band.count()} rows) — partition pruning reads "
            f"{len(wanted)}/{N_RANGES} directories"
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
