"""Nightly-join demonstration over the SHARED bucketed layout.

The `bucketed_join_persist` gate writes the (documents, embeddings)
pair bucketed+sorted on doc_id (workloads_storage.ensure_bucketed_tables ->
sinks/bucketed.py::write_bucketed). That layout is meant to be paid ONCE
and consumed by every recurring job — not one query's private cache
(r13 VERDICT #6). This example runs TWO different consumers over the
same persisted tables:

  1. the per-lang quality roll-up the gate itself computes (warm read —
     zero doc_id Exchange under the join), and
  2. a DIFFERENT nightly report: per-label document counts plus an
     embedding-coverage check (documents with no embedding row, via a
     LEFT ANTI join on the same bucketed key — also Exchange-free,
     because anti joins ride the identical co-located bucket layout).

At 100 TB the first build is the one-time shuffle; every nightly
consumer after it — however many reports share the key — joins
shuffle-free. Run:

    python examples/nightly_join.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from database_collector_spark.session import get_spark
from database_collector_spark.sinks.bucketed import read_table
from database_collector_spark.workloads_storage import ensure_bucketed_tables


def lang_rollup(spark, docs_table: str, emb_table: str):
    """Consumer 1 — the gate's per-lang quality roll-up."""
    j = read_table(spark, docs_table).join(read_table(spark, emb_table), "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("label_sum"),
        )
        .orderBy("lang")
    )


def label_report(spark, docs_table: str, emb_table: str):
    """Consumer 2 — per-label doc counts over the SAME tables."""
    j = read_table(spark, docs_table).join(read_table(spark, emb_table), "doc_id")
    return (
        j.groupBy("label")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("label")
    )


def coverage_gaps(spark, docs_table: str, emb_table: str):
    """Consumer 3 — documents missing an embedding row (LEFT ANTI on
    the bucketed key; rides the same co-located layout)."""
    return read_table(spark, docs_table).join(
        read_table(spark, emb_table), "doc_id", "left_anti"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("nightly-join-example")
    dt, et = ensure_bucketed_tables(spark, sf_dir)  # cold: builds; warm: no-op
    print("lang roll-up:", [tuple(r) for r in lang_rollup(spark, dt, et).collect()])
    print("label report:", [tuple(r) for r in label_report(spark, dt, et).collect()])
    print("coverage gaps:", coverage_gaps(spark, dt, et).count())


if __name__ == "__main__":
    main()
