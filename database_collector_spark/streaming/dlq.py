"""Dead-letter routing for streaming sinks.

The reference's push loop drops whole scrape batches on error (fail-soft
tick, SURVEY §2.2); a durable pipeline must not choose between "poison
row kills the stream" and "poison row silently vanishes". The standard
recipe is per-batch dead-lettering: validate inside ``foreachBatch``,
write passing rows to the main sink and failing rows — WITH the reason —
to a quarantine path, both through the replay-safe batch-id partition
overwrite so at-least-once delivery still converges to exactly-once
contents on BOTH paths.

The batch is validated ONCE: the predicate computes per-row from plain
columns, so the good/bad split is two filters over one cached batch —
never a second source read.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BATCH_COL = "_batch_id"


def dead_letter_sink(
    good_path: str,
    dlq_path: str,
    *,
    valid: Column,
    reason: Column,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function splitting each micro-batch on
    ``valid`` (a boolean Column over the batch's columns): passing rows
    land at ``good_path``; failing rows land at ``dlq_path`` with a
    ``_reason`` column (``reason`` evaluated on the failing row — carry
    WHY it failed, or replaying the DLQ later needs re-diagnosis).
    NULL validity counts as invalid (a predicate that cannot decide
    must not pass data through).

    Both writes are batch-id-partitioned dynamic overwrites, so a
    replayed batch rewrites exactly its own partitions on both paths —
    the idempotency contract of ``streaming/sink.py`` extended to two
    destinations.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        tagged = batch_df.withColumn("__valid", F.coalesce(valid, F.lit(False)))
        tagged.persist()
        try:
            (
                tagged.where(F.col("__valid"))
                .drop("__valid")
                .withColumn(BATCH_COL, F.lit(int(batch_id)))
                .write.partitionBy(BATCH_COL)
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(good_path)
            )
            (
                tagged.where(~F.col("__valid"))
                .drop("__valid")
                .withColumn("_reason", reason)
                .withColumn(BATCH_COL, F.lit(int(batch_id)))
                .write.partitionBy(BATCH_COL)
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(dlq_path)
            )
        finally:
            tagged.unpersist()

    return _sink
