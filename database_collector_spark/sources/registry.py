"""Source discovery + registry refresh (SURVEY.md §2.1 S1/S2, §2.3 J1).

The reference discovers monitoring targets by listing Secrets Manager
secrets tagged ``database-collector:enabled`` (collector/internal/aws/
secrets-manager.go:30-46, MaxResults 100) and every 15 minutes diffs the
listing against the in-memory registry, adding new targets and dropping
vanished ones (collector/cmd/collector/database-collector.go:81-170).

Spark-first shape: the registry is a DataFrame (from a JSON/Delta/parquet
table, or driver-side boto3 listing -> createDataFrame); the refresh diff
is a pair of anti-joins — no mutable map, no locks, and the diff
broadcast-joins for any realistic registry size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ENABLED_TAG = "database-collector:enabled"
MAX_TARGETS = 100  # parity with secrets-manager.go:33

# 'oracle', 'oracle-ee' and 'custom-oracle-ee' all route to the oracle
# collector (database-collector.go:65); unknown engines get a NULL route
# and ``pipeline.run_once`` warn-skips them (database-collector.go:67-69).
ENGINE_ALIASES = {
    "mysql": "mysql",
    "postgres": "postgres",
    "oracle": "oracle",
    "oracle-ee": "oracle",
    "custom-oracle-ee": "oracle",
}


def enabled_page(registry: DataFrame, *, max_targets: int = MAX_TARGETS) -> DataFrame:
    """Tag-filter + page cap + engine normalization: the first
    ``max_targets`` enabled targets by secret_name, each with a
    normalized ``route`` column that is NULL for an unknown engine.

    This is the listing the cap applies to, so whether it came back full
    is what tells a truncated registry apart — unknown engines inside
    the page still occupy their slots."""
    alias_map = F.create_map(
        *[F.lit(x) for kv in ENGINE_ALIASES.items() for x in kv]
    )
    return (
        registry.filter(F.col("tags").getItem(ENABLED_TAG).isNotNull())
        .orderBy("secret_name")
        .limit(max_targets)
        .withColumn("route", alias_map[F.col("engine")])
    )


def overflow_count(registry: DataFrame, *, max_targets: int = MAX_TARGETS) -> int:
    """How many ENABLED targets exceed the page cap (0 when within it).

    The reference's MaxResults-100 listing silently truncates a larger
    registry (secrets-manager.go:33 never paginates); :func:`enabled_page`
    reproduces the cap but the pipeline WARNS on truncation instead of
    silently dropping targets — call this only when the capped page came
    back full, so the extra count() action is paid exactly when
    truncation is possible."""
    n = registry.filter(F.col("tags").getItem(ENABLED_TAG).isNotNull()).count()
    return max(0, n - max_targets)


def refresh_diff(previous: DataFrame, current: DataFrame, key: str = "secret_name") -> DataFrame:
    """The 15-minute registry refresh as anti-joins (J1).

    adds = current ∖ previous; removes = previous ∖ current — semantically
    the full-outer diff at database-collector.go:91-166. Both sides are
    small (≤100 targets) so Catalyst broadcasts; the same plan holds for a
    million-target registry, where AQE picks the join strategy.
    """
    adds = current.join(previous.select(key), key, "left_anti").withColumn(
        "action", F.lit("add")
    )
    removes = previous.join(current.select(key), key, "left_anti").withColumn(
        "action", F.lit("remove")
    )
    return adds.unionByName(removes, allowMissingColumns=True)
