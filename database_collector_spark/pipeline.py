"""Batch collection lifecycle — the §3.1 equivalent, Spark-first.

Reference flow (collector/cmd/collector/database-collector.go:239-287):
cron tick -> list secrets -> per-target goroutine -> scrape -> convert ->
remote-write. Spark flow: registry DataFrame -> enabled_page() -> per-target
scrape (``sources.jdbc.scrape``, or fixture frames in tests) -> declarative
metric-config melt, tagged with the target's host and engine -> one union
of every melted frame -> enrich() -> sink. The driver loop below is
the cron stand-in (CRON_SCHEDULE / @every 5m semantics,
database-collector.go:268-280); each tick is one self-contained Spark batch,
which is exactly what a Lambda-triggered run is too (§3.2 —
``run_once`` == one invocation).

Credentials are re-read from the registry row every tick (rotation-safe,
database-collector.go:207-212) and never appear in plans or logs.
"""

from __future__ import annotations

import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_collector_spark.operators.enrich import enrich
from database_collector_spark.plans.metric_config import load_specs, melt_to_samples
from database_collector_spark.sources.registry import (
    MAX_TARGETS,
    enabled_page,
    overflow_count,
)


@dataclass
class CollectResult:
    target: str
    engine: str
    error: str | None = None  # fail-soft: set when this target's scrape failed


def run_once(
    spark: SparkSession,
    registry: DataFrame,
    config_by_engine: dict[str, str],
    scrape_fn: Callable[[SparkSession, dict, str], DataFrame],
    sink_fn: Callable[[DataFrame], None],
    *,
    region: str = "us-west-2",
    account_id: str = "000000000000",
    anchor_ts: str | None = None,
) -> list[CollectResult]:
    """One collection tick over the whole registry.

    The driver runs each enabled target's scrapes in turn and melts every
    spec's result into samples tagged with the target's host and engine.
    The melted frames of all healthy targets union into one frame, which
    one ``enrich`` labels and one ``sink_fn`` call writes, so the
    remote-write POSTs batch per partition, not per target.

    Per-target failures are FAIL-SOFT, matching the reference (a broken
    target logs and the loop continues to the next one,
    collector/cmd/collector/database-collector.go:214-222): the failing
    target's CollectResult carries the error and none of its specs reach
    the union. JDBC failures surface here because Spark's jdbc reader
    connects eagerly at load() to resolve the schema — the same point the
    reference's sql.Open/Ping fails.
    """
    page = [r.asDict() for r in enabled_page(registry).collect()]
    # the collected target list is bounded by the page cap (reference
    # parity, MaxResults=100) — but a larger registry must not TRUNCATE
    # silently: when the capped page comes back full, count the uncapped
    # eligibles and warn about the dropped remainder. The page is
    # measured before unknown engines leave it, or one reject inside a
    # full page would hide the cut
    if len(page) >= MAX_TARGETS:
        dropped = overflow_count(registry)
        if dropped:
            warnings.warn(
                f"registry holds {MAX_TARGETS + dropped} enabled targets; "
                f"page cap {MAX_TARGETS} drops {dropped} this tick (first "
                f"{MAX_TARGETS} by secret_name collected). Shard the "
                f"registry across run_once calls of at most {MAX_TARGETS} "
                "enabled targets each.",
                RuntimeWarning,
                stacklevel=2,
            )
    # the reference logs and skips a target whose engine has no route
    # (database-collector.go:67-69); the collected page already says which
    unknown = [f"{t['secret_name']} ({t['engine']})" for t in page if t["route"] is None]
    if unknown:
        warnings.warn(
            f"skipping {len(unknown)} enabled targets with an unknown engine: "
            + ", ".join(unknown),
            RuntimeWarning,
            stacklevel=2,
        )
    targets = [t for t in page if t["route"] is not None]
    results: list[CollectResult] = []
    samples: list[DataFrame] = []
    for t in targets:
        config = config_by_engine.get(t["route"])
        if config is None:
            continue
        try:
            melted = [
                melt_to_samples(scrape_fn(spark, t, spec.request), spec).select(
                    "*", F.lit(t["host"]).alias("host"), F.lit(t["route"]).alias("engine")
                )
                for spec in load_specs(config)
            ]
        except Exception as exc:  # noqa: BLE001 — any one target must not kill the tick
            results.append(
                CollectResult(
                    t["secret_name"], t["route"], error=f"{type(exc).__name__}: {exc}"
                )
            )
            continue
        results.append(CollectResult(t["secret_name"], t["route"]))
        samples.extend(melted)
    if samples:
        # every melted frame carries the same seven typed columns, so a
        # positional union is safe
        sink_fn(
            enrich(
                reduce(DataFrame.union, samples),
                host=F.col("host"),
                engine=F.col("engine"),
                region=region,
                account_id=account_id,
                anchor_ts=anchor_ts,
            )
        )
    return results


def run_loop(
    tick_fn: Callable[[], None],
    *,
    interval_s: float = 300.0,
    max_ticks: int | None = None,
    sleep=time.sleep,
) -> int:
    """The cron stand-in: @every 5m default (database-collector.go:271).
    ``max_ticks`` bounds test runs; production passes None and stops on
    signal."""
    ticks = 0
    while max_ticks is None or ticks < max_ticks:
        tick_fn()
        ticks += 1
        if max_ticks is not None and ticks >= max_ticks:
            break
        sleep(interval_s)
    return ticks
