"""Per-query performance probe for optimization rounds.

Usage: python tools/perf_probe.py [--sf SF_DIR] [--runs N] [--plan DIR] name...

For each named query (registered or staged) this runs the query through
the bench-identical noop sink ``--runs`` times (reporting each time and
the min), counts the Spark jobs/stages/tasks the FIRST run triggered
(via the status tracker — job count is the visible proxy for
localCheckpoint materializations, broadcast builds and AQE stage
boundaries), and, with ``--plan DIR``, writes
``DIR/<name>_{before|after}.txt`` with the ``explain("formatted")``
output (suffix picked by ``--suffix``).

The probe mirrors bench.py's methodology exactly (same session factory,
same warm-up, same noop sink) so its numbers are comparable to the
suite bench rows.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    # >= 1 enforced: --runs 0 would leave jobs_after unbound and min([])
    # raising (r15 ADVICE)
    def _positive_int(v: str) -> int:
        n = int(v)
        if n < 1:
            raise argparse.ArgumentTypeError("--runs must be >= 1")
        return n

    ap.add_argument("--runs", type=_positive_int, default=2)
    ap.add_argument("--plan", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default="before", choices=["before", "after"])
    args = ap.parse_args()

    from database_collector_spark import gates
    from database_collector_spark.session import get_spark, warm_up

    spark = get_spark("perf-probe")
    sc = spark.sparkContext
    warm_up(spark, args.sf)

    queries = gates.all_queries()
    for name in args.names:
        fn = queries[name]
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            with open(os.path.join(args.plan, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        tracker = sc.statusTracker()
        jobs_before = set(tracker.getJobIdsForGroup(None) or [])
        times = []
        for i in range(args.runs):
            sc.setJobDescription(f"probe:{name}:run{i}")
            t0 = time.time()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
            if i == 0:
                jobs_after = set(tracker.getJobIdsForGroup(None) or [])
        sc.setJobDescription(None)
        new_jobs = sorted(jobs_after - jobs_before)
        n_stages = 0
        n_tasks = 0
        for j in new_jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        print(
            f"{name}: min={min(times):.2f}s runs={[round(t, 2) for t in times]} "
            f"jobs(first_run)={len(new_jobs)} stages={n_stages} tasks={n_tasks}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
