"""Closed-loop benchmark of the package on local[4].

    python3 perfbench/run.py --workload gates_iterative --seed 1 --seconds 14 --trace 0

Workloads (see NOTES.md): ``gates_iterative`` and ``gates_shuffle`` run
registered gates over generated tables; ``collector_tick`` runs
``pipeline.run_once`` over a seeded fleet of live JDBC targets. One client,
one driver thread: the next operation starts when the previous one ends.

The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes a
per-operation sidecar to ``perfbench/.work/``). Everything the run reads or
writes stays under ``perfbench/.work/``.

``--regen-oracles`` recomputes ``oracles.json`` from the DuckDB twins.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine so far, in clock ticks,
    from the first line of /proc/stat. Busy is user, nice, system, irq and
    softirq time; stolen is time a vCPU of this virtual machine wanted to
    run while the hypervisor ran something else. (0, 0) where the kernel
    does not report them."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return 0, 0
    if len(v) < 8:
        return 0, 0
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


CPU_PROCESS = cpu_jiffies()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
WORKLOADS = ("gates_iterative", "gates_shuffle", "collector_tick")
FLEET_SIZE = 6
MIN_PASSES = 3
SETUPS = 3
# The host-speed probe: the median time of PROBE_REPS runs of a fixed
# pure-Python loop of PROBE_LOOPS steps, and that time on the reference
# 4-vCPU virtual machine at its usual speed.
PROBE_LOOPS = 200_000
PROBE_REPS = 5
PROBE_REF_S = 0.02

PER_LAYER = (
    "session.start_s", "session.warmup_s", "session.persisted_rdds_growth",
    "session.peak_rss_mb",
    "build.s", "build.jobs", "build.stages", "build.tasks",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "execute.s", "execute.jobs", "execute.stages", "execute.tasks",
    "execute.task_run_s", "execute.task_cpu_s", "execute.gc_s",
    "execute.input_mb", "execute.shuffle_read_mb", "execute.shuffle_write_mb",
    "execute.spill_mb", "execute.busy_ratio",
    "sources.registry.discover_s", "sources.jdbc.reads",
    "sources.jdbc.failed_reads", "sources.jdbc.read_s",
    "plans.metric_config.melt_s", "operators.enrich.enrich_s",
    "pipeline.build_s", "pipeline.self_s",
    "sinks.parquet.write_s", "sinks.parquet.files", "sinks.parquet.bytes",
    "sinks.remote_write.write_s", "sinks.remote_write.posts",
    "sinks.remote_write.bytes", "sinks.remote_write.samples",
    "gen_s", "error_rate", "trace.overhead_ratio",
    "host.steal_ratio", "host.probe_s", "host.pass_wall_s",
)


def unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "samples/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes"):
        return "B"
    if name.endswith(("ratio", "rate")):
        return "ratio"
    return "count"


def _prepare_env() -> None:
    """Keep every file Spark, the JVM, Derby and Python write inside the
    benchmark's work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} '
        f'-Dderby.system.home={WORK} -XX:-UsePerfData" pyspark-shell')
    sys.path[:0] = [ROOT, HERE]
    # Python workers unpickle the package's sinks by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def steal_ratio(c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two
    ``cpu_jiffies`` readings that the hypervisor took away."""
    busy, stolen = c1[0] - c0[0], c1[1] - c0[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def probe_s() -> float:
    """Median seconds of the host-speed probe loop now. The loop runs in
    L1 cache on one core and touches no part of the program, so it tracks
    the host's speed alone, which on a shared machine drifts by up to 2x
    over tens of minutes and moves every timing of a run with it."""
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        x = 0
        for j in range(PROBE_LOOPS):
            x += j * j
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def unstolen_s(wall_s: float, steal: float) -> float:
    """Wall time less its stolen share: about the time the interval would
    have taken had the hypervisor not taken CPU away. On a shared host
    steal moves from near 0 to a third of the demanded CPU time within
    minutes, and wall times with it; the end-to-end times are reported
    this way so that runs at different moments compare."""
    return wall_s * (1.0 - steal)


def warm_up(spark, tables: str) -> None:
    """bench.py's warm-up: JVM + parquet footers, then the Python worker
    pool and Arrow lanes."""
    from database_collector_spark import workloads

    workloads.q_pricing_summary(spark, tables).write.format("noop").mode(
        "overwrite").save()
    spark.range(spark.sparkContext.defaultParallelism).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode("overwrite").save()


def set_up(tables: str, excluded_s: float):
    """Build and warm the session SETUPS times (stopping it in between);
    the first set-up counts from process start and so includes imports and
    the JVM launch. Returns the last session and the timings."""
    from database_collector_spark.session import get_spark

    spark, starts, warms, steals = None, [], [], []
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        c0 = CPU_PROCESS if k == 0 else cpu_jiffies()
        t0 = T_PROCESS + excluded_s if k == 0 else time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        warm_up(spark, tables)
        starts.append(t1 - t0)
        warms.append(time.perf_counter() - t1)
        steals.append(steal_ratio(c0, cpu_jiffies()))
    totals = [a + b for a, b in zip(starts, warms)]
    return spark, {"setup_s": statistics.median(map(unstolen_s, totals, steals)),
                   "session.start_s": starts[0],
                   "session.warmup_s": statistics.median(warms),
                   "setups": totals, "steal": steals}


def measured_passes(wl, seconds: float) -> int:
    """Passes a run measures: as many as fit in ``seconds`` at the
    workload's nominal pass time, at least MIN_PASSES. A fixed count, not
    a deadline: the JIT is still converging after the warm-up, so every
    run must stop at the same pass for their medians to compare."""
    return max(MIN_PASSES, round(seconds / wl.nominal_pass_s))


def measure(spark, wl, seconds: float, trace: bool) -> tuple[list[dict], list[int]]:
    """Run ``wl.warmup_passes`` warm-up passes, then ``measured_passes``
    whole passes back to back. With ``trace`` the measured passes
    alternate untraced and traced, starting untraced. Every operation is
    checked, warm-up ones included. Returns the passes (with the machine's
    steal ratio over each and the host-speed probe right after it) and the
    persisted-RDD count after every operation."""
    import layers

    passes: list[dict] = []
    rdds: list[int] = []
    n = 0
    for i in range(wl.warmup_passes + measured_passes(wl, seconds)):
        warmup = i < wl.warmup_passes
        traced = trace and not warmup and (i - wl.warmup_passes) % 2 == 1
        ops = []
        c0 = cpu_jiffies()
        for name in wl.pass_order():
            n += 1
            try:
                rec = wl.op(name, traced, n)
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                rec = {"op": name, "error": f"{type(exc).__name__}: {exc}"[:500]}
            ops.append(rec)
            rdds.append(layers.persisted_rdds(spark))
        passes.append({"warmup": warmup, "traced": traced,
                       "steal": steal_ratio(c0, cpu_jiffies()), "ops": ops,
                       "probe_s": probe_s()})
    return passes, rdds


def _timed_ops(passes: list[dict], traced: bool) -> list[dict]:
    """Measured operations that ran to the end, right or wrong (a wrong
    result fails the operation but still has a latency)."""
    return [r for p in passes if p["traced"] == traced and not p["warmup"]
            for r in p["ops"] if "s" in r]


def _full_passes(passes: list[dict]) -> list[dict]:
    """Measured untraced passes whose every operation ran to the end."""
    return [p for p in passes
            if not (p["traced"] or p["warmup"]) and all("s" in r for r in p["ops"])]


def pass_wall_s(p: dict) -> float:
    return sum(r["s"] for r in p["ops"])


def host_factor(passes: list[dict]) -> float:
    """PROBE_REF_S over the run's median probe time: scales a time taken
    in this run to the reference host speed."""
    return PROBE_REF_S / statistics.median(p["probe_s"] for p in passes)


def end_to_end(passes, wl, setup: dict) -> dict:
    """Set-up and pass times less their stolen share, scaled to the
    reference host speed (see NOTES.md)."""
    k = host_factor(passes)
    pass_s = k * statistics.median(unstolen_s(pass_wall_s(p), p["steal"])
                                   for p in _full_passes(passes))
    return {
        "setup_s": k * setup["setup_s"],
        "pass_s": pass_s,
        "samples_per_s": sum(wl.rows.values()) / pass_s,
    }


def per_layer(passes, setup: dict, peak_mb: float, rdds: list[int], gen_s: float,
              attempted: int, failed: int) -> dict:
    sums = []
    for p in passes:
        if not p["traced"]:
            continue
        s = dict.fromkeys(PER_LAYER, 0.0)
        for r in p["ops"]:
            for k, v in r.items():
                if k in s:
                    s[k] += v
        wall = s["execute.s"] * CPUS
        s["execute.busy_ratio"] = s["execute.task_run_s"] / wall if wall else 0.0
        sums.append(s)
    out = {k: statistics.median(s[k] for s in sums) if sums else 0.0 for k in PER_LAYER}
    untraced = [r["s"] for r in _timed_ops(passes, traced=False)]
    traced = [r["s"] for r in _timed_ops(passes, traced=True)]
    full = _full_passes(passes)
    out.update({
        "host.steal_ratio": statistics.median(p["steal"] for p in full),
        "host.probe_s": statistics.median(p["probe_s"] for p in passes),
        "host.pass_wall_s": statistics.median(pass_wall_s(p) for p in full),
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "session.persisted_rdds_growth": rdds[-1] - rdds[0] if rdds else 0,
        "session.peak_rss_mb": peak_mb,
        "gen_s": gen_s,
        "error_rate": failed / attempted,
        "trace.overhead_ratio": (statistics.median(traced) / statistics.median(untraced)
                                 if traced and untraced else 0.0),
    })
    return out


def run(args) -> dict:
    """One benchmark run in this process; returns the result object."""
    import data
    import layers

    t0 = time.perf_counter()
    tables = data.gate_tables(WORK, args.scale)
    gen_s = time.perf_counter() - t0
    spark, setup = set_up(tables, gen_s)
    if args.workload == "collector_tick":
        import collector

        wl = collector.CollectorWorkload(
            spark, WORK, args.seed, FLEET_SIZE, drop_posts=args.drop_posts)
        gen_s = wl.gen_s
    else:
        import gates

        wl = gates.GateWorkload(spark, args.workload, tables, args.scale, args.seed,
                                perturb_oracle=args.perturb_oracle)
    try:
        passes, rdds = measure(spark, wl, args.seconds, bool(args.trace))
        peak_mb = layers.tree_peak_rss_mb()
    finally:
        if hasattr(wl, "close"):
            wl.close()
    ops = [r for p in passes for r in p["ops"]]
    attempted, failed = len(ops), sum(1 for r in ops if r.get("error"))
    if args.trace:
        metrics = per_layer(passes, setup, peak_mb, rdds, gen_s, attempted, failed)
    else:
        metrics = end_to_end(passes, wl, setup)
    sidecar = os.path.join(WORK, f"run-{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(sidecar, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "setup": setup,
                   "passes": passes, "metrics": metrics}, f, indent=1)
    errors = sorted({r["error"] for r in ops if r.get("error")})
    for e in errors[:5]:
        print(f"error: {e}", file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }


def shut_down() -> None:
    """Stop the session and the JVM, and wait until the JVM, the Python
    worker daemon and its workers have all exited."""
    import layers
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = [p for p in layers.descendants(os.getpid()) if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "smoke"), default="bench")
    ap.add_argument("--regen-oracles", action="store_true")
    ap.add_argument("--perturb-oracle", action="store_true",
                    help="negative control: corrupt every expected gate hash")
    ap.add_argument("--drop-posts", type=int, default=0,
                    help="negative control: the stub discards this many POSTs")
    args = ap.parse_args()
    _prepare_env()
    try:
        import database_collector_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable here ({exc})", file=sys.stderr)
        return 2
    if args.regen_oracles:
        import data
        import gates

        out = gates.regenerate_oracles(
            {s: data.gate_tables(WORK, s) for s in data.SCALES})
        with open(gates.ORACLES_PATH, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    try:
        result = run(args)
    finally:
        shut_down()
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
