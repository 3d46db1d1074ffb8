"""Layer measurements taken from outside the program.

Everything here reads Spark's own bookkeeping or times calls into public
functions; nothing is patched inside the package except the two names
``pipeline`` imports (``melt_to_samples`` and ``enrich``), which
``wrap_module_attrs`` swaps for timed wrappers and restores afterwards.

* job groups + status tracker + status store: jobs, stages, tasks and
  task metrics per phase of an operation;
* ``QueryPlanningTracker``: Catalyst phase times of the final frame;
* peak resident memory of the process tree from ``/proc``.
"""

from __future__ import annotations

import contextlib
import os
import time

PHASES = ("analysis", "optimization", "planning")
MB = 1024.0 * 1024.0


def job_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks and summed task metrics of one job group.

    Call after ``drain``. Skipped stages (reused shuffle output) count
    neither as stages nor tasks; they did no work.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
    stage_ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — stage evicted from the store
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_mb"] += st.inputBytes() / MB
        out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


def drain(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the finished stages' metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def plan_phases_ms(df) -> dict[str, float]:
    """Force physical planning of ``df`` and read its Catalyst phase
    times. The action that follows plans the frame again; that second
    planning is part of the tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        out[p] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc._jsc.clearJobGroup()


class Timer:
    """Accumulates wall time and call counts per name."""

    def __init__(self) -> None:
        self.s: dict[str, float] = {}
        self.n: dict[str, int] = {}

    def add(self, name: str, dt: float) -> None:
        self.s[name] = self.s.get(name, 0.0) + dt
        self.n[name] = self.n.get(name, 0) + 1

    def wrap(self, name: str, fn):
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, time.perf_counter() - t0)
        return timed


@contextlib.contextmanager
def wrap_module_attrs(module, timer: Timer, names: dict[str, str]):
    """Replace ``module.<attr>`` with a timed wrapper for the duration of
    the block; ``names`` maps attribute -> timer key."""
    saved = {a: getattr(module, a) for a in names}
    try:
        for attr, key in names.items():
            setattr(module, attr, timer.wrap(key, saved[attr]))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    live descendant: the Python driver, the JVM and the Python workers."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
