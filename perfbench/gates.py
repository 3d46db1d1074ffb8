"""Gate workloads: registered ``queries()`` entries run as closed-loop
operations over the benchmark's generated tables.

One operation = build the gate's DataFrame (the ``queries()[g]`` call,
including any eager driver jobs it runs) + collect its result. One pass
runs every gate of the workload once, in an order drawn from the run seed.
Every collected result is hashed, untimed, and compared with the stored
hash of the gate's DuckDB ``oracle_sql()`` twin (``oracles.json``).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLES_PATH = os.path.join(HERE, "oracles.json")

# Build-phase gate: the product-quantization trainer's per-iteration
# collects run as eager driver jobs while the DataFrame is built. One gate,
# so a run fits five or more passes: the JIT keeps converging for about
# five executions of a gate, and the median needs them.
ITERATIVE = ["ann_pq_codes"]
# Execute-phase gates: one plan, time spent in exchanges, sorts, windows
# and rank cores.
SHUFFLE = ["spearman_corr", "summary_quantiles"]
WORKLOADS = {"gates_iterative": ITERATIVE, "gates_shuffle": SHUFFLE}


def _check_module():
    tools = os.path.join(os.path.dirname(HERE), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check  # tools/check.py: canon_rows, value_hash, TABLES

    return check


class GateWorkload:
    # the first pass compiles and JITs each gate's code paths (about 2x the
    # steady-state time) and the second still runs about 1.3x
    warmup_passes = 2
    # seconds of a measured pass at the reference host speed; sizes the
    # measured pass count from --seconds
    nominal_pass_s = 3.3

    def __init__(self, spark, name: str, tables: str, scale: str, seed: int,
                 perturb_oracle: bool = False) -> None:
        import __spark_entry__ as entry

        self.spark = spark
        self.names = WORKLOADS[name]
        all_q = entry.queries()
        self.fns = {g: all_q[g] for g in self.names}
        self.tables = tables
        self.rng = random.Random(seed)
        with open(ORACLES_PATH) as f:
            self.expected = json.load(f)[scale]
        if perturb_oracle:
            for want in self.expected.values():
                want["hash"] = want["hash"][::-1]
        self.rows = {g: self.expected[g]["rows"] for g in self.names}
        self.check = _check_module()

    def pass_order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def op(self, name: str, traced: bool, n: int) -> dict:
        """Build one gate and collect its result; return the operation's
        record: wall seconds, the layer split when traced, and an error
        when the result differs from the oracle."""
        spark = self.spark
        rec: dict = {"op": name}
        if not traced:
            t0 = time.perf_counter()
            df = self.fns[name](spark, self.tables)
            rows = df.collect()
            rec["s"] = time.perf_counter() - t0
        else:
            t0 = time.perf_counter()
            with layers.job_group(spark, f"build-{n}"):
                df = self.fns[name](spark, self.tables)
            t1 = time.perf_counter()
            phases = layers.plan_phases_ms(df)
            t2 = time.perf_counter()
            with layers.job_group(spark, f"execute-{n}"):
                rows = df.collect()
            t3 = time.perf_counter()
            rec["s"] = t3 - t0
            layers.drain(spark)
            build = layers.job_stats(spark, f"build-{n}")
            rec["build.s"] = t1 - t0
            for k in ("jobs", "stages", "tasks"):
                rec[f"build.{k}"] = build[k]
            for p, ms in phases.items():
                rec[f"plan.{p}_ms"] = ms
            rec["execute.s"] = t3 - t2
            for k, v in layers.job_stats(spark, f"execute-{n}").items():
                rec[f"execute.{k}"] = v
        rec["error"] = self._verify(name, list(df.columns), rows)
        return rec

    def _verify(self, name: str, columns: list[str], rows) -> str | None:
        cols, canon = self.check.canon_rows(columns, [tuple(r) for r in rows])
        got = {"cols": cols, "rows": len(canon), "hash": self.check.value_hash(canon)}
        want = self.expected[name]
        return None if got == want else f"{name}: oracle mismatch {got} != {want}"


def regenerate_oracles(tables_by_scale: dict[str, str]) -> dict:
    """DuckDB oracle hashes of every benchmark gate at each scale."""
    import duckdb

    import __spark_entry__ as entry

    check = _check_module()
    sql = entry.oracle_sql()
    out: dict = {}
    for scale, tables in tables_by_scale.items():
        con = duckdb.connect()
        for t in check.TABLES:
            path = os.path.join(tables, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out[scale] = {}
        for g in ITERATIVE + SHUFFLE:
            rel = con.execute(sql[g])
            cols, canon = check.canon_rows([d[0] for d in rel.description], rel.fetchall())
            out[scale][g] = {"cols": cols, "rows": len(canon),
                             "hash": check.value_hash(canon)}
        con.close()
    return out
