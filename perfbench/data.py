"""Seeded inputs for the benchmark.

Two kinds of input live here:

* the gate tables: the parquet tables the benchmark's gates and the
  session warm-up read (``lineitem``, ``embeddings``),
  shaped like the TPC-H-ish fixture the package's gates are written
  against. They are generated from a FIXED data seed so the stored DuckDB
  oracle hashes (``oracles.json``) stay valid; the run seed only permutes
  gate order. The tables are cached under the benchmark's work directory
  and rebuilt when the generator's version stamp changes.
* the collector fleet: a registry of scrape targets plus the catalog rows
  each target serves, drawn from the run seed (which rows are down or
  skipped, engine aliases, rows per catalog table, label values).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
GEN_VERSION = 3

# rows per table; "bench" is what timed runs read, "smoke" is the
# benchmark's own quick self-test
SCALES = {
    "bench": {"lineitem": 60_000, "embeddings": 2_000},
    "smoke": {"lineitem": 6_000, "embeddings": 500},
}


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    day0 = dt.datetime(1995, 1, 2)
    ship = [day0 + dt.timedelta(days=int(d)) for d in rng.integers(0, 2498, n)]
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, max(1, n // 30), n),
        "l_suppkey": rng.integers(0, max(1, n // 600), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["O", "F"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


_MAKERS = {"lineitem": _lineitem, "embeddings": _embeddings}


def gate_tables(work_dir: str, scale: str) -> str:
    """Directory holding the gate tables for ``scale``, generated on first
    use. Returns the directory path."""
    out = os.path.join(work_dir, f"tables-{scale}")
    stamp = os.path.join(out, "STAMP.json")
    want = {"version": GEN_VERSION, "seed": DATA_SEED, "rows": SCALES[scale]}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return out
    os.makedirs(out, exist_ok=True)
    for name, rows in SCALES[scale].items():
        rng = np.random.default_rng([DATA_SEED, zlib.crc32(name.encode())])
        pq.write_table(_MAKERS[name](rng, rows), os.path.join(out, f"{name}.parquet"))
    with open(stamp, "w") as f:
        json.dump(want, f)
    return out


# --- collector fleet ---------------------------------------------------------

# registry engine strings per collector route ('oracle-ee' and
# 'custom-oracle-ee' are aliases the registry normalizes to 'oracle')
ENGINES = {"mysql": ["mysql"], "postgres": ["postgres"],
           "oracle": ["oracle", "oracle-ee", "custom-oracle-ee"]}
ENGINE_MIX = [e for aliases in ENGINES.values() for e in aliases]
PG_STATES = ["active", "idle", "idle in transaction", "disabled"]
MYSQL_VARS = ["Threads_connected", "Threads_running", "Uptime", "Questions",
              "Slow_queries", "Innodb_buffer_pool_pages_free", "Open_tables",
              "Bytes_received", "Bytes_sent", "Aborted_connects"]
ORACLE_WAIT_CLASSES = ["User I/O", "System I/O", "Concurrency", "Commit",
                       "Network", "Application", "Configuration", "Other"]


@dataclass
class Target:
    secret_name: str
    engine: str           # registry engine string (aliases included)
    host: str             # first label is the Derby database name
    enabled: bool = True  # carries the enable tag
    down: bool = False    # its database is never created
    tables: dict[str, list[tuple]] = field(default_factory=dict)


def fleet(seed: int, n_targets: int) -> list[Target]:
    """Registry rows for one run: one untagged row, one row with an engine
    the collector does not know, one target that is down, and healthy
    targets split evenly over the mysql, postgres and oracle routes. The
    seed picks the order, the registry engine alias, the host names and
    every catalog row; the amount of work per tick stays the same."""
    rnd = random.Random(seed)
    kinds = ["untagged", "unknown", "down"] + [
        ("mysql", "postgres", "oracle")[i % 3] for i in range(n_targets - 3)]
    rnd.shuffle(kinds)
    out = []
    for i, kind in enumerate(kinds):
        host = f"db{i:03d}x{rnd.randrange(16**4):04x}"
        engine = rnd.choice(ENGINES.get(kind, ENGINE_MIX))
        t = Target(f"dc/{host}", engine, f"{host}.bench.internal")
        if kind == "untagged":
            t.enabled = False
        elif kind == "unknown":
            t.engine = "sqlserver"
        elif kind == "down":
            t.down = True
        else:
            t.tables = _catalog_rows(rnd, kind)
        out.append(t)
    return out


SAMPLES_PER_TARGET = 8


def _catalog_rows(rnd: random.Random, route: str) -> dict[str, list[tuple]]:
    """Catalog rows for one healthy target. Row counts and values vary with
    the seed; every target yields SAMPLES_PER_TARGET samples per tick, so
    the work per tick does not depend on the seed."""
    if route == "mysql":
        names = rnd.sample(MYSQL_VARS, SAMPLES_PER_TARGET - 1)
        rows = [(n, str(rnd.randrange(10**7))) for n in names]
        rows.append(("Slave_running", rnd.choice(["ON", "OFF"])))
        return {"global_status": rows}
    if route == "postgres":
        # two samples (sessions, oldest transaction) per (database, state)
        dbs = ["app", "billing", "reports", "auth"]
        groups = rnd.sample([(d, st) for d in dbs for st in PG_STATES],
                            SAMPLES_PER_TARGET // 2)
        return {"pg_stat_activity": [
            (db, state, round(rnd.uniform(0, 3600), 3))
            for db, state in groups for _ in range(rnd.randint(1, 8))]}
    # one sample per (status, user) group and one per wait class
    users = [f"u{j}" for j in range(4)]
    groups = rnd.sample([(st, u) for st in ("ACTIVE", "INACTIVE") for u in users],
                        SAMPLES_PER_TARGET // 2)
    classes = rnd.sample(ORACLE_WAIT_CLASSES, SAMPLES_PER_TARGET // 2)
    return {
        "v_session": [g for g in groups for _ in range(rnd.randint(1, 4))],
        "v_waitclassmetric": [(c, round(rnd.uniform(0, 1e4), 3)) for c in classes],
    }
