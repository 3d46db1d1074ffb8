"""Every gate in the registry, registered and staged, against its DuckDB
twin at sf0.001: the comparison ``tools/check.py`` and the driver run (row
count, sorted column names, order-insensitive value hash), after a plan
check for the two scale-killers. Plus the registry's own shape, computed
from the filesystem."""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest

from conftest import ROOT, SF, assert_no_row_python_or_cartesian, check
from database_collector_spark import gates

QUERIES = gates.all_queries()
ORACLES = gates.all_oracles()


def _oracle_canon(con, sql: str) -> tuple[list[str], list[str]]:
    rel = con.execute(sql)
    return check.canon_rows([d[0] for d in rel.description], rel.fetchall())


@pytest.fixture(scope="module")
def duck():
    """One DuckDB connection, used only from one worker thread, so each
    oracle runs while its Spark twin builds and collects."""
    c = duckdb.connect()
    for t in check.TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    with ThreadPoolExecutor(max_workers=1) as pool:
        yield c, pool
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_gate_matches_oracle(spark, gate_plan, duck, name):
    con, pool = duck
    oracle = pool.submit(_oracle_canon, con, ORACLES[name])
    df = QUERIES[name](spark, SF)
    assert_no_row_python_or_cartesian(name, gate_plan(name, df))

    s_cols, s_canon = check.canon_rows(df.columns, [tuple(r) for r in df.collect()])
    o_cols, o_canon = oracle.result()
    assert s_cols == o_cols, f"{name}: columns {s_cols} vs {o_cols}"
    assert len(s_canon) == len(o_canon), f"{name}: rows {len(s_canon)} vs {len(o_canon)}"
    # an empty result passes the hash trivially; case_having's HAVING
    # threshold keeps no group of the smallest fixture
    assert s_canon or name == "case_having", f"{name}: trivially-empty gate"
    assert check.value_hash(s_canon) == check.value_hash(o_canon), (
        f"{name}: value hash mismatch; first spark={s_canon[:2]} oracle={o_canon[:2]}"
    )


def test_registry_lists_every_workloads_module_once():
    on_disk = {
        os.path.basename(p)[: -len(".py")]
        for p in glob.glob(os.path.join(ROOT, "database_collector_spark", "workloads*.py"))
    }
    listed = [m.__name__.rsplit(".", 1)[1] for m in gates.MODULES]
    assert sorted(listed) == sorted(on_disk)
    # modules are named by domain, never by the round or batch they came in
    numbered = [m for m in listed if re.search(r"\d", m)]
    assert not numbered, f"numbered gate modules: {numbered}"
    # gate modules share code through public names only; _t and _cents
    # are the table reader and money helper every module reads with
    shared = {("workloads", "_t"), ("workloads", "_cents")}
    private = []
    for m in gates.MODULES:
        with open(m.__file__) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.module is None:
                continue
            src = node.module.rsplit(".", 1)[-1]
            if not node.module.startswith("database_collector_spark.") or src not in listed:
                continue
            private += [
                f"{m.__name__} imports {src}.{a.name}"
                for a in node.names
                if a.name.startswith("_") and (src, a.name) not in shared
            ]
    assert not private, private
    names = [k for m in gates.MODULES for k in m.QUERIES]
    twice = sorted({k for k in names if names.count(k) > 1})
    assert not twice, f"gates defined in more than one module: {twice}"
    for m in gates.MODULES:
        assert set(m.QUERIES) == set(m.ORACLES), m.__name__
    assert gates.STAGED <= set(names), sorted(gates.STAGED - set(names))


def test_map_in_pandas_gate_runs_outside_the_repo(tmp_path):
    """Python workers start in the driver's working directory; a gate
    whose kernel imports the package must still run from elsewhere."""
    script = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "import __spark_entry__ as e;"
        "from database_collector_spark.session import get_spark;"
        "spark = get_spark('outside-repo', shuffle_partitions=2);"
        "print(len(e.queries()['multimodal_decode'](spark, sys.argv[2]).collect()))"
    )
    env = {**os.environ, "PYTHONPATH": "", "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT, SF],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0
