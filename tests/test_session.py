"""Session sizing."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import ROOT


def test_unset_cpus_size_the_session_to_the_host(tmp_path):
    script = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from database_collector_spark.session import get_spark;"
        "spark = get_spark('session-size');"
        "print(spark.sparkContext.master,"
        " spark.conf.get('spark.sql.shuffle.partitions'))"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n = len(os.sched_getaffinity(0))
    assert out.stdout.split()[-2:] == [f"local[{n}]", str(n)]
