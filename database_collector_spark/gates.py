"""The gate registry: every oracle-paired gate, which of them the driver
sees, and which 50 it checks first.

Each workloads module exports ``QUERIES`` (name -> ``fn(spark, sf_dir)``)
and ``ORACLES`` (name -> DuckDB SQL twin). Registry order is ``MODULES``
order, then each module's dict order. A gate named in ``STAGED`` is
oracle-paired and run by ``tools/check.py --staged`` and the pytest
differential, but never registered with the driver (COVERAGE.md
§staged-tier); registering one means removing its name from ``STAGED``.

The driver correctness-checks the first ``WINDOW`` entries of
``queries()``. :func:`check_window` computes them from the committed
``CORRECTNESS_r*.json`` reports, so each new report rotates the window.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import re

MODULES = tuple(
    importlib.import_module(f"database_collector_spark.{name}")
    for name in (
        "workloads",
        "workloads_ts",
        "workloads_text",
        "workloads_similarity",
        "workloads_eval",
        "workloads_storage",
    )
)

STAGED = frozenset({
    "vocab_overlap",
    "embedding_drift",
    "zipf_head_fit",
    "bigram_cond_entropy",
    "table_profile",
    "fk_orphan_report",
    "key_uniqueness",
    "rank_quartiles",
    "range_splitters",
    "token_mass_median",
    "group_mad",
    "winsorized_mean",
    "iqr_outlier_report",
})

WINDOW = 50

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def all_queries() -> dict:
    """Every gate, registered and staged, in registry order."""
    return {k: v for m in MODULES for k, v in m.QUERIES.items()}


def all_oracles() -> dict[str, str]:
    """The DuckDB twin of every gate in :func:`all_queries`."""
    return {k: v for m in MODULES for k, v in m.ORACLES.items()}


def newest_driver_rows() -> dict[str, int]:
    """Gate name -> the newest round with a driver CORRECTNESS row."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name in json.load(fh):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def check_window() -> list[str]:
    """The ``WINDOW`` registered gates with the oldest newest driver row.
    A gate with no row counts as round 0; ties go by name."""
    newest = newest_driver_rows()
    registered = [k for k in all_queries() if k not in STAGED]
    return sorted(registered, key=lambda k: (newest.get(k, 0), k))[:WINDOW]
