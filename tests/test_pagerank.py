"""PageRank (operators/graph.py): the exact-integer operator agrees with
a double-precision Python reference and conserves mass."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from database_collector_spark.operators import graph


def _py_pagerank(edges, n_nodes, n_iter, d=0.85):
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n_nodes for v in range(n_nodes)}
    for _ in range(n_iter):
        nxt = {v: 0.0 for v in range(n_nodes)}
        for s, t in edges:
            nxt[t] += r[s] / out[s]
        dangling = sum(r[v] for v in range(n_nodes) if v not in out)
        r = {
            v: (1 - d) / n_nodes + d * (nxt[v] + dangling / n_nodes)
            for v in range(n_nodes)
        }
    return r


def test_pagerank_uniform_exact_agrees_with_double(spark):
    n = 50
    pairs = [
        (v, t)
        for v in range(n)
        for t in ((2 * v + 1) % n, (3 * v + 7) % n, (5 * v + 11) % n)
    ]
    edges = spark.createDataFrame([Row(src=s, dst=t) for s, t in pairs])
    nodes = spark.createDataFrame([Row(node=v) for v in range(n)])
    exact = {
        r["node"]: r["rank_ppb"] / 1e9
        for r in graph.pagerank_uniform_exact(edges, nodes, n_iter=4, outdeg=3).collect()
    }
    dbl = _py_pagerank(pairs, n, 4)
    for v in range(n):
        assert exact[v] == pytest.approx(dbl[v], abs=1e-7)
    assert sum(exact.values()) == pytest.approx(1.0, abs=1e-5)
