"""``session.local_frame``: driver-held constant frames (codebooks,
centroids, index tables, bloom words, probe lists) are LocalRelations,
so broadcasting one scans no parallelized Python RDD."""

from __future__ import annotations

import ast
import glob
import os

import pytest
from pyspark.sql import functions as F

from conftest import ROOT, SF
from database_collector_spark.operators import bloom, similarity
from database_collector_spark.session import local_frame

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_is_a_local_relation_with_arrow_on_or_off(spark, arrow):
    prev = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, arrow)
    try:
        rows = [(1, [[2, 3], [4]], "a"), (5, None, None)]
        df = local_frame(spark, rows, "k int, v array<array<bigint>>, s string")
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
        assert [tuple(r) for r in df.collect()] == rows
        empty = local_frame(spark, [], "k int")
        assert empty.columns == ["k"] and empty.count() == 0
    finally:
        spark.conf.set(ARROW_CONF, prev)


def _quantized(spark):
    return similarity.with_quantized(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    ).select("vec_id", "qe", "qnorm2")


BOOKS = [[[0] * 16, [1 << 10] * 16]] * 4
CENTS = [[0] * 64, [1 << 10] * 64]


def _encoded(spark):
    return similarity.pq_encode_quantized(_quantized(spark), BOOKS)


def _adc(spark):
    queries = _quantized(spark).filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("qe").alias("q_qe")
    )
    return similarity.pq_adc_topk(_encoded(spark), queries, BOOKS)


def _bloom(spark):
    keys = spark.range(0, 40)
    return bloom.bloom_anti_join(
        keys.select(F.col("id").alias("c")),
        keys.filter("id % 3 = 0").select(F.col("id").alias("p")),
        child_key="c",
        parent_key="p",
    )


ATTACHES = {
    "pq_encode_quantized": _encoded,
    "assign_centroids": lambda s: similarity.assign_centroids(_quantized(s), CENTS),
    "pq_adc_topk": _adc,
    "embedding_covariance": lambda s: similarity.embedding_covariance(
        s.read.parquet(f"{SF}/embeddings.parquet"), dims=4
    ),
    "bloom_anti_join": _bloom,
}


@pytest.mark.parametrize("op", sorted(ATTACHES))
def test_constant_attach_scans_no_python_rdd(spark, op):
    df = ATTACHES[op](spark)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert "LocalTableScan" in plan


_ROW_LITERALS = (
    ast.List, ast.Tuple, ast.Set, ast.ListComp, ast.SetComp, ast.GeneratorExp
)


def _rows_literal_calls(source: str) -> list[int]:
    """Lines of ``createDataFrame`` calls whose data is a literal or a
    comprehension: Python rows that should go through ``local_frame``."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            continue
        data = node.args[:1] + [kw.value for kw in node.keywords if kw.arg == "data"]
        if any(isinstance(d, _ROW_LITERALS) for d in data):
            lines.append(node.lineno)
    return lines


def test_rows_literal_check_flags_each_literal_form():
    for data in ("[(1,)]", "((1,),)", "[(i,) for i in x]", "((i,) for i in x)"):
        assert _rows_literal_calls(f"s.createDataFrame({data}, 'a int')") == [1]
    assert _rows_literal_calls("s.createDataFrame(data=[(1,)], schema='a int')") == [1]
    assert _rows_literal_calls("s.createDataFrame(table, schema)") == []


def test_operators_and_gates_build_row_frames_through_local_frame():
    pkg = os.path.join(ROOT, "database_collector_spark")
    files = sorted(
        glob.glob(os.path.join(pkg, "operators", "*.py"))
        + glob.glob(os.path.join(pkg, "workloads*.py"))
    )
    assert len(files) > 10
    found = []
    for path in files:
        with open(path) as f:
            found += [
                f"{os.path.relpath(path, ROOT)}:{n}" for n in _rows_literal_calls(f.read())
            ]
    assert found == []
