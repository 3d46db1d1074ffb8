"""The SemDeDup and substring-dedup result pins. Every gate's differential
against its DuckDB twin and its plan check for row-at-a-time Python and
cartesian products run in test_gates.py.
"""

from __future__ import annotations

from conftest import SF
from database_collector_spark import gates, workloads_text


def test_semdedup_prune_is_nontrivial(spark):
    """The gate must actually DROP something at the fixture SFs — a
    threshold that never fires would pass the differential trivially
    (every row dropped=false)."""
    out = gates.all_queries()["semdedup_prune"](spark, SF)
    n_dropped = out.filter("dropped").count()
    assert n_dropped > 0


def test_substring_spans_are_maximal_and_covered(spark):
    """Span contract: spans are >= k tokens, starts positive, and no two
    spans of one doc overlap or touch (maximality: touching spans would
    have merged)."""
    rows = (
        gates.all_queries()["substring_dedup"](spark, SF)
        .orderBy("doc_id", "span_start")
        .collect()
    )
    assert rows
    k = workloads_text._SUBSTR_K
    prev = {}
    for r in rows:
        assert r["span_tokens"] >= k
        assert r["span_start"] >= 1
        assert r["span_end"] == r["span_start"] + r["span_tokens"] - 1
        if r["doc_id"] in prev:
            # islands split only when the position gap exceeds k, so
            # distinct spans never overlap or touch (start >= prev
            # end + 2); touching spans would have merged
            assert r["span_start"] > prev[r["doc_id"]] + 1
        prev[r["doc_id"]] = r["span_end"]
