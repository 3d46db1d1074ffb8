"""Shared brute-force references for exact rank selection, used by
test_ranking.py and test_rank_core_properties.py — ONE copy so the tie/
out-of-range semantics cannot drift between suites."""

from __future__ import annotations


def rank_ref(vals, k):
    """Type-1 order statistic: k-th smallest (1-based), None out of
    range."""
    if not 1 <= k <= len(vals):
        return None
    return sorted(vals)[k - 1]

