"""Documentation-drift guards: the gate surface and its docs must move
together — every driver-gate query needs an oracle twin and a COVERAGE.md
mention, and the correctness window must stay exactly driver-sized."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod
from database_collector_spark import gates

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_query_has_an_oracle():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(qs) == set(os_), (
        f"queries without oracle: {sorted(set(qs) - set(os_))}; "
        f"oracles without query: {sorted(set(os_) - set(qs))}"
    )


def test_every_query_is_documented_in_coverage():
    with open(os.path.join(ROOT, "COVERAGE.md")) as fh:
        cov = fh.read()
    missing = [q for q in gates.all_queries() if f"`{q}`" not in cov]
    assert not missing, f"gates absent from COVERAGE.md: {missing}"


def test_cited_workloads_modules_exist():
    """Every gate module README.md and COVERAGE.md name is on disk."""
    pkg = os.path.join(ROOT, "database_collector_spark")
    for doc in ("README.md", "COVERAGE.md"):
        with open(os.path.join(ROOT, doc)) as fh:
            text = fh.read()
        cited = set(re.findall(r"\b(workloads\w*)\.py\b", text))
        cited |= set(re.findall(r"\b(workloads(?:\d+|_[a-z0-9_]+))\b", text))
        missing = sorted(n for n in cited if not os.path.exists(os.path.join(pkg, f"{n}.py")))
        assert not missing, f"{doc} cites missing modules: {missing}"


def test_check_window_is_exactly_driver_sized_and_resolvable():
    window = gates.check_window()
    assert len(window) == 50
    assert list(entrymod.queries())[:50] == window
    assert list(entrymod.oracle_sql())[:50] == window


def test_rotation_debt_cannot_drift():
    """Every registered query with no driver CORRECTNESS row in ANY past
    round must sit inside the current 50-entry window — otherwise a gate
    could accumulate rounds of "green locally" with zero driver
    evidence. Computed from the artifacts, not a hand-kept list."""
    seen = gates.newest_driver_rows()
    qs = list(entrymod.queries())
    never = [q for q in qs if q not in seen]
    outside = [q for q in never if q not in qs[:50]]
    assert not outside, (
        f"{len(outside)} never-driver-checked queries outside the check "
        f"window: {outside}"
    )


def test_no_gate_evidence_older_than_five_rounds():
    """Max-staleness guard for the rotation (r8 verdict #5): with 203
    registered gates and a 50-row driver window the revisit period is
    ~4 rounds; this pins it — for every registered gate, its NEWEST
    driver CORRECTNESS row must be no older than 5 rounds by the time
    the upcoming round's report lands. Gates sitting in the current
    window count as refreshed this round (the driver will row them)."""
    newest = gates.newest_driver_rows()
    current_round = max(newest.values()) + 1
    # Missing gates default to round 0 (never evidenced = maximally
    # stale), NOT current_round — defaulting to current_round exempted
    # exactly the gates most in need of the bound (r9 ADVICE).
    stale = [
        q
        for q in list(entrymod.queries())[50:]
        if newest.get(q, 0) < current_round - 5
    ]
    assert not stale, (
        f"gates whose newest driver evidence predates round "
        f"{current_round - 5} and are not in this round's window: {stale}"
    )


def test_no_oracle_enumerates_positions_with_a_fixed_bound():
    """r11 VERDICT: oracles used to enumerate token/char positions with
    a fixed generate_series bound (2000/600/200); a regenerated fixture
    with a doc longer than the bound would silently truncate the
    oracle's n-gram sets while Spark's stayed complete. All such sites
    now derive positions from the row's own length
    (unnest(generate_series(1, len(t) - k + 1))), which is correct at
    ANY document length. Pin the retirement over every registry oracle,
    registered and staged, so the class cannot re-enter through a staged
    gate and ship at registration: the only literal generate_series
    upper bounds left are small STRUCTURAL constants (embedding dim 64,
    PQ subspaces, seed/band/bucket counts) — any literal bound above 64
    is the truncation class reappearing."""
    import re

    for name, sql in gates.all_oracles().items():
        for lo, hi in re.findall(
            r"generate_series\(\s*(-?\d+)\s*,\s*(\d+)\s*\)", sql
        ):
            assert int(hi) <= 64, (
                f"{name}: generate_series({lo}, {hi}) — a fixed position "
                "bound silently truncates on long documents; derive the "
                "bound from the row (len(t)-based) instead"
            )


def test_staged_cohorts_never_shadow_registered_gates():
    """A staged gate is a registry gate the driver never sees: every
    STAGED name resolves in the registry, none reaches queries() or
    oracle_sql(), and every other registry gate does."""
    registry = set(gates.all_queries())
    assert gates.STAGED <= registry
    assert set(entrymod.queries()) == registry - gates.STAGED
    assert set(entrymod.oracle_sql()) == registry - gates.STAGED
