"""Documentation-drift guards: the gate surface and its docs must move
together — every driver-gate query needs an oracle twin and a COVERAGE.md
mention, and the correctness window must stay exactly driver-sized —
and every package definition keeps a caller outside the tests."""

from __future__ import annotations

import ast
import glob
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
    """Every gate module README.md and COVERAGE.md name, and every
    ``tests/test_*.py`` file README.md, COVERAGE.md and SCALE.md cite, is
    on disk."""
    pkg = os.path.join(ROOT, "database_collector_spark")
    modules = (r"\b(workloads\w*)\.py\b", r"\b(workloads(?:\d+|_[a-z0-9_]+))\b")
    tests = (r"\b(tests/test_\w+)\.py\b",)
    for doc, patterns in (
        ("README.md", modules + tests),
        ("COVERAGE.md", modules + tests),
        ("SCALE.md", tests),
    ):
        with open(os.path.join(ROOT, doc)) as fh:
            text = fh.read()
        cited = {
            os.path.join(ROOT if n.startswith("tests/") else pkg, f"{n}.py")
            for pattern in patterns
            for n in re.findall(pattern, text)
        }
        missing = sorted(os.path.relpath(p, ROOT) for p in cited if not os.path.exists(p))
        assert not missing, f"{doc} cites missing files: {missing}"


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


# ROADMAP item 4's keep rule: a package definition stays while non-test
# code (a gate, the tick, curation.curate, an example, a tool or the
# benchmark) refers to it. These collector-surface pieces have no caller
# yet; item 4's wiring decides each one, and wiring one in takes it off
# this list.
COLLECTOR_SURFACE_WITHOUT_CALLER = {
    "pipeline.run_loop",
    "plans.metric_config.run_config",
    "sinks.parquet.compact_partitions",
    "sources.aws_discovery.registry_from_aws",
    "sources.jdbc.scrape",
    "sources.registry.refresh_diff",
    "streaming.dlq.dead_letter_sink",
    "streaming.events.stream_pipeline",
    "streaming.events.windowed_counts",
    "streaming.sink.idempotent_parquet_sink",
    "streaming.upsert.upsert_parquet_sink",
}


def _referenced_names(node: ast.AST) -> set[str]:
    # a bare name bound by a def nested in ``node`` is that local def
    # (the benchmark's ``scrape`` closure), not the package definition
    nested = {
        n.name
        for n in ast.walk(node)
        if n is not node
        and isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if n.id not in nested:
                names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _defs_without_caller(sources: dict[str, str], package: set[str]) -> set[str]:
    """``module.name`` of each top-level function or class defined in a
    ``package`` module that no Name, Attribute or import in ``sources``
    (module -> source text) refers to, the definition's own body left
    out. Matching is by name, so a same-named reference anywhere counts
    as a use, except a bare name that a nested def of the same top-level
    definition binds; a mention in a string or docstring never does."""
    top = {m: ast.parse(src).body for m, src in sources.items()}
    refs: dict[str, int] = {}
    for nodes in top.values():
        for node in nodes:
            for name in _referenced_names(node):
                refs[name] = refs.get(name, 0) + 1
    unused = set()
    for module in package:
        for node in top[module]:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = int(node.name in _referenced_names(node))
                if refs.get(node.name, 0) == own:
                    unused.add(f"{module}.{node.name}")
    return unused


def test_caller_scan_flags_each_unreferenced_form():
    sources = {
        "m": (
            "def called(): pass\n"
            "def recursive(): recursive()\n"
            "class Unused: pass\n"
            "def by_attr(): pass\n"
            "def imported(): pass\n"
            "def in_docstring(): pass\n"
            "def shadowed(): pass\n"
            "REGISTRY = {'q': called}\n"
        ),
        "user": (
            "from m import imported\n"
            "import m\n"
            "m.by_attr()\n"
            '"""in_docstring is only mentioned here"""\n'
            "def factory():\n"
            "    def shadowed(): pass\n"
            "    return shadowed\n"
        ),
    }
    assert _defs_without_caller(sources, {"m"}) == {
        "m.recursive",
        "m.Unused",
        "m.in_docstring",
        "m.shadowed",
    }


def test_every_package_definition_has_a_non_test_caller():
    """Gate functions count as used because the QUERIES dicts name them.
    Equality, not a subset: a collector-surface name that gains a caller
    must leave COLLECTOR_SURFACE_WITHOUT_CALLER."""
    pkg = os.path.join(ROOT, "database_collector_spark")
    paths = [
        p
        for d in ("database_collector_spark", "examples", "tools", "perfbench")
        for p in glob.glob(os.path.join(ROOT, d, "**", "*.py"), recursive=True)
        if not os.path.basename(p).startswith("test_")
    ] + [os.path.join(ROOT, f) for f in ("bench.py", "__spark_entry__.py")]
    sources, package = {}, set()
    for path in paths:
        in_pkg = path.startswith(pkg + os.sep)
        module = os.path.relpath(path, pkg if in_pkg else ROOT)
        module = module[: -len(".py")].replace(os.sep, ".")
        if in_pkg:
            package.add(module)
        else:
            module = f"<{module}>"
        with open(path) as fh:
            sources[module] = fh.read()
    unused = _defs_without_caller(sources, package)
    assert unused == COLLECTOR_SURFACE_WITHOUT_CALLER, (
        "ROADMAP item 4 keeps a package definition only while non-test "
        "code calls it. Without a caller: "
        f"{sorted(unused - COLLECTOR_SURFACE_WITHOUT_CALLER)}; listed but "
        f"now called: {sorted(COLLECTOR_SURFACE_WITHOUT_CALLER - unused)}"
    )
