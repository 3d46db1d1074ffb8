"""Oracle-portability meta-guard.

The driver canonicalizes DuckDB oracle results through Arrow/pandas, which
has no int128: a final column DuckDB types HUGEINT (e.g. any expression
over a SUM(BIGINT) CTE column) silently becomes float64 and hash-mismatches
Spark's int64 even when every value is identical (round-7 `map_funcs`).
This test prepares every oracle, registered and staged, with LIMIT 0 and
asserts no final column is HUGEINT/UHUGEINT — catching the whole class
before any driver row exists.
"""

from __future__ import annotations

import pytest

from conftest import check as _check
from database_collector_spark import gates

# Shared predicate with the local harness and both staged meta-tests:
# bans HUGEINT/UHUGEINT (r7 map_funcs — Arrow has no int128),
# TIMESTAMPTZ/TIMETZ (r8 sliding_unique_* — tz-aware vs naive dtype
# mismatch), and ANY nested final type whose string contains [] /
# STRUCT / MAP / UNION (r9 jl_projection — pandas canonicalization
# cannot hash list cells). One predicate, one place to widen:
# tools/check.py::unportable_type.


def test_no_oracle_final_column_is_int128(oracle_con):
    bad: list[str] = []
    errs: list[str] = []
    for name, sql in gates.all_oracles().items():
        try:
            rel = oracle_con.sql(f"SELECT * FROM ({sql}) __q LIMIT 0")
        except Exception as e:  # an unparseable oracle is its own failure
            errs.append(f"{name}: {e}")
            continue
        for col, typ in zip(rel.columns, rel.types):
            reason = _check.unportable_type(typ)
            if reason is not None:
                bad.append(f"{name}.{col}: {reason}")
    assert not errs, "oracles failed to prepare:\n" + "\n".join(errs)
    assert not bad, (
        "oracle final columns the driver's Arrow/pandas canonicalization "
        "cannot handle:\n" + "\n".join(bad)
    )


def test_local_harness_rejects_nested_values_loudly():
    """A deliberate array-column probe must FAIL in the local harness,
    not be stringified away: three rounds running (HUGEINT, TIMESTAMPTZ,
    LIST) the local canonicalizer's tolerance masked a driver-red class
    through full three-SF sweeps. canon_value raising is the unmasking."""
    with pytest.raises(TypeError, match="nested value"):
        _check.canon_value([1, 2, 3])
    with pytest.raises(TypeError, match="nested value"):
        _check.canon_value({"a": 1})
    with pytest.raises(TypeError, match="nested value"):
        _check.canon_rows(["c"], [([1, 2],)])


def test_unportable_type_predicate_covers_all_three_classes():
    assert _check.unportable_type("HUGEINT") is not None          # r7
    assert _check.unportable_type("TIMESTAMP WITH TIME ZONE") is not None  # r8
    assert _check.unportable_type("BIGINT[]") is not None         # r9
    assert _check.unportable_type("BIGINT[3]") is not None        # fixed-size
    assert _check.unportable_type("STRUCT(a BIGINT)") is not None
    assert _check.unportable_type("MAP(VARCHAR, BIGINT)") is not None
    assert _check.unportable_type("UNION(i BIGINT, s VARCHAR)") is not None
    for ok in ("BIGINT", "DOUBLE", "VARCHAR", "TIMESTAMP", "DATE", "BOOLEAN"):
        assert _check.unportable_type(ok) is None, ok
