"""Local differential harness mirroring the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, sorted column names, and an order-insensitive canonical value
hash — the same shape of check the driver records in CORRECTNESS_r{N}.json.

Usage:  python tools/check.py [--staged] [sf_dir] [query_name ...]

``--staged`` adds the permanently staged gates
(``database_collector_spark.gates.STAGED``, never registered with the
driver), so every gate in the registry runs through the same harness.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import re
import sys
import tempfile
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# Final-column DuckDB types the driver's Arrow->pandas canonicalization
# cannot represent faithfully. Scalar names match exactly; the nested
# markers match by substring (BIGINT[], STRUCT(...), MAP(...), UNION(...)).
# One shared predicate for the local harness and all three oracle
# meta-tests so a new ban lands everywhere at once — three rounds running,
# a type class green locally but red on the driver (r7 HUGEINT, r8
# TIMESTAMPTZ, r9 LIST) slipped through because the local canonicalizer
# was more tolerant than the driver's.
BANNED_TYPES = {
    "HUGEINT",
    "UHUGEINT",
    "TIMESTAMP WITH TIME ZONE",
    "TIME WITH TIME ZONE",
}
NESTED_MARKERS = ("STRUCT", "MAP", "UNION")
# DuckDB renders list types as T[] and FIXED-SIZE arrays as T[3] — the
# bracket match must cover both (a bare "[]" substring misses the sized
# form, e.g. array_value() output).
_NESTED_BRACKETS = re.compile(r"\[\d*\]")


def unportable_type(typ: str) -> str | None:
    """Reason a DuckDB final-column type string would fail the driver's
    Arrow/pandas canonicalization, or None if it is portable."""
    t = str(typ).upper()
    if t in BANNED_TYPES:
        return f"driver-unportable scalar type {typ}"
    if _NESTED_BRACKETS.search(t) or any(m in t for m in NESTED_MARKERS):
        return (
            f"nested final type {typ} — the driver's pandas "
            "canonicalization cannot hash list/struct/map cells "
            "(r9 jl_projection); flatten to scalar columns"
        )
    return None


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, dt.datetime):
        # Do NOT strip tzinfo: the driver's Arrow dtype compare treats
        # tz-aware (DuckDB TIMESTAMPTZ) vs naive (Spark TIMESTAMP) as a
        # schema+hash mismatch, and this harness must see what the driver
        # sees (masking it hid the sliding_unique_* red rows through two
        # full three-SF sweeps in round 8).
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, dict)):
        # Refuse rather than stringify: the driver's pandas canonicalizer
        # crashes on list cells ("unhashable type: 'list'", r9
        # jl_projection red row), so a local harness that quietly
        # stringifies them masks a guaranteed driver failure — the third
        # masked portability class (HUGEINT, TIMESTAMPTZ, LIST).
        raise TypeError(
            f"nested value in a final column ({type(v).__name__}): the "
            "driver's canonicalization cannot hash list/struct/map cells; "
            "flatten the gate output to scalar columns"
        )
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    canon = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    return sorted_cols, canon


def value_hash(canon: list[str]) -> str:
    h = hashlib.md5()
    for line in canon:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_config(spark, spill_dir: str) -> dict:
    """Settings for the in-process DuckDB oracle. DuckDB's default cap, 80%
    of physical memory, does not know the Spark driver JVM shares the
    host: cap it at physical memory minus the JVM's max heap instead, and
    let it spill to ``spill_dir`` beyond that."""
    heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    limit_mb = max(phys - heap, 1 << 30) >> 20
    return {"memory_limit": f"{limit_mb}MB", "temp_directory": spill_dir}


def main() -> int:
    args = sys.argv[1:]
    staged = "--staged" in args
    if staged:
        args = [a for a in args if a != "--staged"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from database_collector_spark import gates
    from database_collector_spark.session import get_spark

    spark = get_spark("check-correctness")
    spill = tempfile.TemporaryDirectory(prefix="check-duckdb-")
    con = duckdb.connect(config=oracle_config(spark, spill.name))
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if staged:
        queries = {**queries, **gates.all_queries()}
        oracles = gates.all_oracles()
    passed = failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark raised")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(srows)} (no oracle; rows-only check)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception:
            print(f"FAIL  {name}: duckdb oracle raised")
            traceback.print_exc()
            failures += 1
            continue
        s_cols, s_canon = canon_rows(scols, srows)
        d_cols, d_canon = canon_rows(dcols, drows)
        elapsed = time.time() - t0
        if s_cols != d_cols:
            print(f"FAIL  {name}: columns {s_cols} != {d_cols}")
            failures += 1
        elif len(s_canon) != len(d_canon):
            print(f"FAIL  {name}: rowcount {len(s_canon)} != {len(d_canon)}")
            failures += 1
        elif value_hash(s_canon) != value_hash(d_canon):
            diff = [(a, b) for a, b in zip(s_canon, d_canon) if a != b][:3]
            print(f"FAIL  {name}: value hash mismatch; first diffs:")
            for a, b in diff:
                print(f"   spark : {a}\n   duckdb: {b}")
            failures += 1
        else:
            print(f"ok    {name}: rows={len(s_canon)} ({elapsed:.1f}s)")
            passed += 1
    # counted here, not by grepping "ok" lines: Spark's stderr progress
    # bar can share a line with one
    print("OK:", passed)
    print("FAILURES:", failures)
    con.close()
    spill.cleanup()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
