"""Data-quality expectations: the Deequ/Great-Expectations surface.

Any pipeline feeding a 100 TB training run gates its inputs on three
bread-and-butter checks before anything else runs: per-column profiles
(null rates, cardinalities — "did an upstream schema change blank out a
column?"), referential integrity between fact and dimension tables
("did the nightly ingest drop parent rows?"), and candidate-key
uniqueness ("is doc_id still a key after the merge?"). The reference's
collector republishes whatever it scraped (SURVEY §2.1) and relies on
the warehouse to notice damage; this module makes the checks
first-class, exact, and cross-engine (every statistic is an integer
count or ONE division over exact integers, so DuckDB twins hash-match).

Scale notes per operator are in the docstrings; the common theme is
that every check reduces the corpus ONCE (a single aggregate pass, or
a distinct-key compression before any join) and never sorts, so the
plans are partial-aggregate shapes that survive a 100x scale-up.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SAFE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def column_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    with_distinct: bool = True,
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, null_frac,
    n_distinct) — the first look at any new table drop.

    ONE aggregate pass computes every column's COUNT(col) and exact
    COUNT(DISTINCT col) together (Spark plans the multi-distinct
    aggregate with an Expand — one shuffle carrying a |columns|-fold
    row expansion, the standard price of an exact profile; swap in
    approx_count_distinct when |columns| x rows makes that expansion
    the bottleneck and a ~2% cardinality error is acceptable). The
    per-column rows then unpivot from the single result row via an
    in-row stack — adding a column never adds a pass. ``null_frac`` is
    ONE division over exact integers (NULL on an empty table, guarded
    — ANSI division would throw).

    ``with_distinct=False`` drops the COUNT(DISTINCT) half —
    ``n_distinct`` comes back NULL and the pass collapses to plain
    map-side count partials with NO Expand and no distinct shuffle.
    ``verify``'s completeness check uses this mode: a null audit that
    shuffles the corpus for cardinalities it never reads would defeat
    the cheap-gate-first placement (one implementation, so the two
    modes cannot drift).

    Column names are interpolated into the stack() SQL string, so they
    are enforced to a safe identifier charset first (the
    rule_attribution stance: never let a caller-supplied name become
    SQL).
    """
    cols = list(columns) if columns is not None else list(df.columns)
    if not cols:
        raise ValueError("column_profile: no columns to profile")
    for c in cols:
        if not _SAFE_NAME.match(c):
            raise ValueError(
                f"column_profile: column name {c!r} is outside the safe "
                "identifier charset [A-Za-z0-9_] — rename/alias it first"
            )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).cast("long").alias(f"nn_{i}"))
        if with_distinct:
            aggs.append(F.countDistinct(F.col(c)).cast("long").alias(f"nd_{i}"))
    one = df.agg(*aggs)
    nd = (lambda i: f"nd_{i}") if with_distinct else (lambda i: "CAST(NULL AS BIGINT)")
    pairs = ", ".join(f"'{c}', nn_{i}, {nd(i)}" for i, c in enumerate(cols))
    long = one.selectExpr(
        "n_rows", f"stack({len(cols)}, {pairs}) as (col_name, n_nonnull, n_distinct)"
    )
    n_nulls = (F.col("n_rows") - F.col("n_nonnull")).cast("long")
    return long.select(
        "col_name",
        "n_rows",
        n_nulls.alias("n_nulls"),
        F.when(
            F.col("n_rows") > 0,
            F.round(n_nulls.cast("double") / F.col("n_rows"), 6),
        ).alias("null_frac"),
        "n_distinct",
    )


def referential_integrity(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    relationship: str | None = None,
) -> DataFrame:
    """One-row report for a foreign-key relationship: (relationship,
    n_child_rows, n_child_keyed, n_orphan_rows, n_orphan_keys,
    orphan_frac) — "how many fact rows point at a missing parent?".

    NULL child keys are reported separately (n_child_rows −
    n_child_keyed) rather than counted as orphans — SQL equality can
    never match them, and conflating "unkeyed" with "dangling" hides
    which upstream broke. Plan: the child is scanned ONCE into a
    per-key count compression (NULL keys included as their own group,
    so the row/keyed totals also fold from the compressed table — a
    separate child.agg would be a second fact-table scan, second-pass
    review); the compression is lazily localCheckpoint'ed because both
    the totals fold and the anti join consume it. At 100 TB the anti
    join runs on two distinct-key tables, never on the fact table, and
    the two scalar totals attach via bounded 1-row crossJoins (the
    documented no-group scalar-branch shape). ``orphan_frac`` =
    n_orphan_rows / n_child_keyed, ONE division over exact integers,
    NULL when no child row carries a key.
    """
    rel = relationship or f"{child_key}->{parent_key}"
    ck_all = (
        child.groupBy(F.col(child_key).alias("k"))
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    pk = (
        parent.where(F.col(parent_key).isNotNull())
        .select(F.col(parent_key).alias("k"))
        .distinct()
    )
    orphans = (
        ck_all.where(F.col("k").isNotNull())
        .join(pk, "k", "left_anti")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_orphan_rows"),
            F.count("*").cast("long").alias("n_orphan_keys"),
        )
    )
    totals = ck_all.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_child_rows"),
        F.coalesce(
            F.sum(F.when(F.col("k").isNotNull(), F.col("n"))), F.lit(0)
        )
        .cast("long")
        .alias("n_child_keyed"),
    )
    return totals.crossJoin(orphans).select(
        F.lit(rel).alias("relationship"),
        "n_child_rows",
        "n_child_keyed",
        "n_orphan_rows",
        "n_orphan_keys",
        F.when(
            F.col("n_child_keyed") > 0,
            F.round(
                F.col("n_orphan_rows").cast("double") / F.col("n_child_keyed"), 6
            ),
        ).alias("orphan_frac"),
    )


def key_uniqueness(
    df: DataFrame, key_sets: dict[str, list[str | Column]]
) -> DataFrame:
    """Candidate-key audit: one row per named key set — (key_name,
    n_rows, n_keys, n_dup_keys, n_dup_rows, is_unique) — the check run
    before anyone joins on, dedups by, or upserts on a "key".

    Each key set costs ONE groupBy pass over the table (a count-per-key
    compression — map-side partials, no sort) folded to a single row;
    key expressions (e.g. ``F.md5("text")`` for content identity) are
    allowed alongside plain column names. NULL key values group under
    SQL GROUP BY semantics on BOTH engines — two NULL-keyed rows ARE
    duplicates of each other, which is exactly what a dedup or upsert
    keyed on that column would do to them.
    """
    if not key_sets:
        raise ValueError("key_uniqueness: no key sets given")
    outs = []
    for name, cols in key_sets.items():
        if not cols:
            # groupBy() would silently collapse to one global group and
            # report "massively duplicated" for a caller typo (review)
            raise ValueError(
                f"key_uniqueness: key set {name!r} has no key columns"
            )
        # reserved count alias: a key column literally named 'n' made
        # F.col('n') ambiguous (review, reproduced). The reserved name
        # itself can still collide — a key column (or a caller-aliased
        # key expression) literally named '_kq_n', in any case variant
        # since Spark resolves names case-insensitively — so probe the
        # grouped frame's OWN columns and uniquify (the curation.py
        # promoted-key collision probe)
        grouped = [F.col(c) if isinstance(c, str) else c for c in cols]
        alias = "_kq_n"
        while True:
            counts = df.groupBy(*grouped).agg(F.count("*").alias(alias))
            lowered = [c.lower() for c in counts.columns]
            if lowered.count(alias.lower()) == 1:
                break
            alias = "_" + alias
        n = F.col(alias)
        dup_n = F.when(n > 1, n).otherwise(F.lit(0))
        dup_k = F.when(n > 1, F.lit(1)).otherwise(F.lit(0))
        outs.append(
            counts.agg(
                F.coalesce(F.sum(n), F.lit(0)).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.coalesce(F.sum(dup_k), F.lit(0)).cast("long").alias("n_dup_keys"),
                F.coalesce(F.sum(dup_n), F.lit(0)).cast("long").alias("n_dup_rows"),
            ).select(
                F.lit(name).alias("key_name"),
                "n_rows",
                "n_keys",
                "n_dup_keys",
                "n_dup_rows",
                (F.col("n_dup_keys") == 0).alias("is_unique"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


class ExpectationViolation(ValueError):
    """Raised by :func:`verify` when an expectation fails.

    Deequ's check semantics: the run ABORTS and the full violation
    report travels with the exception (``.violations`` — a list of
    dicts, one per failed expectation, each carrying the measured
    report row), so the operator on call can read exactly which
    upstream broke without re-running the audit.
    """

    def __init__(self, violations: list[dict]):
        self.violations = violations
        heads = "; ".join(
            f"{v['check']}[{v['subject']}]: {v['detail']}" for v in violations
        )
        super().__init__(f"expectations violated ({len(violations)}): {heads}")


def verify(
    df: DataFrame,
    *,
    max_null_frac: dict[str, float] | None = None,
    unique_keys: dict[str, list[str | Column]] | None = None,
    references: (
        dict[str, tuple[str, DataFrame, str, float]] | None
    ) = None,
) -> list[dict]:
    """Deequ-style fail-fast verification over the three expectation
    operators; the gate a pipeline runs BEFORE any expensive work.

    - ``max_null_frac``: {column: bound} — each named column's observed
      null fraction must be <= bound (ONE
      ``column_profile(with_distinct=False)`` pass for ALL named
      columns together: plain count partials, no COUNT(DISTINCT)
      Expand — the profile's distinct shuffle would make the "cheap
      gate" corpus-wide for a statistic the check never reads).
      ``0.0`` means completeness (Deequ ``isComplete``).
    - ``unique_keys``: {name: key columns/expressions} — each named key
      set must be unique (``key_uniqueness``, one groupBy pass per set,
      Deequ ``isUnique``/``hasUniqueness``).
    - ``references``: {name: (child_key, parent_df, parent_key,
      max_orphan_frac)} — each relationship's orphan fraction
      (``referential_integrity``) must be <= the bound; ``0.0`` means
      every keyed child row finds its parent.

    Every bound is tested on the UNROUNDED fraction of the exact
    integer counts (n_nulls/n_rows <= bound), never on the report's
    6-decimal rounded fractions — a 0.0 bound means literally zero
    violations at any scale, and an exactly-at-bound table passes.

    This is deliberately an EAGER action (the checks collect their
    bounded reports — one row per column/key set/relationship): the
    whole point of a gate is to fail BEFORE the DAG behind it runs. At
    100 TB each check is a single partial-aggregate pass or a
    distinct-key-compressed join (see the operator docstrings) — the
    audit costs O(scans), never O(shuffle-the-corpus).

    Returns the full measured report (passed AND failed rows, as
    dicts) when everything holds; raises :class:`ExpectationViolation`
    carrying the failed subset otherwise.
    """
    def _check_bound(label: str, subject: str, bound) -> None:
        # a typo'd bound silently disables (5 meaning 5%) or inverts
        # (negative) the expectation — gate theater, the opposite of
        # fail-fast (review). numbers.Real admits Decimal-free numerics
        # (numpy floats included); bool is excluded explicitly — a
        # caller passing True as an enable flag would otherwise become
        # bound 1.0 and wave everything through (second review pass).
        import decimal
        import numbers

        if (
            isinstance(bound, bool)
            or not isinstance(bound, (numbers.Real, decimal.Decimal))
            or not 0 <= bound <= 1
        ):
            raise ValueError(
                f"verify: {label}[{subject!r}] bound {bound!r} is not a "
                "number in [0, 1] — bounds are fractions, not percentages"
            )

    for col, bound in (max_null_frac or {}).items():
        _check_bound("max_null_frac", col, bound)
    for name, spec in (references or {}).items():
        # shape-check BEFORE indexing so a malformed spec gets a
        # located error, not a bare IndexError (review)
        if not isinstance(spec, (tuple, list)) or len(spec) != 4:
            raise ValueError(
                f"verify: references[{name!r}] must be a 4-tuple "
                "(child_key, parent_df, parent_key, max_orphan_frac); "
                f"got {type(spec).__name__} of length "
                f"{len(spec) if isinstance(spec, (tuple, list)) else 'n/a'}"
            )
        _check_bound("references", name, spec[3])

    report: list[dict] = []
    violations: list[dict] = []

    def _record(check: str, subject: str, row: dict, ok: bool, detail: str):
        entry = {
            "check": check,
            "subject": subject,
            "passed": bool(ok),
            "detail": detail,
            "measured": row,
        }
        report.append(entry)
        if not ok:
            violations.append(entry)

    if max_null_frac:
        # with_distinct=False: the completeness audit must not pay the
        # profile's COUNT(DISTINCT) Expand/shuffle for cardinalities it
        # never reads (review) — plain count partials, one pass
        prof = {
            r["col_name"]: r.asDict()
            for r in column_profile(
                df, list(max_null_frac), with_distinct=False
            ).collect()
        }
        for col, bound in max_null_frac.items():
            row = prof[col]
            # compare on the UNROUNDED fraction, never the report's
            # 6-decimal null_frac (review: round(4e-7, 6) = 0.0 would
            # let a 0.0-completeness bound pass with real nulls
            # present — Deequ's isComplete fails on a single null).
            # Division, not bound*n_rows: 0.29*100 rounds to
            # 28.999... in doubles and would fail an exactly-at-bound
            # table (second review pass); n_nulls/n_rows <= bound
            # keeps 0.0 exact (any n_nulls > 0 is a positive
            # fraction) and matches the fraction<=bound semantics.
            # Empty table is vacuously complete.
            ok = row["n_rows"] == 0 or (
                row["n_nulls"] / row["n_rows"] <= bound
            )
            _record(
                "max_null_frac",
                col,
                row,
                ok,
                f"n_nulls={row['n_nulls']} n_rows={row['n_rows']} "
                f"bound={bound}",
            )
    if unique_keys:
        for r in key_uniqueness(df, unique_keys).collect():
            row = r.asDict()
            _record(
                "unique_key",
                row["key_name"],
                row,
                row["is_unique"],
                f"n_dup_keys={row['n_dup_keys']} n_dup_rows={row['n_dup_rows']}",
            )
    if references:
        # one action for ALL relationships: union the 1-row reports
        # before collecting (the key_uniqueness shape — N sequential
        # driver round-trips at gate time would serialize N child
        # compressions; review pass 4)
        frames = [
            referential_integrity(
                df, child_key, parent, parent_key, relationship=name
            )
            for name, (child_key, parent, parent_key, _) in references.items()
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        by_rel = {r["relationship"]: r.asDict() for r in union.collect()}
        for name, (_, _, _, bound) in references.items():
            row = by_rel[name]
            # unrounded-fraction comparison, same rationale as
            # max_null_frac (the report's orphan_frac is rounded to 6
            # decimals; bound*count would mis-fail exact boundaries);
            # a keyless child (n_child_keyed = 0) is vacuously intact
            ok = row["n_child_keyed"] == 0 or (
                row["n_orphan_rows"] / row["n_child_keyed"] <= bound
            )
            _record(
                "referential_integrity",
                name,
                row,
                ok,
                f"n_orphan_rows={row['n_orphan_rows']} "
                f"n_child_keyed={row['n_child_keyed']} bound={bound}",
            )
    if violations:
        raise ExpectationViolation(violations)
    return report
