"""BM25 retrieval scoring (operators/ranking.py): closed-form check
against a plain-Python reference, top-k ordering, and plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from conftest import SF
from database_collector_spark import gates, workloads_eval
from database_collector_spark.operators import ranking

from rankrefs import rank_ref

DOCS = [
    Row(doc_id=0, text="hash join hash scan"),
    Row(doc_id=1, text="vector scan scan scan scan scan"),
    Row(doc_id=2, text="merge sort"),
    Row(doc_id=3, text="hash join vector hash join vector"),
]


def _py_bm25(terms, k1=1.2, b=0.75):
    toks = {r.doc_id: r.text.split(" ") for r in DOCS}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    df = {t: sum(1 for d in toks.values() if t in d) for t in terms}
    out = {}
    for doc, words in toks.items():
        score = 0.0
        matched = 0
        for t in sorted(set(terms)):
            tf = words.count(t)
            if tf == 0:
                continue
            matched += 1
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(words) / avgdl))
        if matched:
            out[doc] = (len(words), matched, round(score, 4))
    return out


def test_bm25_scores_match_python_reference(spark):
    df = spark.createDataFrame(DOCS)
    got = {
        r["doc_id"]: (r["dl"], r["n_matched"], r["score"])
        for r in ranking.bm25_scores(df, ["hash", "join", "vector"]).collect()
    }
    want = _py_bm25(["hash", "join", "vector"])
    assert set(got) == set(want)
    for doc in want:
        assert got[doc][:2] == want[doc][:2]
        assert got[doc][2] == pytest.approx(want[doc][2], abs=1e-4)


def test_bm25_plan_stays_jvm_side(spark):
    df = spark.createDataFrame(DOCS)
    plan = ranking.bm25_scores(df, ["hash", "join"])._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # tiny df/stats sides must broadcast, not shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _auc_ref(pairs):
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    if not pos or not neg:
        return None
    u = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    return u / (len(pos) * len(neg))


def test_auc_exact_hand_fixture_with_ties(spark):
    from pyspark.sql import Row

    from database_collector_spark.operators.ranking import auc_exact

    pairs = [(10, 1), (8, 1), (8, 0), (5, 0), (5, 1), (2, 0), (2, 0), (12, 1)]
    df = spark.createDataFrame([Row(score=s, label=y) for s, y in pairs])
    row = auc_exact(df).collect()[0]
    assert (row["n_pos"], row["n_neg"]) == (4, 4)
    assert abs(row["auc"] - round(_auc_ref(pairs), 6)) < 1e-9
    # degenerate: single-class input -> NULL, not an abort
    onlypos = spark.createDataFrame([Row(score=1, label=1)])
    assert auc_exact(onlypos).collect()[0]["auc"] is None


def test_auc_exact_random_property(spark):
    import random

    from pyspark.sql import Row

    from database_collector_spark.operators.ranking import auc_exact

    rng = random.Random(7)
    pairs = [(rng.randint(0, 20), rng.randint(0, 1)) for _ in range(200)]
    df = spark.createDataFrame([Row(score=s, label=y) for s, y in pairs])
    row = auc_exact(df).collect()[0]
    assert abs(row["auc"] - round(_auc_ref(pairs), 6)) < 1e-9


def test_auc_exact_excludes_null_scores_and_labels(spark):
    from database_collector_spark.operators.ranking import auc_exact

    df = spark.createDataFrame(
        [(10, 1), (None, 1), (5, None), (3, 0)], "score int, label int"
    )
    row = auc_exact(df).collect()[0]
    # only (10,1) and (3,0) survive: AUC = 1
    assert (row["n_pos"], row["n_neg"]) == (1, 1)
    assert row["auc"] == 1.0


def test_auc_exact_all_distinct_scores_property(spark):
    # the real-valued-model case: zero value-domain compression — the
    # two-level prefix sum must still produce the exact answer
    import random

    from pyspark.sql import Row

    from database_collector_spark.operators.ranking import auc_exact

    rng = random.Random(11)
    pairs = [(rng.random(), rng.randint(0, 1)) for _ in range(300)]
    df = spark.createDataFrame([Row(score=s, label=y) for s, y in pairs])
    row = auc_exact(df, coarse_buckets=16).collect()[0]
    assert abs(row["auc"] - round(_auc_ref(pairs), 6)) < 1e-9


def _below_ref(items: dict[float, int], v: float) -> int:
    """Strictly-below count under SPARK's double ordering: NaN is the
    greatest value (above +inf), NaN == NaN."""
    import math

    if math.isnan(v):
        return sum(c for v2, c in items.items() if not math.isnan(v2))
    return sum(c for v2, c in items.items() if not math.isnan(v2) and v2 < v)


def test_prefix_count_below_matches_brute_force_with_outliers(spark):
    """The shared two-level prefix-sum helper: exact strictly-below
    counts on keyed and unkeyed inputs. With ±1e300 outliers the
    magnitude-log bucketing keeps the bulk spread over MULTIPLE
    interior buckets at the production bucket count (u-space span
    ~1382, bulk [0, 7.31] → ~6 populated interior buckets at 1024 —
    raw-value equi-width would collapse everything into one), plus
    NaN, which Spark orders above every double and the bucketing must
    pin to the TOP bucket (the mis-bucket-to-0 regression caught in
    review)."""
    import random

    from database_collector_spark.operators.ranking import prefix_count_below

    rng = random.Random(7)
    rows = []
    for g in ("a", "b"):
        # duplicate-heavy bulk, huge outliers both sides, the full
        # non-finite set (the explicit edge-cell branches), and NaN
        vals = [float(rng.randint(0, 1500)) for _ in range(2500)]
        vals += [1e300, -1e300, float("inf"), float("-inf"), float("nan")]
        for v in vals:
            rows.append((g, v))
    counts: dict[tuple[str, float], int] = {}
    for g, v in rows:
        counts[(g, v)] = counts.get((g, v), 0) + 1
    df = spark.createDataFrame(
        [(g, v, c) for (g, v), c in counts.items()], "g string, v double, c long"
    )
    per_group: dict[str, dict[float, int]] = {}
    for (g, v), c in counts.items():
        per_group.setdefault(g, {})[v] = c
    got = {
        (r["g"], r["v"]): r["below"]
        for r in prefix_count_below(df, ["g"], "v", "c", coarse_buckets=1024).collect()
    }
    import math

    for (g, v), _ in counts.items():
        key = (g, v)
        # collect() maps Spark NaN to float('nan'), which never equals
        # itself as a dict key probe — find it explicitly
        if math.isnan(v):
            key = next(k for k in got if k[0] == g and math.isnan(k[1]))
        assert got[key] == _below_ref(per_group[g], v), (g, v)
    # unkeyed (the auc_exact shape): one global domain
    flat: dict[float, int] = {}
    for (_, v), c in counts.items():
        nv = next((k for k in flat if math.isnan(k)), v) if math.isnan(v) else v
        flat[nv] = flat.get(nv, 0) + c
    fdf = spark.createDataFrame(list(flat.items()), "v double, c long")
    got_flat = [
        (r["v"], r["below"])
        for r in prefix_count_below(fdf, [], "v", "c", coarse_buckets=16).collect()
    ]
    for v, below in got_flat:
        assert below == _below_ref(flat, v), v


def test_prefix_count_below_excludes_null_rows_actively(spark):
    """NULL keys and NULL values are FILTERED by the helper (a NULL
    value would land in bucket 0 via isnan(NULL)=false + greatest's
    NULL-skipping and inflate every bucket-0 below-count — the
    mis-count caught in review); remaining counts are unaffected."""
    from database_collector_spark.operators.ranking import prefix_count_below

    df = spark.createDataFrame(
        [("a", 1.0, 5), ("a", 2.0, 7), ("a", None, 100), (None, 1.5, 50)],
        "g string, v double, c long",
    )
    got = {
        (r["g"], r["v"]): r["below"]
        for r in prefix_count_below(df, ["g"], "v", "c", coarse_buckets=4).collect()
    }
    assert got == {("a", 1.0): 0, ("a", 2.0): 5}


def test_prefix_count_below_denormal_span_degenerates_exactly(spark):
    """A value domain whose u-space span underflows the cell width
    (span/65536 -> 0.0 for denormal-scale spans) must fall back to the
    exact one-cell degenerate instead of feeding Inf/NaN into floor
    (an ANSI long-cast overflow) — the width-guard fix."""
    from database_collector_spark.operators.ranking import prefix_count_below

    vals = {0.0: 3, 5e-324: 2, 1e-320: 4}
    df = spark.createDataFrame(list(vals.items()), "v double, c long")
    got = {
        r["v"]: r["below"]
        for r in prefix_count_below(df, [], "v", "c", coarse_buckets=8).collect()
    }
    assert got == {0.0: 0, 5e-324: 3, 1e-320: 5}


def test_auc_by_group_matches_per_group_reference(spark):
    """Grouped exact AUC (the per-language classifier audit): each
    group's value must equal the pair-loop reference on that group
    alone; a single-class group yields NULL; NULL group rows are
    excluded."""
    import random

    from database_collector_spark.operators.ranking import auc_by_group

    rng = random.Random(13)
    rows = []
    per_g: dict[str, list[tuple[int, int]]] = {}
    for g in ("en", "fr", "de"):
        pairs = [(rng.randint(0, 15), rng.randint(0, 1)) for _ in range(150)]
        per_g[g] = pairs
        rows += [(g, s, y) for s, y in pairs]
    per_g["zz"] = [(5, 1), (7, 1)]  # single-class -> NULL
    rows += [("zz", s, y) for s, y in per_g["zz"]]
    rows += [(None, 3, 0)]  # NULL group -> excluded
    rows += [("en", None, 1), ("fr", 3, None)]  # NULL score/label -> excluded
    df = spark.createDataFrame(rows, "lang string, score int, label int")
    got = {
        r["lang"]: (r["n_pos"], r["n_neg"], r["auc"])
        for r in auc_by_group(df, "lang").collect()
    }
    assert set(got) == set(per_g)
    for g, pairs in per_g.items():
        n_pos = sum(1 for _, y in pairs if y == 1)
        n_neg = len(pairs) - n_pos
        ref = _auc_ref(pairs)
        assert got[g][:2] == (n_pos, n_neg)
        if ref is None:
            assert got[g][2] is None
        else:
            assert abs(got[g][2] - round(ref, 6)) < 1e-9, g


def test_auc_by_group_all_distinct_scores(spark):
    """The real-valued-model case per group: zero value-domain
    compression in every group — the keyed prefix sum must still be
    exact (the grouped twin of the auc_exact all-distinct property)."""
    import random

    from database_collector_spark.operators.ranking import auc_by_group

    rng = random.Random(17)
    per_g = {
        g: [(rng.random(), rng.randint(0, 1)) for _ in range(120)]
        for g in ("p", "q")
    }
    rows = [(g, s, y) for g, pairs in per_g.items() for s, y in pairs]
    df = spark.createDataFrame(rows, "g string, score double, label int")
    got = {r["g"]: r["auc"] for r in auc_by_group(df, "g", coarse_buckets=16).collect()}
    for g, pairs in per_g.items():
        assert abs(got[g] - round(_auc_ref(pairs), 6)) < 1e-9, g


def test_prefix_count_below_rejects_high_cardinality_keys(spark):
    """The low-cardinality-keys contract is enforced at runtime (r10
    ADVICE): a user group column with more distinct keys than
    max_key_groups must raise at action time with the per-group-window
    alternative named — not blow the driver with a |domain| x 65536-row
    broadcast map. The guard is IN-PLAN (raise_error over the bounded
    rng table) so it costs zero extra jobs on contract-abiding input."""
    import pytest

    from database_collector_spark.operators.ranking import prefix_count_below

    df = spark.range(40).selectExpr(
        "cast(id as string) as g", "cast(id as double) as v", "1 as c"
    )
    with pytest.raises(Exception, match="per-group window"):
        prefix_count_below(df, ["g"], "v", "c", max_key_groups=8).collect()
    # at exactly the ceiling it builds fine
    ok = prefix_count_below(df, ["g"], "v", "c", max_key_groups=40).collect()
    assert len(ok) == 40 and all(r["below"] == 0 for r in ok)


def test_refine_narrow_domains_spreads_the_degenerate_bucket(spark):
    """The documented degenerate case: a bulk concentrated inside one
    log-cell (values in a ~1e-9 band around 1.0) plus one 1e300
    outlier stretching the grid. Default mode collapses the bulk into
    ONE populous bucket (honest, documented); refine_narrow_domains
    re-grids the populous cell and spreads it — with below-counts
    EXACT and identical in both modes."""
    from database_collector_spark.operators.ranking import prefix_count_below

    vals = [1.0 + i * 1e-9 for i in range(600)] + [1e300]
    rows = [(v, 2) for v in vals]
    df = spark.createDataFrame(rows, "v double, c long")

    def run(refine):
        out = prefix_count_below(
            df, [], "v", "c", coarse_buckets=64,
            refine_narrow_domains=refine, bucket_col="bkt",
        ).collect()
        return (
            {r["v"]: r["below"] for r in out},
            len({r["bkt"] for r in out}),
            max(
                sum(1 for r in out if r["bkt"] == b) for b in {x["bkt"] for x in out}
            ),
        )

    expected = {v: 2 * i for i, v in enumerate(sorted(vals))}
    below_off, n_buckets_off, max_load_off = run(False)
    below_on, n_buckets_on, max_load_on = run(True)
    assert below_off == expected  # the degenerate mode is still EXACT
    assert below_on == expected
    # default mode: the whole bulk funnels into ~one bucket
    assert max_load_off >= 600
    # refined mode: the populous cell re-grids and the bulk spreads
    assert n_buckets_on >= 32 and max_load_on <= 60


def test_refine_narrow_domains_is_a_noop_on_healthy_domains(spark):
    """On a well-spread domain (no populous cell) the refined mode
    returns byte-identical below-counts and an equally-spread bucket
    map — the escape hatch must never perturb the healthy path."""
    from database_collector_spark.operators.ranking import prefix_count_below

    rows = [(float(i) ** 1.5, i % 5 + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "v double, c long")
    outs = {}
    for refine in (False, True):
        outs[refine] = {
            r["v"]: r["below"]
            for r in prefix_count_below(
                df, [], "v", "c", coarse_buckets=32,
                refine_narrow_domains=refine,
            ).collect()
        }
    assert outs[False] == outs[True]
    import itertools

    acc = 0
    expected = {}
    for v, c in sorted(rows):
        expected[v] = acc
        acc += c
    assert outs[False] == expected


def test_refine_narrow_domains_handles_nonfinite_and_keyed_input(spark):
    """Non-finite values inside a populous cell take the same explicit
    edge sub-cells; keyed domains refine independently per key."""
    from database_collector_spark.operators.ranking import prefix_count_below

    nan, inf = float("nan"), float("inf")
    rows = (
        [("a", 5.0 + i * 1e-10, 1) for i in range(200)]
        + [("a", 1e300, 3), ("a", inf, 2), ("a", -inf, 4), ("a", nan, 7)]
        + [("b", float(i), 1) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "g string, v double, c long")
    out = prefix_count_below(
        df, ["g"], "v", "c", coarse_buckets=16, refine_narrow_domains=True
    ).collect()
    got = {}
    for r in out:
        key = (r["g"], "nan" if r["v"] != r["v"] else r["v"])
        got[key] = r["below"]
    import math

    for g in ("a", "b"):
        vals = [(v, c) for (gg, v, c) in rows if gg == g]
        vals.sort(key=lambda t: (math.isnan(t[0]), t[0]))  # Spark order: NaN last
        acc = 0
        for v, c in vals:
            key = (g, "nan" if v != v else v)
            assert got[key] == acc, (g, v, got[key], acc)
            acc += c


def test_prefix_count_below_rejects_colliding_output_names(spark):
    """out_col/bucket_col collisions fail fast at plan-build time, not
    as an AMBIGUOUS_REFERENCE at action time far from the call site."""
    import pytest

    from database_collector_spark.operators.ranking import prefix_count_below

    df = spark.createDataFrame([(1.0, 2)], "v double, c long")
    with pytest.raises(ValueError, match="out_col"):
        prefix_count_below(df, [], "v", "c", out_col="c")
    with pytest.raises(ValueError, match="bucket_col"):
        prefix_count_below(df, [], "v", "c", bucket_col="v")
    with pytest.raises(ValueError, match="bucket_col"):
        prefix_count_below(df, [], "v", "c", out_col="below", bucket_col="below")


def test_refined_key_ceiling_shrinks_fourfold(spark):
    """With refine_narrow_domains armed, a refined key can occupy 4x
    the cells, so the broadcast guard's ceiling shrinks to
    max_key_groups // 4 — same driver budget either way."""
    import pytest

    from database_collector_spark.operators.ranking import prefix_count_below

    df = spark.range(12).selectExpr(
        "cast(id as string) as g", "cast(id as double) as v", "1 as c"
    )
    # 12 groups pass a ceiling of 48 unrefined...
    assert len(prefix_count_below(df, ["g"], "v", "c", max_key_groups=48).collect()) == 12
    # ...but 48 // 4 = 12 still passes, while 44 // 4 = 11 refuses
    assert (
        len(
            prefix_count_below(
                df, ["g"], "v", "c", max_key_groups=48,
                refine_narrow_domains=True,
            ).collect()
        )
        == 12
    )
    with pytest.raises(Exception, match="composite"):
        prefix_count_below(
            df, ["g"], "v", "c", max_key_groups=44, refine_narrow_domains=True
        ).collect()


def test_calibration_curve_grouped_matches_per_group_reference(spark):
    """group_col produces one independent percentile-binned curve per
    group — identical to running the ungrouped operator on each group's
    slice."""
    from database_collector_spark.operators.ranking import calibration_curve

    rows = (
        [("a", 0.1 * (i % 7), i % 2) for i in range(60)]
        + [("b", 0.05 * (i % 11), (i // 3) % 2) for i in range(45)]
        + [("b", None, 1), (None, 0.5, 0), ("a", 0.2, None)]
    )
    df = spark.createDataFrame(rows, "g string, score double, label int")
    grouped = {
        (r["g"], r["bin"]): tuple(r)[2:]
        for r in calibration_curve(df, n_bins=4, group_col="g").collect()
    }
    solo_keys = set()
    for g in ("a", "b"):
        solo = {
            (g, r["bin"]): tuple(r)[1:]
            for r in calibration_curve(
                df.where(df.g == g), n_bins=4
            ).collect()
        }
        solo_keys |= set(solo)
        for key, vals in solo.items():
            assert grouped[key] == vals, key
    # BOTH directions: no spurious extra (g, bin) rows, no NULL group
    assert set(grouped) == solo_keys
    assert not any(k[0] is None for k in grouped)


def test_ndcg_at_k_matches_python_reference(spark):
    """Exact NDCG@k vs a plain-Python reference: graded labels, items
    missing labels (rel=0), labels missing from the ranking (IDCG
    only), per-query grouping, an all-zero-label query (NULL ndcg)."""
    import math

    from database_collector_spark.operators.ranking import ndcg_at_k

    ranked = [
        ("q1", 101, 1), ("q1", 102, 2), ("q1", 103, 3), ("q1", 104, 4),
        ("q2", 201, 1), ("q2", 202, 2),
        ("q3", 301, 1),  # all labels zero -> NULL ndcg
    ]
    rels = [
        ("q1", 101, 3), ("q1", 103, 1), ("q1", 999, 2),  # 999 unranked
        ("q2", 202, 2), ("q2", 201, 0),
        ("q3", 301, 0),
    ]
    k = 3
    rdf = spark.createDataFrame(ranked, "q string, doc_id long, rank int")
    ldf = spark.createDataFrame(rels, "q string, doc_id long, rel int")
    got = {
        r["q"]: r
        for r in ndcg_at_k(
            rdf, ldf, k=k, group_col="q", rank_col="rank"
        ).collect()
    }

    from collections import defaultdict

    rel_by = defaultdict(dict)
    for q, d, rel in rels:
        rel_by[q][d] = rel
    for q in ("q1", "q2", "q3"):
        top = sorted(
            [(rk, d) for (qq, d, rk) in ranked if qq == q and rk <= k]
        )
        dcg = sum(
            (2 ** rel_by[q].get(d, 0) - 1) / math.log2(rk + 1) for rk, d in top
        )
        ideal = sorted(rel_by[q].values(), reverse=True)[:k]
        idcg = sum(
            (2 ** rel - 1) / math.log2(i + 2) for i, rel in enumerate(ideal)
        )
        r = got[q]
        assert r["n_ranked"] == len(top)
        assert r["dcg"] == round(dcg, 6), q
        assert r["idcg"] == round(idcg, 6), q
        if idcg > 0:
            assert r["ndcg"] == round(dcg / idcg, 6), q
        else:
            assert r["ndcg"] is None, q


def test_ndcg_judged_but_unranked_group_scores_zero_not_null(spark):
    """A judged query the system returned NOTHING for is wrong, not
    unjudgeable: ndcg = 0.0 (NULL stays reserved for IDCG = 0). NULL
    group rows are excluded on both inputs — the equi-joins never match
    NULL keys, so they'd otherwise split into two bogus rows."""
    from database_collector_spark.operators.ranking import ndcg_at_k

    rdf = spark.createDataFrame(
        [("q1", 101, 1), (None, 102, 1)], "q string, doc_id long, rank int"
    )
    ldf = spark.createDataFrame(
        [("q1", 101, 2), ("q2", 555, 3), (None, 102, 3)],
        "q string, doc_id long, rel int",
    )
    got = {r["q"]: r for r in ndcg_at_k(rdf, ldf, k=3, group_col="q").collect()}
    assert set(got) == {"q1", "q2"}
    assert got["q1"]["ndcg"] == 1.0
    q2 = got["q2"]
    assert (q2["n_ranked"], q2["n_judged"], q2["dcg"], q2["ndcg"]) == (0, 1, 0.0, 0.0)
    assert q2["idcg"] == 7.0


def test_ndcg_rank_below_one_raises_in_plan(spark):
    """ndcg_at_k enforces its 1-based-rank contract in-plan (r11
    ADVICE): a rank of 0 would zero the log2(rank+1) discount and make
    DCG silently Infinity, so the checked rank raises at execution."""
    import pytest

    from database_collector_spark.operators.ranking import ndcg_at_k

    rdf = spark.createDataFrame(
        [("q1", 101, 0), ("q1", 102, 1)], "q string, doc_id long, rank int"
    )
    ldf = spark.createDataFrame([("q1", 101, 2)], "q string, doc_id long, rel int")
    with pytest.raises(Exception, match="ranks are 1-based"):
        ndcg_at_k(rdf, ldf, k=3, group_col="q").collect()


def test_ndcg_duplicate_judgment_guard(spark):
    """The unique-(group, id) judgment contract: duplicates multiply
    ranked rows through the left join and inflate n_ranked/DCG/IDCG.
    The in-plan guard is OPT-IN (it costs a keyed count-window over the
    judgment table): armed, it raises on a duplicated judgment and
    passes untouched on clean data; unarmed, the documented contract
    stands and duplicates stay the caller's bug."""
    import pytest

    from database_collector_spark.operators.ranking import ndcg_at_k

    rdf = spark.createDataFrame([("q1", 101, 1)], "q string, doc_id long, rank int")
    clean = spark.createDataFrame(
        [("q1", 101, 2), ("q1", 102, 1)], "q string, doc_id long, rel int"
    )
    dup = spark.createDataFrame(
        [("q1", 101, 2), ("q1", 101, 3)], "q string, doc_id long, rel int"
    )
    ok = ndcg_at_k(
        rdf, clean, k=3, group_col="q", check_unique_judgments=True
    ).collect()
    assert ok[0]["ndcg"] is not None
    unguarded = ndcg_at_k(
        rdf, clean, k=3, group_col="q"
    ).collect()
    assert [tuple(r) for r in unguarded] == [tuple(r) for r in ok], (
        "arming the guard must not change results on clean data"
    )
    with pytest.raises(Exception, match="duplicate judgment"):
        ndcg_at_k(
            rdf, dup, k=3, group_col="q", check_unique_judgments=True
        ).collect()


def test_pr_curve_matches_python_reference(spark):
    """pr_curve (r14 gate candidate) vs a plain-Python sweep reference:
    suffix-summed counts per percentile bin, precision/recall exact;
    also the zero-positive group gets NULL recall."""
    from database_collector_spark.operators.ranking import (
        calibration_curve,
        pr_curve,
    )

    rows = [(float(s), 1 if s >= 6 else 0) for s in range(10)] + [
        (3.0, 1),  # tie class + an off-pattern positive
        (3.0, 0),
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    got = {r["bin"]: r for r in pr_curve(df, n_bins=4).collect()}
    cal = {r["bin"]: r for r in calibration_curve(df, n_bins=4).collect()}
    assert set(got) == set(cal)
    all_pos = sum(r["n_pos"] for r in cal.values())
    for b, row in got.items():
        pred = sum(c["n_docs"] for bb, c in cal.items() if bb >= b)
        tp = sum(c["n_pos"] for bb, c in cal.items() if bb >= b)
        assert (row["pred_pos"], row["tp"]) == (pred, tp), b
        assert row["threshold"] == cal[b]["lo_score"]
        assert row["precision"] == round(tp / pred, 6)
        assert row["recall"] == round(tp / all_pos, 6)
    # lowest bin's point covers everything: recall 1.0
    assert got[min(got)]["recall"] == 1.0
    # zero-positive slice -> NULL recall, precision 0
    neg = spark.createDataFrame([(1.0, 0), (2.0, 0)], "score double, label int")
    only = pr_curve(neg, n_bins=2).collect()
    assert all(r["recall"] is None and r["precision"] == 0.0 for r in only)


def test_pr_curve_grouped_equals_per_slice(spark):
    """The grouped form must equal the ungrouped operator run on each
    slice (the calibration_curve group-contract, inherited)."""
    from pyspark.sql import functions as F

    from database_collector_spark.operators.ranking import pr_curve

    rows = [("a", float(s), s % 2) for s in range(8)] + [
        ("b", float(s % 3), 1 if s > 4 else 0) for s in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, score double, label int")
    grouped = {
        (r["g"], r["bin"]): (r["pred_pos"], r["tp"], r["precision"], r["recall"])
        for r in pr_curve(df, n_bins=3, group_col="g").collect()
    }
    for g in ("a", "b"):
        solo = {
            (g, r["bin"]): (r["pred_pos"], r["tp"], r["precision"], r["recall"])
            for r in pr_curve(df.where(F.col("g") == g), n_bins=3).collect()
        }
        assert {k: v for k, v in grouped.items() if k[0] == g} == solo


# ------------------------------------------------------ rank_select_by_group


def test_rank_select_matches_sorted_reference_with_ties(spark):
    vals = {"a": [5, 1, 3, 3, 3, 9, 1, 7], "b": [2, 2, 2, 2], "c": [42]}
    rows = [Row(g=g, v=v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows)
    got = {
        r["g"]: r.asDict()
        for r in ranking.rank_select_by_group(
            df,
            "g",
            "v",
            {"lo": "1", "med": "(n + 1) div 2", "hi": "n"},
        ).collect()
    }
    for g, vs in vals.items():
        assert got[g]["n"] == len(vs)
        assert got[g]["lo"] == rank_ref(vs, 1)
        assert got[g]["med"] == rank_ref(vs, (len(vs) + 1) // 2)
        assert got[g]["hi"] == rank_ref(vs, len(vs))


def test_rank_select_negative_values_and_wide_magnitudes(spark):
    # spans many log-grid cells on both sides of zero
    vs = [-1_000_000, -3, -3, 0, 1, 250, 10**12, 7]
    df = spark.createDataFrame([Row(g="x", v=v) for v in vs])
    got = ranking.rank_select_by_group(
        df, "g", "v", {f"k{k}": str(k) for k in range(1, 9)}
    ).collect()[0]
    ref = sorted(vs)
    for k in range(1, 9):
        assert got[f"k{k}"] == ref[k - 1], k


def test_rank_select_out_of_range_rank_is_null_and_nulls_excluded(spark):
    df = spark.createDataFrame(
        [Row(g="x", v=1), Row(g="x", v=None), Row(g=None, v=5), Row(g="x", v=2)]
    )
    [r] = ranking.rank_select_by_group(
        df, "g", "v", {"ok": "n", "over": "n + 1", "zero": "0"}
    ).collect()
    assert r["n"] == 2 and r["ok"] == 2
    assert r["over"] is None and r["zero"] is None


def test_rank_select_narrow_domain_single_cell(spark):
    # every value identical: the documented degenerate (one populous
    # cell) must still select correctly
    df = spark.createDataFrame([Row(g="x", v=7)] * 50)
    [r] = ranking.rank_select_by_group(
        df, "g", "v", {"med": "(n + 1) div 2"}
    ).collect()
    assert (r["n"], r["med"]) == (50, 7)


def test_rank_select_nonfinite_edge_cells(spark):
    inf, nan = float("inf"), float("nan")
    vs = [-inf, -2.5, 0.5, inf, nan, 3.25]
    df = spark.createDataFrame([Row(g="x", v=float(v)) for v in vs])
    got = ranking.rank_select_by_group(
        df, "g", "v", {f"k{k}": str(k) for k in range(1, 7)}
    ).collect()[0]
    # Spark double order: -Inf < finite < +Inf < NaN
    assert got["k1"] == -inf and got["k2"] == -2.5 and got["k3"] == 0.5
    assert got["k4"] == 3.25 and got["k5"] == inf and math.isnan(got["k6"])


def test_rank_select_validates_rank_names(spark):
    df = spark.createDataFrame([Row(g="x", v=1)])
    with pytest.raises(ValueError, match="no target ranks"):
        ranking.rank_select_by_group(df, "g", "v", {})
    with pytest.raises(ValueError, match="collide with"):
        ranking.rank_select_by_group(df, "g", "v", {"n": "1"})


def test_rank_select_rejects_output_collisions_and_nonnumeric(spark):
    df = spark.createDataFrame([Row(n="x", v=1, s="a")])
    with pytest.raises(ValueError, match="collides with an output"):
        ranking.rank_select_by_group(df, "n", "v", {"med": "1"})
    df2 = spark.createDataFrame([Row(grp="x", v=1)])
    with pytest.raises(ValueError, match="collides with an output"):
        ranking.rank_select_by_group(df2, "grp", "v", {"grp": "1"})
    with pytest.raises(ValueError, match="non-numeric type"):
        ranking.rank_select_by_group(df, "v", "s", {"med": "1"})


def test_rank_select_input_columns_named_g_or_v_do_not_shadow_filters(spark):
    # the NULL-exclusion filter on the group and value columns must
    # resolve against the input's own columns: an input column literally
    # named 'g' or 'v' (the operator's internal group/value aliases)
    # must neither hide a NULL from the filter nor be filtered in place
    # of the caller's column
    df = spark.createDataFrame(
        [Row(grp="x", g=1), Row(grp="x", g=None), Row(grp="x", g=5)]
    )
    [r] = ranking.rank_select_by_group(
        df, "grp", "g", {"med": "(n + 1) div 2", "hi": "n"}
    ).collect()
    assert (r["n"], r["med"], r["hi"]) == (2, 1, 5)
    df2 = spark.createDataFrame(
        [Row(v=1, grp="x"), Row(v=2, grp=None), Row(v=3, grp="x")]
    )
    rows = ranking.rank_select_by_group(df2, "grp", "v", {"m": "1"}).collect()
    assert len(rows) == 1 and rows[0]["grp"] == "x" and rows[0]["n"] == 2


def test_agreement_alpha_panel_really_is_uneven(spark):
    """The gate exists to exercise MISSING votes — if a fixture change
    ever made every document fully voted, the gate would silently
    degenerate into fleiss territory; pin genuine unevenness."""
    docs_votes = (
        gates.all_queries()["agreement_alpha"](spark, SF).collect()
    )
    # n_values < 3 * n_items would be impossible under a full panel
    [r] = docs_votes
    assert r["n_values"] < 3 * r["n_items"], (
        "every item fully voted — the missing-vote scenario is gone"
    )


def test_robust_stats_textbook_relationships(spark):
    """Cross-gate consistency: MAD bounded by the max |deviation| and
    >= 0; winsorized mean inside its own bracket; every outlier count
    strictly less than n and fences consistent with the quartiles."""
    from pyspark.sql import functions as F

    mad = {r["source"]: r for r in gates.all_queries()["group_mad"](spark, SF).collect()}
    toks = workloads_eval._doc_tokens(spark, SF)
    spread = {
        r["source"]: r
        for r in toks.groupBy("source")
        .agg(F.min("n_tok").alias("lo"), F.max("n_tok").alias("hi"))
        .collect()
    }
    for src, r in mad.items():
        assert r["mad_tokens"] >= 0
        max_dev = max(
            abs(spread[src]["lo"] - r["med_tokens"]),
            abs(spread[src]["hi"] - r["med_tokens"]),
        )
        assert r["mad_tokens"] <= max_dev, src
        assert spread[src]["lo"] <= r["med_tokens"] <= spread[src]["hi"], src

    for r in gates.all_queries()["winsorized_mean"](spark, SF).collect():
        assert r["q05_cents"] <= r["winsorized_mean_cents"] <= r["q95_cents"], r

    for r in gates.all_queries()["iqr_outlier_report"](spark, SF).collect():
        assert r["p25"] <= r["p75"], r
        assert 0 <= r["n_low_outliers"] + r["n_high_outliers"] < r["n"], r
