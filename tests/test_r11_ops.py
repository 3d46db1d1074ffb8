"""Operator-level pins for the r11 staged tier — Python-reference
exactness and the structural properties the cross-engine differential
cannot see (tests/test_gates.py covers Spark-vs-DuckDB; these pin
Spark-vs-specification)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from database_collector_spark.operators import dedup, similarity, text
from database_collector_spark.operators.merge import scd1_merge

SF = "/root/testdata/sf0.001"


# ------------------------------------------- cross_doc_duplicate_spans

def _py_spans(texts: dict[int, str], k: int) -> set[tuple[int, int, int]]:
    """Brute-force reference: positioned k-shingles, cross-doc
    duplicated set, island merge."""
    pos_sh: list[tuple[int, int, str]] = []
    for did, txt in texts.items():
        toks = txt.split(" ")
        for i in range(1, len(toks) - k + 2):
            pos_sh.append((did, i, " ".join(toks[i - 1 : i - 1 + k])))
    docs_of: dict[str, set[int]] = {}
    for did, _, sh in pos_sh:
        docs_of.setdefault(sh, set()).add(did)
    out: set[tuple[int, int, int]] = set()
    for did in texts:
        marks = sorted(p for d, p, sh in pos_sh if d == did and len(docs_of[sh]) >= 2)
        run: list[int] = []
        for p in marks + [None]:
            if run and (p is None or p - run[-1] > k):
                out.add((did, run[0], run[-1] + k - 1))
                run = []
            if p is not None:
                run.append(p)
    return out


def test_cross_doc_spans_match_python_reference(spark):
    texts = {
        1: "a b c d e f g h i j k l unique1 x y z",
        2: "pre a b c d e f g h i j k l post w",
        3: "c d e f g h i j solo tail m n o p q",
        4: "totally different words with no overlap at all here now",
    }
    k = 4
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.cross_doc_duplicate_spans(df, k=k).collect()
    }
    assert got == _py_spans(texts, k)


def test_cross_doc_spans_need_two_distinct_docs(spark):
    # a shingle repeated WITHIN one doc only is not a cross-doc span
    df = spark.createDataFrame(
        [(1, "p q r s t u p q r s t u"), (2, "v w x y z zz aa bb cc dd")],
        "doc_id long, text string",
    )
    assert dedup.cross_doc_duplicate_spans(df, k=4).count() == 0


# --------------------------------------------------------- semdedup_prune

def test_semdedup_never_drops_the_cell_extreme(spark):
    """The member with the strictly greatest (d2c, -vec_id) in its cell
    cannot be dominated by anyone, so it must survive — the
    keep-the-extreme guarantee SemDeDup's rule provides."""
    out = similarity.semdedup_prune(
        spark.read.parquet(f"{SF}/embeddings.parquet")
    ).collect()
    by_cell: dict[int, list] = {}
    for r in out:
        by_cell.setdefault(r["cid"], []).append(r)
    assert any(r["dropped"] for r in out)  # non-trivial at this SF
    for members in by_cell.values():
        extreme = max(members, key=lambda r: (r["d2c"], -r["vec_id"]))
        assert not extreme["dropped"]


def test_semdedup_dropped_have_a_dominating_neighbor(spark):
    """Every dropped member must actually have a same-cell neighbor that
    dominates it at cosine >= tau — recomputed here from the quantized
    vectors (independent check of the join/EXISTS plumbing)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = {r["vec_id"]: r for r in similarity.semdedup_prune(emb).collect()}
    q = {
        r["vec_id"]: (list(r["qe"]), r["qnorm2"])
        for r in similarity.with_quantized(emb).select("vec_id", "qe", "qnorm2").collect()
    }
    tau = 0.45
    for vid, r in out.items():
        if not r["dropped"]:
            continue
        qe, n2 = q[vid]
        found = False
        for oid, o in out.items():
            if oid == vid or o["cid"] != r["cid"]:
                continue
            if not (o["d2c"] > r["d2c"] or (o["d2c"] == r["d2c"] and oid < vid)):
                continue
            oqe, on2 = q[oid]
            dot = sum(a * b for a, b in zip(qe, oqe))
            if n2 > 0 and on2 > 0 and dot / (n2**0.5 * on2**0.5) >= tau:
                found = True
                break
        assert found, f"dropped vec {vid} has no dominating neighbor"


# ------------------------------------------------------------ DSIR weights

def test_dsir_weights_match_python_reference(spark):
    import math

    docs = [
        (1, "hello world hello", "en"),
        (2, "bonjour le monde monde", "fr"),
        (3, "hello again world", "en"),
        (4, "le monde est grand", "fr"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    B, salt = 1024, "dsir"

    def bucket(term: str) -> int:
        return int(hashlib.md5(f"{term}:{salt}".encode()).hexdigest()[:8], 16) % B

    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for _, txt, lang in docs:
        for t in txt.split(" "):
            if not t:
                continue
            b = bucket(t)
            cr[b] = cr.get(b, 0) + 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    expected = {}
    for did, txt, lang in docs:
        toks = [t for t in txt.split(" ") if t]
        w = sum(
            math.log(ct.get(bucket(t), 0) + 1) - math.log(cr[bucket(t)] + 1)
            for t in toks
        ) + len(toks) * (math.log(nr + B) - math.log(nt + B))
        expected[did] = (len(toks), lang == "en", round(w, 4))
    got = {
        r["doc_id"]: (r["n_toks"], r["is_target"], r["log_w"])
        for r in text.dsir_logratio_weights(df).collect()
    }
    assert set(got) == set(expected)
    for did in expected:
        assert got[did][0] == expected[did][0]
        assert got[did][1] == expected[did][1]
        assert got[did][2] == pytest.approx(expected[did][2], abs=2e-4)


def test_dsir_target_docs_score_higher_on_average(spark):
    from database_collector_spark.workloads import _t

    out = text.dsir_logratio_weights(_t(spark, SF, "documents")).collect()
    tgt = [r["log_w"] / r["n_toks"] for r in out if r["is_target"]]
    raw = [r["log_w"] / r["n_toks"] for r in out if not r["is_target"]]
    assert tgt and raw
    # the defining property of the importance weight: the target slice
    # must look more target-like than the rest
    assert sum(tgt) / len(tgt) > sum(raw) / len(raw)


# ------------------------------------------------------ upsert compaction

def test_generation_fold_is_split_invariant(spark):
    """With tombstones retained through intermediate generations and
    unique versions, folding ANY batch partition of the change feed
    through scd1_merge yields the same final state as the one-shot merge
    — the order-independence the gate's 4-generation replay relies on."""
    rows = [
        (u, v, f"p{v}", "D" if v % 5 == 0 else "U")
        for u in range(20)
        for v in range(u, 40, 7)
    ]
    feed = spark.createDataFrame(
        rows, "user_id long, version long, payload string, op string"
    )
    one_shot = {
        (r["user_id"], r["version"])
        for r in scd1_merge(
            feed.limit(0), feed, key="user_id", version_col="version"
        ).collect()
    }
    for nb in (2, 3, 5):
        state = None
        for g in range(nb):
            batch = feed.filter(F.col("version") % nb == g)
            state = (
                batch
                if state is None
                else scd1_merge(state, batch, key="user_id", version_col="version")
            )
        got = {(r["user_id"], r["version"]) for r in state.collect()}
        assert got == one_shot, f"split {nb} diverged"


# ------------------------------------------------------- Bloom filter

def test_bloom_matches_python_reference_and_never_false_negatives(spark):
    from database_collector_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )

    m, k, salt = 630, 3, "t"
    members = [(i, f"item-{i}") for i in range(0, 40, 2)]
    probes = [(i, f"item-{i}") for i in range(40)]
    mdf = spark.createDataFrame(members, "doc_id long, it string")
    pdf = spark.createDataFrame(probes, "doc_id long, it string")
    bloom = bloom_build(mdf, "it", m_bits=m, k_hashes=k, salt=salt)
    got = {
        r["doc_id"]: r["bloom_hit"]
        for r in bloom_probe(
            bloom, pdf, "it", m_bits=m, k_hashes=k, salt=salt
        ).collect()
    }

    def positions(item: str):
        for j in range(k):
            h = int(
                hashlib.md5(f"{item}:{salt}:{j}".encode()).hexdigest()[:8], 16
            ) % m
            yield h // 63, h % 63

    words: dict[int, int] = {}
    for _, it in members:
        for w, b in positions(it):
            words[w] = words.get(w, 0) | (1 << b)
    for did, it in probes:
        expected = all(words.get(w, 0) & (1 << b) for w, b in positions(it))
        assert got[did] == expected, did
        if did % 2 == 0:
            assert got[did], f"false negative for member {did}"


def test_bloom_filters_merge_by_bit_or(spark):
    """The distributed-build property: Bloom(A) OR Bloom(B) ==
    Bloom(A union B) word-for-word."""
    from pyspark.sql import functions as F2

    from database_collector_spark.operators.sketches import bloom_build

    a = spark.createDataFrame([(f"x{i}",) for i in range(30)], "it string")
    b = spark.createDataFrame([(f"y{i}",) for i in range(30)], "it string")
    whole = {
        r["word"]: r["bits"]
        for r in bloom_build(a.union(b), "it", m_bits=630, k_hashes=3).collect()
    }
    pa = bloom_build(a, "it", m_bits=630, k_hashes=3)
    pb = bloom_build(b, "it", m_bits=630, k_hashes=3)
    merged = {
        r["word"]: r["bits"]
        for r in pa.union(pb)
        .groupBy("word")
        .agg(F2.expr("bit_or(bits)").alias("bits"))
        .collect()
    }
    assert merged == whole


# ------------------------------------------------- hypothesis properties

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_token = st.text(alphabet="abxy", min_size=1, max_size=2)
_doc = st.lists(_token, min_size=1, max_size=24)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=st.lists(_doc, min_size=2, max_size=5), k=st.integers(2, 4))
def test_cross_doc_spans_property(spark, docs, k):
    """Random small corpora with a tiny alphabet (duplicated shingles
    arise naturally) agree with the brute-force reference for every k —
    island boundaries, within-doc-only repeats, and short docs
    included."""
    texts = {i: " ".join(toks) for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dedup.cross_doc_duplicate_spans(df, k=k).collect()
    }
    assert got == _py_spans(texts, k)


# ------------------------------------------------------- spearman_corr

def _py_spearman(xs: list[float], ys: list[float]):
    """Exact tie-corrected Spearman via Fractions over doubled average
    ranks (Pearson on average ranks), None when either side is
    constant — the reference the DECIMAL-sum gate must reproduce."""
    from fractions import Fraction

    def dbl_ranks(vs):
        # 2 * average rank = |<v|*2 + |=v| + 1, exact in int
        return [
            2 * sum(1 for o in vs if o < v) + sum(1 for o in vs if o == v) + 1
            for v in vs
        ]

    rx, ry = dbl_ranks(xs), dbl_ranks(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(r * r for r in rx)
    syy = sum(r * r for r in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    den_x, den_y = n * sxx - sx * sx, n * syy - sy * sy
    if den_x <= 0 or den_y <= 0:
        return None
    num = Fraction(n * sxy - sx * sy)
    import math

    return float(num) / (math.sqrt(den_x) * math.sqrt(den_y))


def test_spearman_matches_fraction_reference_with_heavy_ties(spark):
    """Synthetic tie-heavy groups (few distinct values over many rows —
    the l_quantity shape) plus a constant column: the gate's
    doubled-rank DECIMAL pipeline must match the Fraction reference to
    double precision, and the zero-variance guard must emit NULL."""
    import math

    from database_collector_spark import workloads_r11

    rows = []
    # group "t": heavy ties, deterministic pseudo-random but hardcoded
    xs = [1, 2, 2, 3, 1, 2, 3, 3, 1, 2, 2, 1]
    ys = [5, 5, 7, 9, 5, 7, 9, 5, 9, 7, 5, 7]
    rows += [("t", float(x), float(y)) for x, y in zip(xs, ys)]
    # group "c": constant x -> zero variance -> NULL
    rows += [("c", 4.0, float(y)) for y in (1, 2, 3, 4)]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        # the gate reads lineitem from the sf dir; write our frame there
        df.write.parquet(f"{d}/lineitem.parquet")
        out = {
            r["l_returnflag"]: (r["n"], r["spearman_qp"])
            for r in workloads_r11.q_spearman_corr(spark, d).collect()
        }
    ref = _py_spearman([float(x) for x in xs], [float(y) for y in ys])
    n_t, rho_t = out["t"]
    assert n_t == len(xs)
    assert math.isclose(rho_t, ref, rel_tol=0, abs_tol=5e-7)  # round(.,6)
    n_c, rho_c = out["c"]
    assert n_c == 4 and rho_c is None


def test_spearman_perfect_monotone_is_exactly_one(spark):
    """A strictly increasing pair (no ties) must give rho = 1.0 EXACTLY
    — the integer pipeline leaves nothing to rounding."""
    from database_collector_spark import workloads_r11

    rows = [("m", float(i), float(i * i)) for i in range(1, 30)]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, l_extendedprice double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/lineitem.parquet")
        [r] = workloads_r11.q_spearman_corr(spark, d).collect()
    assert r["spearman_qp"] == 1.0


# --------------------------------------------- cross_source_dup_matrix

def test_cross_source_matrix_is_consistent_with_pair_list(spark):
    """The matrix is a lossless rollup of the verified pair list:
    normalized cells (src_lo <= src_hi), pair_count sums to the total
    verified pair count, and each cell's docs_involved matches a direct
    recount."""
    from database_collector_spark import workloads_r11
    from database_collector_spark.workloads import _t

    sf = SF
    cells = workloads_r11.q_cross_source_dup_matrix(spark, sf).collect()
    assert all(r["src_lo"] <= r["src_hi"] for r in cells)

    docs = _t(spark, sf, "documents")
    pairs = dedup.minhash_lsh_dedup(docs).collect()
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    assert sum(r["pair_count"] for r in cells) == len(pairs)
    by_cell: dict[tuple[str, str], set[int]] = {}
    cnt: dict[tuple[str, str], int] = {}
    for p in pairs:
        a, b = src[p["doc_a"]], src[p["doc_b"]]
        cell = (min(a, b), max(a, b))
        cnt[cell] = cnt.get(cell, 0) + 1
        by_cell.setdefault(cell, set()).update((p["doc_a"], p["doc_b"]))
    got = {(r["src_lo"], r["src_hi"]): (r["pair_count"], r["docs_involved"]) for r in cells}
    assert got == {c: (cnt[c], len(ds)) for c, ds in by_cell.items()}


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2", "g3"]),
            st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            st.integers(-50, 50),
        ),
        min_size=2,
        max_size=60,
    )
)
def test_spearman_by_group_property(spark, data):
    """Random multi-group frames — negatives (the signum/log1p path),
    duplicate-heavy integer y (ties), uneven group sizes — must match
    the exact Fraction-arithmetic reference per group; groups with a
    constant column yield NULL."""
    import math

    from database_collector_spark.operators.ranking import spearman_by_group

    df = spark.createDataFrame(
        [(g, x, float(y)) for g, x, y in data], "g string, x double, y double"
    )
    got = {
        r["g"]: (r["n"], r["spearman"])
        for r in spearman_by_group(df, "g", "x", "y").collect()
    }
    by_g: dict[str, list[tuple[float, float]]] = {}
    for g, x, y in data:
        by_g.setdefault(g, []).append((x, float(y)))
    assert set(got) == set(by_g)
    for g, pts in by_g.items():
        n, rho = got[g]
        assert n == len(pts)
        ref = _py_spearman([p[0] for p in pts], [p[1] for p in pts])
        if ref is None:
            assert rho is None, (g, rho)
        else:
            assert rho is not None and math.isclose(
                rho, ref, rel_tol=0, abs_tol=5e-7
            ), (g, rho, ref)


def test_dsir_accepts_column_predicate_as_target_filter(spark):
    """target_filter takes a Column predicate (preferred, no SQL
    parsing — r10 ADVICE trusted-input contract); the raw-SQL string
    form now requires an explicit allow_sql_string opt-in (r11 ADVICE)
    and scores identically when opted into; unopted strings fail fast."""
    import pytest

    docs = [
        (1, "hello world hello", "en"),
        (2, "bonjour le monde monde", "fr"),
        (3, "hello again world", "en"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    with pytest.raises(ValueError, match="allow_sql_string"):
        text.dsir_logratio_weights(df, target_filter="lang = 'en'")
    via_str = {
        r["doc_id"]: (r["is_target"], r["log_w"])
        for r in text.dsir_logratio_weights(
            df, target_filter="lang = 'en'", allow_sql_string=True
        ).collect()
    }
    via_col = {
        r["doc_id"]: (r["is_target"], r["log_w"])
        for r in text.dsir_logratio_weights(
            df, target_filter=F.col("lang") == "en"
        ).collect()
    }
    via_default = {
        r["doc_id"]: (r["is_target"], r["log_w"])
        for r in text.dsir_logratio_weights(df).collect()
    }
    assert via_str == via_col == via_default
    assert via_col[1][0] is True and via_col[2][0] is False
