"""Regenerate PLANS.md: `.explain("formatted")` output for a
representative slice of the query surface, one per plan family.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)

The file exists so plan shapes are REVIEWED artifacts, not just pinned
assertions: tests/test_plan_quality.py enforces the invariants
(pushdown, broadcast, single-exchange, no row-Python, no cartesian);
this dump shows the full plans those assertions summarize.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# one representative per plan family
PICKS = [
    ("pricing_summary", "scan pushdown + partial agg (flagship)"),
    ("shipping_priority", "big-big shuffle join + broadcast dims"),
    ("label_enrich", "zero-shuffle enrichment projection"),
    ("dedup_minhash_lsh", "zero-shuffle signatures + bucketed band self-join"),
    ("heavy_hitters", "pre-shuffle MG candidates + broadcast exact recount"),
    ("ann_pq_adc", "broadcast codebooks + zero-shuffle encode + ADC window"),
    ("scd2_history", "union + single keyed window exchange (merge family)"),
    ("interval_join_events", "3-bucket-probe equi-join for a ±interval"),
    ("funnel_steps", "join-free event funnel (two shrinking exchanges)"),
    ("decile_stats", "distributed exact NTILE (range partition + offsets)"),
    ("bm25_scores", "term-pruned token shuffle + broadcast df/stats (IR tier)"),
    ("weighted_sample", "shuffle-free weighted reservoir (TakeOrdered heaps)"),
    ("zorder_layout", "codegen Morton OR-chain + 16-row locality aggregate"),
    ("seasonal_profile", "window and groupBy sharing one keyed exchange"),
    ("pit_join", "SCD-2 point-in-time lookup: equi-join + interval residual"),
    ("jaccard_join_exact", "prefix-filtered exact similarity join (AllPairs)"),
    ("triangle_count", "degree-ordered wedge join (triangle counting)"),
    ("skyline_orders", "Pareto frontier via single window sweep"),
    ("dist_drift", "one-scan drift audit; totals from bounded window"),
    ("m4_downsample", "mergeable per-bucket M4 extrema (one exchange, no window)"),
    ("kmv_intersection", "coordinated bottom-sketch join + exact twin"),
    ("corpus_shuffle", "sharded deterministic shuffle (no SinglePartition)"),
    ("ann_sq8_topk", "SQ8 code scan + exact rerank (broadcast queries)"),
    ("entity_resolution", "multi-key blocking joins + CC fixpoint"),
    ("rrf_fusion", "bounded top-k rank fusion (no corpus-wide window)"),
    ("dedup_containment", "directional containment over blocked pair counts"),
    # the r9 cohort, registered in round 9
    ("quality_classifier", "zero-shuffle hashed-model fold (fastText shape)"),
    ("jl_projection", "map-only JL projection (Exchange-free)"),
    ("embedding_outliers", "single-row stats broadcast + TakeOrdered top-n"),
    ("interval_outages", "join-free interval difference (window sweep)"),
    ("corpus_diff", "full-outer hash diff (texts never join)"),
    ("auc_scores", "value-domain-compressed Mann-Whitney U (exact AUC)"),
    # the r10 cohort, registered in round 10
    ("hll_sliding_windows", "hop-expand + mergeable register partial agg"),
    ("ann_ivfpq_adc", "IVFADC composite: broadcast cell equi-join ADC"),
    ("minhash_persist_incremental", "persisted-signature reuse band join"),
    ("token_budget_alloc", "all-integer largest-remainder apportionment"),
    ("pack_sequences", "hash-bucketed two-level packing prefix sum (r14)"),
]

# the r11 cohort, registered in round 11
PICKS += [
    ("substring_dedup", "positioned-shingle DF join + islands window"),
    ("semdedup_prune", "trained-cell self-join + dominance semi-join"),
    ("dsir_weights", "bounded hashed-model shuffle + broadcast join-back"),
    ("bloom_decontaminate", "bit_or word build + broadcast probe bool_and"),
]

# newer plan families, staged (gates.STAGED) and registered alike — one
# representative per family. bucketed_join_persist is omitted:
# constructing it writes warehouse tables as a side effect, which a
# plan dump should not do (its exchange-free SMJ plan is pinned in
# tests/test_bucketed.py instead).
STAGED_PICKS = [
    ("calibration_fixed_bins", "all-integer fixed-bin reliability (streamable)"),
    ("rule_attribution", "one-scan ordered rule funnel + stack unpivot"),
    ("ks_separation", "fused dual-counter prefix core (per-class CDFs)"),
    ("chi2_lang_source", "one-scan contingency: marginals from cell table"),
    ("fleiss_panel", "in-row 3-rater vote explode + bounded folds"),
    ("pack_chunks", "two-level prefix offsets + sequence() segment explode"),
    ("agreement_alpha", "m-grouped alpha folds over compressed votes"),
    ("table_profile", "one-scan multi-distinct Expand profile + stack unpivot"),
    ("fk_orphan_report", "distinct-key compression anti join (no fact-row join)"),
    ("range_splitters", "two-scan cell-refined equi-depth splitters (r18)"),
    ("group_mad", "two-phase rank-selection MAD (r19 robust stats)"),
]


def main() -> None:
    from database_collector_spark import gates
    from database_collector_spark.session import get_spark

    spark = get_spark("dump-plans")
    qs = gates.all_queries()
    out = [
        "# PLANS — formatted physical plans for one query per plan family",
        "",
        "Regenerate with `python tools/dump_plans.py` (sf0.001 inputs; plan",
        "shapes are SF-independent). Invariants are enforced by",
        "`tests/test_plan_quality.py`; this file is the human-readable half.",
        "",
    ]
    from database_collector_spark.workloads_r12 import clear_session_memo

    for name, why in PICKS + STAGED_PICKS:
        df = qs[name](spark, SF)
        if name in gates.STAGED:
            why = f"{why} [staged]"
        # evict the session feature-frame memo AFTER constructing the
        # pick (construction itself may register a persist with the
        # CacheManager) and BEFORE explain, so every dumped plan is the
        # canonical COLD plan, not an InMemoryRelation wrapper whose
        # shape depends on PICKS order (r14 review, two passes: the
        # clear-before-build form still dumped the pick's own cache)
        clear_session_memo(spark)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # scrub per-process artifact suffixes (workloads_r10's
        # _artifact_dir embeds os.getpid() in persisted-signature
        # paths) so regeneration never produces a meaningless diff —
        # PLANS.md is a reviewed artifact and must churn only when a
        # plan SHAPE changes (second review pass)
        text = re.sub(r"(_sf[0-9._]+)_\d+", r"\1_PID", buf.getvalue().strip())
        # plan_id / RDD ids are process-global monotone counters and
        # expression ids (#123) ride a global counter too: any upstream
        # construction (even a validation-time df.dtypes) shifts every
        # later id, churning hundreds of lines with zero shape change
        # (review passes 3+4). Canonicalize per section: first-seen
        # expression id -> sequential, absolute counters -> N.
        text = re.sub(r"plan_id=\d+", "plan_id=N", text)
        text = re.sub(r"(MapPartitionsRDD|ParallelCollectionRDD)\[\d+\]", r"\1[N]", text)
        ids: dict[str, str] = {}
        text = re.sub(
            r"#(\d+)",
            lambda m: ids.setdefault(m.group(1), f"#{len(ids)}"),
            text,
        )
        out.append(f"## {name} — {why}\n\n```\n{text}\n```\n")
        print(f"  dumped {name}", file=sys.stderr)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(PICKS) + len(STAGED_PICKS)} plans")


if __name__ == "__main__":
    main()
