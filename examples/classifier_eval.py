"""Classifier-evaluation report: everything a quality model must prove
BEFORE its scores are allowed to gate a 100 TB corpus — composed from
the engine's classifier-evaluation tier.

    hashed quality classifier over documents
      -> exact overall AUC           (ranking.auc_exact: can the score
         rank a kept doc above a dropped one at all?)
      -> exact per-language AUC      (ranking.auc_by_group: is it as
         good on 'fr' as on 'en'? — the fairness slice the overall
         number hides)
      -> calibration curve           (ranking.calibration_curve: when
         the model says 0.8, is it right 80% of the time? percentile
         bins with tie classes kept whole)
      -> Cohen's kappa               (ranking.cohen_kappa: does the
         model's hard keep/drop vote agree with ground truth beyond
         chance? — the number annotation-vendor reviews report)
      -> KS separation               (ranking.ks_statistic: the single
         best operating point's worth of pos/neg separation)
      -> MCC per language            (ranking.mcc: the imbalance-honest
         confusion summary of the hard vote)
      -> Brier + ECE/MCE             (ranking.brier_score/ece_report
         over the integer hard-sigmoid milli-probability: is the
         model over-confident, and by how much per bin?)
      -> PR sweep -> chosen cutoff   (ranking.pr_curve: the report a
         gating run actually reads — pick the bin whose threshold
         maximizes F1, know what it keeps and what it costs)
      -> lift of the top decile      (ranking.lift_curve: how much
         denser are positives in the top 10% than the base rate)

Run:  python examples/classifier_eval.py [sf_dir] [n_bins]
Defaults: /root/testdata/sf0.001 and 10 bins.

Every step is the same public API the driver gates exercise
(quality_classifier, auc_scores, auc_by_group, calibration_curve,
cohen_kappa);
this file adds no logic — it shows the composition a model-gating
review actually runs. Ground truth here is the fixture's embedding
label (>= 5), the same proxy the gates check against.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from database_collector_spark.operators import ranking, text
from database_collector_spark.session import get_spark
from database_collector_spark.workloads import _t


def run_eval(spark, sf_dir: str, n_bins: int) -> dict:
    docs = _t(spark, sf_dir, "documents")

    # the model under review: the engine's hashed linear quality gate.
    # score = logit_milli / (1000 * n_feats) — the exact-integer form
    # the calibration gate uses (monotone in the model's p_keep).
    clf = (
        text.hashed_classifier(docs, n_buckets=4096, salt="clf", bigrams=True)
        .where(F.col("n_feats") > 0)
        .select(
            "doc_id",
            (F.col("logit_milli") / (F.lit(1000.0) * F.col("n_feats"))).alias(
                "score"
            ),
        )
    )
    truth = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"),
        (F.col("label") >= 5).cast("int").alias("label"),
    )
    lang = docs.select("doc_id", "lang")
    # three report actions share the scored frame — persist it so the
    # classifier's bigram tokenization and both joins run ONCE (the
    # full_pipeline.py convention)
    scored = clf.join(truth, "doc_id").join(lang, "doc_id").persist()

    overall = ranking.auc_exact(scored.select("score", "label")).collect()[0]
    by_lang = ranking.auc_by_group(
        scored.select("lang", "score", "label"), "lang"
    ).orderBy("lang")
    curve = ranking.calibration_curve(
        scored.select("score", "label"), n_bins=n_bins
    ).orderBy("bin")
    kappa = ranking.cohen_kappa(
        scored.select(
            "lang", (F.col("score") > 0).alias("keep"), (F.col("label") == 1).alias("truth")
        ),
        rater_a_col="keep",
        rater_b_col="truth",
        group_col="lang",
    ).orderBy("lang")

    ks = ranking.ks_statistic(scored.select("score", "label")).collect()[0]
    mcc = ranking.mcc(
        scored.select(
            "lang", (F.col("score") > 0).alias("keep"), (F.col("label") == 1).alias("truth")
        ),
        "keep",
        "truth",
        group_col="lang",
    ).orderBy("lang")
    # proper-scoring view over the QUANTIZED probability: hard-sigmoid
    # milli-prob p = clamp(500 + score_milli/2, 0, 1000) — all-integer,
    # so Brier/ECE accumulate exactly (the r14 gate idiom)
    p_milli = F.least(
        F.greatest(
            F.lit(500) + (F.col("score") * 500).cast("long"), F.lit(0)
        ),
        F.lit(1000),
    )
    probed = scored.select(p_milli.alias("p_milli"), "label")
    brier = ranking.brier_score(probed).collect()[0]
    ece = ranking.ece_report(probed, n_bins=n_bins).collect()[0]
    # the operating-point choice: sweep precision/recall per bin, pick
    # the F1-max threshold driver-side over the <= n_bins-row table
    pr = ranking.pr_curve(
        scored.select("score", "label"), n_bins=n_bins
    ).collect()
    def _f1(r):
        p, rec = r["precision"], r["recall"]
        return 2 * p * rec / (p + rec) if p and rec and (p + rec) else 0.0
    best = max(pr, key=_f1) if pr else None
    lift_rows = ranking.lift_curve(
        scored.select("score", "label"), n_bins=10
    ).collect()
    top_decile = max(lift_rows, key=lambda r: r["bin"]) if lift_rows else None

    report = {
        "overall": (overall["n_pos"], overall["n_neg"], overall["auc"]),
        "ks": ks["ks"],
        "mcc": [(r["lang"], r["mcc"]) for r in mcc.collect()],
        "brier": (brier["n"], brier["brier"]),
        "ece": (ece["ece"], ece["mce"]),
        "best_cut": None
        if best is None
        else (
            best["threshold"], best["pred_pos"], best["precision"],
            best["recall"], round(_f1(best), 6),
        ),
        "top_decile_lift": None if top_decile is None else top_decile["lift"],
        "by_lang": [
            (r["lang"], r["n_pos"], r["n_neg"], r["auc"]) for r in by_lang.collect()
        ],
        "calibration": [
            (r["bin"], r["n_docs"], r["n_pos"], r["pos_rate"], r["lo_score"],
             r["hi_score"])
            for r in curve.collect()
        ],
        "kappa": [
            (r["lang"], r["n"], r["agree"], r["kappa"]) for r in kappa.collect()
        ],
    }
    scored.unpersist()
    return report


def demo_feature_store(
    spark, sf_dir: str
) -> list[tuple[str, str, float, int]]:
    """The feature-store pattern one level up: score the hashed-classifier
    feature frame ONCE, persist it, and run four evaluation reads against
    the persisted frame — exactly like a production feature store where
    evaluations read a scored table instead of re-running the model. The
    first read pays the cold corpus fold (classifier tokenization + truth
    join); the second pays only the lang join layered on the warm truth
    frame; the last two are pure warm reads. Both frames are unpersisted
    before returning, so the session keeps no cached block from the demo.
    Returns [(name, label, seconds, rows)] in execution order.
    """
    import time

    from pyspark.sql import functions as F

    from database_collector_spark.operators import ranking
    from database_collector_spark.workloads_eval import clf_truth_frame

    truth = clf_truth_frame(spark, sf_dir).persist()
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    by_lang = (
        truth.join(lang, "doc_id").where(F.col("lang").isNotNull()).persist()
    )
    reads = [
        (
            "auc_overall",
            "cold: classifier fold",
            lambda: ranking.auc_exact(
                truth.select(
                    F.expr("logit_milli div n_feats").alias("score"), "y"
                ),
                score_col="score",
                label_col="y",
            ),
        ),
        (
            "auc_by_lang",
            "cold: + lang join on the warm frame",
            lambda: ranking.auc_by_group(
                by_lang.select(
                    "lang",
                    F.expr("logit_milli div n_feats").alias("score"),
                    "y",
                ),
                "lang",
                score_col="score",
                label_col="y",
            ),
        ),
        (
            "class_balance",
            "warm read",
            lambda: by_lang.groupBy("lang", "y").count(),
        ),
        (
            "score_moments",
            "warm read",
            lambda: by_lang.groupBy("lang").agg(
                F.count("*").alias("n"),
                F.sum("logit_milli").alias("s1"),
                F.sum(F.col("logit_milli") * F.col("logit_milli")).alias("s2"),
            ),
        ),
    ]
    timings = []
    try:
        for name, label, mk in reads:
            t0 = time.time()
            rows = mk().collect()
            timings.append((name, label, time.time() - t0, len(rows)))
    finally:
        by_lang.unpersist()
        truth.unpersist()
    return timings


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_bins = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("classifier-eval-example")
    try:
        report = run_eval(spark, sf_dir, n_bins)
        n_pos, n_neg, auc = report["overall"]
        print("== classifier evaluation report ==")
        print(f"overall AUC: {auc} ({n_pos} pos / {n_neg} neg)")
        print("per-language AUC (the fairness slice):")
        for lang, p, n, a in report["by_lang"]:
            print(f"  {lang}: {a} ({p} pos / {n} neg)")
        print("calibration (bin, n, pos, observed rate, score range):")
        for b, nd, np_, rate, lo, hi in report["calibration"]:
            print(f"  bin {b}: n={nd} pos={np_} rate={rate} [{lo}, {hi}]")
        print("keep-vote agreement vs truth (Cohen's kappa, per lang):")
        for lang, n, agree, kap in report["kappa"]:
            print(f"  {lang}: kappa={kap} (agree {agree}/{n})")
        print(f"KS separation: {report['ks']}")
        print("MCC of the hard keep vote (per lang):")
        for lang, m in report["mcc"]:
            print(f"  {lang}: mcc={m}")
        bn, bs = report["brier"]
        print(f"Brier score (hard-sigmoid milli-prob, n={bn}): {bs}")
        e, m = report["ece"]
        print(f"calibration error: ECE={e} MCE={m}")
        if report["best_cut"] is not None:
            thr, kept, prec, rec, f1 = report["best_cut"]
            print(
                f"chosen cutoff (F1-max over PR sweep): threshold={thr} "
                f"keeps {kept} docs at precision={prec} recall={rec} f1={f1}"
            )
        print(f"lift of the top decile: {report['top_decile_lift']}")
        print("== feature store: each frame folds once ==")
        timings = demo_feature_store(spark, sf_dir)
        for name, label, sec, rows in timings:
            print(f"  {name}: {sec:.2f}s ({rows} rows) [{label}]")
        cold0 = timings[0][2]
        warm_max = max(sec for _, label, sec, _ in timings if label == "warm read")
        print(
            f"  classifier fold {cold0:.2f}s vs slowest pure-warm read "
            f"{warm_max:.2f}s — each frame was built once and later "
            "gates read the persisted feature store"
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
