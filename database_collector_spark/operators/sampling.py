"""Weighted sampling without replacement (Efraimidis–Spirakis A-ES),
derandomized with md5-derived uniforms.

The curation tier already has uniform md5-order sampling and md5-prefix
mixture weighting (workloads_text.py / curation.py); this adds the
WEIGHTED-item form — sample k documents with probability proportional
to a per-row weight (e.g. length-proportional sampling for token-budget
curation) — as one scan + a global top-k, no shuffle of the corpus.

Algorithm (Efraimidis & Spirakis 2006): assign each item the key
``-ln(u) / w`` with u ~ U(0,1); the k SMALLEST keys are exactly a
weighted sample without replacement. Derandomization: u is built from
the md5 of the id — the first 8 hex digits as a 32-bit integer v
(engine-exact), then ``u = (v + 0.5) / 2^32``. v + 0.5 and the divide
by a power of two are both exact in double, so u is bit-identical
across engines; ``ln`` is the single inexact operation. Determinism
margin: adjacent order statistics of 1/|corpus|-spaced exponentials
differ by ≫ 2^-40 while cross-engine libm ln differs by ≤ 1 ulp
(~1e-16 relative), so neither the rank cut nor the 6-dp rounded output
can flip in practice (same exact-intermediates convention as
char_entropy's log2).

Scale: key assignment is map-side (one md5 + one ln per row); the k
smallest keys are a sort-limit, which Spark executes as per-partition
TakeOrdered heaps + a driver merge of k·p rows — no corpus shuffle, no
full sort. This is THE way to draw a weighted 10M-doc sample from a
100 TB corpus in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_key(id_col: str, weight_col: str, salt: str = "") -> F.Column:
    """The A-ES key ``-ln(u)/w`` with the md5-derived exact uniform."""
    hx = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    v = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    u = (v + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(u) / F.col(weight_col)


def weighted_reservoir(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """k-item weighted sample without replacement: P(item in sample) is
    proportional-to-weight (exactly, sequentially over the k draws).
    Returns (id, weight, sample_key rounded to 6) for the k smallest
    keys; deterministic for a fixed (corpus, salt). Items with
    non-positive weight are excluded up front — the A-ES semantics
    (zero weight = never drawn), and the guard that keeps the key's
    divide from aborting under ANSI on a zero-weight row."""
    key = sample_key(id_col, weight_col, salt)
    return (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.asc("_key"), F.asc(id_col))
        .limit(k)
        .select(id_col, "weight", F.round("_key", 6).alias("sample_key"))
    )


def weighted_reservoir_by(
    df: DataFrame,
    k: int,
    weight_col: str,
    *,
    by: str,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-GROUP k-item weighted sample without replacement — the
    stratified form of :func:`weighted_reservoir` (e.g. k quality-
    weighted exemplar docs per language for eval-set construction).
    Same Efraimidis–Spirakis keys over md5-derived exact uniforms;
    selection is the k smallest keys WITHIN each ``by`` group via one
    group-keyed window — ONE shuffle regardless of group count, versus
    a per-group TakeOrdered loop which would schedule |groups| jobs.
    Deterministic for a fixed (corpus, salt); ties impossible (id in
    the ordering). Non-positive weights are excluded up front, same
    contract as :func:`weighted_reservoir`."""
    from pyspark.sql.window import Window

    key = sample_key(id_col, weight_col, salt)
    w = Window.partitionBy(by).orderBy(F.asc("_key"), F.asc(id_col))
    return (
        df.where(F.col(weight_col) > 0)
        .select(
            F.col(by),
            F.col(id_col),
            F.col(weight_col).alias("weight"),
            key.alias("_key"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            by, id_col, "weight",
            F.round("_key", 6).alias("sample_key"),
            F.col("rn").cast("int").alias("draw"),
        )
    )
