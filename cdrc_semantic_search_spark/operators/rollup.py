"""Group-by-document rollup — the reference's retrieval postprocessor
(/root/reference/src/model.py:13-32): group retrieved chunks by parent
document id, score = max(chunk scores) (model.py:28), text = concat of
chunk texts in a DETERMINISTIC order with the reference's separator
(model.py:27) — re-expressed as pure built-ins (no applyInPandas; the
grouped-map UDF would do the same work outside codegen).

The reference relies on retrieval order for the concat; Spark partition
order is nondeterministic, so the order key is explicit
(``order_cols``) — SURVEY §7 hard-part #1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cdrc_semantic_search_spark.functions.text import GROUP_CONCAT_SEP


def group_rollup(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    text_col: str,
    order_cols: list[str],
    sep: str = GROUP_CONCAT_SEP,
) -> DataFrame:
    """→ one row per group: max score + order-stable concatenated text.

    `array_sort(collect_list(struct(order, text)))` gives a deterministic
    concat under any physical row order; map-side partial aggregation
    still applies (collect_list merges are associative).
    """
    order_struct = F.struct(*[F.col(c) for c in order_cols], F.col(text_col).alias("__t"))
    return df.groupBy(*group_cols).agg(
        F.max(score_col).alias("score"),
        F.concat_ws(
            sep, F.transform(F.array_sort(F.collect_list(order_struct)), lambda s: s["__t"])
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
    )


def distinct_count_two_phase(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "n_distinct"
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, skew-safe: phase 1 dedupes on
    the COMPOSITE (key, value) — a hot key's values spread across the
    whole cluster instead of funneling into one reducer — phase 2 counts
    per key (map-side combinable). Same result as the single-phase
    ``countDistinct``, whose final aggregation must co-locate every
    distinct value of a hot key on one task.
    """
    return (
        df.select(F.col(key_col), F.col(value_col))
        .distinct()
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias(out_col))
    )


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Per-label embedding centroid → (label, n, centroid array<double>).

    posexplode → per-(label, dim) mean → re-assemble in dim order. Sums
    run in DECIMAL(38,18) so the result is independent of accumulation
    order (float sums are not — every engine/partitioning would disagree
    in the last ulps); the decimal sum is ROUNDed to 8 digits BEFORE the
    double cast (decimal→double is not correctly rounded above 2^53
    unscaled in some engines — NOTES.md) and the mean divides in double.
    The classic class-prototype builder for few-shot label propagation /
    centroid classifiers over an embedding table.
    """
    exploded = df.select(
        F.col(label_col).alias("label"), F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        F.round(
            F.round(F.sum(F.col("x").cast("decimal(38,18)")), 8).cast("double")
            / F.count(F.lit(1)),
            round_digits,
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_dim.groupBy("label")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid"),
        )
    )


def centroid_drift(
    a: DataFrame,
    b: DataFrame,
    label_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-label embedding-space drift between two snapshots: the cosine
    between each label's centroid in ``a`` and in ``b`` — the monitor an
    embedding-backed linker runs between index refreshes (a label whose
    prototype moved is a label whose members were re-written or whose
    encoder changed). → (label, n_a, n_b, cos_drift round 6); cosine 1.0
    = no movement.

    Exactness chain: per-(snapshot, label, dim) means use the SAME
    order-independent DECIMAL sums and round-6 components as
    :func:`label_centroids`; the dot/norm sums over those components run
    in DECIMAL again (products of round-6 values are exact in
    DECIMAL(38,12), so the 64-term sums are order-independent too); one
    sqrt/division tail in double, round 6.

    Scale shape (round 7): ONE pass — both snapshots are tagged and
    unioned before the explode, so a single (snap, label, dim)
    aggregation replaces two separate centroid jobs plus a centroid
    join (same shuffle bytes, half the job barriers; guide §2.4). The
    per-dim pivot and the label-level count table are |labels|·dim and
    |labels| rows — broadcast-sized. Null-padding semantics of the old
    ``arrays_zip`` form are preserved exactly: a dim present in only
    one snapshot still contributes to that side's norm but not to the
    dot product, and a label missing from either snapshot drops (inner
    join on the label-level counts).
    """
    tagged = (
        a.select(
            F.lit(0).alias("__snap"),
            F.col(label_col).alias("label"),
            F.col(vec_col).alias("__v"),
        ).unionByName(
            b.select(
                F.lit(1).alias("__snap"),
                F.col(label_col).alias("label"),
                F.col(vec_col).alias("__v"),
            )
        )
    )
    ex = tagged.select(
        "__snap", "label", F.posexplode(F.col("__v")).alias("dim", "x")
    )
    per = ex.groupBy("__snap", "label", "dim").agg(
        F.round(
            F.round(F.sum(F.col("x").cast("decimal(38,18)")), 8).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    lab_n = (
        per.groupBy("label")
        .agg(
            F.max(F.when(F.col("__snap") == 0, F.col("n"))).cast("long").alias("n_a"),
            F.max(F.when(F.col("__snap") == 1, F.col("n"))).cast("long").alias("n_b"),
        )
        .filter(F.col("n_a").isNotNull() & F.col("n_b").isNotNull())
    )
    piv = per.groupBy("label", "dim").agg(
        F.max(F.when(F.col("__snap") == 0, F.col("m")))
        .cast("decimal(19,6)")
        .alias("xa"),
        F.max(F.when(F.col("__snap") == 1, F.col("m")))
        .cast("decimal(19,6)")
        .alias("xb"),
    )
    agg = piv.join(lab_n, "label").groupBy("label", "n_a", "n_b").agg(
        F.sum(F.col("xa") * F.col("xb")).alias("dot"),
        F.sum(F.col("xa") * F.col("xa")).alias("naa"),
        F.sum(F.col("xb") * F.col("xb")).alias("nbb"),
    )
    return agg.select(
        "label", "n_a", "n_b",
        F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("naa").cast("double")) * F.sqrt(F.col("nbb").cast("double"))),
            6,
        ).alias("cos_drift"),
    )
