"""Prototypicality scoring / semantic outlier detection.

The D4 / SemDeDup-family curation signal (Abbas et al. 2023,
Sorscher et al. 2022 "Beyond neural scaling laws"): score every
example by its cosine to its group's centroid; the LEAST prototypical
examples per group are semantic outliers (mislabeled, off-topic, or
rare — route to review or drop), and the MOST prototypical are
near-redundant cluster cores (candidates for downsampling). The
reference's long-tail rarity score (operators/longtail.py) measures
local density via kNN; this measures global cluster coherence — the
two are complementary and both feed selection.

Exactness contract (the LSH quantized-plane recipe applied to a
centroid): embeddings quantize to floor(x*scale + 0.5) int64 (the
shared cross-engine tie rule, NOTES.md #27), the group centroid is
represented by the element-wise integer SUM (same direction as the
mean — cosine is scale-invariant, so dividing by n is skipped and the
arithmetic stays integer), and every dot product is an exact int64.
The only float ops are the three int64 -> double casts, two sqrt and
one division, all IEEE-754 round-to-nearest-even — bit-identical in
Spark, NumPy, and DuckDB. Past 2^53 a cast is no longer exact, but it
rounds the same way in all three (Java's long-to-double, C's on IEEE
hardware; checked on 4,008 values above 2^53, ties included), so the
engines still agree bit for bit.

Bound: the integer ops (the element-wise centroid sums sv, the group
norm ns = sum(sv^2), the per-row dxs = xq.S and nx = xq.xq) run in
int64 under the session's ANSI mode (spark.sql.ansi.enabled, the
Spark 4 default), so an overflow raises ARITHMETIC_OVERFLOW rather
than returning a wrapped score. ns = |S|^2 <= (n_group * max|xq|)^2
overflows first: for unit-norm embeddings |xq| <= scale + sqrt(d)/2,
so at scale=1000 no group under ~3.0e6 rows can raise, and only a
group whose vectors all point one way gets there.

Spark shape at 10^12 rows: posexplode -> two-level aggregation
(map-side combine bounds the shuffle to groups x d rows per
partition — the repetition-rules pattern), centroids are a
groups x (d+1) table broadcast back, and the per-row score is a
zip_with/aggregate over d elements (JVM, no Python). One shuffle
for the centroid agg, one for the per-group rank window; the
embedding array itself crosses the wire once (input scan -> score),
never in a join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _quantize(col, scale: int):
    return F.transform(
        col, lambda x: F.floor(x * scale + F.lit(0.5)).cast("long")
    )


def prototype_scores(
    vectors: DataFrame,
    group: str,
    id_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    scale: int = 1000,
    outlier_k: int = 10,
) -> DataFrame:
    """Per-row prototypicality: cos(quantized vector, group integer
    centroid-sum), plus the per-group ascending outlier rank (rank 1 =
    least prototypical) and an is_outlier flag for the k worst.

    Returns (group, id, proto_cos, outlier_rank, is_outlier)."""
    q = vectors.select(
        F.col(group), F.col(id_col), _quantize(F.col(vec_col), scale).alias("xq")
    )

    # element-wise integer centroid sums: posexplode -> (group, pos)
    # partial sums (map-side combine) -> per-group dense array + norm
    flat = q.select(group, F.posexplode("xq").alias("pos", "v"))
    persum = flat.groupBy(group, "pos").agg(F.sum("v").alias("sv"))
    cent = persum.groupBy(group).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "sv"))),
            lambda s: s["sv"],
        ).alias("sq"),
        F.sum(F.col("sv") * F.col("sv")).alias("ns"),
        F.count("*").alias("d_check"),
    )
    scored = q.join(F.broadcast(cent), group).select(
        group,
        id_col,
        F.aggregate(
            F.zip_with("xq", "sq", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dxs"),
        F.aggregate(
            F.transform("xq", lambda a: a * a),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("nx"),
        "ns",
    )
    scored = scored.withColumn(
        "proto_cos",
        F.col("dxs").cast("double")
        / (F.sqrt(F.col("nx").cast("double")) * F.sqrt(F.col("ns").cast("double"))),
    )
    win = Window.partitionBy(group).orderBy("proto_cos", id_col)
    return (
        scored.withColumn("outlier_rank", F.row_number().over(win))
        .select(
            group,
            id_col,
            "proto_cos",
            "outlier_rank",
            (F.col("outlier_rank") <= outlier_k).cast("int").alias("is_outlier"),
        )
    )
