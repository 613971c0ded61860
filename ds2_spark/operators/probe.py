"""Distributed trained linear quality probe (exact, oracle-checkable).

Production corpora gate documents with TRAINED quality classifiers
(fastText / linear probes over cheap features), not only hand rules —
DS2's curation pipeline consumes model-produced quality scores the
same way (reference: score_curation/*, which post-processes LLM rating
scores; here the model itself is trained in-cluster). This operator
trains a least-squares linear probe by full-batch gradient descent
where EVERY per-step gradient is a single map-side-combined Spark
aggregate — and, unusually, the whole training run is bit-exactly
reproducible and SQL-replayable:

- Per-row gradient contributions are integer-quantized BEFORE the
  sum: c_ij = floor(x_ij * (w·x_i - y_i) * quant + 0.5) summed as
  BIGINT. Integer addition is order-free, so the gradient does not
  depend on partitioning, task order, or combine tree — the classic
  nondeterminism of float reductions (NOTES.md #13) is gone by
  construction, not by tolerance.
- The driver update w <- w - lr * (g / (quant * n)) is a fixed
  sequence of IEEE-754 double ops on exactly-agreed operands, so an
  independent engine (DuckDB CTE rounds, NumPy replay) reproduces the
  ENTIRE weight trajectory bit-identically.
- The dot product w·x is a LEFT-FOLD ((w0*x0 + w1*x1) + w2*x2) + ...
  in every engine — float addition is not associative, so the
  association order is part of the spec (probe_dot_sql emits the same
  tree).

Scale shape: one aggregate scan per GD step (k steps = k jobs), d+1
BIGINT sums wide, map-side combined — no shuffle beyond the d-scalar
partial-agg exchange; the feature frame should be a pruned projection
(and persisted by the caller if the source scan is expensive). At
10^12 rows full-batch GD is k full scans — real systems subsample;
pass a pre-sampled frame (operators/sampling.stratified_sample is
shuffle-free) to bound cost without losing the exactness contract.

Features must be INTEGER-valued columns (counts, ratios pre-quantized
to ints): x in int keeps x*w exact-float and the quantized
contribution below 2^63 for |w·x - y| * max|x| * quant < 9.2e18.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUANT = 1_000_000


def _dot(feature_cols: list[str], w: list[float]) -> Column:
    """Left-fold dot product — association order is part of the spec."""
    acc = F.col(feature_cols[0]) * F.lit(w[0])
    for c, wj in zip(feature_cols[1:], w[1:]):
        acc = acc + F.col(c) * F.lit(wj)
    return acc


def probe_dot_sql(feature_cols: list[str], w: list[float]) -> str:
    """The IDENTICAL left-fold as a DuckDB SQL expression. Weights are
    printed with %.17g so the float64 round-trips exactly."""
    acc = f"({feature_cols[0]} * {w[0]:.17g})"
    for c, wj in zip(feature_cols[1:], w[1:]):
        acc = f"({acc} + {c} * {wj:.17g})"
    return acc


def train_linear_probe(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    steps: int = 6,
    lr: float = 0.5,
    quant: int = QUANT,
) -> list[float]:
    """k full-batch GD steps on 0.5*mean((w·x - y)^2); returns the
    final weights (floats). Deterministic for a given (table, params)
    regardless of partitioning. Rows with a NULL feature or label are
    the caller's bug — they would poison the sums; refuse loudly."""
    d = len(feature_cols)
    if d == 0 or steps < 1:
        raise ValueError("need >= 1 feature column and >= 1 step")
    nulls = df.filter(
        " OR ".join(f"({c} IS NULL)" for c in feature_cols + [label_col])
    ).limit(1).count()
    if nulls:
        raise ValueError("NULL feature/label rows — filter or impute first")
    n = df.count()
    if n == 0:
        raise ValueError("empty training frame")
    w = [0.0] * d
    for _ in range(steps):
        resid = _dot(feature_cols, w) - F.col(label_col)
        aggs = [
            F.sum(
                F.floor(F.col(c) * resid * F.lit(float(quant)) + F.lit(0.5))
                .cast("long")
            ).alias(f"g{j}")
            for j, c in enumerate(feature_cols)
        ]
        row = df.agg(*aggs).collect()[0]
        w = [
            wj - lr * (row[f"g{j}"] / (quant * n))
            for j, wj in enumerate(w)
        ]
    return w


def probe_score_col(feature_cols: list[str], w: list[float]) -> Column:
    """Inference: the trained score as a pure-JVM expression (same
    left-fold)."""
    return _dot(feature_cols, w)
