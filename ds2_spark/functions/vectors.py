"""Vector column functions over array<float> embeddings.

Built-in higher-order functions only (JVM-side) — cosine/dot/norm as
expressions (reference equivalent: docta/core/core_utils.py:6-11
cosine distance). The blocked-NumPy variants used inside kNN kernels,
L2 normalization included, live in operators/knn_kernels.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (norm(a) * norm(b))


def cosine_similarity_arrow():
    """Arrow-vectorized cosine similarity pandas UDF (double).

    The zip_with/aggregate HOF variant above is interpreted (not
    codegen'd) — fine for bounded slices with an exact-SQL oracle, but
    the wrong tool on wide candidate sets. This twin does one NumPy
    GEMM-shaped pass per Arrow batch and is the rerank path of
    operators/similarity.lsh_topk. Defined as a factory so import
    never needs an active SparkSession.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # zero-row Arrow batches and null vectors must not crash the
        # task: mirror the HOF twin's semantics (null in -> null out)
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        valid = (a.notna() & b.notna()).to_numpy()
        out = np.zeros(len(a))
        if valid.any():
            av = np.array(a[valid].tolist(), dtype=np.float64)
            bv = np.array(b[valid].tolist(), dtype=np.float64)
            num = np.einsum("ij,ij->i", av, bv)
            den = np.linalg.norm(av, axis=1) * np.linalg.norm(bv, axis=1)
            out[np.flatnonzero(valid)] = num / np.maximum(den, 1e-12)
        # nullable dtype so invalid rows surface as SQL NULL (the HOF
        # twin's null-in -> null-out), never a task-killing ValueError
        res = pd.Series(out, dtype="Float64")
        res[~valid] = pd.NA
        return res

    return _cos
