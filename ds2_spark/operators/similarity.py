"""Similarity search over embedding columns (array<float>).

Paths:
  brute_force_topk  exact cosine top-k per query via join + window —
                    the correctness baseline (SQL-expressible);
  lsh_topk          random-hyperplane LSH buckets (sign bits of dot
                    products with seeded planes) -> candidates joined
                    on bucket key -> exact rerank. Scale path: the
                    shuffle carries (bucket, id) not vectors; probes
                    multiple bucket permutations for recall;
  ivf_topk          IVF coarse quantizer (seeded k-means on a bounded
                    sample, GEMM centroid assign, nprobe cell join) —
                    the other standard ANN scale shape;
  lsh_neardup_pairs / cosine_neardup_pairs
                    embedding-cosine near-dup pairs for dedup (scale
                    path / bounded exact twin).

Every scale path shares one discipline: vectors cross the wire once
(into the bucketing UDF), joins move ids only, candidate sets are
verified/reranked with exact cosine, hot buckets are capped.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve here
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, cosine_similarity_arrow


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    qid: str = "query_id",
    cid: str = "neighbor_id",
    qv: str = "qv",
    cv: str = "cv",
) -> DataFrame:
    sim = F.round(
        cosine_similarity(F.col(qv).cast("array<double>"), F.col(cv).cast("array<double>")),
        6,
    )
    pairs = queries.crossJoin(candidates).select(qid, cid, sim.alias("sim"))
    w = Window.partitionBy(qid).orderBy(F.desc("sim"), F.asc(cid))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def _plane_matrix(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.normal(0, 1, size=(n_planes, dim)).astype(np.float32)


def quantized_plane_matrix(
    dim: int, n_planes: int, n_tables: int, seed: int, scale: int = 1000
) -> np.ndarray:
    """Integer-valued hyperplanes for ALL tables stacked
    ([n_tables*n_planes, dim]): round(N(0,1)*scale). With embeddings
    quantized to floor(x*scale + 0.5) int64, every dot product is exact
    integer arithmetic — the same plane literals emitted into SQL give
    bit-identical bucket keys in any engine (the deterministic-oracle
    path for q_ann_lsh / q_lsh_neardup)."""
    stacked = np.concatenate(
        [_plane_matrix(dim, n_planes, seed + 1000 * t).astype(np.float64) for t in range(n_tables)]
    )
    return np.rint(stacked * scale).astype(np.int64)


def lsh_bucket_keys_udf(
    planes: np.ndarray,
    n_tables: int,
    n_planes: int,
    quantize_scale: int | None = None,
):
    """Bucket keys for ALL tables in ONE Arrow-batched NumPy GEMM.

    `planes` stacks every table's hyperplanes ([n_tables*n_planes,
    dim]); per batch: sign bits = M @ planes.T >= 0, packed per table
    into an integer, offset by table id — returns array<long> of
    length n_tables per row. One vectorized kernel replaces
    n_tables x n_planes interpreted zip_with/aggregate expressions
    per row (the round-1 hot spot).

    With `quantize_scale` set, `planes` must be integer-valued: each
    embedding is quantized to floor(x*scale + 0.5) int64 and the dot
    products are exact integer arithmetic — bit-for-bit reproducible
    in any engine (the deterministic-oracle path; see
    queries_catalog.vectors._lsh_keys_sql, which emits the same planes
    as SQL literals)."""
    from pyspark.sql.functions import pandas_udf

    pow2 = (1 << np.arange(n_planes, dtype=np.int64))
    offsets = np.arange(n_tables, dtype=np.int64) << np.int64(n_planes)
    planes_t = (
        planes.astype(np.int64).T if quantize_scale else planes.astype(np.float32).T
    )

    @pandas_udf("array<long>")
    def _keys(v: pd.Series) -> pd.Series:
        # guard zero-row Arrow batches and null embeddings: null rows
        # get a null key array (explode() then emits no candidate rows)
        if len(v) == 0:
            return pd.Series([], dtype="object")
        valid = v.notna().to_numpy()
        out = np.empty(len(v), dtype=object)
        out[~valid] = None
        if valid.any():
            if quantize_scale:
                # floor(x*s + 0.5): one tie rule shared verbatim with the
                # oracle SQL (FLOOR(x*s + 0.5)) — np.rint is half-to-even
                # but SQL round() is half-away-from-zero, so an exact .5
                # product would silently break the cross-engine guarantee
                m = np.floor(
                    np.array(v[valid].tolist(), dtype=np.float64) * quantize_scale
                    + 0.5
                ).astype(np.int64)
            else:
                m = np.array(v[valid].tolist(), dtype=np.float32)
            bits = (m @ planes_t) >= 0                      # [n, T*B]
            vals = bits.reshape(len(m), n_tables, n_planes) @ pow2  # [n, T]
            vals = vals + offsets[None, :]
            for j, i in enumerate(np.flatnonzero(valid)):
                out[i] = vals[j]
        return pd.Series(out)

    return _keys


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    qid: str = "query_id",
    cid: str = "neighbor_id",
    qv: str = "qv",
    cv: str = "cv",
    max_bucket: int | None = None,
    planes: np.ndarray | None = None,
    quantize_scale: int | None = None,
    rerank: str = "arrow",
) -> DataFrame:
    """Approximate top-k: union of n_tables independent LSH bucketings,
    exact cosine rerank on the bucket-colliding candidates.

    Scale contract (the shuffle carries ids, never vectors):
      1. bucket keys via one NumPy GEMM pandas UDF (all tables at once);
      2. explode to (bkey:long, id) rows — the ONLY thing that joins;
      3. distinct on (query_id, neighbor_id) id pairs;
      4. vectors re-joined exactly once for the Arrow-vectorized
         cosine rerank.
    Hot buckets (skewed key popularity) are AQE skew-join territory;
    `max_bucket` additionally caps a CANDIDATE bucket's size so one
    hot key cannot yield O(bucket^2) id pairs before rerank.

    Integer `planes` + `quantize_scale` make bucket keys bit-exact
    across engines and `rerank="hof"` swaps the NumPy rerank for the
    JVM fold that SQL oracles reproduce exactly — together they turn
    this from rows-only-checkable into an exact-oracle query
    (quantized_plane_matrix; queries_catalog.vectors.q_ann_lsh)."""
    if planes is None:
        planes = np.concatenate(
            [_plane_matrix(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        )
    keys = lsh_bucket_keys_udf(planes, n_tables, n_planes, quantize_scale=quantize_scale)
    q_keys = queries.select(F.col(qid), F.explode(keys(F.col(qv))).alias("bkey"))
    c_keys = candidates.select(F.col(cid), F.explode(keys(F.col(cv))).alias("bkey"))
    if max_bucket is not None:
        csz = F.count("*").over(Window.partitionBy("bkey"))
        c_keys = c_keys.withColumn("_bsz", csz).filter(
            F.col("_bsz") <= max_bucket
        ).drop("_bsz")
    hits = q_keys.join(c_keys, "bkey").select(qid, cid).distinct()
    pairs = (
        hits.join(queries.select(qid, qv), qid)
        .join(candidates.select(cid, cv), cid)
    )
    if rerank == "hof":
        sim = F.round(
            cosine_similarity(
                F.col(qv).cast("array<double>"), F.col(cv).cast("array<double>")
            ),
            6,
        )
    else:
        sim = F.round(cosine_similarity_arrow()(F.col(qv), F.col(cv)), 6)
    w = Window.partitionBy(qid).orderBy(F.desc("sim"), F.asc(cid))
    return (
        pairs.select(qid, cid, sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def lsh_neardup_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 6,
    seed: int = 42,
    max_bucket: int = 10_000,
    planes: np.ndarray | None = None,
    quantize_scale: int | None = None,
    verify: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the SCALE path for
    cosine_neardup_pairs (reference rare-example machinery at corpus
    scale, docta/core/get_lr_score.py:13-51 embeddings).

    Shape (no cross join anywhere):
      1. bucket keys for all tables in one NumPy GEMM pandas UDF
         (lsh_bucket_keys_udf) — vectors touched once;
      2. explode to (bkey:long, id) rows — the ONLY thing that
         self-joins; bucket size capped at `max_bucket` (hot/spam
         buckets dropped, members can still pair via other tables);
      3. distinct (id_a, id_b) candidate pairs, id_a < id_b;
      4. vectors re-joined exactly once; exact cosine >= threshold
         verify — `verify="arrow"` (NumPy batch kernel, default) or
         `"hof"` (JVM zip_with/aggregate fold — the SQL-exact twin
         used by the deterministic contract oracle).

    Recall is probabilistic (1-(1-(1-θ/π)^P)^T per pair) — pinned vs
    the brute-force twin in tests/test_dedup_similarity.py. Passing
    integer `planes` + `quantize_scale` makes bucket keys bit-exact
    across engines (see quantized_plane_matrix).

    Candidate generation is a per-bucket tiled-GEMM PREFILTER
    (guide §3.2 shape — cheap bound first, exact verify after): each
    bucket group computes pairwise cosines in float64 NumPy and emits
    only id pairs with raw sim >= threshold - 1e-6; the exact verify
    below then recomputes sim per surviving pair with the declared
    kernel (`arrow` einsum or the SQL-exact `hof` fold) and applies
    round(.,6) >= threshold. The 1e-6 margin dwarfs f64 summation
    error (~1e-12 at dim 64), so the final output is IDENTICAL to
    verifying every bucket-colliding pair — but the distinct/join/
    verify stages downstream see ~the hit set, not O(bucket^2) rows
    (at sf1.0: 0.5M candidate rows instead of 19.6M). The bucket-size
    cap moves inside the group (same drop-the-bucket semantics as the
    former window filter, one less shuffle)."""
    if planes is None:
        planes = np.concatenate(
            [_plane_matrix(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        )
    keys = lsh_bucket_keys_udf(planes, n_tables, n_planes, quantize_scale=quantize_scale)
    keyed = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("_v"),
        F.explode(keys(F.col(vec_col))).alias("bkey"),
    )
    id_t = emb.schema[id_col].dataType.simpleString()
    prefilter = float(threshold) - 1e-6
    cap = max_bucket
    tile = 1536  # 1536^2 float64 sims = 18MB per tile (NOTES #1 bound)

    def _bucket_hits(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pdf["id"][:0], "id_b": pdf["id"][:0]})
        m = len(pdf)
        if m < 2 or m > cap:  # oversized bucket dropped, as before
            return empty
        pdf = pdf.sort_values("id", kind="mergesort")
        ids = pdf["id"].to_numpy()
        v = np.array(pdf["_v"].tolist(), dtype=np.float64)
        v /= np.maximum(
            np.linalg.norm(v, axis=1, keepdims=True), 1e-12
        )
        outs_a, outs_b = [], []
        for bi in range(0, m, tile):
            ai = v[bi : bi + tile]
            for bj in range(bi, m, tile):
                s = ai @ v[bj : bj + tile].T
                if bi == bj:
                    # keep strictly-upper positions only (i < j, ids
                    # sorted, so id_a <= id_b)
                    s[np.tril_indices_from(s)] = -2.0
                hit_i, hit_j = np.nonzero(s >= prefilter)
                a, b = ids[hit_i + bi], ids[hit_j + bj]
                # id_a < id_b by VALUE: a duplicated id in one bucket
                # is never paired with itself
                keep = a < b
                if keep.any():
                    outs_a.append(a[keep])
                    outs_b.append(b[keep])
        if not outs_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(outs_a),
                "id_b": np.concatenate(outs_b),
            }
        )

    cand = (
        keyed.groupBy("bkey")
        .applyInPandas(_bucket_hits, schema=f"id_a {id_t}, id_b {id_t}")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")
    if verify == "hof":
        sim = F.round(
            cosine_similarity(
                F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")
            ),
            6,
        )
    else:
        sim = F.round(cosine_similarity_arrow()(F.col("va"), F.col("vb")), 6)
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _kmeans_centroids(
    sample: np.ndarray, n_centroids: int, seed: int, iters: int = 8
) -> np.ndarray:
    """Seeded Lloyd's k-means on an L2-normalized sample (driver-side,
    bounded input — the IVF coarse quantizer's training step). Cosine
    assignment == argmax dot product on normalized vectors."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    c = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)].copy()
    for _ in range(iters):
        assign = (x @ c.T).argmax(axis=1)
        for j in range(len(c)):
            m = assign == j
            if m.any():
                v = x[m].mean(axis=0)
                c[j] = v / max(np.linalg.norm(v), 1e-12)
    return c.astype(np.float32)


def _ivf_assign_udf(centroids: np.ndarray, nprobe: int, quantize_scale: int | None = None):
    """array<long> of the `nprobe` nearest centroid ids per vector —
    one NumPy GEMM per Arrow batch (same shape as lsh_bucket_keys_udf;
    null embeddings -> null, dropped by the downstream explode).

    With `quantize_scale`, centroids must be integer-valued and each
    vector is quantized to floor(x*scale + 0.5) int64: assignment argmax is
    exact integer arithmetic (ties to the lower centroid id — the same
    total order `ORDER BY dot DESC, cent ASC` gives in SQL), making
    the assignment bit-identical cross-engine (the oracle twin path;
    no L2 normalization, which is a monotone no-op for argmax only on
    normalized data and irrelevant for a fixed quantizer)."""
    from pyspark.sql.functions import pandas_udf

    if quantize_scale:
        ct = centroids.T.astype(np.int64)
    else:
        ct = centroids.T.astype(np.float32)

    @pandas_udf("array<long>")
    def _assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        valid = v.notna().to_numpy()
        out = np.empty(len(v), dtype=object)
        out[~valid] = None
        if valid.any():
            if quantize_scale:
                # same floor(x*s + 0.5) tie rule as lsh_bucket_keys_udf /
                # the oracle SQL (see comment there)
                m = np.floor(
                    np.array(v[valid].tolist(), dtype=np.float64) * quantize_scale
                    + 0.5
                ).astype(np.int64)
            else:
                m = np.array(v[valid].tolist(), dtype=np.float32)
                m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            sims = m @ ct                                   # [n, C]
            # stable sort => ties resolve to the LOWER centroid id
            top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(np.int64)
            for j, i in enumerate(np.flatnonzero(valid)):
                out[i] = top[j]
        return pd.Series(out)

    return _assign


def _train_vectors(
    candidates: DataFrame, cv: str, train_sample: int, seed: int
) -> np.ndarray:
    """Bounded SEEDED-uniform training sample for the coarse quantizer.
    `limit()` alone would take whichever partitions answer first, so on
    a sorted or skewed table the k-means centroids would train on a
    biased slice and recall would quietly degrade; `sample(fraction,
    seed)` draws from every partition (same bounded-collect pattern as
    plans.curation.collect_pool). The final cut to exactly
    train_sample rows is a TakeOrdered by xxhash64(vector) — a
    partitioning-independent tiebreak over the (bounded, ~1.15x
    oversampled) sample, so the trained centroids are DETERMINISTIC
    for a given (table, seed), not whichever-partitions-answered-first
    (a bare limit() after sample() would reintroduce run dependence)."""
    pool = candidates.select(cv)
    n = pool.count()
    if n > train_sample:
        pool = (
            pool.sample(fraction=min(1.0, 1.15 * train_sample / n), seed=seed)
            .orderBy(F.xxhash64(F.col(cv)))
            .limit(train_sample)
        )
    return np.array(pool.toPandas()[cv].tolist(), dtype=np.float32)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 10,
    n_centroids: int = 64,
    nprobe: int = 8,
    train_sample: int = 20_000,
    seed: int = 42,
    qid: str = "query_id",
    cid: str = "neighbor_id",
    qv: str = "qv",
    cv: str = "cv",
    max_bucket: int | None = None,
    centroids: np.ndarray | None = None,
    quantize_scale: int | None = None,
    rerank: str = "arrow",
) -> DataFrame:
    """IVF approximate top-k — the coarse-quantizer alternative to
    lsh_topk (both are named scale paths in the training-data brief):

      1. TRAIN: seeded k-means on a bounded candidate sample
         (driver-side, <= train_sample rows — same bounded-collect
         contract as the calibration pool);
      2. ASSIGN: every candidate to its nearest centroid, every query
         to its `nprobe` nearest — one GEMM pandas UDF each, so the
         shuffle carries (centroid_id, id) pairs only, never vectors;
      3. PROBE: equi-join on centroid_id (queries fan out nprobe
         ways), distinct id pairs, optional `max_bucket` cap against
         degenerate centroid cells;
      4. exact Arrow-batched cosine rerank, row_number top-k.

    Recall grows with nprobe (nprobe == n_centroids degenerates to
    exact brute force through a 1:C join); pinned vs brute force in
    tests/test_dedup_similarity.py.

    Passing explicit `centroids` skips the k-means training (any
    fixed coarse quantizer is a valid IVF partition); with integer
    centroids + `quantize_scale` the assignment is exact integer
    arithmetic and `rerank="hof"` uses the SQL-reproducible cosine —
    the deterministic-oracle twin (queries_catalog.vectors.q_ivf_topk)."""
    if centroids is None:
        sample = _train_vectors(candidates, cv, train_sample, seed)
        cents = _kmeans_centroids(sample, n_centroids, seed)
    else:
        cents = centroids
    c_assign = _ivf_assign_udf(cents, 1, quantize_scale)
    q_assign = _ivf_assign_udf(cents, min(nprobe, len(cents)), quantize_scale)
    c_keys = candidates.select(
        F.col(cid), F.explode(c_assign(F.col(cv))).alias("cent")
    )
    if max_bucket is not None:
        # truncate an oversized cell to a deterministic max_bucket-member
        # prefix instead of dropping it: candidates live in exactly ONE
        # cell here (unlike the multi-table LSH paths), so a dropped cell
        # would make every member permanently unreachable from all
        # queries. Truncation bounds per-query work; members beyond the
        # cap still lose recall (disclosed — a persistently hot cell
        # means the quantizer wants more centroids).
        rk = F.row_number().over(Window.partitionBy("cent").orderBy(cid))
        c_keys = c_keys.withColumn("_rk", rk).filter(
            F.col("_rk") <= max_bucket
        ).drop("_rk")
    q_keys = queries.select(
        F.col(qid), F.explode(q_assign(F.col(qv))).alias("cent")
    )
    hits = q_keys.join(c_keys, "cent").select(qid, cid).distinct()
    pairs = (
        hits.join(queries.select(qid, qv), qid)
        .join(candidates.select(cid, cv), cid)
    )
    if rerank == "hof":
        sim = F.round(
            cosine_similarity(
                F.col(qv).cast("array<double>"), F.col(cv).cast("array<double>")
            ),
            6,
        )
    else:
        sim = F.round(cosine_similarity_arrow()(F.col(qv), F.col(cv)), 6)
    w = Window.partitionBy(qid).orderBy(F.desc("sim"), F.asc(cid))
    return (
        pairs.select(qid, cid, sim.alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= t).
    Brute force — the bounded-input correctness twin of
    lsh_neardup_pairs (which is the unbounded-corpus scale path:
    bucket self-join on ids only, exact verify on candidates)."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = F.round(
        cosine_similarity(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")),
        6,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
