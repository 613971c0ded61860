"""Vector search: brute-force kNN, cosine near-dup, LSH, IVF, PQ and
IVF-PQ, each on integer-exact contract configs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from .common import _t


@register(oracle="""
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 5),
             c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
                   FROM embeddings WHERE vec_id >= 5),
             p AS (
               SELECT query_id, neighbor_id,
                      round(list_dot_product(qv, cv) /
                            (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS sim
               FROM q CROSS JOIN c
             )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM p
        ) WHERE rk <= 3 ORDER BY query_id, rk
    """)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 brute-force cosine top-k: for query vectors (vec_id<5), top-3
    neighbors among the rest by cosine similarity (rounded before
    ranking; ties by neighbor id)."""
    from ..functions.vectors import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    sim = F.round(cosine_similarity(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")), 6)
    pairs = q.crossJoin(cand).select("query_id", "neighbor_id", sim.alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "sim", "rk")
        .orderBy("query_id", "rk")
    )


@register(oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE vec_id < 500)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
    FROM e a CROSS JOIN e b
    WHERE a.vec_id < b.vec_id
      AND round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.30
    ORDER BY id_a, id_b
""")
def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold.

    Bounded to the first 500 vectors: the zip_with/aggregate cosine is
    evaluated per pair (no codegen for higher-order functions), so the
    exact-oracle query stays on a bounded slice; the unbounded scale
    path is q_lsh_neardup / operators.similarity.lsh_neardup_pairs
    (bucket self-join on ids, vectors never cross-join)."""
    from ..operators.similarity import cosine_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return cosine_neardup_pairs(emb, threshold=0.30).orderBy("id_a", "id_b")


# LSH contract-query config: integer planes + embedding quantization
# floor(x*1000 + 0.5) make every bucket key EXACT integer arithmetic in both
# engines, so the full LSH pipeline gets a rows+schema+hash oracle
# (previously rows-only "seeded plane matrix not SQL-expressible" —
# the planes are now emitted into the SQL as literals).
_LSH_DIM, _LSH_PLANES, _LSH_TABLES, _LSH_SEED, _LSH_SCALE = 64, 6, 6, 42, 1000


def _lsh_contract_planes():
    from ..operators.similarity import quantized_plane_matrix

    return quantized_plane_matrix(
        _LSH_DIM, _LSH_PLANES, _LSH_TABLES, seed=_LSH_SEED, scale=_LSH_SCALE
    )


def _lsh_keys_sql(vec_expr: str) -> list[str]:
    """Per-table bucket-key SQL expressions over `vec_expr` (a DOUBLE[]
    column already quantized to floor(x*scale + 0.5)). The SAME integer
    planes the Spark UDF uses, emitted as literals: every dot product
    is exact integer arithmetic in double, so keys match bit-for-bit."""
    planes = _lsh_contract_planes()
    exprs = []
    for t in range(_LSH_TABLES):
        terms = []
        for j in range(_LSH_PLANES):
            row = planes[t * _LSH_PLANES + j]
            lit = "[" + ", ".join(str(int(x)) for x in row) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vec_expr}, CAST({lit} AS DOUBLE[])) >= 0 "
                f"THEN {1 << j} ELSE 0 END)"
            )
        exprs.append("(" + " + ".join(terms) + f" + {t << _LSH_PLANES})")
    return exprs


def _ann_lsh_oracle_sql() -> str:
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )
    keys = _lsh_keys_sql("q")
    qk = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM qs" for k in keys
    )
    ck = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM cs" for k in keys
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        qs AS (SELECT * FROM e WHERE vec_id < 5),
        cs AS (SELECT * FROM e WHERE vec_id >= 5),
        qk AS ({qk}), ck AS ({ck}),
        hits AS (
          SELECT DISTINCT qk.vec_id AS query_id, ck.vec_id AS neighbor_id
          FROM qk JOIN ck ON qk.bkey = ck.bkey
        ),
        sims AS (
          SELECT h.query_id, h.neighbor_id, {cos} AS sim
          FROM hits h
          JOIN qs a ON a.vec_id = h.query_id
          JOIN cs b ON b.vec_id = h.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM sims
        ) WHERE rk <= 3
        ORDER BY query_id, rk
    """


@register(oracle=_ann_lsh_oracle_sql())
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets + exact rerank
    (scale path for q_knn_topk), on deterministic integer planes with
    quantized dot products — exact-oracle checkable; float-plane
    recall vs brute force is pinned in tests/test_dedup_similarity.py."""
    from ..operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return lsh_topk(
        q, cand, dim=_LSH_DIM, k=3, n_planes=_LSH_PLANES, n_tables=_LSH_TABLES,
        planes=_lsh_contract_planes(), quantize_scale=_LSH_SCALE, rerank="hof",
    ).orderBy("query_id", "rk")


def _lsh_neardup_oracle_sql(threshold: float = 0.30) -> str:
    cos = (
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6)"
    )
    keys = _lsh_keys_sql("q")
    kq = " UNION ALL ".join(
        f"SELECT vec_id, {k} AS bkey FROM e" for k in keys
    )
    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        k AS ({kq}),
        pairs AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM k a JOIN k b ON a.bkey = b.bkey
          WHERE a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, {cos} AS sim
        FROM pairs
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE {cos} >= {threshold}
        ORDER BY id_a, id_b
    """


@register(oracle=_lsh_neardup_oracle_sql())
def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via the LSH-bucketed SCALE path
    (bucket self-join on ids, exact cosine verify) — the unbounded-
    corpus twin of q_cosine_neardup, on deterministic integer planes
    so the whole pipeline is exact-oracle checkable."""
    from ..operators.similarity import lsh_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(
        emb, dim=_LSH_DIM, threshold=0.30, n_planes=_LSH_PLANES,
        n_tables=_LSH_TABLES, planes=_lsh_contract_planes(),
        quantize_scale=_LSH_SCALE, verify="hof",
    ).orderBy("id_a", "id_b")


# IVF contract config: fixed integer centroids (any fixed coarse
# quantizer is a valid IVF partition) + quantized assignment make the
# whole pipeline exact cross-engine, like the LSH quantized planes.
_IVF_CENTROIDS, _IVF_NPROBE = 16, 4


def _ivf_contract_centroids():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 7)
    return np.rint(
        rng.normal(0, 1, size=(_IVF_CENTROIDS, _LSH_DIM)) * _LSH_SCALE
    ).astype(np.int64)


def _ivf_oracle_sql() -> str:
    cents = _ivf_contract_centroids()
    cos = (
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)"
    )

    def dots(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT vec_id, {c} AS cent, list_dot_product(q, CAST(["
            + ", ".join(str(int(x)) for x in cents[c])
            + f"] AS DOUBLE[])) AS dot FROM {src}"
            for c in range(_IVF_CENTROIDS)
        )

    return f"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 list_transform(CAST(embedding AS DOUBLE[]),
                                x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
          FROM embeddings
        ),
        qs AS (SELECT * FROM e WHERE vec_id < 5),
        cs AS (SELECT * FROM e WHERE vec_id >= 5),
        cd AS (
          SELECT vec_id, cent FROM (
            SELECT vec_id, cent, row_number() OVER (
                     PARTITION BY vec_id ORDER BY dot DESC, cent ASC) AS rk
            FROM ({dots('cs')})
          ) WHERE rk = 1
        ),
        qd AS (
          SELECT vec_id, cent FROM (
            SELECT vec_id, cent, row_number() OVER (
                     PARTITION BY vec_id ORDER BY dot DESC, cent ASC) AS rk
            FROM ({dots('qs')})
          ) WHERE rk <= {_IVF_NPROBE}
        ),
        hits AS (
          SELECT DISTINCT qd.vec_id AS query_id, cd.vec_id AS neighbor_id
          FROM qd JOIN cd ON qd.cent = cd.cent
        ),
        sims AS (
          SELECT h.query_id, h.neighbor_id, {cos} AS sim
          FROM hits h
          JOIN qs a ON a.vec_id = h.query_id
          JOIN cs b ON b.vec_id = h.neighbor_id
        )
        SELECT query_id, neighbor_id, sim, rk FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id ASC) AS rk
          FROM sims
        ) WHERE rk <= 3
        ORDER BY query_id, rk
    """


@register(oracle=_ivf_oracle_sql())
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (the non-LSH scale path) on
    deterministic integer centroids with quantized integer assignment
    — exact-oracle checkable end to end; k-means-trained recall is
    pinned in tests/test_dedup_similarity.py."""
    from ..operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    return ivf_topk(
        q, cand, dim=_LSH_DIM, k=3, n_centroids=_IVF_CENTROIDS,
        nprobe=_IVF_NPROBE, centroids=_ivf_contract_centroids(),
        quantize_scale=_LSH_SCALE, rerank="hof",
    ).orderBy("query_id", "rk")


# PQ contract config: 8 subspaces x 16 codes over the 64-dim
# embeddings; fixed integer codebooks (any fixed quantizer is a valid
# PQ codebook — trained-codebook recall is pinned in pytest) make
# encode + ADC exact integer arithmetic in both engines.
_PQ_M, _PQ_K = 8, 16


def _pq_contract_codebooks():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 11)
    return np.rint(
        rng.normal(0, 0.35, size=(_PQ_M, _PQ_K, _LSH_DIM // _PQ_M))
        * _LSH_SCALE
    ).astype(np.int64)


def _pq_oracle_sql(rerank: bool = False, topk: int = 3) -> str:
    """PQ twin: the codebooks as a 1024-row VALUES relation (the
    literal-side-input pattern: LSH planes / IVF centroids / FLAC
    bitstreams), encode as a grouped integer distance + row_number
    argmin, ADC as an (m, c) join summed per pair — all int64-exact.
    With rerank: ADC top-10 shortlist, exact integer squared distance
    via three dot products (each sum <= ~2^31, exact in float64), and
    the re-ranked top-3."""
    books = _pq_contract_codebooks()
    m, k, dsub = books.shape
    rows = ", ".join(
        f"({mi}, {c}, {d}, {int(books[mi, c, d])})"
        for mi in range(m)
        for c in range(k)
        for d in range(dsub)
    )
    prefix = f"""
        WITH cb(m, c, d, v) AS (VALUES {rows}),
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
              FROM embeddings),
        dist AS (
          SELECT e.vec_id, cb.m, cb.c,
                 CAST(sum((q[cb.m * {dsub} + cb.d + 1] - cb.v)
                     * (q[cb.m * {dsub} + cb.d + 1] - cb.v)) AS BIGINT) AS d2
          FROM e CROSS JOIN cb
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2 ASC, c ASC) AS rk
            FROM dist WHERE vec_id >= 5)
          WHERE rk = 1),
        lut AS (SELECT vec_id, m, c, d2 FROM dist WHERE vec_id < 5),
        adc AS (
          SELECT l.vec_id AS query_id, cd.vec_id AS neighbor_id,
                 CAST(sum(l.d2) AS BIGINT) AS adc_dist
          FROM codes cd JOIN lut l ON l.m = cd.m AND l.c = cd.c
          GROUP BY 1, 2)"""
    if not rerank:
        return prefix + f""",
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS rk
          FROM adc)
        SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= {topk} ORDER BY query_id, rk
    """
    return prefix + """,
        short AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS ark
          FROM adc),
        ex AS (
          SELECT s.query_id, s.neighbor_id, s.adc_dist,
                 CAST(list_dot_product(a.q, a.q)
                      - 2 * list_dot_product(a.q, b.q)
                      + list_dot_product(b.q, b.q) AS BIGINT) AS exact_dist
          FROM short s
          JOIN e a ON a.vec_id = s.query_id
          JOIN e b ON b.vec_id = s.neighbor_id
          WHERE s.ark <= 10),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist, exact_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY exact_dist ASC, neighbor_id ASC)
                   AS rk
          FROM ex)
        SELECT query_id, neighbor_id, adc_dist, exact_dist,
               CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3 ORDER BY query_id, rk
    """


@register(oracle=_pq_oracle_sql())
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/pq.py — the
    compressed-domain ANN scale path: vectors become 8 codes, queries
    broadcast M x K integer lookup tables, and the scan is JVM array
    arithmetic over the codes relation; raw embeddings are touched
    only by the one encode pass). Deterministic integer codebooks +
    quantized embeddings make encode, LUTs, and every ADC distance
    exact int64 in both engines; ties break to the lowest code /
    neighbor id (total order both engines replay)."""
    from ..operators.pq import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return pq_topk(
        q, cand, _pq_contract_codebooks(), k=3,
        quantize_scale=_LSH_SCALE,
    ).orderBy("query_id", "rk")


@register(oracle=_pq_oracle_sql(rerank=True))
def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank — the production composition
    (PQ cannot micro-order neighbors whose true gaps are below
    quantization error, so real systems re-rank the shortlist with
    exact distances): ADC top-10 per query, then ONLY those 10 ids
    join back their raw vectors for an exact integer squared-distance
    re-rank to top-3. Both distances surface, so the oracle checks
    the shortlist, the exact arithmetic, and the re-ordering."""
    from ..operators.pq import pq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return pq_topk(
        q, cand, _pq_contract_codebooks(), k=3,
        quantize_scale=_LSH_SCALE, rerank_k=10,
    ).orderBy("query_id", "rk")


_IVFPQ_CELLS, _IVFPQ_NPROBE = 8, 2


def _ivfpq_contract_centroids():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 13)
    return np.rint(
        rng.normal(0, 1, size=(_IVFPQ_CELLS, _LSH_DIM)) * _LSH_SCALE
    ).astype(np.int64)


def _ivfpq_contract_codebooks():
    import numpy as np

    rng = np.random.default_rng(_LSH_SEED + 17)
    return np.rint(
        rng.normal(0, 0.5, size=(_PQ_M, _PQ_K, _LSH_DIM // _PQ_M))
        * _LSH_SCALE
    ).astype(np.int64)


def _ivfpq_oracle_sql() -> str:
    """IVF-PQ twin: coarse centroids (512-row VALUES) + codebooks
    (1024-row VALUES); cell assignment, residual encode, per-probed-
    cell LUT, and ADC all replayed as grouped integer arithmetic with
    row_number argmins — every tie broken by the same total order the
    NumPy kernels use."""
    cents = _ivfpq_contract_centroids()
    books = _ivfpq_contract_codebooks()
    m, k, dsub = books.shape
    cc_rows = ", ".join(
        f"({c}, {d}, {int(cents[c, d])})"
        for c in range(cents.shape[0])
        for d in range(cents.shape[1])
    )
    cb_rows = ", ".join(
        f"({mi}, {c}, {d}, {int(books[mi, c, d])})"
        for mi in range(m)
        for c in range(k)
        for d in range(dsub)
    )
    resid = f"((q[cb.m * {dsub} + cb.d + 1] - cc.v) - cb.v)"
    return f"""
        WITH cc(c, d, v) AS (VALUES {cc_rows}),
        cb(m, c, d, v) AS (VALUES {cb_rows}),
        e AS (SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> floor(x * {_LSH_SCALE} + 0.5)) AS q
              FROM embeddings),
        celld AS (
          SELECT e.vec_id, cc.c,
                 CAST(sum((q[cc.d + 1] - cc.v) * (q[cc.d + 1] - cc.v))
                      AS BIGINT) AS d2
          FROM e CROSS JOIN cc GROUP BY 1, 2),
        ccell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2 ASC, c ASC) AS rk
            FROM celld WHERE vec_id >= 5) WHERE rk = 1),
        qcell AS (
          SELECT vec_id, c AS cell FROM (
            SELECT vec_id, c, row_number() OVER (
                     PARTITION BY vec_id ORDER BY d2 ASC, c ASC) AS rk
            FROM celld WHERE vec_id < 5) WHERE rk <= {_IVFPQ_NPROBE}),
        crd AS (
          SELECT e.vec_id, cb.m, cb.c,
                 CAST(sum({resid} * {resid}) AS BIGINT) AS d2
          FROM e
          JOIN ccell ON ccell.vec_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = ccell.cell AND cc.d = cb.m * {dsub} + cb.d
          GROUP BY 1, 2, 3),
        codes AS (
          SELECT vec_id, m, c FROM (
            SELECT vec_id, m, c, row_number() OVER (
                     PARTITION BY vec_id, m ORDER BY d2 ASC, c ASC) AS rk
            FROM crd) WHERE rk = 1),
        qrd AS (
          SELECT e.vec_id, qcell.cell, cb.m, cb.c,
                 CAST(sum({resid} * {resid}) AS BIGINT) AS d2
          FROM e
          JOIN qcell ON qcell.vec_id = e.vec_id
          CROSS JOIN cb
          JOIN cc ON cc.c = qcell.cell AND cc.d = cb.m * {dsub} + cb.d
          GROUP BY 1, 2, 3, 4),
        adc AS (
          SELECT l.vec_id AS query_id, x.vec_id AS neighbor_id,
                 CAST(sum(l.d2) AS BIGINT) AS adc_dist
          FROM codes cd
          JOIN ccell x ON x.vec_id = cd.vec_id
          JOIN qrd l ON l.cell = x.cell AND l.m = cd.m AND l.c = cd.c
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, neighbor_id, adc_dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc_dist ASC, neighbor_id ASC)
                   AS rk
          FROM adc)
        SELECT query_id, neighbor_id, adc_dist, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 3 ORDER BY query_id, rk
    """


@register(oracle=_ivfpq_oracle_sql())
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with residual encoding (operators/pq.ivfpq_topk — the
    composed production ANN index: coarse cells prune the scan, PQ
    codes compress what remains, the query LUT is rebuilt per probed
    cell against that cell's centroid). Fixed integer centroids +
    codebooks + quantized embeddings make assignment, residual
    encode, and every ADC distance exact int64 in both engines."""
    from ..operators.pq import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cand = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    return ivfpq_topk(
        q, cand, _ivfpq_contract_centroids(), _ivfpq_contract_codebooks(),
        k=3, nprobe=_IVFPQ_NPROBE, quantize_scale=_LSH_SCALE,
    ).orderBy("query_id", "rk")


@register(oracle=_pq_oracle_sql(topk=4))
def q_pq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (operators/pq.pq_append +
    pq_topk_codes): the corpus below vec_id 500 is the STORED codes
    index (encoded once); rows at/above 500 arrive as an ingest delta
    and are encoded under the FROZEN codebooks (the incremental-
    curation freeze discipline — codebook retraining is a versioned
    event, never an ingest side effect). Search runs over the union
    of stored + delta codes and must equal a from-scratch full encode
    bit-for-bit, which is exactly what the oracle computes: the twin
    is blind to the base/delta split, so any drift the split
    introduced would hash-mismatch. k=4 (vs q_pq_topk's 3) keeps the
    two contract rows non-duplicate."""
    from ..operators.pq import pq_append, pq_encode, pq_topk_codes

    e = _t(spark, sf_dir, "embeddings")
    books = _pq_contract_codebooks()
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = e.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    delta = e.filter(F.col("vec_id") >= 500).select(
        F.col("vec_id").alias("neighbor_id"), "embedding"
    )
    stored = pq_encode(
        base, books, id_col="neighbor_id", quantize_scale=_LSH_SCALE
    )
    appended = pq_append(
        delta, books, id_col="neighbor_id", quantize_scale=_LSH_SCALE
    )
    return pq_topk_codes(
        q, stored.union(appended), books, k=4, quantize_scale=_LSH_SCALE
    ).orderBy("query_id", "rk")


# Prototypicality twin: identical quantization tie rule, identical
# integer centroid sums (order-free), identical sqrt/division shape —
# SUMs never touch a float, so the one division is bit-identical.
@register(oracle="""
    WITH q AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS xq
      FROM embeddings),
    flat AS (
      SELECT vec_id, label, i, xq[i] AS v
      FROM q, UNNEST(generate_series(1, 64)) AS t(i)),
    s AS (SELECT label, i, CAST(SUM(v) AS BIGINT) AS sv
          FROM flat GROUP BY 1, 2),
    norms AS (SELECT label, CAST(SUM(sv * sv) AS BIGINT) AS ns
              FROM s GROUP BY 1),
    dots AS (
      SELECT f.vec_id, f.label,
             CAST(SUM(f.v * s.sv) AS BIGINT) AS dxs,
             CAST(SUM(f.v * f.v) AS BIGINT) AS nx
      FROM flat f JOIN s ON s.label = f.label AND s.i = f.i
      GROUP BY 1, 2),
    scored AS (
      SELECT d.vec_id, d.label,
             CAST(d.dxs AS DOUBLE)
               / (sqrt(CAST(d.nx AS DOUBLE)) * sqrt(CAST(n.ns AS DOUBLE)))
               AS proto_cos
      FROM dots d JOIN norms n USING (label)),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY label ORDER BY proto_cos, vec_id) AS outlier_rank
      FROM scored)
    SELECT label, vec_id, proto_cos, outlier_rank,
           CAST(CASE WHEN outlier_rank <= 10 THEN 1 ELSE 0 END AS INT)
             AS is_outlier
    FROM ranked
    ORDER BY label, outlier_rank
""")
def q_proto_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality / semantic-outlier scoring
    (operators/prototypes.prototype_scores — the D4/SemDeDup curation
    signal): cosine of each quantized embedding to its label-group's
    integer centroid-sum, ascending outlier rank per group, k=10
    flagged. All aggregation is exact int64 (quantize floor(x*1000 +
    0.5), centroid = element-wise SUM — same direction as the mean);
    the only float ops are two sqrt + one division, IEEE correctly
    rounded, so the DuckDB twin is bit-identical."""
    from ..operators.prototypes import prototype_scores

    emb = _t(spark, sf_dir, "embeddings")
    return prototype_scores(
        emb, group="label", id_col="vec_id", dim=64, outlier_k=10
    ).orderBy("label", "outlier_rank")
