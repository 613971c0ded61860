"""Probabilistic sketches: HyperLogLog, count-min and Bloom filter."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketches import EST_NUMERATOR as _HLL_EST_NUM
from . import register
from .common import _t, _td


# HLL twin: recomputes the identical sketch from md5 string arithmetic
# (bucket = first 2 hex digits; rho = leading-zero rank of the next 15
# from string stripping + a first-digit CASE), the identical integer
# harmonic numerator, and the identical one-division estimate with the
# SAME double literal numerator (functions/sketches.EST_NUMERATOR).
@register(oracle=f"""
    WITH h AS (
      SELECT md5(CAST(event_id % 3777 AS VARCHAR)) AS hx FROM events),
    r AS (
      SELECT CAST(('0x' || substr(hx, 1, 2)) AS INTEGER) AS bucket,
             regexp_replace(substr(hx, 3, 15), '^0*', '') AS s
      FROM h),
    rho AS (
      SELECT bucket,
             CASE WHEN length(s) = 0 THEN 61
                  ELSE 4 * (15 - length(s))
                       + CASE WHEN substr(s, 1, 1) = '1' THEN 3
                              WHEN substr(s, 1, 1) IN ('2', '3') THEN 2
                              WHEN substr(s, 1, 1) IN ('4','5','6','7') THEN 1
                              ELSE 0 END
                       + 1 END AS rho
      FROM r),
    regs AS (SELECT bucket, max(rho) AS register FROM rho GROUP BY 1),
    allb AS (
      SELECT CAST(t.b AS INT) AS bucket,
             CAST(COALESCE(regs.register, 0) AS INT) AS register
      FROM (SELECT unnest(range(0, 256)) AS b) t
      LEFT JOIN regs ON regs.bucket = t.b),
    summary AS (
      SELECT CAST(sum(CASE WHEN register = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS m_zero_registers,
             CAST(sum(CAST(1 AS BIGINT)
                      << (40 - least(register, 40))) AS BIGINT) AS z_int
      FROM allb)
    SELECT f.bucket, f.register, s.m_zero_registers, s.z_int,
           round({_HLL_EST_NUM!r} / s.z_int, 2) AS est_raw
    FROM allb f, summary s
    ORDER BY f.bucket
""")
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog cardinality sketch
    (functions/sketches.py): md5-string-derived buckets and
    leading-zero ranks make the ENTIRE sketch replayable in any SQL
    engine — registers, integer harmonic numerator, and the raw
    estimate are all bit-identical (the estimate via one shared
    double literal and one division). The key event_id % 3777 has a
    known true cardinality; accuracy itself is pinned in pytest
    (expected ~6.5% rel. error at m=256, plus the linear-counting
    regime), the contract checks exactness of the machinery. Output:
    one row per bucket (empty registers included) carrying the
    summary columns."""
    from ..functions.sketches import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 3777).alias("k")
    )
    regs = hll_registers(ev, "k")
    spine = spark.range(256).select(F.col("id").cast("int").alias("bucket"))
    full = spine.join(regs, "bucket", "left").select(
        "bucket", F.coalesce(F.col("register"), F.lit(0)).alias("register")
    )
    summary = hll_estimate(regs)
    return (
        full.crossJoin(F.broadcast(summary))
        .select(
            "bucket", "register", "m_zero_registers", "z_int", "est_raw"
        )
        .orderBy("bucket")
    )


# Count-min twin: rebuilds the skewed keys, every (row, pos) counter
# from md5-hex-slice positions, and the min-over-rows point estimates
# next to exact counts — grid, collisions and estimates all sit
# between the engines.
@register(oracle="""
    WITH e AS (
      SELECT CASE WHEN event_id % 10 < 7
                  THEN 'hot' || (event_id % 3)
                  ELSE 'cold' || (event_id % 997) END AS k,
             event_id
      FROM events),
    pos AS (
      SELECT k, t.i AS row,
             CAST(CAST(('0x' || substr(md5(k), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 512 AS INT) AS pos
      FROM e, unnest([0, 1, 2, 3]) AS t(i)),
    sk AS (SELECT row, pos, count(*) AS cnt FROM pos GROUP BY 1, 2),
    probes AS (
      SELECT DISTINCT k FROM e
      WHERE event_id % 10 < 7 OR event_id % 997 < 10),
    pe AS (
      SELECT p.k, t.i AS row,
             CAST(CAST(('0x' || substr(md5(p.k), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 512 AS INT) AS pos
      FROM probes p, unnest([0, 1, 2, 3]) AS t(i)),
    je AS (
      SELECT pe.k, COALESCE(sk.cnt, 0) AS c
      FROM pe LEFT JOIN sk ON sk.row = pe.row AND sk.pos = pe.pos),
    estq AS (SELECT k, CAST(min(c) AS BIGINT) AS est_count FROM je GROUP BY 1),
    tc AS (SELECT k, CAST(count(*) AS BIGINT) AS true_count FROM e GROUP BY 1)
    SELECT estq.k, estq.est_count, tc.true_count
    FROM estq JOIN tc USING (k) ORDER BY k
""")
def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter estimation
    (functions/sketches.cms_build/cms_estimate): a 4x512 counter
    grid summarizes a skewed key distribution (3 hot keys carrying
    70% of rows + ~997 cold keys; width 512 < #keys so collisions and
    the min-over-rows logic genuinely matter), and point estimates
    for a deterministic probe set ride next to exact counts. Every
    counter and estimate is integer arithmetic over md5-hex-slice
    positions — the DuckDB oracle replays the full sketch. The
    never-underestimates guarantee is pinned in pytest."""
    from ..functions.sketches import cms_build, cms_estimate

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    k = F.when(
        e % 10 < 7, F.concat(F.lit("hot"), (e % 3).cast("string"))
    ).otherwise(F.concat(F.lit("cold"), (e % 997).cast("string")))
    keyed = ev.select(k.alias("k"), "event_id")
    sketch = cms_build(keyed, "k", depth=4, width=512)
    probes = (
        keyed.filter((e % 10 < 7) | (e % 997 < 10)).select("k").distinct()
    )
    est = cms_estimate(sketch, probes, "k", depth=4, width=512)
    true_counts = keyed.groupBy("k").agg(F.count("*").alias("true_count"))
    return (
        est.join(true_counts, "k")
        .select("k", "est_count", "true_count")
        .orderBy("k")
    )


# Bloom twin: same gram keys as the exact oracle, positions via
# md5-hex slices mod m, the all-distinct-positions membership test as
# a relational join — bit positions, FP behavior and flag counts all
# sit between the engines
@register(oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             substr(md5(unnest([array_to_string(w[i:i+4], ' ')
                                FOR i IN generate_series(1, greatest(len(w) - 4, 0))])),
                    1, 16) AS key
      FROM w
    ),
    bg AS (SELECT DISTINCT key FROM dg WHERE doc_id % 37 = 0),
    bpos AS (
      SELECT DISTINCT
             CAST(CAST(('0x' || substr(md5(key), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 65536 AS INT) AS pos
      FROM bg, unnest([0, 1, 2]) AS t(i)
    ),
    dpos AS (
      SELECT DISTINCT doc_id, key,
             CAST(CAST(('0x' || substr(md5(key), 1 + 5 * t.i, 5)) AS BIGINT)
                  % 65536 AS INT) AS pos
      FROM dg, unnest([0, 1, 2]) AS t(i)
    ),
    dn AS (SELECT doc_id, key, count(*) AS npos FROM dpos GROUP BY 1, 2),
    hits AS (
      SELECT d.doc_id, d.key, count(*) AS h
      FROM dpos d JOIN bpos USING (pos) GROUP BY 1, 2
    ),
    fl AS (
      SELECT h.doc_id FROM hits h
      JOIN dn ON dn.doc_id = h.doc_id AND dn.key = h.key
      WHERE h.h = dn.npos
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged_grams
    FROM fl GROUP BY 1 ORDER BY 1
""")
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (the scale path of
    q_decontaminate: broadcast distinct BIT POSITIONS, not keys —
    operators/decontam.bloom_contamination_report). m_bits=65536 is
    deliberately small for the corpus so genuine bloom FALSE
    POSITIVES occur at sf0.01 (the output is a strict superset of the
    exact report, pinned in pytest) — the oracle replays positions,
    the all-k membership test, and the per-doc flag counts exactly."""
    from ..operators.decontam import bloom_contamination_report

    docs = _td(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 0)
    out = bloom_contamination_report(docs, bench, n=5, k=3, m_bits=65536)
    return out.select(
        "doc_id", F.col("n_flagged_grams").cast("long").alias("n_flagged_grams")
    ).orderBy("doc_id")
