"""Relational and TPC-H operators: joins, windows, grouping sets,
reshapes, time series, sampling, table maintenance and contracts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import register
from .common import _cents, _t


@register(oracle="""
        SELECT n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name
    """)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-joins (broadcast dims) + A-group aggregation with exact
    integer-cents money sums."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev_cents = _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev_cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


@register(oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A10 grouped aggregation (TPC-H Q1 shape), exact cents."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, rk
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders
        ) WHERE rk <= 3
    """)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/O3 window rank + filter: top-3 orders per customer by price,
    ties broken by o_orderkey."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents"), "rk")
    )


@register(oracle="""
        SELECT c_custkey, 'with_orders' AS side FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT c_custkey, 'no_orders' AS side FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY side, c_custkey
    """)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 semi-join + J3 anti-join (U2 set difference) on customers
    vs orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = c.join(o, "c_custkey", "left_semi").select(
        "c_custkey", F.lit("with_orders").alias("side")
    )
    anti = c.join(o, "c_custkey", "left_anti").select(
        "c_custkey", F.lit("no_orders").alias("side")
    )
    return semi.unionByName(anti).orderBy("side", "c_custkey")


@register(oracle="""
        SELECT c_mktsegment,
               round(quantile_cont(c_acctbal, 0.9), 4) AS p90_acctbal,
               round(quantile_cont(c_acctbal, 0.5), 4) AS p50_acctbal,
               count(*) AS n
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)
def q_grouped_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-class exact percentile (linear interpolation — matches
    np.percentile / duckdb quantile_cont)."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_acctbal"),
            F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("p50_acctbal"),
            F.count("*").alias("n"),
        )
        .orderBy("c_mktsegment")
    )


@register(oracle="""
        SELECT user_id, event_id,
               coalesce(round(lag(value, 1)  OVER w, 2), -1.0) AS prev_value,
               coalesce(round(lead(value, 1) OVER w, 2), -1.0) AS next_value,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS rolling3
        FROM events WHERE user_id < 10
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + rowsBetween rolling sum over events (SURVEY §2.5
    'built-in analytic frames' row)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.coalesce(F.round(F.lag("value", 1).over(w), 2), F.lit(-1.0)).alias("prev_value"),
        F.coalesce(F.round(F.lead("value", 1).over(w), 2), F.lit(-1.0)).alias("next_value"),
        F.round(F.sum("value").over(w.rowsBetween(-2, 0)), 2).alias("rolling3"),
    )


@register(oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type
    """)
def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc tumbling buckets over events (batch-mode analog of
    the streaming window agg)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


@register(oracle="""
        SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        FROM events ORDER BY event_id
    """)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-analog JSON field extraction from events.props."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    ).orderBy("event_id")


@register(oracle="""
        WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
             seg  AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        SELECT c_custkey FROM (
          SELECT c_custkey FROM (SELECT * FROM rich UNION SELECT * FROM seg)
          EXCEPT ALL
          SELECT c_custkey FROM (SELECT * FROM rich INTERSECT SELECT * FROM seg)
        ) ORDER BY c_custkey
    """)
def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 union + U2 except (set difference) over customer slices."""
    c = _t(spark, sf_dir, "customer")
    rich = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    seg = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        rich.union(seg).distinct()
        .exceptAll(rich.intersect(seg))
        .orderBy("c_custkey")
    )


@register(oracle="""
        WITH bands(band, lo, hi) AS (
          VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0), ('high', 150000.0, 1e12)
        )
        SELECT band, count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band
    """)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi range join (SURVEY §2.3 range-join row): bucket orders
    by totalprice bands via BETWEEN (BroadcastNestedLoopJoin)."""
    o = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 50_000.0), ("mid", 50_000.0, 150_000.0), ("high", 150_000.0, 1e12)],
        ["band", "lo", "hi"],
    )
    return (
        o.join(
            F.broadcast(bands),
            (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"))
        .orderBy("band")
    )


@register(oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
""")
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (SURVEY §2.4 'grouping sets / rollup' row) —
    subtotals per returnflag and grand total, null grouping keys
    normalized to '(all)' for cross-engine comparison."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(oracle="""
    SELECT coalesce(o_orderstatus, '(all)') AS status,
           coalesce(o_orderpriority, '(all)') AS priority,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
""")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders (all four (status, priority)
    rollup levels in one pass) with GROUPING() disambiguation flags
    and the exact integer-cents money aggregation. Spark computes the
    cube in a single shuffle via the native Expand operator."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_cents(F.col("o_totalprice"))).alias("sum_cents"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            "sum_cents",
            "g_status",
            "g_prio",
        )
        .orderBy("status", "priority")
    )


# independent range-semantics twin of q_asof_join: DuckDB's native
# ASOF LEFT JOIN vs the engine's union + running-window plan
@register(oracle="""
    WITH r AS (SELECT user_id, ts, max(value) AS value
               FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2),
         l AS (SELECT user_id, ts, event_id
               FROM events WHERE event_id % 2 = 1)
    SELECT l.user_id,
           l.event_id,
           epoch_us(l.ts) AS ts_us,
           coalesce(epoch_us(r.ts), -1) AS match_us,
           coalesce(r.value, 0.0) AS value_r
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    ORDER BY event_id
""")
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via the production `asof_join` operator
    (operators/timeseries.py): odd events are probes, even events are
    readings (deduped to one max-value row per (user_id, ts) — both
    engines need a deterministic winner); each probe picks up the
    most recent reading at-or-before its timestamp per user. The
    DuckDB oracle is a native ASOF LEFT JOIN, so the union+running-
    window plan is verified against an independent range-semantics
    implementation. Timestamps surface as unix micros (exact int64 in
    both engines); value_r passes through unchanged (bit-exact)."""
    from ..operators.timeseries import asof_join, epoch_micros

    ev = _t(spark, sf_dir, "events")
    readings = (
        ev.where(F.col("event_id") % 2 == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    probes = ev.where(F.col("event_id") % 2 == 1).select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(probes, readings, on="user_id", ts="ts", values=["value"])
    return out.select(
        "user_id",
        "event_id",
        epoch_micros(out, "ts").alias("ts_us"),
        # no-match sentinels instead of NULLs: the driver's value-hash
        # is engine-agnostic only for concrete values (NOTES.md #7)
        F.coalesce(epoch_micros(out, "ts_r"), F.lit(-1)).alias("match_us"),
        F.coalesce(F.col("value_r"), F.lit(0.0)).alias("value_r"),
    ).orderBy("event_id")


@register(oracle="""
    WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    d AS (SELECT user_id, event_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 43200000000
                      THEN 1 ELSE 0 END AS st
          FROM o
          WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, us,
                 sum(st) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
          FROM d)
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(us) AS start_us,
           max(us) AS end_us,
           max(us) - min(us) AS span_us
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-island sessionization (operators/timeseries.py): 12-h
    inactivity gap per user over events (the fixture's inter-event
    times average ~11 h, so this yields ~3 events/session — real
    boundary decisions, not all-singletons), rolled up to per-session
    stats. One shuffle on user_id; the lag-flag and running-sum
    windows share a single sort. Oracle is the same decomposition in
    ANSI window SQL — an independent implementation, not a
    translation (DuckDB knows nothing of the operator's internals)."""
    from ..operators.timeseries import session_stats

    ev = _t(spark, sf_dir, "events")
    return (
        session_stats(ev, gap_us=12 * 3600 * 1_000_000, tiebreak="event_id")
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "start_us",
            "end_us",
            "span_us",
        )
        .orderBy("user_id", "session_id")
    )


# same greedy earliest-per-step chain over exact integer micros
@register(oracle="""
    WITH e AS (
      SELECT user_id, event_type AS ty, epoch_us(ts) AS u FROM events
    ),
    s1 AS (
      SELECT user_id, min(u) AS t_1 FROM e WHERE ty = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT s1.user_id, s1.t_1,
             min(CASE WHEN e.u > s1.t_1
                       AND e.u <= s1.t_1 + 86400000000 THEN e.u END) AS t_2
      FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.ty = 'click'
      GROUP BY 1, 2
    ),
    s3 AS (
      SELECT s2.user_id, s2.t_1, s2.t_2,
             min(CASE WHEN e.u > s2.t_2
                       AND e.u <= s2.t_1 + 86400000000 THEN e.u END) AS t_3
      FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.ty = 'purchase'
      GROUP BY 1, 2, 3
    )
    SELECT user_id, t_1, t_2, t_3,
           1 + CAST(t_2 IS NOT NULL AS INT) + CAST(t_3 IS NOT NULL AS INT)
             AS completed
    FROM s3 ORDER BY user_id
""")
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel within 24h of the first view
    (operators/timeseries.funnel): greedy earliest-per-step ordered
    sequence per user, k cheap keyed passes (one filtered slice +
    groupBy-min per step, partitioning on user reused), NULL
    propagation guarantees steps can never complete out of order.
    Exact-integer epoch-micro times on both engines."""
    from ..operators.timeseries import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev, ["view", "click", "purchase"], horizon_us=24 * 3600 * 1_000_000
    ).orderBy("user_id")


# salt-blind plain GROUP BY: salting must be invisible in the result
@register(oracle="""
    SELECT event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           count(*) AS n_events
    FROM events GROUP BY 1 ORDER BY 1
""")
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (plans/pipeline.salted_agg):
    groupBy(event_type + salt-of-event_id) partial sums, then a merge
    groupBy(event_type) that moves at most |types| x 16 rows however
    hot a type is. The oracle is a plain salt-blind GROUP BY — the
    whole point is that salting is invisible in the result. Integer
    cents keep the two-phase regroup order-free."""
    from ..plans.pipeline import salted_aggregate

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
        .withColumn("one", F.lit(1).cast("long"))
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {"total_cents": "cents", "n_events": "one"},
        salt_on="event_id",
    )
    return out.orderBy("event_type")


# same preceding-hour RANGE frame over exact integer micros + cents:
# both engines sum identical integers (order-free), then the one
# fixed double expression for mean/var/z matches bit-for-bit
@register(oracle="""
    WITH b AS (
      SELECT event_id, event_type, epoch_us(ts) AS t_us, value,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    s AS (
      SELECT event_id, event_type, t_us, value, c,
             count(c) OVER w AS n_window,
             CAST(sum(c) OVER w AS DOUBLE) AS sm,
             CAST(sum(c * c) OVER w AS DOUBLE) AS ss
      FROM b
      WINDOW w AS (PARTITION BY event_type ORDER BY t_us
                   RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
    ),
    m AS (
      SELECT *, sm / n_window AS mean,
             ss / n_window - (sm / n_window) * (sm / n_window) AS var
      FROM s WHERE n_window > 0
      UNION ALL
      SELECT *, NULL, NULL FROM s WHERE n_window = 0
    )
    SELECT event_id, event_type, t_us, value, n_window,
           CASE WHEN n_window >= 5 AND var > 1e-9
                THEN round((c - mean) / sqrt(var), 6)
                ELSE 0.0 END AS z,
           CAST(CASE WHEN n_window >= 5 AND var > 1e-9
                     THEN abs(round((c - mean) / sqrt(var), 6)) > 3.0
                     ELSE FALSE END AS INT) AS anomaly
    FROM m ORDER BY event_id
""")
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type rolling z-score anomaly flags over the events stream
    (operators/timeseries.rolling_zscore): each value scored against
    the preceding hour of history, current row and same-microsecond
    peers excluded. One shuffle on event_type, one Sort + Window with
    exact integer-cents frame sums (count/sum/sum-of-squares), so the
    DuckDB oracle accumulates identical integers and the final double
    z expression matches bit-for-bit after 6-dp rounding."""
    from ..operators.timeseries import rolling_zscore

    ev = _t(spark, sf_dir, "events")
    return rolling_zscore(ev).orderBy("event_id")


_SAMPLE_RATES = {"src1": 0.8, "src4": 0.5, "src7": 0.25, "src12": 0.1}


# identical md5 bucket + integer thresholds, recomputed natively
@register(oracle="""
    WITH b AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000 AS bucket
      FROM documents)
    SELECT doc_id, source, bucket
    FROM b
    WHERE bucket < CASE source
                     WHEN 'src1' THEN 800
                     WHEN 'src4' THEN 500
                     WHEN 'src7' THEN 250
                     WHEN 'src12' THEN 100
                     ELSE 50 END
    ORDER BY doc_id
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling / corpus mixing
    (operators/sampling.py): per-source keep rates applied via an
    md5-hash bucket on doc_id — no RNG, no shuffle, pure codegen
    column expressions, so membership is reproducible across engines,
    partitionings, and resumes. Sources outside the rate map keep a
    5% default. The oracle recomputes the identical bucket in DuckDB
    (NOTES.md #7 hashing recipe) and applies the same integer
    thresholds."""
    from ..operators.sampling import hash_bucket, stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs,
        stratum="source",
        id_col="doc_id",
        rates=_SAMPLE_RATES,
        default_rate=0.05,
        den=1000,
    )
    return kept.select(
        "doc_id",
        "source",
        hash_bucket(F.col("doc_id"), 1000).alias("bucket"),
    ).orderBy("doc_id")


# Priority-sampling twin: identical u derivation (NOTES.md #7 md5
# recipe), identical ONE double division w/u (IEEE correctly rounded
# => bit-identical across engines), identical rank + (k+1)-threshold.
@register(oracle="""
    WITH w AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 + 1 AS u
      FROM documents
      WHERE n_chars >= 1),
    p AS (
      SELECT *, CAST(w AS DOUBLE) / CAST(u AS DOUBLE) AS pri FROM w),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY source ORDER BY pri DESC, doc_id) AS rn
      FROM p),
    t AS (
      SELECT *, COALESCE(max(CASE WHEN rn = 21 THEN pri END)
                           OVER (PARTITION BY source), 0.0) AS tau
      FROM r)
    SELECT source, doc_id, w, u, pri, rn,
           GREATEST(CAST(w AS DOUBLE), tau) AS est_w
    FROM t
    WHERE rn <= 20
    ORDER BY source, rn
""")
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (operators/sampling.priority_sample):
    fixed-size weight-aware sample per source with the
    Duffield–Lund–Thorup unbiased estimator est_w = max(w, tau).
    Weight = n_chars (a byte/token-cost proxy), k = 20 per source.
    Cross-engine exactness rests on q = w / u being one IEEE-754
    double division of the same two integers in both engines
    (correctly rounded => bit-identical); ties broken by doc_id.
    The oracle replays u from the shared md5 recipe and the same
    window rank / (k+1)-th-priority threshold."""
    from ..operators.sampling import priority_sample

    docs = _t(spark, sf_dir, "documents")
    out = priority_sample(
        docs, group="source", id_col="doc_id", weight_col="n_chars", k=20
    )
    return out.orderBy("source", "rn")


# Salted-join twin: the plain (salt-blind) join — the whole point is
# that the salt never shows in the result.
@register(oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_suppkey AS BIGINT) AS suppkey,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS price_cents,
           s.s_name
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_quantity > 45
    ORDER BY l.l_orderkey, l.l_linenumber
""")
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (plans/pipeline.salted_join): lineitem
    (60k rows over only 100 suppliers — every supplier is a hot key
    relative to the key cardinality) joined to supplier with the key
    widened to (suppkey, salt) and the small side replicated 8x; the
    small side is hinted "merge" so the physical plan is the salted
    sort-merge the operator exists for (not a broadcast that would
    make the salt a no-op). The oracle is the SALT-BLIND plain join —
    proving the salt is invisible in the result."""
    from ..plans.pipeline import salted_join

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 45)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_suppkey").alias("suppkey"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return salted_join(
        li, sup, key="suppkey", salt_buckets=8, join_hint="merge"
    ).orderBy("l_orderkey", "l_linenumber")


# Upsert twin: the same union + version window replayed in SQL.
@register(oracle="""
    WITH base AS (
      SELECT c_custkey AS custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
             CAST(-1 AS BIGINT) AS version, FALSE AS is_delete, 0 AS src
      FROM customer),
    upd AS (
      SELECT event_id % 2200 AS custkey,
             CAST((event_id * 7919) % 2000000 - 1000000 AS BIGINT)
               AS acctbal_cents,
             event_id AS version, (event_id % 97 = 0) AS is_delete, 1 AS src
      FROM events),
    a AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
    r AS (
      SELECT *,
             row_number() OVER (
               PARTITION BY custkey ORDER BY version DESC, src DESC) AS rn,
             count(*) OVER (PARTITION BY custkey) AS n_versions
      FROM a)
    SELECT custkey, acctbal_cents, version, CAST(n_versions AS BIGINT)
             AS n_versions
    FROM r WHERE rn = 1 AND NOT is_delete
    ORDER BY custkey
""")
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins CDC merge (operators/merge.merge_upsert — the
    parquet twin of Iceberg MERGE INTO): a 10k-row changelog derived
    from events (updates to existing customers, inserts past the base
    key range, ~1% tombstones) applied to the customer snapshot.
    Versions are the integer event ids (monotonic, no wall-clock);
    base rows carry version -1 and lose every tie. Exact integer
    money via the NOTES.md #7 cents recipe."""
    from ..operators.merge import merge_upsert

    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        F.lit(-1).cast("long").alias("version"),
    )
    e = F.col("event_id")
    upd = _t(spark, sf_dir, "events").select(
        (e % 2200).alias("custkey"),
        ((e * 7919) % 2000000 - 1000000).cast("long").alias("acctbal_cents"),
        e.alias("version"),
        (e % 97 == 0).alias("is_delete"),
    )
    return merge_upsert(
        base, upd, key="custkey", version_col="version", delete_col="is_delete"
    ).orderBy("custkey")


# Pivot twin: conditional aggregation — exactly what Spark compiles an
# explicit-list pivot into. Integer cents; HUGEINT cast back (NOTES #12).
@register(oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'click') AS BIGINT) AS click_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'view') AS BIGINT) AS view_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'signup') AS BIGINT) AS signup_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'purchase') AS BIGINT) AS purchase_cents,
           CAST(sum(CAST(round(value * 100) AS BIGINT))
                FILTER (event_type = 'error') AS BIGINT) AS error_cents
    FROM events GROUP BY 1 ORDER BY day
""")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational pivot (groupBy().pivot() — the Expand-free wide
    reshape): per-day event counts and integer-cents value sums spread
    across the 5 event types as columns. Values pinned by an explicit
    pivot list (never inferred — inference is a driver-side distinct
    scan AND a nondeterministic column order at 10^12 rows). The
    DuckDB twin is conditional aggregation (FILTER), which is also
    exactly what Spark compiles an explicit-list pivot into —
    one shuffle, map-side combined."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(day.alias("day"), "event_type", cents.alias("cents"))
        .groupBy("day")
        .pivot("event_type", ["click", "view", "signup", "purchase", "error"])
        .agg(F.sum("cents"))
        .select(
            "day",
            F.col("click").alias("click_cents"),
            F.col("view").alias("view_cents"),
            F.col("signup").alias("signup_cents"),
            F.col("purchase").alias("purchase_cents"),
            F.col("error").alias("error_cents"),
        )
        .orderBy("day")
    )


# Unpivot twin: melt(pivot(x)) minus NULL cells == the direct long-form
# group-by.
@register(oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY 1, 2 ORDER BY day, event_type
""")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (DataFrame.unpivot, Spark 3.4+): the round-trip
    partner of q_pivot — the pivoted wide table melts back to
    (day, event_type, cents) long form, dropping NULL cells (days
    where a type never fired). Composing pivot -> unpivot in one plan
    also pins that the two are mutual inverses up to NULL cells."""
    wide = q_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "day",
            [
                "click_cents",
                "view_cents",
                "signup_cents",
                "purchase_cents",
                "error_cents",
            ],
            "event_type",
            "cents",
        )
        .where(F.col("cents").isNotNull())
        .withColumn(
            "event_type", F.regexp_replace("event_type", "_cents$", "")
        )
        .orderBy("day", "event_type")
    )


@register(oracle="""
    SELECT source, doc_id, n_chars,
           ntile(10) OVER (PARTITION BY source
                           ORDER BY n_chars, doc_id) AS decile
    FROM documents ORDER BY source, n_chars, doc_id
""")
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile calibration (the equal-frequency bucketize used to
    turn raw quality scores into rank-calibrated deciles before
    thresholding): documents ranked by n_chars within each source,
    NTILE(10) + the decile's row span. Deterministic because the
    window order is made total (n_chars, doc_id)."""
    docs = _t(spark, sf_dir, "documents")
    win = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.ntile(10).over(win).alias("decile"),
    ).orderBy("source", "n_chars", "doc_id")


# Z-order twin: the same shift/mask interleave, generated term-by-term
# (bit arithmetic — no rounding anywhere).
def _spread_sql(col: str, offset: int, bits: int = 16) -> str:
    return " + ".join(
        f"((({col} >> {i}) & 1) << {2 * i + offset})" for i in range(bits)
    )


@register(oracle=f"""
    WITH k AS (
      SELECT event_id,
             CAST(user_id % 65536 AS BIGINT) AS x,
             CAST(CAST(round(value * 100) AS BIGINT) % 65536 AS BIGINT) AS y
      FROM events),
    z AS (
      SELECT event_id, x, y,
             CAST({_spread_sql('x', 0)}
                  + {_spread_sql('y', 1)} AS BIGINT) AS zkey
      FROM k)
    SELECT event_id, x, y, zkey,
           ntile(16) OVER (ORDER BY zkey, event_id) AS file_bucket
    FROM z ORDER BY event_id
""")
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys (functions/zorder.zorder2): the
    Delta/Iceberg ZORDER BY clustering key as a pure shift/mask JVM
    expression over (user_id, value-cents) bucketized to 16 bits, plus
    the 16-way range-bucket assignment (ntile over the key) a writer
    would use to split files. Bit arithmetic has no rounding, so the
    DuckDB twin is the same expression verbatim."""
    from ..functions.zorder import zorder2

    ev = _t(spark, sf_dir, "events")
    x = (F.col("user_id") % 65536).cast("long")
    y = (F.round(F.col("value") * 100).cast("long") % 65536).cast("long")
    keyed = ev.select(
        "event_id",
        x.alias("x"),
        y.alias("y"),
        zorder2(x, y, bits=16).alias("zkey"),
    )
    w = Window.orderBy("zkey", "event_id")
    return keyed.withColumn("file_bucket", F.ntile(16).over(w)).orderBy(
        "event_id"
    )


@register(oracle="""
    WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
               FROM supplier GROUP BY 1)
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp,
           CAST(COALESCE(c.n_cust, 0) - COALESCE(s.n_supp, 0) AS BIGINT)
             AS imbalance
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    ORDER BY nationkey
""")
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join (completes the join matrix next to
    inner/left/semi/anti/range/asof/salted): per-nation customer
    counts FULL OUTER JOIN per-nation supplier counts — nations with
    only one side present survive with the other side NULL-coalesced,
    which is the whole point of the operator. Aggregate-then-join so
    the outer join runs on two tiny keyed sides (the scale shape:
    never full-outer two fact tables — reduce first)."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        cust.join(supp, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            (F.coalesce("n_cust", F.lit(0)) - F.coalesce("n_supp", F.lit(0)))
            .alias("imbalance"),
        )
        .orderBy("nationkey")
    )


# PageRank twin: the same 5 integer rounds UNROLLED as generated CTEs
# (one s{t}/r{t} pair per round) — aggregation over a recursive
# reference is engine-dependent, unrolling is not. // == `div` here
# because every operand is nonnegative.
def _pagerank_rounds_sql(rounds: int = 5) -> str:
    from ..operators.graph import BASE, DAMP_DEN, DAMP_NUM, SCALE

    parts = [
        "e AS (SELECT DISTINCT event_id % 400 AS src,"
        " (event_id * 7 + 3) % 400 AS dst FROM events)",
        "nodes AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION SELECT dst FROM e))",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({SCALE} AS BIGINT) AS rank FROM nodes)",
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"s{t} AS (SELECT e.dst AS node,"
            f" SUM(r{t-1}.rank // od.outdeg) AS s"
            f" FROM e JOIN r{t-1} ON r{t-1}.node = e.src"
            f" JOIN od ON od.src = e.src GROUP BY 1)"
        )
        parts.append(
            f"r{t} AS (SELECT n.node, CAST({BASE}"
            f" + ({DAMP_NUM} * COALESCE(s.s, 0)) // {DAMP_DEN} AS BIGINT)"
            f" AS rank FROM nodes n LEFT JOIN s{t} s ON s.node = n.node)"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, rank FROM r{rounds} ORDER BY node"
    )


@register(oracle=_pagerank_rounds_sql(5))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (operators/graph.pagerank_int —
    the second iterative-algorithm family next to connected
    components): 5 synchronous rounds over a 400-node graph derived
    from events (src = event_id % 400, dst = (event_id*7 + 3) % 400,
    distinct, provably self-loop-free: 6a+3 is odd, 400 even). Every
    step is integer (`div`), so the DuckDB twin — the same 5 rounds
    unrolled as CTEs — matches to the last digit. The engine loop
    localCheckpoints per round (NOTES.md #36)."""
    from ..operators.graph import pagerank_int

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    edges = ev.select(
        (e % 400).alias("src"), ((e * 7 + 3) % 400).alias("dst")
    ).distinct()
    return pagerank_int(edges, rounds=5).orderBy("node")


# MAD twin: quantile_cont == Spark percentile() exactly (NOTES #7);
# the deviations and the division run on identical doubles.
@register(oracle="""
    WITH base AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    med AS (
      SELECT event_type,
             quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
      FROM base GROUP BY 1),
    dev AS (
      SELECT b.event_id, b.event_type, b.cents, m.med,
             abs(CAST(b.cents AS DOUBLE) - m.med) AS adev
      FROM base b JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type, d.cents,
           (CAST(d.cents AS DOUBLE) - d.med) / m.mad AS mad_z
    FROM dev d JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND abs((CAST(d.cents AS DOUBLE) - d.med) / m.mad) > 3
    ORDER BY d.event_id
""")
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust outliers per event_type — the
    heavy-tail-safe alternative to mean/std z-scores for quality
    signals (one whale order doesn't move the median). Two exact
    percentile passes (Spark `percentile()` == DuckDB `quantile_cont`,
    NOTES.md #7) over integer cents, then mad_z = (x - med) / mad —
    subtraction/division of identical doubles, IEEE-exact in both
    engines. Flag |mad_z| > 3; groups where mad = 0 (over half the
    values identical) flag nothing (disclosed: mad-z undefined)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    base = ev.select("event_id", "event_type", cents.alias("cents"))
    stats = base.groupBy("event_type").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(stats), "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("mad") > 0)
        .select(
            "event_id",
            "event_type",
            "cents",
            ((F.col("cents").cast("double") - F.col("med")) / F.col("mad"))
            .alias("mad_z"),
        )
        .where(F.abs(F.col("mad_z")) > 3)
        .orderBy("event_id")
    )


# Table-diff twin: statuses from direct VALUE comparison (the engine
# uses md5 row digests — the digest mechanism sits between the two);
# bucket replays the shared md5 % recipe.
@register(oracle="""
    WITH base AS (
      SELECT c_custkey AS custkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
             c_mktsegment AS seg
      FROM customer),
    mut AS (
      SELECT custkey,
             CASE WHEN custkey % 13 = 0 THEN cents + 777 ELSE cents END
               AS cents,
             seg
      FROM base WHERE custkey % 41 <> 0),
    added AS (
      SELECT custkey, custkey * 31 AS cents, 'NEW' AS seg
      FROM (SELECT DISTINCT event_id % 200 + 1500 AS custkey FROM events)),
    b AS (SELECT * FROM mut UNION ALL SELECT * FROM added),
    d AS (
      SELECT COALESCE(a.custkey, b.custkey) AS custkey,
             CASE WHEN a.custkey IS NULL THEN 'added'
                  WHEN b.custkey IS NULL THEN 'removed'
                  WHEN a.cents <> b.cents OR a.seg <> b.seg THEN 'changed'
                  ELSE 'equal' END AS status
      FROM base a FULL OUTER JOIN b ON a.custkey = b.custkey)
    SELECT custkey,
           CAST(CAST(concat('0x', substr(md5(CAST(custkey AS VARCHAR)), 1,
                12)) AS BIGINT) % 256 AS BIGINT) AS bucket,
           status
    FROM d WHERE status <> 'equal'
    ORDER BY custkey
""")
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style snapshot reconciliation
    (operators/diff.snapshot_diff): customer vs a deterministically
    mutated twin (every 41st key removed, every 13th rebalanced, 200
    new keys appended) — bucket digests compared first, rows joined
    only in differing buckets. The ORACLE derives each status from
    direct VALUE comparison, while the engine derives it from md5 row
    digests — so the digest mechanism itself (48-bit sums, bucket
    recipe) sits between the two derivations."""
    from ..operators.diff import snapshot_diff

    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        cents.alias("cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    k = F.col("custkey")
    mutated = base.where(k % 41 != 0).select(
        "custkey",
        F.when(k % 13 == 0, F.col("cents") + 777)
        .otherwise(F.col("cents"))
        .alias("cents"),
        "seg",
    )
    added = (
        _t(spark, sf_dir, "events")
        .select((F.col("event_id") % 200 + 1500).alias("custkey"))
        .distinct()
        .select(
            "custkey",
            (F.col("custkey") * 31).alias("cents"),
            F.lit("NEW").alias("seg"),
        )
    )
    snap_b = mutated.unionByName(added)
    return snapshot_diff(
        base, snap_b, key="custkey", cols=["cents", "seg"], n_buckets=256
    ).orderBy("custkey")


# replays the manifest synthesis and the per-partition greedy binning
# (window cumsum + truncating integer division — values nonnegative,
# so DuckDB's // equals Spark's div)
@register(oracle="""
    WITH manifest AS (
      SELECT event_type AS pt, event_id AS file_id,
             ((event_id * 7919) % 1000) * 131072 + 4096 AS size_bytes
      FROM events
    ),
    eligible AS (
      SELECT * FROM manifest WHERE size_bytes < 33554432
    ),
    binned AS (
      SELECT pt, file_id, size_bytes,
             (sum(size_bytes) OVER (PARTITION BY pt ORDER BY file_id
                                    ROWS UNBOUNDED PRECEDING)
              - size_bytes) // 33554432 AS grp
      FROM eligible
    )
    SELECT pt, file_id, CAST(size_bytes AS BIGINT) AS size_bytes,
           CAST(grp AS BIGINT) AS grp,
           count(*) OVER (PARTITION BY pt, grp) AS group_files,
           CAST(sum(size_bytes) OVER (PARTITION BY pt, grp) AS BIGINT)
             AS group_bytes
    FROM binned ORDER BY pt, file_id
""")
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/maintenance.py —
    the Iceberg rewrite_data_files / Delta OPTIMIZE planning step):
    a synthetic file manifest (file sizes closed-form in event_id,
    skewed like real streaming commits; table-partitioned by
    event_type) is cut into target-size rewrite groups with a
    per-partition window cumsum + exact integer div. The DuckDB twin
    replays the identical manifest and binning — all int64 bytes."""
    from ..operators.maintenance import compaction_plan

    ev = _t(spark, sf_dir, "events")
    manifest = ev.select(
        F.col("event_type").alias("pt"),
        F.col("event_id").alias("file_id"),
        (((F.col("event_id") * 7919) % 1000) * 131072 + 4096).alias(
            "size_bytes"
        ),
    )
    out = compaction_plan(
        manifest,
        target_bytes=32 * 1024 * 1024,
        partition_cols=("pt",),
    )
    return out.orderBy("pt", "file_id")


@register(oracle="""
    WITH facts AS (
      SELECT event_id, (event_id % 509) AS user_id,
             ((event_id * 31) % 1000) AS v
      FROM events),
    dims AS (
      SELECT DISTINCT user_id, (user_id % 7) AS seg FROM facts)
    SELECT CAST(f.user_id AS BIGINT) AS user_id,
           CAST(d.seg AS BIGINT) AS seg,
           count(*) AS n,
           CAST(sum(f.v) AS BIGINT) AS sum_v
    FROM facts f JOIN dims d USING (user_id)
    GROUP BY 1, 2 ORDER BY user_id
""")
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed storage layout
    (sources/bucketed.py): both sides are written bucketed on the
    join key (paying the shuffle ONCE at write time), then joined
    through `colocated_join`, which refuses mismatched layouts
    instead of letting Catalyst silently fall back to a full
    re-shuffle. The Exchange-free SortMergeJoin plan shape is pinned
    by pytest (tests/test_bucketed.py — a values oracle cannot see
    plan properties); this contract query cross-checks that the
    layout round-trip CHANGES NOTHING about the answer: synthesize ->
    bucketed write -> catalog read -> co-located join -> aggregate
    must equal DuckDB's plain join over the same closed-form input."""
    import atexit
    import glob
    import os
    import shutil
    import uuid

    from ..sources.bucketed import colocated_join, write_bucketed

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    facts = ev.select(
        "event_id",
        (e % 509).alias("user_id"),
        ((e * 31) % 1000).alias("v"),
    )
    dims = (
        facts.select("user_id").distinct().select(
            "user_id", (F.col("user_id") % 7).alias("seg")
        )
    )
    # hermetic per-invocation layout: unique temp dir + table names so
    # concurrent contract runs (or a driver running queries in
    # parallel) never collide on path or metastore name; the catalog
    # entries are dropped as soon as the join plan is ANALYZED (the
    # resolved relation executes fine without them), and the data dir
    # is removed when this process next runs the query (the previous
    # result has been executed by then) or at interpreter exit — at
    # most one layout in /tmp per process, none after a run
    mine = f"/tmp/ds2_q_bucketed_{os.getpid()}_"
    for old in glob.glob(mine + "*"):
        shutil.rmtree(old, ignore_errors=True)
    tag = uuid.uuid4().hex[:12]
    base = mine + tag
    tf, td = f"q_bj_facts_{tag}", f"q_bj_dims_{tag}"
    write_bucketed(facts, tf, f"{base}/facts", "user_id", 8,
                   sort_col="user_id")
    write_bucketed(dims, td, f"{base}/dims", "user_id", 8,
                   sort_col="user_id")
    j = colocated_join(spark, tf, td, ["user_id"])
    _ = j.schema  # force analysis before the catalog entries go away
    spark.sql(f"DROP TABLE IF EXISTS {tf}")
    spark.sql(f"DROP TABLE IF EXISTS {td}")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return (
        j.groupBy("user_id", "seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
        )
        .orderBy("user_id")
    )


@register(oracle="""
    WITH a AS (
      SELECT CAST(((event_id * 7919) % 101) // 10 AS INT) AS bucket
      FROM events WHERE event_id % 2 = 0),
    b AS (
      SELECT CAST(least(((event_id * 7919) % 101) // 10
                        + event_id % 3, 10) AS INT) AS bucket
      FROM events WHERE event_id % 2 = 1),
    ca AS (SELECT bucket, count(*) AS cnt_a FROM a GROUP BY 1),
    cb AS (SELECT bucket, count(*) AS cnt_b FROM b GROUP BY 1),
    cells AS (
      SELECT coalesce(ca.bucket, cb.bucket) AS bucket,
             CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a,
             CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b
      FROM ca FULL OUTER JOIN cb ON ca.bucket = cb.bucket),
    tot AS (
      SELECT CAST(sum(cnt_a) AS BIGINT) AS na,
             CAST(sum(cnt_b) AS BIGINT) AS nb,
             CAST(count(*) AS BIGINT) AS nbk
      FROM cells),
    terms AS (
      SELECT
        CAST(round(((CAST(cnt_a + 1 AS DOUBLE) / CAST(na + nbk AS DOUBLE))
                    - (CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + nbk AS DOUBLE)))
                   * ln((CAST(cnt_a + 1 AS DOUBLE) / CAST(na + nbk AS DOUBLE))
                        / (CAST(cnt_b + 1 AS DOUBLE)
                           / CAST(nb + nbk AS DOUBLE)))
                   * 1000000.0) AS BIGINT) AS psi_e6,
        CAST(round((
            (CAST(cnt_a AS DOUBLE)
             - CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
               / CAST(na + nb AS DOUBLE))
            * (CAST(cnt_a AS DOUBLE)
               - CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
            / (CAST(na AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
               / CAST(na + nb AS DOUBLE))
            + (CAST(cnt_b AS DOUBLE)
               - CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
              * (CAST(cnt_b AS DOUBLE)
                 - CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                   / CAST(na + nb AS DOUBLE))
              / (CAST(nb AS DOUBLE) * CAST(cnt_a + cnt_b AS DOUBLE)
                 / CAST(na + nb AS DOUBLE))
          ) * 1000000.0) AS BIGINT) AS chi2_e6,
        abs(CAST(cnt_a + 1 AS HUGEINT) * CAST(nb + nbk AS HUGEINT)
            - CAST(cnt_b + 1 AS HUGEINT) * CAST(na + nbk AS HUGEINT))
          AS tv_num,
        CAST(na + nbk AS HUGEINT) * CAST(nb + nbk AS HUGEINT) AS tv_den
      FROM cells CROSS JOIN tot)
    SELECT (SELECT na FROM tot) AS n_a,
           (SELECT nb FROM tot) AS n_b,
           (SELECT nbk FROM tot) AS n_buckets,
           CAST(sum(psi_e6) AS BIGINT) / 1000000.0 AS psi,
           CAST(sum(chi2_e6) AS BIGINT) / 1000000.0 AS chi2,
           CAST(sum(tv_num) AS DOUBLE)
             / (2.0 * CAST(max(tv_den) AS DOUBLE)) AS tv_distance
    FROM terms
""")
def q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (operators/drift.drift_summary): PSI,
    chi-square, and exact total-variation distance between two score
    populations — the between-recalibrations monitoring a production
    curation loop runs (did the corpus move since the last pass?).
    Even events are snapshot A (uniform decile buckets), odd events
    are B with a deterministic upward shift, so the drift is real and
    interior. Each snapshot collapses to per-bucket counts in one
    map-side-combined pass; PSI/chi2 terms are e6-quantized integers
    before summing (order-free totals; the tfidf 6-dp/ln discipline),
    TV is 128-bit-exact integer arithmetic with ONE double division
    at the end — so the DuckDB twin, replaying the same algebra over
    its own full-outer-join of counts, must match bit-for-bit."""
    from ..operators.drift import drift_summary

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    score = (e * 7919) % 101
    a = ev.where(e % 2 == 0).select(
        F.floor(score / 10).cast("int").alias("bucket")
    )
    b = ev.where(e % 2 == 1).select(
        F.least(F.floor(score / 10) + e % 3, F.lit(10))
        .cast("int")
        .alias("bucket")
    )
    return drift_summary(a, b, "bucket")


# Expectations: independent conditional-count derivation per rule (the
# oracle never sees the stack/wide-agg mechanics — it recomputes each
# count from the raw tables). CAST sums to BIGINT (DuckDB sum(INT) is
# HUGEINT, NOTES #12).
@register(oracle="""
    WITH o AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F') THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
             CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
             CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq
      FROM orders),
    l AS (
      SELECT count(*) AS n,
             CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
             CAST(count(l_orderkey) - count(DISTINCT l_orderkey) AS BIGINT) AS v_uniq
      FROM lineitem)
    SELECT * FROM (
      SELECT 'orders' AS tbl, 'priority_format' AS rule, n AS n_rows,
             v_prio AS violations, v_prio = 0 AS pass FROM o
      UNION ALL
      SELECT 'orders', 'status_domain', n, v_status, v_status = 0 FROM o
      UNION ALL
      SELECT 'orders', 'unique:o_orderkey', n, v_uniq, v_uniq = 0 FROM o
      UNION ALL
      SELECT 'lineitem', 'qty_le_30', n, v_qty, v_qty = 0 FROM l
      UNION ALL
      SELECT 'lineitem', 'unique:l_orderkey', n, v_uniq, v_uniq = 0 FROM l)
    ORDER BY tbl, rule
""")
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation (operators/expectations.check_contract)
    — the pre-ingest batch gate: every predicate rule compiles to one
    conditional sum inside a SINGLE aggregate per table (one scan no
    matter how many rules; column pruning reads only ruled columns),
    uniqueness rides the same aggregate as exact countDistinct terms.
    Non-vacuous on real TPC-H data: l_quantity exceeds 30 (range rule
    fires), o_orderstatus contains 'P' (domain rule fires), l_orderkey
    repeats (uniqueness fires with the exact surplus-row count), while
    priority format and o_orderkey uniqueness genuinely pass — the oracle
    hash pins both firing and non-firing rules."""
    from ..operators.expectations import (
        check_contract,
        rule_in_set,
        rule_range,
        rule_rlike,
    )

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o_report = check_contract(
        orders,
        rules=[
            rule_in_set("status_domain", "o_orderstatus", ["O", "F"]),
            rule_rlike("priority_format", "o_orderpriority", "^[1-5]-[A-Z ]+$"),
        ],
        unique=["o_orderkey"],
    ).withColumn("tbl", F.lit("orders"))
    l_report = check_contract(
        li,
        rules=[rule_range("qty_le_30", "l_quantity", 1, 30)],
        unique=["l_orderkey"],
    ).withColumn("tbl", F.lit("lineitem"))
    return (
        o_report.unionByName(l_report)
        .select("tbl", "rule", "n_rows", "violations", "pass")
        .orderBy("tbl", "rule")
    )


# Grouped exact percentiles: DuckDB quantile_cont implements the same
# linearly-interpolated quantile as np.percentile / Spark percentile();
# the engine side is the HISTOGRAM decomposition (operators/percentile.py)
# so this oracle also proves hist-path == sorted-buffer semantics.
@register(oracle="""
    SELECT l_returnflag, l_linestatus,
           count(l_quantity) AS n,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS p25,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS p75,
           round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4) AS p90
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
""")
def q_percentile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped EXACT percentiles via the value-histogram decomposition
    (operators/percentile.py) — the 10^12-row scale path: state is one
    row per distinct (group, value) pair spread across ALL reducers,
    never a per-group value buffer on one task. l_quantity's domain is
    integers 1..50, so the histogram is ≤ 50 rows per (returnflag,
    linestatus) group at ANY scale factor. Percentiles 0.25/0.5/0.75
    are exactly representable doubles; the lerp is the same
    x_fl + frac*(x_cl - x_fl) as np.percentile / quantile_cont."""
    from ..operators.percentile import grouped_percentile_hist

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", F.col("l_quantity").cast("double").alias("qty")
    )
    out = grouped_percentile_hist(
        li,
        ["l_returnflag", "l_linestatus"],
        "qty",
        [0.25, 0.5, 0.75, 0.9],
        check_cardinality=False,  # domain known ≤ 50 values/group
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n",
        F.round("p25", 4).alias("p25"),
        F.round("p50", 4).alias("p50"),
        F.round("p75", 4).alias("p75"),
        F.round("p90", 4).alias("p90"),
    ).orderBy("l_returnflag", "l_linestatus")
