"""Trained linear quality probe (operators/probe).

The exactness claim under test: integer-quantized gradient sums make
the ENTIRE training trajectory bit-identical across (a) Spark with
any partitioning, (b) the pure-Python replay, and (c) the unrolled
DuckDB CTE oracle (pinned by the q_quality_probe contract row). Plus:
the probe actually learns a separable rule, and refusals fire.
"""

import pytest
from pyspark.sql import functions as F

from ds2_spark.operators.probe import (
    probe_dot_sql,
    probe_score_col,
    train_linear_probe,
)

from .oracle.twins import train_linear_probe_np


def _rows(n=2000):
    rows = []
    for i in range(n):
        f1 = (i * 131) % 7
        f2 = i % 5
        y = 1 if f1 + f2 > 5 else 0
        rows.append((i, 1, f1, f2, y))
    return rows


def _df(spark, n=2000, parts=4):
    return spark.createDataFrame(
        _rows(n), "i long, b int, f1 int, f2 int, y int"
    ).repartition(parts)


COLS = ["b", "f1", "f2"]


def test_engine_matches_numpy_replay_bitexact(spark):
    w = train_linear_probe(_df(spark), COLS, "y", steps=8, lr=0.02)
    X = [[r[1], r[2], r[3]] for r in _rows()]
    y = [r[4] for r in _rows()]
    wn = train_linear_probe_np(X, y, steps=8, lr=0.02)
    assert w == wn, (w, wn)  # bit-identical, no tolerance


def test_partitioning_invariance(spark):
    w2 = train_linear_probe(_df(spark, parts=2), COLS, "y", steps=5, lr=0.02)
    w13 = train_linear_probe(_df(spark, parts=13), COLS, "y", steps=5, lr=0.02)
    assert w2 == w13


def test_probe_learns_separable_rule(spark):
    df = _df(spark)
    w = train_linear_probe(df, COLS, "y", steps=8, lr=0.02)
    score = probe_score_col(COLS, w)
    acc = (
        df.select(((score >= 0.5).cast("int") == F.col("y")).cast("int").alias("ok"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > 0.85, acc
    # and the keep split is non-vacuous
    kept = df.select((score >= 0.5).alias("k")).filter("k").count()
    assert 0 < kept < df.count()


def test_dot_sql_matches_column(spark):
    import duckdb

    w = [0.125, -0.5, 0.0625]  # exactly-representable to isolate assoc
    rows = _rows(50)
    sdf = spark.createDataFrame(rows, "i long, b int, f1 int, f2 int, y int")
    got = {
        r["i"]: r["s"]
        for r in sdf.select(
            "i", probe_score_col(COLS, w).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, b INT, f1 INT, f2 INT, y INT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
    for i, s in con.execute(
        f"SELECT i, {probe_dot_sql(COLS, w)} FROM t"
    ).fetchall():
        assert got[i] == s, i


def test_refusals(spark):
    df = _df(spark, n=50)
    with pytest.raises(ValueError, match="feature column"):
        train_linear_probe(df, [], "y")
    with pytest.raises(ValueError, match="empty"):
        train_linear_probe(df.filter("i < 0"), COLS, "y")
    nulled = df.withColumn(
        "f1", F.when(F.col("i") == 3, None).otherwise(F.col("f1"))
    )
    with pytest.raises(ValueError, match="NULL feature"):
        train_linear_probe(nulled, COLS, "y")
