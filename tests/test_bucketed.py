"""Bucketed storage layout: shuffle-free co-located joins/aggs.

The assertion that matters here is the PLAN, not the values: a
bucketed join that silently falls back to a shuffle produces the same
rows, so only the physical plan string can pin the property the
layout pays for.
"""

import pytest
from pyspark.sql import functions as F

from ds2_spark.sources.bucketed import colocated_join, write_bucketed


def _plan(df) -> str:
    # executedPlan, not sparkPlan: EnsureRequirements inserts the
    # Exchanges only at the prepare step, so the pre-prepared plan
    # never shows a shuffle and the assertion would be vacuous
    return df._jdf.queryExecution().executedPlan().toString()


class _no_broadcast:
    """Disable auto-broadcast so the join must use the stored layout:
    with a broadcastable side Catalyst rightly prefers BHJ and the
    bucket property would not be exercised at test scale."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # Spark 3+ distrusts stored bucket sort order by default
        # (multi-file buckets would break it); write_bucketed
        # guarantees one file per bucket, which is exactly the case
        # the legacy flag exists for
        self.spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )

    def __exit__(self, *a):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.old)
        self.spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    facts = spark.range(20000).select(
        (F.col("id") % 997).alias("user_id"),
        ((F.col("id") * 31) % 1000).alias("v"),
    )
    dims = spark.range(997).select(
        F.col("id").alias("user_id"), (F.col("id") % 7).alias("seg")
    )
    write_bucketed(
        facts, "tb_facts", "/tmp/ds2_bucketed_t/facts", "user_id", 16,
        sort_col="user_id",
    )
    write_bucketed(
        dims, "tb_dims", "/tmp/ds2_bucketed_t/dims", "user_id", 16,
        sort_col="user_id",
    )
    write_bucketed(
        dims, "tb_dims8", "/tmp/ds2_bucketed_t/dims8", "user_id", 8
    )
    return facts, dims


def test_colocated_join_has_no_exchange_and_right_values(
    spark, bucketed_tables
):
    facts, dims = bucketed_tables
    with _no_broadcast(spark):
        j = colocated_join(spark, "tb_facts", "tb_dims", ["user_id"])
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # sortBy at write time also removes the per-task Sort
        assert "Sort " not in plan
        # control: the same join over unbucketed frames must shuffle
        assert "Exchange" in _plan(facts.join(dims, "user_id"))
    plain = {
        (r["user_id"], r["seg"]): r["sv"]
        for r in facts.join(dims, "user_id")
        .groupBy("user_id", "seg")
        .agg(F.sum("v").alias("sv"))
        .collect()
    }
    got = {
        (r["user_id"], r["seg"]): r["sv"]
        for r in j.groupBy("user_id", "seg")
        .agg(F.sum("v").alias("sv"))
        .collect()
    }
    assert got == plain


def test_bucketed_agg_on_key_has_no_exchange(spark, bucketed_tables):
    agg = (
        spark.table("tb_facts")
        .groupBy("user_id")
        .agg(F.sum("v").alias("sv"))
    )
    assert "Exchange" not in _plan(agg)
    # control: the same aggregation on the unbucketed frame shuffles
    facts, _ = bucketed_tables
    ctrl = facts.groupBy("user_id").agg(F.sum("v").alias("sv"))
    assert "Exchange" in _plan(ctrl)


def test_mismatched_layouts_refused(spark, bucketed_tables):
    with pytest.raises(ValueError, match="bucket counts differ"):
        colocated_join(spark, "tb_facts", "tb_dims8", ["user_id"])
    with pytest.raises(ValueError, match="do not cover"):
        colocated_join(spark, "tb_facts", "tb_dims", ["seg"])
    with pytest.raises(ValueError, match="not bucketed"):
        spark.range(3).write.mode("overwrite").option(
            "path", "/tmp/ds2_bucketed_t/plain"
        ).format("parquet").saveAsTable("tb_plain")
        colocated_join(spark, "tb_plain", "tb_dims", ["user_id"])
    with pytest.raises(ValueError, match="positive"):
        write_bucketed(
            spark.range(3), "tb_bad", "/tmp/ds2_bucketed_t/bad", "id", 0
        )


def test_q_bucketed_join_keeps_at_most_one_layout_dir(spark):
    """Each q_bucketed_join call writes a fresh /tmp layout; the next
    call removes the previous one instead of leaving it until exit."""
    import glob

    from ds2_spark.queries_catalog.relational import q_bucketed_join

    before = set(glob.glob("/tmp/ds2_q_bucketed_*"))
    counts = [
        q_bucketed_join(spark, "/root/testdata/sf0.001").count() for _ in range(2)
    ]
    assert counts[0] == counts[1] > 0
    assert len(set(glob.glob("/tmp/ds2_q_bucketed_*")) - before) <= 1
