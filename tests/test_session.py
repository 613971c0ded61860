"""Session settings that hold across a run: the generated-class cache
keeps a repeated plan's classes, so the repeat compiles nothing."""

from pyspark.sql import functions as F

from ds2_spark.plans.curation import curation_pipeline
from ds2_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _multi_stage(spark):
    left = spark.range(0, 2000, 1, 4).withColumn("k", F.col("id") % 7)
    right = (
        spark.range(0, 500, 1, 2)
        .withColumn("k", F.col("id") % 5)
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )
    return (
        left.join(right, "k")
        .groupBy("k")
        .agg(F.sum("id").alias("s"), F.max("n").alias("n"))
        .orderBy("k")
        .collect()
    )


def test_repeated_query_compiles_nothing(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    first = _multi_stage(spark)
    before = _compiles(spark)
    assert _multi_stage(spark) == first
    assert _compiles(spark) == before


def _run_pipeline(spark, clips, scores, cfg) -> list:
    res = curation_pipeline(spark, clips, scores, cfg, rater="rater_a")
    try:
        return sorted(res["decisions"].collect())
    finally:
        for df in res["_persisted"]:
            df.unpersist()


def test_curation_rerun_compiles_nothing(spark, clips_df, fixture_paths, tiny_cfg):
    """One curation run generates more classes than Spark's default
    cache of 100 entries holds; a second run in the same JVM must
    still find every one of them."""
    scores = spark.read.parquet(fixture_paths["scores"])
    first = _run_pipeline(spark, clips_df, scores, tiny_cfg)
    before = _compiles(spark)
    assert _run_pipeline(spark, clips_df, scores, tiny_cfg) == first
    assert _compiles(spark) == before
