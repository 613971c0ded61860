"""curation_pipeline refuses a clips/scores table it cannot read,
naming the table, the column and the expected and found types, before
any Spark job runs."""

import pytest
from pyspark.sql import functions as F

from ds2_spark.plans.curation import InputSchemaError, curation_pipeline


def _refusal(spark, clips, scores) -> InputSchemaError:
    sc = spark.sparkContext
    sc.setJobGroup("input_refusal", "curation_pipeline on bad input")
    try:
        with pytest.raises(InputSchemaError) as err:
            curation_pipeline(spark, clips, scores)
        jobs = sc.statusTracker().getJobIdsForGroup("input_refusal")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert jobs == []  # refused before any action
    assert isinstance(err.value, ValueError)
    return err.value


def test_missing_clips_column_is_refused(spark, clips_df, fixture_paths):
    scores = spark.read.parquet(fixture_paths["scores"])
    e = _refusal(spark, clips_df.drop("codec"), scores)
    assert str(e) == "clips.codec: expected string, found no such column"


def test_wrong_clips_type_is_refused(spark, clips_df, fixture_paths):
    scores = spark.read.parquet(fixture_paths["scores"])
    clips = clips_df.withColumn("dur_ms", F.col("dur_ms").cast("double"))
    e = _refusal(spark, clips, scores)
    assert str(e) == "clips.dur_ms: expected integral, found double"


def test_missing_scores_column_is_refused(spark, clips_df, fixture_paths):
    scores = spark.read.parquet(fixture_paths["scores"]).drop("rater")
    e = _refusal(spark, clips_df.withColumn("extra", F.lit(1)), scores)
    assert str(e) == "scores.rater: expected string, found no such column"
