"""Table readers and the money-sum helper shared by every family."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    """Exact money aggregation: round to integer cents, sum as long."""
    return F.round(col * 100).cast("long")


def _td(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` spread across all slots: the parquet file is a
    single row group (unsplittable), so any heavy NARROW pipeline
    over it — gram explodes, simhash aggregation partials, BPE/LM
    mapInPandas kernels — would otherwise run on the scan's 1-2
    partitions (the events-synthesis idiom, applied to docs; guide
    §2.5 input skew). Queries whose first post-scan op is already an
    exchange keep the plain `_t` scan."""
    return _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
