"""Source/sink wrappers (SURVEY.md §2.1).

Thin, explicit-schema wrappers over spark.read — the reference's file
loaders re-expressed (S1 HF dataset scan -> parquet/Iceberg; S4 CSV
loader csv_loder.py:6-44; S5 gzip JSONL hh_rlhf.py:29-41; S6 JSON
sink subset_generation.py:127-128). Explicit schemas everywhere: at
10^12 rows, schema inference is a full extra scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
    ]
)


def read_clips(spark: SparkSession, path: str) -> DataFrame:
    """Primary input table. With Iceberg jars present this becomes
    spark.read.format('iceberg'); parquet layout is identical."""
    return spark.read.schema(CLIPS_SCHEMA).parquet(path)


def read_csv_table(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """CSV scan (reference docta/datasets/csv_loder.py). header=True;
    schema required in production (inference = extra full scan)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """JSONL scan, transparently gzipped (reference hh_rlhf.py gz
    chat logs)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON sink for the selected subset (reference
    subset_generation.py:127-128 to_json)."""
    df.write.mode(mode).json(path)


def flatten_dialog(df: DataFrame, messages_col: str = "messages") -> DataFrame:
    """The reference's dialog flattening (docta/datasets/tulu.py:24-28,
    LLM_scoring/scoring.py:47-51): array<struct<role,content>> ->
    one '###role: content\\n'-concatenated string — as a single
    built-in expression (no UDF)."""
    flat = F.aggregate(
        F.col(messages_col),
        F.lit(""),
        lambda acc, m: F.concat(
            acc, F.lit("###"), m["role"], F.lit(": "), m["content"], F.lit("\n")
        ),
    )
    return df.withColumn("transcript", flat)


def read_media_folder(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    codec_from_ext: bool = True,
) -> DataFrame:
    """S7 binary media scan via Spark's `binaryFile` source — the
    re-expression of the reference's image-folder loaders
    (score_curation/docta/datasets/cifar.py,
    customize_img_folder.py): one row per file with
    (clip_id, bytes, codec, length, mod_time).

    Scale notes: binaryFile supports pathGlobFilter pushdown and
    partition discovery; `content` is only materialized for rows that
    survive pushed filters, and downstream stages must keep the bytes
    column out of shuffles (SURVEY.md §7.3 bytes discipline — join on
    clip_id, never carry content through wide ops). Decode happens in
    operators/audio.py / operators/multimodal.py mapInPandas stages.
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    stem = F.regexp_replace(name, r"\.[A-Za-z0-9]+$", "")
    ext = F.lower(F.regexp_extract(name, r"\.([A-Za-z0-9]+)$", 1))
    codec = (
        F.when(ext == "wav", "pcm_s16le").otherwise(ext)
        if codec_from_ext
        else F.lit(None).cast("string")
    )
    return df.select(
        stem.alias("clip_id"),
        F.col("content").alias("bytes"),
        codec.alias("codec"),
        F.col("length"),
        F.col("modificationTime").alias("mod_time"),
    )
