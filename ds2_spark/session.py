"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; on a real cluster the same
configs apply (AQE, skew-join, Arrow batching). Nothing here is
local-only except the master URL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch ceiling: audio `bytes` rows are large (~100KB+ each at
# median 6s/16kHz PCM16); 2k rows/batch keeps a batch under ~256MB.
ARROW_MAX_RECORDS = 2048
# generated-class cache entries: room for several runs' working sets
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "ds2_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus defaults to $SPARK_GRAFT_CPUS (else all cores). Shuffle
    partitions default to the core count — correct for local mode;
    on a real cluster AQE coalescing re-sizes them at runtime anyway.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # sandbox /etc/resolv.conf points at a blackhole nameserver; pin the
    # driver to loopback so no code path ever waits on DNS.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        # NOTE: bigger is NOT better in sandboxed single-JVM mode — a
        # 48g heap measured 10-30x higher per-action latency here (GC /
        # page-fault churn under gVisor). 12g fits all broadcasts
        # (pool <= 100MB) + caches with room to spare.
        .config("spark.driver.memory", os.environ.get("DS2_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # columnar batches default to 4096 rows; with ~12KB audio
        # payloads that is ~48MB of on-heap ColumnVector churn PER TASK
        # and the 6GB bytes scan stops scaling with cores (measured:
        # flat 2->8). 1024-row batches restore scan scaling without
        # hurting narrow TPC-H-style scans (NOTES.md #28).
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # v2 commit: task files rename straight to the final location
        # (one rename per file, not two). Output correctness is
        # unaffected for these non-speculative batch writes, and the
        # per-job commit cost halves — measurable on this sandbox's
        # serialized-rename filesystem and on any object store.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # static: the generated-class cache, keyed by source text. At
        # Spark's default of 100 entries it is smaller than one run's
        # working set (a curation pipeline run compiles ~100-112
        # classes, a q_corpus_build + q_bloom_decontaminate pass ~155),
        # so every repeat misses, re-compiles with Janino and re-JITs.
        # A hit returns the class compiled from the identical source.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
