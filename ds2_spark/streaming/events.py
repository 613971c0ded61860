"""Structured Streaming over the events table.

The reference is a pure batch pipeline (SURVEY.md §2.10) — the
engine's exact-resume posture mirrors Structured Streaming's
commit-log pattern via sources/lineage.py. This module demonstrates
the genuine streaming surface for users who feed clips/events
incrementally:

  - windowed_event_counts: tumbling event-time window + watermark agg
  - run_stream_once: drive a parquet-directory stream to completion
    synchronously (memory sink) — the local smoke-test harness

The same transformations run identically in batch (see
queries_catalog.relational.q_time_buckets, the batch twin of the windowed agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling window agg with late-data watermark; works on both a
    streaming and a batch DataFrame."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_stream_once(spark: SparkSession, events_dir: str, query_name: str = "ev_out") -> DataFrame:
    """Drive a file-source stream to completion (one pass over the
    directory) and return the materialized result."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(events_dir)
    )
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def running_type_stats(events: DataFrame) -> DataFrame:
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per event_type, a running (count, sum, mean) maintained in
    GroupState across micro-batches — the pattern for any custom
    accumulator the built-in windowed aggs can't express (north-rule
    'custom stateful operators' surface). Emits one updated row per
    group per trigger.

    State is a 2-field tuple (n, sum_value): O(#groups) memory,
    independent of stream length — safe at any scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n": [n],
                "sum_value": [round(s, 2)],
                "mean_value": [round(s / n, 6) if n else 0.0],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType="event_type string, n bigint, sum_value double, mean_value double",
        stateStructType="n bigint, sum_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_stream_once(
    spark: SparkSession, events_dir: str, query_name: str = "ev_state"
) -> DataFrame:
    """Drive the stateful running-stats stream over a file source one
    micro-batch per file (maxFilesPerTrigger=1 forces state to carry
    across triggers) and return the LAST update per group."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    agg = running_type_stats(stream)
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # memory sink in update mode appends every emitted update; the
    # final state per group is the row with the largest n
    out = spark.sql(f"SELECT * FROM {query_name}")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


# ---------------- streaming quality filter (clips stream) ----------------

CLIPS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
    ]
)


def streaming_rule_decisions(clips_stream: DataFrame, cfg=None) -> DataFrame:
    """The flagship quality-filter rules stage, the batch pipeline's own
    `make_rules_stage` (langid + ppl + quality ratios + scrub + audio
    metadata sanity + reason codes), applied to a STREAMING clips
    DataFrame. Every stage transformation is stateless per row, so the
    identical plan runs under Structured Streaming unchanged, with
    stream==batch equality pinned in tests."""
    from ..config import PipelineConfig
    from ..plans.curation import make_rules_stage

    return make_rules_stage(cfg or PipelineConfig())(clips_stream).select(
        "clip_id", "lang", "reason", "keep_rules", "transcript_scrubbed"
    )


def run_codec_energy_stream_once(
    spark: SparkSession, clips_dir: str, query_name: str = "codec_energy"
) -> DataFrame:
    """Incremental-ingest twin of the bytes-decoding audio stage:
    `audio_codec_energy` (PCM16 / G.711 / IMA-ADPCM / FLAC real
    decode) over a micro-batched clips file stream. The operator is a
    stateless mapInPandas over a pruned projection, so the identical
    Arrow-batched decode plan runs under Structured Streaming
    unchanged — new audio landing in the table decodes as it arrives,
    with refusal semantics (unknown codec, NULL/corrupt payload ->
    decoded_ok=false) byte-for-byte equal to the batch run, pinned in
    tests over a mixed-codec corpus."""
    from ..operators.audio import audio_codec_energy

    stream = (
        spark.readStream.schema(CLIPS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(clips_dir)
    )
    out = audio_codec_energy(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_trim_stream_once(
    spark: SparkSession,
    clips_dir: str,
    query_name: str = "clip_trim",
    frame_samples: int = 4,
    energy_threshold: int = 100,
) -> DataFrame:
    """Incremental twin of the bytes-TRANSFORMING audio stage:
    `audio_trim` (leading/trailing silence removal, trimmed bytes
    emitted partition-local) over a micro-batched clips file stream.
    Like the decode twin above it is a stateless mapInPandas over a
    pruned projection, so the identical Arrow plan — including the
    binary OUTPUT column — runs under Structured Streaming unchanged;
    clips landing in the table are edge-trimmed as they arrive."""
    from ..operators.audio import audio_trim

    stream = (
        spark.readStream.schema(CLIPS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(clips_dir)
    )
    out = audio_trim(
        stream, frame_samples=frame_samples, energy_threshold=energy_threshold
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_pq_encode_stream_once(
    spark: SparkSession,
    emb_dir: str,
    codebooks,
    query_name: str = "pq_codes",
    quantize_scale: int = 1000,
) -> DataFrame:
    """Incremental twin of the PQ index build: `pq_encode`
    (operators/pq.py) over a micro-batched embeddings file stream —
    new vectors are compressed to codes as they land, so the ANN
    index relation stays current without full rebuilds. Stateless
    Arrow mapInPandas over a pruned projection: the identical encode
    plan runs under Structured Streaming unchanged."""
    from ..operators.pq import pq_encode

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 2)
        .parquet(emb_dir)
    )
    out = pq_encode(stream, codebooks, quantize_scale=quantize_scale)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_bpe_encode_stream_once(
    spark: SparkSession,
    docs_dir: str,
    merges,
    query_name: str = "bpe_tokens",
) -> DataFrame:
    """Incremental twin of corpus tokenization: `bpe_encode`
    (operators/bpe.py) over a micro-batched documents file stream —
    newly-landed docs get token counts/hashes under a FROZEN merge
    table (the production pattern: the tokenizer is versioned and
    pinned while the corpus grows). Stateless Arrow mapInPandas over
    the pruned (doc_id, text) projection; the identical encode plan
    runs under Structured Streaming unchanged."""
    from ..operators.bpe import bpe_encode

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 2)
        .parquet(docs_dir)
    )
    out = bpe_encode(stream, merges)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_rules_stream_once(
    spark: SparkSession, clips_dir: str, query_name: str = "clip_rules", cfg=None
) -> DataFrame:
    """Drive the streaming quality filter over a parquet clips
    directory (micro-batched file source) to completion; append mode —
    pure per-row decisions, no state, no watermark needed."""
    stream = (
        spark.readStream.schema(CLIPS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(clips_dir)
    )
    dec = streaming_rule_decisions(stream, cfg)
    q = (
        dec.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def session_event_counts(events: DataFrame, gap: str = "12 hours",
                         watermark: str = "1 day") -> DataFrame:
    """Native session-window aggregation: per-user sessions that merge
    while events arrive within `gap` of the running window. Works on
    batch and streaming frames alike. This is the streaming twin of
    operators/timeseries.sessionize (whose batch decomposition is
    DuckDB-oracle-verified); pytest pins the two implementations to
    each other on the same data. Session state is bounded by the
    watermark: closed sessions age out of the state store.

    Boundary note: session_window treats an event exactly `gap` after
    the previous as a NEW session (half-open [start, last+gap)
    windows); the batch operator continues the session on exact
    equality. Microsecond event times make ties measure-zero; pick
    one convention when porting corpora with quantized timestamps."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def run_session_stream_once(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "ev_sessions",
    watermark: str = "1 day",
) -> DataFrame:
    """Drive the session-window stream over a file source in several
    micro-batches (sessions must merge ACROSS triggers) and return the
    final session table. NOTE: the file source picks files by
    modification time, not event time — when replaying a directory
    whose files are not in event-time order, pass a watermark wider
    than the replay's disorder or whole late files are (correctly)
    dropped as late data."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )
    agg = session_event_counts(stream, watermark=watermark)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup with BOUNDED state: first occurrence of
    each event_id within the watermark horizon passes, replays are
    dropped. `dropDuplicatesWithinWatermark` ages dedup keys out of
    the state store once the watermark passes them — plain
    `dropDuplicates` on a stream keeps every key forever, which at
    the 10^12-event design point is an unbounded state store and an
    inevitable OOM. The horizon is the at-least-once redelivery
    window of the upstream bus (e.g. Kafka), not the stream's
    lifetime, so state stays O(events per horizon).

    Works on a batch DataFrame too (falls back to plain
    dropDuplicates semantics over the whole input), which is what the
    stream==batch parity test exploits.
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            ["event_id"]
        )
    return events.dropDuplicates(["event_id"])


def run_dedup_stream_once(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "ev_dedup",
    watermark: str = "2 hours",
) -> DataFrame:
    """Drive the dedup stream over a file-source replay (several
    micro-batches, so replayed duplicates arrive in LATER triggers
    than their originals and must be caught by the state store, not
    by intra-batch dedup)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )
    q = (
        dedup_events_stream(stream, watermark=watermark)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def interval_join_streams(
    probes: DataFrame,
    quotes: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    lookback: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each probe event pairs
    with the same key's quote events from the PRECEDING lookback
    window (quote.ts in [probe.ts - lookback, probe.ts]). The two
    watermarks plus the time-range predicate are what make unbounded
    stream-stream state finite: Spark evicts buffered rows once the
    watermark passes their join horizon, so state is O(events per
    lookback+watermark window per key), not O(stream).

    Works identically on batch DataFrames (the range predicate is the
    same expression), which the stream==batch parity test exploits.
    Output: key, probe ts/id, quote ts/id — callers aggregate.
    """
    p = probes.select(
        F.col(key).alias("p_key"),
        F.col(ts).alias("p_ts"),
        F.col("event_id").alias("p_id"),
    )
    q = quotes.select(
        F.col(key).alias("q_key"),
        F.col(ts).alias("q_ts"),
        F.col("event_id").alias("q_id"),
    )
    if probes.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if quotes.isStreaming:
        q = q.withWatermark("q_ts", watermark)
    return p.join(
        q,
        F.expr(
            f"p_key = q_key AND q_ts >= p_ts - interval {lookback} "
            "AND q_ts <= p_ts"
        ),
    )


def run_interval_join_once(
    spark: SparkSession,
    probes_dir: str,
    quotes_dir: str,
    query_name: str = "ev_ijoin",
    lookback: str = "2 hours",
    watermark: str = "3650 days",
) -> DataFrame:
    """Drive the stream-stream join over two file-source replays in
    multiple micro-batches (matches must form ACROSS batches from
    buffered state, not within one batch)."""
    mk = lambda d: (  # noqa: E731
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(d)
    )
    joined = interval_join_streams(
        mk(probes_dir), mk(quotes_dir), lookback=lookback, watermark=watermark
    )
    qr = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        qr.processAllAvailable()
    finally:
        qr.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def enrich_events_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of events joins
    the (small, slowly-changing) static dim on event_type — Spark
    re-plans the static side per micro-batch, so a dim refresh (e.g. a
    re-read Delta/Iceberg snapshot) is picked up without restarting
    the stream. Broadcast is forced explicitly: a stream-static join
    must never sort-merge (the stream side cannot be globally sorted).
    Works identically on a batch DataFrame (the stream==batch parity
    test drives both)."""
    return events.join(F.broadcast(dim), "event_type", "left").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.coalesce("weight", F.lit(0)).alias("weight"),
        (F.round(F.col("value") * 100).cast("long")
         * F.coalesce("weight", F.lit(0))).alias("weighted_cents"),
    )


def run_enrich_stream_once(
    spark: SparkSession, events_dir: str, dim: DataFrame,
    query_name: str = "enrich_out",
) -> DataFrame:
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 3)
        .parquet(events_dir)
    )
    out = enrich_events_stream(stream, dim)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def master_chain(clips: DataFrame) -> DataFrame:
    """The 3-stage audio mastering chain (downmix -> hard-knee DRC ->
    peak normalize) as one batch/stream-agnostic plan: three stateless
    mapInPandas stages chained through the binary column, no shuffle,
    no checkpoint (single consumer — the batch contract query
    q_audio_master adds a localCheckpoint only because it re-decodes
    the output a second time)."""
    from ..operators.audio import (
        audio_compress_dynamics,
        audio_downmix,
        audio_gain_normalize,
    )

    mono = audio_downmix(clips, channels=2).select("clip_id", "bytes")
    comp = audio_compress_dynamics(mono, threshold=8000, ratio=4).select(
        "clip_id", "bytes"
    )
    return audio_gain_normalize(comp, target_peak=24000)


def run_master_stream_once(
    spark: SparkSession, clips_dir: str, query_name: str = "clip_master"
) -> DataFrame:
    """Incremental twin of the full mastering chain: three chained
    bytes-in/bytes-out Arrow stages run unchanged under Structured
    Streaming (all stateless, so micro-batch boundaries cannot change
    any output byte)."""
    stream = (
        spark.readStream.schema(CLIPS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(clips_dir)
    )
    out = master_chain(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def run_filter_to_parquet(
    spark: SparkSession,
    events_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Checkpointed exactly-once file pipeline: filter the event
    stream and append to a parquet sink, with the offset log +
    sink commit log under checkpoint_dir. Restarting with the SAME
    checkpoint resumes from the recorded offsets — files already
    committed are never reprocessed (the streaming counterpart of the
    batch lineage/wave resume in sources/lineage.py). Runs one
    availableNow pass and returns when the backlog is drained."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )
    out = stream.where(F.col("value") > 1.0).select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_web_ingest_stream_once(
    spark: SparkSession,
    docs_dir: str,
    query_name: str = "web_ingest",
) -> DataFrame:
    """Incremental twin of the web-ingest ladder: URL canonicalization
    (functions/urls) + HTML extraction (functions/htmltext) over a
    micro-batched (doc_id, url, html) file stream — newly-crawled
    pages get their dedup key (canonical URL), registrable domain, and
    visible text as they land, identical to the batch plan because
    every step is a stateless pure-JVM projection (regexp chains +
    bounded HOF entity folds; no watermark, no state store). This is
    the production shape: canonicalize/strip at INGEST so every
    downstream consumer (exact dedup, domain stats, quality filters)
    reads one agreed form."""
    from ..functions.htmltext import strip_html_col
    from ..functions.urls import url_parts

    stream = (
        spark.readStream.schema("doc_id long, url string, html string")
        .option("maxFilesPerTrigger", 2)
        .parquet(docs_dir)
    )
    p = url_parts("url")
    out = stream.select(
        "doc_id",
        p["valid"].alias("url_valid"),
        p["canonical"].alias("canonical"),
        p["domain"].alias("domain"),
        strip_html_col("html").alias("text_clean"),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
