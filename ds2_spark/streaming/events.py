"""Structured Streaming over the events and clips tables.

The reference is a pure batch pipeline (SURVEY.md §2.10); the engine's
exact resume mirrors Structured Streaming's commit log via
sources/lineage.py. Every transform here takes a DataFrame and runs
unchanged on a batch or a streaming one, which the stream==batch tests
pin. `drain` runs any streaming DataFrame to completion through a
memory sink; `run_filter_to_parquet` is the checkpointed, exactly-once
parquet sink. The batch twin of the windowed agg is
queries_catalog.relational.q_time_buckets.
"""

from __future__ import annotations

import uuid

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


def drain(stream: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a streaming DataFrame over everything its sources hold now,
    through a memory sink under a fresh table name, and return the
    sink's rows. `output_mode` is the query's own: "append" for
    per-row and watermarked plans, "complete" for a re-emitted
    aggregate, "update" for a stateful operator (the sink then keeps
    every update, not only the last)."""
    name = f"drain_{uuid.uuid4().hex}"
    q = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream.sparkSession.sql(f"SELECT * FROM {name}")


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


def web_ingest(docs: DataFrame) -> DataFrame:
    """The web-ingest ladder over (doc_id, url, html): URL
    canonicalization (functions/urls) and HTML extraction
    (functions/htmltext), so every downstream consumer (exact dedup,
    domain stats, quality filters) reads one agreed form. Every step
    is a stateless pure-JVM projection (regexp chains + bounded HOF
    entity folds; no watermark, no state store), so a stream of
    newly-crawled pages gets the same rows as the batch plan."""
    from ..functions.htmltext import strip_html_col
    from ..functions.urls import url_parts

    p = url_parts("url")
    return docs.select(
        "doc_id",
        p["valid"].alias("url_valid"),
        p["canonical"].alias("canonical"),
        p["domain"].alias("domain"),
        strip_html_col("html").alias("text_clean"),
    )


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
