import json
import os

from pyspark.sql import functions as F

from ds2_spark.functions.scores import compress_score, parse_rating_json
from ds2_spark.plans.pipeline import salted_repartition
from ds2_spark.sources.readers import (
    flatten_dialog,
    read_clips,
    read_csv_table,
    read_jsonl,
    write_json,
)
from ds2_spark.streaming.events import EVENTS_SCHEMA, drain, windowed_event_counts


def _file_stream(spark, path, schema=EVENTS_SCHEMA, per_trigger=2):
    """A parquet file-source stream over `path` that reads at most
    `per_trigger` files per micro-batch, so a directory of several
    files replays as several triggers."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(path)
    )


def test_read_clips_schema(spark, fixture_paths):
    df = read_clips(spark, fixture_paths["clips"])
    assert [f.name for f in df.schema.fields] == [
        "clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript",
    ]
    assert df.count() > 0


def test_csv_and_jsonl_roundtrip(spark, tmp_path):
    p_csv = str(tmp_path / "t.csv")
    with open(p_csv, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_csv_table(spark, p_csv, schema="a int, b string")
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]

    import gzip

    p_jsonl = str(tmp_path / "t.jsonl.gz")
    with gzip.open(p_jsonl, "wt") as f:
        f.write(json.dumps({"id": 1, "txt": "hello"}) + "\n")
        f.write(json.dumps({"id": 2, "txt": "world"}) + "\n")
    dj = read_jsonl(spark, p_jsonl, schema="id long, txt string")
    assert dj.count() == 2  # gzip transparent (reference hh_rlhf gz logs)

    out = str(tmp_path / "out_json")
    write_json(dj, out)
    back = spark.read.json(out)
    assert back.count() == 2


def test_flatten_dialog_matches_reference_format(spark):
    rows = [
        (1, [{"role": "user", "content": "hi"}, {"role": "assistant", "content": "yo"}]),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, messages array<struct<role string, content string>>"
    )
    got = flatten_dialog(df).select("transcript").collect()[0][0]
    assert got == "###user: hi\n###assistant: yo\n"


def test_compress_score_and_rating_parse(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 11)], ["r"])
    got = [r["c"] for r in df.select(compress_score("r").alias("c")).orderBy("r").collect()]
    # clamp [4,9] then -4: 1,2,3,4 -> 0; 5->1 ... 9->5; 10->5
    assert got == [0, 0, 0, 0, 1, 2, 3, 4, 5, 5]

    blobs = [
        ('ok {"Rarity": 7, "Complexity": 5, "Informativeness": 6, "Overall rating": 8} end',),
        ("no json here",),
        ('{"Rarity": 1} trailing {"Rarity": 2, "Overall rating": 9}',),
    ]
    df2 = spark.createDataFrame(blobs, ["blob"])
    rows = df2.select(parse_rating_json("blob").alias("p")).collect()
    assert rows[0]["p"]["overall"] == 8 and rows[0]["p"]["rarity"] == 7
    assert rows[1]["p"]["overall"] == 0  # parse failure -> zeros (P8)
    assert rows[2]["p"]["overall"] == 9  # last balanced object wins


def test_salted_repartition_balances_partitions(spark, clips_df):
    df = salted_repartition(clips_df.select("clip_id"), 8, salt_buckets=64)
    sizes = df.rdd.glom().map(len).collect()
    n = sum(sizes)
    assert len(sizes) == 8
    assert max(sizes) < n  # not all rows on one partition
    assert max(sizes) <= 2.5 * (n / len(sizes))  # roughly even despite key skew


def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.repartition(6).write.mode("overwrite").parquet(events_dir)

    # complete mode: the sink holds the whole re-emitted aggregate
    stream_out = drain(
        windowed_event_counts(_file_stream(spark, events_dir, per_trigger=4)),
        "complete",
    )
    batch_out = windowed_event_counts(spark.read.parquet(events_dir))
    key = lambda r: (str(r["window_start"]), r["event_type"])
    got = {key(r): (r["n"], r["sum_value"]) for r in stream_out.collect()}
    exp = {key(r): (r["n"], r["sum_value"]) for r in batch_out.collect()}
    assert got == exp  # stream == batch on the same data
    assert len(got) > 0


def test_rating_parse_nested_braces(spark):
    """F2 parity: the reference's recursive (?R) extractor handles
    nested braces; the bounded-depth pattern must extract the OUTER
    object (the old flat pattern silently grabbed the innermost nested
    object and parsed zeros)."""
    blobs = [
        # nested object inside the rating blob
        ('note {"Rarity": 5, "Complexity": 3, "Informativeness": 7, '
         '"meta": {"model": "x"}, "Overall rating": 8} done',),
        # two levels of nesting + an earlier decoy object
        ('{"decoy": 1} text {"Overall rating": 9, '
         '"a": {"b": {"c": 2}}, "Rarity": 4}',),
        # empty nested object
        ('{"Overall rating": 6, "empty": {}}',),
        # unbalanced braces -> no balanced object at the tail -> zeros
        ('{"Overall rating": 7',),
    ]
    df = spark.createDataFrame(blobs, ["blob"])
    rows = df.select(parse_rating_json("blob").alias("p")).collect()
    assert rows[0]["p"]["overall"] == 8 and rows[0]["p"]["rarity"] == 5
    assert rows[1]["p"]["overall"] == 9 and rows[1]["p"]["rarity"] == 4
    assert rows[2]["p"]["overall"] == 6
    assert rows[3]["p"]["overall"] == 0  # P8 default preserved


def test_read_media_folder_binaryfile(spark, tmp_path):
    """S7: binaryFile source over a folder of raw media files — one
    row per file, bytes intact, codec from extension, glob filtering."""
    import numpy as np

    from ds2_spark.sources.readers import read_media_folder

    d = tmp_path / "media"
    d.mkdir()
    pcm = (np.arange(64, dtype="<i2")).tobytes()
    (d / "clip_a.wav").write_bytes(pcm)
    (d / "clip_b.opus").write_bytes(b"\x01\x02\x03\x04")
    (d / "notes.txt").write_text("not media")

    rows = {
        r["clip_id"]: r
        for r in read_media_folder(spark, str(d), glob="*.{wav,opus}").collect()
    }
    assert set(rows) == {"clip_a", "clip_b"}
    assert bytes(rows["clip_a"]["bytes"]) == pcm
    assert rows["clip_a"]["codec"] == "pcm_s16le"  # .wav -> pcm16 decoder key
    assert rows["clip_b"]["codec"] == "opus"
    assert rows["clip_a"]["length"] == len(pcm)

    # decode path consumes the binaryFile rows directly
    from ds2_spark.operators.audio import decode_pcm

    pcm_rows = {r["clip_id"]: r["pcm"] for r in decode_pcm(
        read_media_folder(spark, str(d), glob="*.wav")
    ).collect()}
    assert len(pcm_rows["clip_a"]) == 64


def test_stateful_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState running stats: state must carry across
    micro-batches (one file per trigger) and the final per-group row
    must equal the batch aggregate exactly."""
    import glob
    import shutil

    from pyspark.sql import Window

    from ds2_spark.streaming.events import running_type_stats

    events_dir = str(tmp_path / "ev_state")
    os.makedirs(events_dir)
    src_df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # split into 3 files -> 3 micro-batches
    for i in range(3):
        part = src_df.filter(F.col("event_id") % 3 == i)
        part.coalesce(1).write.mode("overwrite").parquet(f"{events_dir}_tmp{i}")
        f = glob.glob(f"{events_dir}_tmp{i}/part-*.parquet")[0]
        shutil.copy(f, os.path.join(events_dir, f"batch_{i}.parquet"))

    # one file per trigger forces the state to cross triggers; the
    # update-mode sink keeps every emitted update, and the final state
    # per group is the row with the largest n
    updates = drain(
        running_type_stats(_file_stream(spark, events_dir, per_trigger=1)),
        "update",
    )
    last = Window.partitionBy("event_type").orderBy(F.desc("n"))
    final = (
        updates.withColumn("_rk", F.row_number().over(last))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    got = {
        r["event_type"]: (r["n"], r["sum_value"]) for r in final.collect()
    }
    exp = {
        r["event_type"]: (r["n"], round(r["s"], 2))
        for r in src_df.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(exp)
    for k, (n, s) in exp.items():
        assert got[k][0] == n, k
        assert abs(got[k][1] - s) < 0.05, (k, got[k][1], s)  # float sum-order grain


def test_streaming_quality_filter_matches_batch(spark, clips_df, tmp_path):
    """The flagship rules stage (langid+ppl+quality+scrub+audio
    sanity+reasons) over a micro-batched clips STREAM must equal the
    batch run on the same files — per-row decisions are stateless, so
    stream==batch exactly."""
    from ds2_spark.plans.pipeline import rule_decisions, transcript_features
    from ds2_spark.operators.audio import audio_sanity_fast
    from ds2_spark.streaming.events import (
        CLIPS_STREAM_SCHEMA,
        streaming_rule_decisions,
    )

    clips_dir = str(tmp_path / "clips_stream")
    cols = [f.name for f in CLIPS_STREAM_SCHEMA.fields]
    clips_df.select(*cols).repartition(5).write.mode("overwrite").parquet(clips_dir)

    # append mode: pure per-row decisions, no state, no watermark needed
    stream_out = drain(streaming_rule_decisions(
        _file_stream(spark, clips_dir, CLIPS_STREAM_SCHEMA)
    ))
    batch_src = spark.read.parquet(clips_dir)
    batch_out = rule_decisions(
        transcript_features(batch_src),
        audio_sanity_fast(batch_src),
    ).select("clip_id", "lang", "reason", "keep_rules", "transcript_scrubbed")

    key = lambda r: (
        r["clip_id"], r["lang"], r["reason"], r["keep_rules"], r["transcript_scrubbed"],
    )
    got = sorted(key(r) for r in stream_out.collect())
    exp = sorted(key(r) for r in batch_out.collect())
    assert got == exp
    assert len(got) == clips_df.count()
    # the stream actually exercised every reason path present in batch
    assert {r["reason"] for r in stream_out.collect()} == {
        r["reason"] for r in batch_out.collect()
    }


def test_streaming_sessions_match_batch_operator(spark, tmp_path):
    """Native streaming session_window (merging across micro-batches)
    == the batch gap-and-island operator (operators/timeseries) on the
    same events — two independent sessionization implementations."""
    from ds2_spark.operators.timeseries import epoch_micros, session_stats
    from ds2_spark.streaming.events import session_event_counts

    events_dir = str(tmp_path / "sess_ev")
    os.makedirs(events_dir)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # range-partition by ts so micro-batches see advancing event time
    # (file listing order == range order): with time-shuffled files the
    # watermark would — correctly — drop whole late files as they
    # arrive, and stream != batch by design, not by bug
    src.repartitionByRange(6, "ts").write.mode("overwrite").parquet(events_dir)
    batch_df = spark.read.parquet(events_dir)

    gap_us = 12 * 3600 * 1_000_000
    # several micro-batches, so sessions must merge ACROSS triggers.
    # Watermark wider than the data span: the file source replays
    # files in modification-time order (not event-time), so a tight
    # watermark would — correctly — drop whole out-of-order files;
    # late-data eviction itself is covered by the windowed-count test
    stream_out = drain(
        session_event_counts(_file_stream(spark, events_dir),
                             watermark="3650 days"),
        "complete",
    )
    batch_out = session_stats(batch_df, gap_us=gap_us, tiebreak="event_id")

    got = {
        (r["user_id"], int(r["session_start"].timestamp() * 1e6)):
            (r["n_events"], int(r["session_end"].timestamp() * 1e6))
        for r in stream_out.collect()
    }
    exp = {
        (r["user_id"], r["start_us"]): (r["n_events"], r["end_us"] + gap_us)
        for r in batch_out.collect()
    }
    assert len(got) > 50
    assert got == exp  # same sessions, same counts, end = last + gap

    # batch-mode session_window agrees with itself run as a stream
    batch_native = {
        (r["user_id"], int(r["session_start"].timestamp() * 1e6)): r["n_events"]
        for r in session_event_counts(batch_df).collect()
    }
    assert batch_native == {k: v[0] for k, v in got.items()}


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a multi-trigger replay with
    redelivered duplicates == batch dropDuplicates on the same
    directory: every event_id exactly once, replays caught by the
    state store across micro-batches."""
    from pyspark.sql import functions as F

    from ds2_spark.streaming.events import dedup_events_stream

    events_dir = str(tmp_path / "dedup_ev")
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("event_id") < 400
    )
    src.repartitionByRange(3, "ts").write.mode("overwrite").parquet(events_dir)
    # at-least-once redelivery: a subset arrives again in later files
    src.filter(F.col("event_id") % 3 == 0).repartition(2).write.mode(
        "append"
    ).parquet(events_dir)

    # several micro-batches, so replayed duplicates arrive in LATER
    # triggers than their originals and must be caught by the state
    # store, not by intra-batch dedup
    out = drain(dedup_events_stream(_file_stream(spark, events_dir),
                                    watermark="3650 days"))
    got = sorted(r["event_id"] for r in out.collect())
    exp = sorted(
        r["event_id"]
        for r in dedup_events_stream(spark.read.parquet(events_dir)).collect()
    )
    assert got == exp
    assert len(got) == src.count()  # replay added nothing


def test_salted_aggregate_equals_plain_groupby(spark):
    """Salting is invisible in results — including on a pathologically
    hot key (90% of rows in one group) and with a NULL salt column."""
    from ds2_spark.plans.pipeline import salted_aggregate

    rows = [(i, "hot" if i % 10 else "cold", i % 97) for i in range(2000)]
    rows.append((None, "hot", 5))  # null salt_on column
    df = spark.createDataFrame(rows, "id long, k string, v long")

    df1 = df.withColumn("one", F.lit(1).cast("long"))
    got = {
        r["k"]: (r["total"], r["n"])
        for r in salted_aggregate(
            df1, ["k"], {"total": "v", "n": "one"}, salt_on="id"
        ).collect()
    }
    exp = {
        r["k"]: (r["total"], r["n"])
        for r in df1.groupBy("k")
        .agg(F.sum("v").alias("total"), F.sum("one").alias("n"))
        .collect()
    }
    assert got == exp
    # default salt (hash of all columns) also matches
    got2 = {
        r["k"]: (r["total"], r["n"])
        for r in salted_aggregate(df1, ["k"], {"total": "v", "n": "one"}).collect()
    }
    assert got2 == exp


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join over multi-batch file
    replays == the same range join run in batch: identical
    (probe, quote) match sets, with matches forming across
    micro-batch boundaries from buffered state."""
    from ds2_spark.streaming.events import interval_join_streams

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").filter(
        F.col("event_id") < 600
    )
    probes = src.filter(F.col("event_id") % 2 == 0)
    quotes = src.filter(F.col("event_id") % 2 == 1)
    pd_dir, qd_dir = str(tmp_path / "probes"), str(tmp_path / "quotes")
    probes.repartitionByRange(5, "ts").write.parquet(pd_dir)
    quotes.repartitionByRange(5, "ts").write.parquet(qd_dir)

    # several micro-batches per side, so matches must form ACROSS
    # batches from buffered state, not within one batch
    stream_out = drain(interval_join_streams(
        _file_stream(spark, pd_dir), _file_stream(spark, qd_dir),
        watermark="3650 days",
    ))
    got = {
        (r["p_id"], r["q_id"]) for r in stream_out.collect()
    }
    batch = interval_join_streams(
        spark.read.parquet(pd_dir), spark.read.parquet(qd_dir)
    )
    exp = {(r["p_id"], r["q_id"]) for r in batch.collect()}
    assert len(exp) > 20  # the fixture actually produces matches
    assert got == exp


def test_streaming_codec_decode_matches_batch(spark, tmp_path):
    """The bytes-decoding stage (audio_codec_energy: real PCM16 /
    G.711 / IMA-ADPCM / FLAC decode) over a micro-batched clips
    STREAM equals the batch run on the same files — including refusal
    rows (NULL payload, unknown codec, CRC-corrupt FLAC). Stateless
    mapInPandas decode is incremental-ingest-safe by construction;
    this pins it over every real codec at once."""
    import numpy as np

    from ds2_spark.operators.audio import audio_codec_energy
    from ds2_spark.streaming.events import CLIPS_STREAM_SCHEMA
    from .test_flac import _frame, _streaminfo, _sub_verbatim

    rng = np.random.default_rng(33)
    flac_good = _streaminfo(total=8) + _frame(
        [_sub_verbatim([5, -7, 100, -100, 3000, -3000, 1, 0])], 8
    )
    flac_bad = flac_good[:-1] + bytes([flac_good[-1] ^ 0xFF])
    adpcm = (
        (-100).to_bytes(2, "little", signed=True) + bytes([30, 0])
        + rng.integers(0, 256, size=20, dtype=np.uint8).tobytes()
    )
    rows = [
        ("pcm", bytearray(rng.integers(-30000, 30000, 50, np.int64)
                          .astype("<i2").tobytes()), 8000, 6, "pcm_s16le", "t"),
        ("ul", bytearray(rng.integers(0, 256, 31, np.uint8).tobytes()),
         8000, 4, "pcm_ulaw", "t"),
        ("al", bytearray(rng.integers(0, 256, 44, np.uint8).tobytes()),
         8000, 6, "pcm_alaw", "t"),
        ("ad", bytearray(adpcm), 8000, 5, "adpcm_ima", "t"),
        ("fl", bytearray(flac_good), 8000, 1, "flac", "t"),
        ("flbad", bytearray(flac_bad), 8000, 1, "flac", "t"),
        ("nul", None, 8000, 0, "pcm_s16le", "t"),
        ("mp3", bytearray(b"\x01\x02\x03\x04"), 8000, 0, "mp3", "t"),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    df = spark.createDataFrame(rows, schema)
    clips_dir = str(tmp_path / "codec_stream")
    df.repartition(4).write.mode("overwrite").parquet(clips_dir)

    stream_out = drain(audio_codec_energy(
        _file_stream(spark, clips_dir, CLIPS_STREAM_SCHEMA)
    ))
    batch_out = audio_codec_energy(spark.read.parquet(clips_dir))
    key = lambda r: (r["clip_id"], r["decoded_ok"], r["n_samples"],
                     r["abs_energy"], r["max_abs"])
    got = sorted(key(r) for r in stream_out.collect())
    exp = sorted(key(r) for r in batch_out.collect())
    assert got == exp and len(got) == len(rows)
    ok = {r["clip_id"]: r["decoded_ok"] for r in batch_out.collect()}
    assert ok == {"pcm": True, "ul": True, "al": True, "ad": True,
                  "fl": True, "flbad": False, "nul": False, "mp3": False}


def test_trim_stream_matches_batch(spark, tmp_path):
    """The bytes-TRANSFORMING audio stage (silence trim, binary column
    in AND out) under Structured Streaming: every output column
    including the trimmed payload bytes must equal the batch run
    across micro-batch boundaries."""
    import numpy as np

    from ds2_spark.operators.audio import audio_trim
    from ds2_spark.streaming.events import CLIPS_STREAM_SCHEMA

    loud = np.array([60, -60, 60, -60], dtype="<i2").tobytes()
    quiet = np.array([5, -5, 5, -5], dtype="<i2").tobytes()
    rows = [
        ("lead", bytearray(quiet + loud + loud), 8000, 2, "pcm_s16le", "t"),
        ("tail", bytearray(loud + quiet + quiet), 8000, 2, "pcm_s16le", "t"),
        ("both", bytearray(quiet + loud + quiet), 8000, 2, "pcm_s16le", "t"),
        ("mid", bytearray(loud + quiet + loud), 8000, 2, "pcm_s16le", "t"),
        ("silent", bytearray(quiet * 3), 8000, 2, "pcm_s16le", "t"),
        ("nul", None, 8000, 0, "pcm_s16le", "t"),
    ]
    schema = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    df = spark.createDataFrame(rows, schema)
    clips_dir = str(tmp_path / "trim_stream")
    df.repartition(3).write.mode("overwrite").parquet(clips_dir)

    stream_out = drain(audio_trim(
        _file_stream(spark, clips_dir, CLIPS_STREAM_SCHEMA),
        frame_samples=4, energy_threshold=100,
    ))
    batch_out = audio_trim(
        spark.read.parquet(clips_dir), frame_samples=4, energy_threshold=100
    )
    key = lambda r: (
        r["clip_id"], r["decoded_ok"], r["first_voiced"], r["last_voiced"],
        r["start_byte"], r["end_byte"], r["kept_energy"],
        None if r["bytes"] is None else bytes(r["bytes"]),
    )
    got = sorted(key(r) for r in stream_out.collect())
    exp = sorted(key(r) for r in batch_out.collect())
    assert got == exp and len(got) == len(rows)
    by_id = {r["clip_id"]: r for r in batch_out.collect()}
    assert bytes(by_id["both"]["bytes"]) == loud
    assert by_id["mid"]["kept_energy"] == 240 + 20 + 240
    assert by_id["silent"]["bytes"] is None


def test_salted_join_equals_plain_join_and_rejects_outer(spark):
    """The salt must be invisible: salted join == plain join on a
    skewed dataset (one key holds half the rows); right/full refuse."""
    import pytest as _pytest

    from ds2_spark.plans.pipeline import salted_join

    big = spark.createDataFrame(
        [(i, 7 if i % 2 == 0 else i % 40, f"p{i}") for i in range(400)],
        "row_id long, k long, payload string",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(40)], "k long, dim string"
    )
    got = sorted(
        (r["row_id"], r["k"], r["dim"])
        for r in salted_join(big, small, key="k", salt_buckets=4).collect()
    )
    want = sorted(
        (r["row_id"], r["k"], r["dim"])
        for r in big.join(small, "k").collect()
    )
    assert got == want and len(got) == 400

    # left join keeps unmatched big rows exactly once
    small_missing = small.where(F.col("k") != 7)
    left = salted_join(big, small_missing, key="k", how="left")
    rows = {r["row_id"]: r["dim"] for r in left.collect()}
    assert len(rows) == 400
    assert all(v is None for i, v in rows.items() if i % 2 == 0)

    with _pytest.raises(ValueError):
        salted_join(big, small, key="k", how="full")


def test_merge_upsert_lww_semantics(spark):
    """LWW merge: highest version wins, update beats base on a tie,
    tombstone drops the key (and stays dropped even with older
    updates present), inserts appear, n_versions audits row counts."""
    from ds2_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, 10, 5), (2, 20, 5), (3, 30, 5), (4, 40, 5)],
        "k long, v long, version long",
    )
    upd = spark.createDataFrame(
        [
            (1, 11, 3, False),   # stale: version 3 < base 5 -> base wins
            (2, 22, 5, False),   # tie with base -> update wins
            (3, 31, 8, False),   # older update...
            (3, -1, 9, True),    # ...then tombstone at 9 -> key dropped
            (5, 50, 7, False),   # insert
            (5, 51, 6, False),   # older insert version loses
        ],
        "k long, v long, version long, is_delete boolean",
    )
    got = {
        r["k"]: (r["v"], r["version"], r["n_versions"])
        for r in merge_upsert(
            base, upd, key="k", version_col="version", delete_col="is_delete"
        ).collect()
    }
    assert got == {
        1: (10, 5, 2),
        2: (22, 5, 2),
        4: (40, 5, 1),
        5: (50, 7, 2),
    }


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static broadcast join: enrichment of a micro-batched
    event stream with a static dim equals the batch join on the same
    data (multi-trigger replay — 6 files, 3 per trigger)."""
    from ds2_spark.streaming.events import enrich_events_stream

    events_dir = str(tmp_path / "ev_enrich")
    os.makedirs(events_dir)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.repartition(6).write.mode("overwrite").parquet(events_dir)

    dim = spark.createDataFrame(
        [("click", 1), ("view", 2), ("purchase", 10)],
        "event_type string, weight int",
    )  # signup/error absent -> weight 0 via the left join

    stream_out = drain(enrich_events_stream(
        _file_stream(spark, events_dir, per_trigger=3), dim
    ))
    batch_out = enrich_events_stream(spark.read.parquet(events_dir), dim)
    key = lambda r: r["event_id"]
    got = {key(r): (r["weight"], r["weighted_cents"]) for r in stream_out.collect()}
    exp = {key(r): (r["weight"], r["weighted_cents"]) for r in batch_out.collect()}
    assert got == exp and len(got) == src.count()
    assert any(w == 0 for w, _ in got.values())    # unmatched types kept
    assert any(w == 10 for w, _ in got.values())


def test_master_chain_stream_matches_batch(spark, tmp_path):
    """The 3-stage mastering chain (downmix -> DRC -> normalize) under
    Structured Streaming equals the batch plan on the same clips,
    including the output payload bytes, across micro-batch boundaries."""
    import numpy as np

    from ds2_spark.streaming.events import CLIPS_STREAM_SCHEMA, master_chain

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        if i % 9 == 0:
            rows.append((f"c{i}", None))
        else:
            n = int(rng.integers(2, 40))
            pcm = rng.integers(-15000, 15000, size=2 * n).astype("<i2")
            rows.append((f"c{i}", pcm.tobytes()))
    clips_dir = str(tmp_path / "clips_master")
    spark.createDataFrame(rows, "clip_id string, bytes binary").repartition(
        5
    ).write.mode("overwrite").parquet(clips_dir)

    # all three stages are stateless, so micro-batch boundaries cannot
    # change any output byte
    stream_out = drain(master_chain(
        _file_stream(spark, clips_dir, CLIPS_STREAM_SCHEMA)
    ))
    batch_out = master_chain(spark.read.parquet(clips_dir))

    def snap(df):
        return {
            r["clip_id"]: (
                r["decoded_ok"],
                r["n_samples"],
                r["peak"],
                r["out_energy"],
                None if r["bytes"] is None else bytes(r["bytes"]),
            )
            for r in df.collect()
        }

    got, exp = snap(stream_out), snap(batch_out)
    assert got == exp and len(got) == 40
    assert any(v[4] for v in got.values())  # real payloads flowed through


def test_streaming_checkpoint_resume_exactly_once(spark, tmp_path):
    """Exactly-once across a stream RESTART: drain a 3-file backlog to
    a checkpointed parquet sink, add 3 more files, restart with the
    same checkpoint — the second run must process ONLY the new files;
    the final sink holds every qualifying row exactly once."""
    from ds2_spark.streaming.events import run_filter_to_parquet

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    half_a = src.where(F.col("event_id") % 2 == 0)
    half_b = src.where(F.col("event_id") % 2 == 1)

    ev_dir = str(tmp_path / "ev_ckpt")
    out_dir = str(tmp_path / "sink")
    ck_dir = str(tmp_path / "ckpt")
    os.makedirs(ev_dir)
    half_a.repartition(3).write.mode("append").parquet(ev_dir)
    run_filter_to_parquet(spark, ev_dir, out_dir, ck_dir)
    n_first = spark.read.parquet(out_dir).count()

    half_b.repartition(3).write.mode("append").parquet(ev_dir)
    run_filter_to_parquet(spark, ev_dir, out_dir, ck_dir)

    got = {
        r["event_id"]: (r["event_type"], r["cents"])
        for r in spark.read.parquet(out_dir).collect()
    }
    exp = {
        r["event_id"]: (
            r["event_type"],
            int(round(r["value"] * 100)),
        )
        for r in src.where(F.col("value") > 1.0).collect()
    }
    assert len(got) == len(exp)          # no duplicates (exactly once)
    assert got == exp                    # no loss, values intact
    assert 0 < n_first < len(exp)        # the restart really was partial


def test_pq_encode_stream_matches_batch(spark, tmp_path):
    """The PQ index-build stage is identical under Structured
    Streaming: codes computed micro-batch by micro-batch equal the
    batch encode over the same vectors (stateless Arrow stage), so an
    incremental ANN index never diverges from a full rebuild."""
    import numpy as np

    from ds2_spark.operators.pq import pq_encode, pq_train_codebooks

    rng = np.random.default_rng(41)
    base = rng.normal(0, 1, size=(90, 16)).astype(np.float32)
    books = pq_train_codebooks(base, m=4, k=8, scale=1000, seed=2)
    emb_dir = str(tmp_path / "emb_stream")
    df = spark.createDataFrame(
        [(int(i), base[i].tolist()) for i in range(90)],
        "vec_id long, embedding array<float>",
    )
    # several files -> several micro-batches (maxFilesPerTrigger=2)
    df.repartition(5).write.mode("overwrite").parquet(emb_dir)

    stream = _file_stream(spark, emb_dir, "vec_id long, embedding array<float>")
    stream_out = {
        r["vec_id"]: list(r["codes"])
        for r in drain(pq_encode(stream, books)).collect()
    }
    batch_out = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(
            spark.read.parquet(emb_dir), books
        ).collect()
    }
    assert stream_out == batch_out and len(stream_out) == 90


def test_bpe_encode_stream_matches_batch(spark, tmp_path):
    """Tokenization under a frozen merge table is identical under
    Structured Streaming: counts/hashes computed micro-batch by
    micro-batch equal the batch encode over the same docs (stateless
    Arrow stage, per-partition word cache rebuilt per task without
    affecting results)."""
    from ds2_spark.operators.bpe import bpe_encode, train_bpe

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(120)
    merges = [(l, r) for l, r, _ in train_bpe(docs, n_merges=8)]
    docs_dir = str(tmp_path / "docs_stream")
    # several files -> several micro-batches (maxFilesPerTrigger=2)
    docs.repartition(5).write.mode("overwrite").parquet(docs_dir)

    stream = _file_stream(spark, docs_dir, "doc_id long, text string")
    stream_out = {
        r["doc_id"]: (r["n_tokens"], r["n_singles"], r["token_hash"])
        for r in drain(bpe_encode(stream, merges)).collect()
    }
    batch_out = {
        r["doc_id"]: (r["n_tokens"], r["n_singles"], r["token_hash"])
        for r in bpe_encode(spark.read.parquet(docs_dir), merges).collect()
    }
    assert stream_out == batch_out and len(stream_out) == 120


def test_web_ingest_stream_matches_batch(spark, tmp_path):
    """URL canonicalization + HTML extraction are identical under
    Structured Streaming: both are stateless pure-JVM projections, so
    the micro-batched ingest ladder equals the batch plan row for row
    (incl. invalid-URL NULL handling and entity-fold edge cases)."""
    from pyspark.sql import functions as F

    from ds2_spark.streaming.events import web_ingest

    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(90)
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    docs = base.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("HTTP://WWW.S"), sid,
                                F.lit(".COM:80/p?utm_source=x&a=1#f")))
        .when(m == 1, F.concat(F.lit("https://u:p@h"), sid, F.lit(".co.uk/")))
        .when(m == 2, F.concat(F.lit("not a url "), sid))
        .otherwise(F.concat(F.lit("http://bad"), sid, F.lit(":9x/"))).alias("url"),
        F.when(m == 0, F.concat(F.lit("<p>Doc "), sid,
                                F.lit(" &amp; more</p><script>junk()</script>")))
        .otherwise(F.concat(F.lit("<b>"), F.col("text").substr(1, 60),
                            F.lit("</b> &#65;"))).alias("html"),
    )
    docs_dir = str(tmp_path / "web_stream")
    docs.repartition(5).write.mode("overwrite").parquet(docs_dir)

    stream = _file_stream(spark, docs_dir, "doc_id long, url string, html string")
    stream_out = {
        r["doc_id"]: (r["url_valid"], r["canonical"], r["domain"],
                      r["text_clean"])
        for r in drain(web_ingest(stream)).collect()
    }
    batch_out = {
        r["doc_id"]: (r["url_valid"], r["canonical"], r["domain"],
                      r["text_clean"])
        for r in web_ingest(spark.read.parquet(docs_dir)).collect()
    }
    assert stream_out == batch_out and len(stream_out) == 90
    # the ladder is non-vacuous in this fixture: valid and invalid
    # URLs both present, entity decode actually fired
    valids = [v[0] for v in stream_out.values()]
    assert any(valids) and not all(valids)
    assert any("&" not in (v[3] or "") and "A" in (v[3] or "")
               for v in stream_out.values())
