"""Audio operators: sanity, features, fingerprints, VAD, codec decode and
encode (G.711, IMA ADPCM, FLAC, WAV) and the DSP chain."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.audio import IMA_INDEX_TABLE as _IMA_IDX
from ..operators.audio import IMA_STEP_TABLE as _IMA_STEP
from . import register
from .common import _t
from .synth import (
    _frame_pair_rows,
    _pcm16_rows,
    _sweep_payload_np,
    _synth_payload_np,
)


@register(oracle="""
    WITH synth AS (
      SELECT event_id,
             CAST(event_id % 50 + 1 AS INT) AS n,
             CASE WHEN event_id % 5 = 0 THEN 3 ELSE 2 END
               * CAST(event_id % 50 + 1 AS INT) AS blen,
             CASE WHEN event_id % 3 = 0 THEN 3001
                  WHEN event_id % 3 = 1 THEN 7001 ELSE 11003 END AS sr_hz,
             CASE WHEN event_id % 4 = 0 THEN 'pcm_s16le'
                  WHEN event_id % 4 = 1 THEN 'flac'
                  WHEN event_id % 4 = 2 THEN 'opus' ELSE 'wav9' END AS codec
      FROM events),
    derived AS (
      SELECT event_id, codec, blen, sr_hz,
             CAST(round(blen / 2 * 1000.0 / greatest(sr_hz, 1)) AS INT)
               AS dur_actual_ms,
             (codec IN ('pcm_s16le', 'flac', 'opus', 'mp3'))
               AND blen >= 2 AND blen % 2 = 0 AS pcm_ok
      FROM synth),
    stored AS (
      SELECT *, CAST(dur_actual_ms
               + CASE WHEN event_id % 7 = 0 THEN 1000 ELSE 0 END AS INT) AS dur_ms
      FROM derived)
    SELECT event_id AS clip_id,
           CAST(pcm_ok AS INT) AS pcm_ok,
           dur_actual_ms,
           CAST(pcm_ok AND abs(dur_ms - dur_actual_ms)
                / greatest(dur_actual_ms, 1) <= 0.10 AS INT) AS dur_ok
    FROM stored ORDER BY clip_id
""")
def q_audio_sanity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 metadata-level audio sanity via the production JVM-only
    operator (zero bytes to Python): synthesizes a binary payload +
    (sr_hz, dur_ms, codec) metadata from events, checks codec
    whitelist, PCM16 alignment, and stored-vs-derived duration
    tolerance. sr values are primes so the derived duration
    never lands on an exact .5 (cross-engine rounding safety).
    Synthesized payloads are PCM16 hex by construction, so the
    flac/opus tags take the explicit FIXTURE_PCM16_ALIASES opt-in
    (the default refuses compressed tags; the 'wav9' rows exercise
    exactly that refuse path)."""
    from ..operators.audio import FIXTURE_PCM16_ALIASES, audio_sanity_fast

    ev = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 50 + 1).cast("int")
    hexchunk = F.when(F.col("event_id") % 5 == 0, F.lit("616263")).otherwise(
        F.lit("6162")
    )
    # primes > max blen with no factor of 1000: blen*500/sr can never
    # be an exact half-integer, so round() never hits a tie
    sr = (
        F.when(F.col("event_id") % 3 == 0, 3001)
        .when(F.col("event_id") % 3 == 1, 7001)
        .otherwise(11003)
    )
    codec = (
        F.when(F.col("event_id") % 4 == 0, "pcm_s16le")
        .when(F.col("event_id") % 4 == 1, "flac")
        .when(F.col("event_id") % 4 == 2, "opus")
        .otherwise("wav9")  # unknown codec -> pcm_ok false
    )
    blen_bytes = F.when(F.col("event_id") % 5 == 0, 3).otherwise(2) * n
    dur_true = F.round(blen_bytes / 2 * 1000.0 / sr).cast("int")
    dur_ms = (dur_true + F.when(F.col("event_id") % 7 == 0, 1000).otherwise(0)).cast(
        "int"
    )
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        F.to_binary(F.repeat(hexchunk, n), F.lit("hex")).alias("bytes"),
        sr.cast("int").alias("sr_hz"),
        dur_ms.alias("dur_ms"),
        codec.alias("codec"),
    )
    out = audio_sanity_fast(
        clips, dur_tolerance=0.10, pcm16_alias_codecs=FIXTURE_PCM16_ALIASES
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("pcm_ok").cast("int").alias("pcm_ok"),
        "dur_actual_ms",
        F.col("dur_ok").cast("int").alias("dur_ok"),
    ).orderBy("clip_id")


# closed-form twin of q_audio_features (see its docstring): constant-
# sample PCM makes every feature a CASE indicator. flen(sr=7001) =
# floor(7001*25/1000) = 175 samples gates the silence-frame branch.
@register(oracle="""
    WITH t AS (
      SELECT event_id AS clip_id,
             event_id % 3 AS p,
             (event_id % 50 + 1) * 5 AS n5,
             event_id % 4 AS c
      FROM events
    )
    SELECT clip_id,
           CASE WHEN c <> 3 THEN 1 ELSE 0 END AS decoded_ok,
           CAST(0.0 AS DOUBLE) AS zcr,
           CAST(CASE WHEN c <> 3 AND p = 1 AND n5 >= 175 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS silence_ratio,
           CAST(CASE WHEN c <> 3 AND p = 2 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS clipping_ratio,
           CAST(0.0 AS DOUBLE) AS snr_db
    FROM t ORDER BY clip_id
""")
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio quality features (zcr / silence / clipping / SNR-spread)
    via the production mapInPandas operator, on synthesized PCM16
    payloads whose features have CLOSED FORMS: constant-sample clips
    (pattern 0x6162), digital silence (0x0000), and full-scale clipped
    samples (0x7fff). Constant samples make every frame identical, so
    zcr=0, snr=0, silence/clipping are 0/1 indicators — all exactly
    expressible as CASE arithmetic in the SQL oracle while the real
    NumPy kernel (frombuffer, frame reshape, percentiles) runs on the
    Spark side. Payloads are PCM16 by construction → explicit
    FIXTURE_PCM16_ALIASES opt-in for the flac/opus tags."""
    from ..operators.audio import FIXTURE_PCM16_ALIASES, audio_features

    # spread the tiny pre-synthesis rows across all slots: the parquet
    # scan often yields 1-2 partitions at small SF, which would serialize
    # the mapInPandas feature kernel downstream
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    n5 = ((F.col("event_id") % 50 + 1) * 5).cast("int")  # samples per clip
    hexchunk = (
        F.when(F.col("event_id") % 3 == 0, F.lit("6162"))   # constant +
        .when(F.col("event_id") % 3 == 1, F.lit("0000"))    # silence
        .otherwise(F.lit("ff7f"))                            # clipped +1.0
    )
    sr = (
        F.when(F.col("event_id") % 3 == 0, 3001)
        .when(F.col("event_id") % 3 == 1, 7001)
        .otherwise(11003)
    )
    codec = (
        F.when(F.col("event_id") % 4 == 0, "pcm_s16le")
        .when(F.col("event_id") % 4 == 1, "flac")
        .when(F.col("event_id") % 4 == 2, "opus")
        .otherwise("wav9")  # unknown codec -> decoded_ok false
    )
    clips = ev.select(
        F.col("event_id").cast("long").alias("clip_id"),
        F.to_binary(F.repeat(hexchunk, n5), F.lit("hex")).alias("bytes"),
        sr.cast("int").alias("sr_hz"),
        codec.alias("codec"),
    )
    out = audio_features(
        clips.withColumn("clip_id", F.col("clip_id").cast("string")),
        pcm16_alias_codecs=FIXTURE_PCM16_ALIASES,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "zcr",
        "silence_ratio",
        "clipping_ratio",
        F.col("snr_db_est").alias("snr_db"),
    ).orderBy("clip_id")


# closed-form twin of q_audio_fingerprint: recomputes the energy-delta
# fingerprint from the synthesis formula v(i) = (event_id*31+i*17)%201-100
# with the same integer frame abs-sums, delta compares, and bit-pack the
# Spark kernel applies to the decoded PCM16 bytes.
@register(oracle="""
    WITH t AS (SELECT event_id, event_id % 40 + 12 AS n FROM events),
    u AS (SELECT event_id, n, unnest(range(0, n)) AS i FROM t),
    s AS (SELECT event_id, i // 8 AS lf,
                 abs((event_id * 31 + i * 17) % 201 - 100) AS a
          FROM u WHERE i < (n // 8) * 8),
    e AS (SELECT event_id, lf, sum(a) AS energy FROM s GROUP BY 1, 2),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    f AS (SELECT event_id,
                 CAST(coalesce(sum(CASE WHEN lf >= 1
                        THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                        END), 0) AS BIGINT) AS fp,
                 CAST(max(lf) + 1 AS INT) AS n_frames
          FROM b GROUP BY 1),
    r AS (SELECT t.event_id AS clip_id,
                 CASE WHEN t.event_id % 11 = 0 THEN NULL ELSE f.fp END AS fp,
                 CAST(CASE WHEN t.event_id % 11 = 0 THEN 0
                      ELSE f.n_frames END AS INT) AS n_frames
          FROM t JOIN f ON f.event_id = t.event_id)
    SELECT clip_id, fp, n_frames,
           count(*) OVER (PARTITION BY fp) AS dup_count
    FROM r ORDER BY clip_id
""")
def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-delta acoustic fingerprint + exact-dup grouping via the
    production `audio_fingerprint` operator (integer-exact: abs-sums
    of int16 samples, integer compares, integer bit-pack — see its
    docstring). The PCM16-LE payload is synthesized per event from a
    closed-form sample series v(i) = (event_id*31 + i*17) % 201 - 100
    encoded little-endian IN SPARK SQL EXPRESSIONS, so the DuckDB
    oracle can recompute the identical fingerprint from the formula
    while the Spark side exercises the real decode -> segmented
    frame-reduce -> bit-pack kernel off actual bytes. Every 11th clip
    carries a NULL payload (NULL-fp path). dup_count groups identical
    fingerprints — the exact audio-dedup primitive (ids-only shuffle
    on `fp` at scale)."""
    from ..operators.audio import audio_fingerprint

    ev = _t(spark, sf_dir, "events")
    n = (F.col("event_id") % 40 + 12).cast("int")

    # vectorized synthesis twin of the oracle formula (guide §4.2):
    # v(i) = (e*31 + i*17) % 201 - 100, NULL every 11th — one NumPy
    # broadcast per Arrow batch, bit-identical bytes to the HOF form
    def _fp_payload(ev_, i, nv):
        vals = (ev_[:, None] * 31 + i[None, :] * 17) % 201 - 100
        rows = _pcm16_rows(vals, nv)
        return [
            None if e % 11 == 0 else b for e, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_fp_payload)(F.col("event_id"), n)
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        payload.alias("bytes"),
    )
    out = audio_fingerprint(clips, frame_samples=8, max_bits=60)
    return (
        out.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "fp",
            "n_frames",
        )
        .withColumn("dup_count", F.count("*").over(Window.partitionBy("fp")))
        .orderBy("clip_id")
    )


# closed-form twin of q_audio_neardup: recomputes the perturbed-group
# fingerprints from the synthesis formula, then the same 3x20-bit
# pigeonhole banding + bit_count(xor) verify natively in SQL
@register(oracle="""
    WITH t AS (SELECT event_id, event_id % 4001 AS g,
                      event_id // 4001 AS var,
                      488 + (event_id % 4001) % 5 AS n
               FROM events),
    u AS (SELECT event_id, g, var, n, unnest(range(0, n)) AS i FROM t),
    s AS (SELECT event_id, i // 8 AS lf,
                 abs((((g * 8191 + i) * (g * 8191 + i)) % 2147483648 * 31
                      + g * 8191 + i) % 2147483648 % 201 - 100
                     + CASE WHEN i = 0 THEN 40 * (var % 100) ELSE 0 END) AS a
          FROM u WHERE i < (n // 8) * 8),
    e AS (SELECT event_id, lf, sum(a) AS energy FROM s GROUP BY 1, 2),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    f AS (SELECT event_id,
                 CAST(coalesce(sum(CASE WHEN lf BETWEEN 1 AND 60
                        THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                        END), 0) AS BIGINT) AS fp
          FROM b GROUP BY 1),
    r AS (SELECT event_id AS clip_id, fp FROM f
          WHERE event_id % 11 <> 0),
    bands AS (SELECT clip_id, fp, band,
                     (fp >> (band * 20)) & 1048575 AS bkey
              FROM r CROSS JOIN (VALUES (0), (1), (2)) AS bb(band)),
    cand AS (SELECT DISTINCT x.clip_id AS id_a, x.fp AS fp_a,
                             y.clip_id AS id_b, y.fp AS fp_b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.bkey = y.bkey
              AND x.clip_id < y.clip_id)
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(fp_a, fp_b)) <= 2
    ORDER BY id_a, id_b
""")
def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio detection via the production
    `audio_neardup_pairs` operator (fingerprint + pigeonhole Hamming
    banding + exact bit_count(xor) verify — see its docstring for the
    scale shape). The synthesis plants real near-dup structure:
    clips sharing g = event_id % 4001 play the same closed-form
    series, but each variant (event_id // 4001) perturbs sample 0 —
    only frame 0's energy moves, so within a group fingerprints sit
    at Hamming distance <= 1 while unrelated clips are far apart.
    clip_id is zero-padded so the operator's string id ordering
    equals the oracle's numeric ordering."""
    from ..operators.audio import audio_neardup_pairs

    ev = _t(spark, sf_dir, "events")
    g = F.col("event_id") % 4001
    var = F.floor(F.col("event_id") / 4001)
    # >= 488 samples -> >= 61 frames -> all 60 fingerprint bits are
    # live, so every 20-bit band carries real signal (a short-clip
    # synthesis would zero the high bands and degenerate the banding
    # join toward all-pairs); the odd tail samples exercise the
    # whole-frame truncation path
    n = (488 + g % 5).cast("int")
    # QUADRATIC hash of the unique per-sample index h = g*8191 + i.
    # Anything linear in i (sawtooth, multiplicative hash of a linear
    # index) makes all groups windows of one slowly-varying cyclic
    # sequence, which collapses into mass cross-group near-collisions
    # of the energy-delta bits; h^2's varying step (2h+1) breaks the
    # common-orbit structure so frame energies decorrelate across
    # groups. All arithmetic stays within int64 in both engines.
    # var is CLAMPED mod 100: the perturbation stays <= 3960, keeping
    # sample 0 within int16 for ANY event_id (unclamped, event_id >
    # ~3.3M would overflow the 4-hex-digit int16 sample
    # encoding and silently diverge from the closed-form oracle at
    # large SFs). 100 variants per group is far more than any SF's
    # group population, so the planted structure is unchanged.
    # vectorized synthesis twin (guide §4.2; same bytes as the HOF
    # form of this formula — all dividends nonneg, int64-safe:
    # h*h <= (4001*8191+491)^2 ~ 1.1e15 < 2^63)
    def _nd_payload(ev_, i, nv):
        g_ = ev_ % 4001
        var_ = (ev_ // 4001) % 100
        h = g_[:, None] * 8191 + i[None, :]
        a = (h * h) % 2147483648
        vals = (a * 31 + h) % 2147483648 % 201 - 100
        vals[:, 0] += 40 * var_
        rows = _pcm16_rows(vals, nv)
        return [
            None if e_ % 11 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_nd_payload)(F.col("event_id"), n)
    clips = ev.select(
        F.lpad(F.col("event_id").cast("string"), 7, "0").alias("clip_id"),
        payload.alias("bytes"),
    )
    pairs = audio_neardup_pairs(clips, frame_samples=8, max_bits=60,
                                max_dist=2)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    ).orderBy("id_a", "id_b")


# closed-form twin of q_audio_vad: recomputes frame energies from the
# synthesis formula (E_t = 8*amp_t exactly — alternating-sign constant
# amplitude per frame), then replays the SAME segmentation semantics
# as an independent gaps-and-islands: row_number islands over voiced
# frames -> lag-gap bridging (gap <= 1 merges) -> min-length filter
# (span >= 2) -> per-clip seg ids + span energy sums. Cross-checks the
# merge/filter logic itself, not just the energy arithmetic.
@register(oracle="""
    WITH t AS (SELECT event_id AS e, event_id % 29 + 12 AS nf
               FROM events WHERE event_id % 13 <> 0),
    fr AS (SELECT e, unnest(range(0, nf)) AS t FROM t),
    en AS (SELECT e, t,
                  8 * (CASE WHEN (e * 13 + t * t) % 11 < 5
                            THEN 90 ELSE 2 END) AS energy
           FROM fr),
    v AS (SELECT e, t FROM en WHERE energy >= 400),
    isl AS (SELECT e, t,
                   t - row_number() OVER (PARTITION BY e ORDER BY t) AS k
            FROM v),
    s0 AS (SELECT e, min(t) AS s, max(t) AS z, count(*) AS vf
           FROM isl GROUP BY e, k),
    s1 AS (SELECT *,
                  CASE WHEN s - lag(z) OVER (PARTITION BY e ORDER BY s)
                            - 1 <= 1
                       THEN 0 ELSE 1 END AS brk
           FROM s0),
    s2 AS (SELECT *, sum(brk) OVER (PARTITION BY e ORDER BY s) AS grp
           FROM s1),
    seg AS (SELECT e, min(s) AS start_frame, max(z) AS end_frame,
                   CAST(sum(vf) AS INT) AS voiced_frames
            FROM s2 GROUP BY e, grp),
    kept AS (SELECT *, end_frame - start_frame + 1 AS n_frames,
                    CAST(row_number() OVER (
                      PARTITION BY e ORDER BY start_frame) - 1 AS INT)
                      AS seg_id
             FROM seg WHERE end_frame - start_frame + 1 >= 2)
    SELECT CAST(k.e AS BIGINT) AS clip_id, k.seg_id,
           CAST(k.start_frame AS INT) AS start_frame,
           CAST(k.end_frame AS INT) AS end_frame,
           CAST(k.n_frames AS INT) AS n_frames,
           k.voiced_frames,
           CAST(sum(en.energy) AS BIGINT) AS energy_sum
    FROM kept k JOIN en
      ON en.e = k.e AND en.t BETWEEN k.start_frame AND k.end_frame
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY clip_id, seg_id
""")
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation via the production
    `audio_vad_segments` operator (frame abs-sum energies -> integer
    threshold -> voiced islands with gap bridging and min-length
    filtering — see its docstring). Synthesis plants closed-form
    speech/silence structure: within frame t every sample alternates
    +/-amp_t with amp_t = 90 when ((event_id*13 + t*t) % 11) < 5 else
    2, so E_t = 8*amp_t EXACTLY (720 voiced / 16 silence, threshold
    400 between) and the DuckDB oracle replays the identical
    gaps-and-islands (row_number islands -> lag-gap bridging ->
    min-length filter) over the same per-frame formula — the segment
    MERGE logic itself is cross-checked, not just the energies. The
    t*t term gives varied voiced-run/gap lengths so bridging
    (max_gap=1) and the min_frames=2 drop both fire on real cases.
    Odd tail samples exercise whole-frame truncation; every 13th
    payload is NULL (no-rows path)."""
    from ..operators.audio import audio_vad_segments

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 29 + 12).cast("int")  # 12..40 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): amp_t = 90 when
    # (e*13 + t*t) % 11 < 5 else 2, frame = [amp,-amp]*4, value-2
    # tail of e%5 samples, NULL every 13th
    def _vad_payload(ev_, t, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] * 13 + t[None, :] ** 2) % 11 < 5, 90, 2
        )
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv, tail_cnt=ev_ % 5)
        return [
            None if e_ % 13 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_vad_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    out = audio_vad_segments(
        clips, frame_samples=fs, energy_threshold=400,
        max_gap_frames=1, min_frames=2,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        "seg_id", "start_frame", "end_frame", "n_frames",
        "voiced_frames", "energy_sum",
    ).orderBy("clip_id", "seg_id")


# closed-form twin of q_audio_segments: identical gaps-and-islands
# replay as q_audio_vad's oracle (new structure constants, gap <= 2,
# min span 2), plus the content pins — the SQL side derives
# recheck_energy/recheck_samples from the same frame formulas, while
# the ENGINE side re-decodes the actually-emitted segment bytes
# through audio_codec_energy; any slicing/content defect lands
# between the two derivations.
@register(oracle="""
    WITH t AS (SELECT event_id AS e, event_id % 31 + 10 AS nf
               FROM events WHERE event_id % 11 <> 0),
    fr AS (SELECT e, unnest(range(0, nf)) AS t FROM t),
    en AS (SELECT e, t,
                  8 * (CASE WHEN (e * 17 + 3 * t + t * t) % 13 < 6
                            THEN 110 ELSE 3 END) AS energy
           FROM fr),
    v AS (SELECT e, t FROM en WHERE energy >= 500),
    isl AS (SELECT e, t,
                   t - row_number() OVER (PARTITION BY e ORDER BY t) AS k
            FROM v),
    s0 AS (SELECT e, min(t) AS s, max(t) AS z, count(*) AS vf
           FROM isl GROUP BY e, k),
    s1 AS (SELECT *,
                  CASE WHEN s - lag(z) OVER (PARTITION BY e ORDER BY s)
                            - 1 <= 2
                       THEN 0 ELSE 1 END AS brk
           FROM s0),
    s2 AS (SELECT *, sum(brk) OVER (PARTITION BY e ORDER BY s) AS grp
           FROM s1),
    seg AS (SELECT e, min(s) AS start_frame, max(z) AS end_frame,
                   CAST(sum(vf) AS INT) AS voiced_frames
            FROM s2 GROUP BY e, grp),
    kept AS (SELECT *, end_frame - start_frame + 1 AS n_frames,
                    CAST(row_number() OVER (
                      PARTITION BY e ORDER BY start_frame) - 1 AS INT)
                      AS seg_id
             FROM seg WHERE end_frame - start_frame + 1 >= 2)
    SELECT CAST(k.e AS BIGINT) AS clip_id, k.seg_id,
           CAST(k.start_frame AS INT) AS start_frame,
           CAST(k.end_frame AS INT) AS end_frame,
           CAST(k.n_frames AS INT) AS n_frames,
           k.voiced_frames,
           CAST(sum(en.energy) AS BIGINT) AS energy_sum,
           CAST(sum(en.energy) AS BIGINT) AS recheck_energy,
           CAST(min(k.n_frames) * 8 AS BIGINT) AS recheck_samples
    FROM kept k JOIN en
      ON en.e = k.e AND en.t BETWEEN k.start_frame AND k.end_frame
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY clip_id, seg_id
""")
def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utterance EXTRACTION (operators/audio.audio_segment_extract):
    VAD segmentation that also emits each segment's PCM16 bytes —
    the one-row-to-many-rows-with-bytes splitter that precedes
    per-utterance scoring. COMPOSED with a re-decode: every emitted
    segment's bytes flow straight into audio_codec_energy, whose
    abs_energy must reproduce the segment's energy_sum and whose
    n_samples must equal n_frames*fs — so the segment boundaries, the
    byte slicing, AND the sliced content are all pinned against a
    DuckDB oracle that never sees a byte. Synthesis is q_audio_vad's
    two-amplitude frame form with different structure constants
    (voiced iff (e*17 + 3t + t*t) % 13 < 6; amp 110 vs 3 so E_t is
    880 vs 24 around threshold 500), gap bridging max_gap=2 and
    min_frames=2 both fire, every 11th payload NULL, tail samples
    every 3rd clip exercise whole-frame truncation."""
    from ..operators.audio import audio_codec_energy, audio_segment_extract

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 31 + 10).cast("int")  # 10..40 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): amp_t = 110 when
    # (e*17 + 3t + t*t) % 13 < 6 else 3, frame = [amp,-amp]*4,
    # value-3 tail of e%3 samples, NULL every 11th
    def _seg_payload(ev_, t, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] * 17 + 3 * t[None, :] + t[None, :] ** 2) % 13 < 6,
            110, 3,
        )
        rows = _frame_pair_rows(
            amp, -amp, fs // 2, nv, tail_cnt=ev_ % 3, tail_val=3
        )
        return [
            None if e_ % 11 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_seg_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    segs = audio_segment_extract(
        clips, frame_samples=fs, energy_threshold=500,
        max_gap_frames=2, min_frames=2,
    )
    # per-segment stats ride the content re-decode as passthrough
    # columns (ONE mapInPandas pass, no seg-keyed self-join)
    en = audio_codec_energy(
        segs.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
        ),
        passthrough=(
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
        ),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "seg_id", "start_frame", "end_frame", "n_frames",
            "voiced_frames", "energy_sum",
            F.col("abs_energy").alias("recheck_energy"),
            F.col("n_samples").alias("recheck_samples"),
        )
        .orderBy("clip_id", "seg_id")
    )


# G.711 twin: re-expands every synthesized byte with the published
# segment/mantissa ARITHMETIC (mu-law: invert, bias 0x84, shift by
# segment; A-law: xor 0x55, segment-0 linear / doubling segments) —
# no decode-table literal is shared with the engine, so the two
# derivations of the standard check each other. Integer-exact
# end-to-end.
@register(oracle="""
    WITH synth AS (
      SELECT event_id,
             CAST(event_id % 11 + 30 AS INT) AS n,
             CASE WHEN event_id % 13 = 0 THEN 'flac'
                  WHEN event_id % 2 = 0 THEN 'pcm_ulaw'
                  ELSE 'pcm_alaw' END AS codec,
             (event_id % 17 = 0) AS is_null
      FROM events),
    samples AS (
      SELECT s.event_id, s.codec,
             (s.event_id * 37 + t.j * 101 + (t.j * t.j) % 251) % 256 AS b
      FROM synth s, UNNEST(generate_series(0, s.n - 1)) AS t(j)
      WHERE NOT s.is_null AND s.codec IN ('pcm_ulaw', 'pcm_alaw')),
    lin AS (
      SELECT event_id,
             CASE WHEN codec = 'pcm_ulaw' THEN
               CASE WHEN (255 - b) >= 128
                    THEN 132 - ((((255 - b) % 16) * 8 + 132)
                                << (((255 - b) // 16) % 8))
                    ELSE ((((255 - b) % 16) * 8 + 132)
                          << (((255 - b) // 16) % 8)) - 132
               END
             ELSE
               CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                    THEN (xor(b, 85) % 16) * 16 + 8
                    WHEN ((xor(b, 85) // 16) % 8) = 1
                    THEN (xor(b, 85) % 16) * 16 + 264
                    ELSE ((xor(b, 85) % 16) * 16 + 264)
                         << (((xor(b, 85) // 16) % 8) - 1)
               END
             END AS val
      FROM samples),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(val)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(val)) AS INT) AS max_abs
      FROM lin GROUP BY event_id)
    SELECT s.event_id AS clip_id,
           CAST(s.codec IN ('pcm_ulaw', 'pcm_alaw') AND NOT s.is_null
                AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM synth s LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
""")
def q_g711_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-codec decode: ITU G.711 mu-law / A-law payloads
    (1 byte/sample logarithmic companding) decoded through the
    production expansion tables inside `audio_codec_energy`
    (operators/audio.py — pruned scan -> mapInPandas LUT gather ->
    small integer output; bytes never shuffle). Bytes are synthesized
    closed-form (byte_j = (event_id*37 + j*101 + j*j % 251) % 256) so
    the DuckDB oracle re-expands every byte with the published G.711
    segment/mantissa ARITHMETIC (no table literal — a genuinely
    independent derivation of the same standard) and aggregates the
    identical integer energies. Every 13th clip is tagged 'flac'
    (refuses: decode tables for genuinely-compressed codecs don't
    exist here — decoded_ok=false, never garbage), every 17th payload
    is NULL. Odd/even lengths both occur: G.711's 1-byte samples have
    no alignment constraint (the PCM16 even-length rule must NOT
    apply)."""
    from ..operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 11 + 30).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-byte HOF form): byte_j = (e*37 + j*101 + (j*j)%251) % 256,
    # NULL every 17th
    def _g711_payload(ev_, j, nv):
        import numpy as np

        u = (
            ev_[:, None] * 37 + j[None, :] * 101 + (j[None, :] ** 2) % 251
        ) % 256
        ub = u.astype(np.uint8)
        return [
            None if e_ % 17 == 0 else ub[r, : nv[r]].tobytes()
            for r, e_ in enumerate(ev_.tolist())
        ]

    payload = _synth_payload_np(_g711_payload)(e, n)
    codec = (
        F.when(e % 13 == 0, F.lit("flac"))
        .when(e % 2 == 0, F.lit("pcm_ulaw"))
        .otherwise(F.lit("pcm_alaw"))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        codec.alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


# ADPCM twin: replays the ENTIRE stateful decode recurrence as a
# DuckDB RECURSIVE CTE — per iteration: nibble from the closed-form
# synthesis, diff from the bit decomposition, predictor update +
# clamp, step-index adaptation + clamp, energy accumulators. The IMA
# step/index tables are irreducible published constants (emitted as
# VALUES literals, like the LSH plane literals); the EXECUTION of the
# recurrence is fully independent (SQL fixpoint iteration vs the
# engine's across-clips NumPy vector loop).
_STEP_VALUES = ", ".join(f"({i},{int(s)})" for i, s in enumerate(_IMA_STEP))


_IDX_VALUES = ", ".join(f"({n},{int(a)})" for n, a in enumerate(_IMA_IDX))


@register(oracle=f"""
    WITH RECURSIVE base AS (
      SELECT event_id,
             CAST((event_id % 13 + 8) * 2 AS INT) AS n,
             CAST((event_id * 37) % 1024 - 512 AS INT) AS pred0,
             CAST(event_id % 89 AS INT) AS idx0,
             (event_id % 17 = 0) OR (event_id % 19 = 0) AS refused
      FROM events),
    steptab(si, step) AS (VALUES {_STEP_VALUES}),
    idxtab(nb, adj) AS (VALUES {_IDX_VALUES}),
    dec AS (
      SELECT event_id, -1 AS t, pred0 AS pred, idx0 AS idx,
             CAST(0 AS BIGINT) AS acc, CAST(0 AS BIGINT) AS mx
      FROM base WHERE NOT refused
      UNION ALL
      SELECT event_id, t,
             LEAST(GREATEST(signed, -32768), 32767),
             LEAST(GREATEST(idx + adj, 0), 88),
             acc + ABS(LEAST(GREATEST(signed, -32768), 32767)),
             GREATEST(mx, ABS(LEAST(GREATEST(signed, -32768), 32767)))
      FROM (
        SELECT w.event_id, w.t, w.idx, w.acc, w.mx, i.adj,
               CASE WHEN w.nib >= 8 THEN w.pred - w.diff
                    ELSE w.pred + w.diff END AS signed
        FROM (
          SELECT v.*,
                 (v.step // 8)
                 + CASE WHEN (v.nib % 8) >= 4 THEN v.step ELSE 0 END
                 + CASE WHEN (v.nib % 4) >= 2 THEN v.step // 2 ELSE 0 END
                 + CASE WHEN (v.nib % 2) = 1 THEN v.step // 4 ELSE 0 END
                 AS diff
          FROM (
            SELECT d.event_id, d.t + 1 AS t, d.idx, d.pred, d.acc, d.mx,
                   ((b.event_id + (d.t + 1) * 5
                     + (d.t + 1) * (d.t + 1)) % 16) AS nib,
                   s.step
            FROM dec d
            JOIN base b USING (event_id)
            JOIN steptab s ON s.si = d.idx
            WHERE d.t + 1 < b.n
          ) v
        ) w
        JOIN idxtab i ON i.nb = w.nib
      ) x),
    final AS (
      SELECT event_id, CAST(MAX(t) + 1 AS BIGINT) AS n_samples,
             CAST(MAX(acc) AS BIGINT) AS abs_energy,
             CAST(MAX(mx) AS INT) AS max_abs
      FROM dec WHERE t >= 0 GROUP BY event_id)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           COALESCE(f.n_samples, 0) AS n_samples,
           COALESCE(f.abs_energy, 0) AS abs_energy,
           COALESCE(f.max_abs, 0) AS max_abs
    FROM base b LEFT JOIN final f USING (event_id)
    ORDER BY clip_id
""")
def q_adpcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful decompression: IMA/DVI ADPCM (4-bit adaptive
    differential PCM, the WAV format-0x11 family) decoded through
    `audio_codec_energy`'s across-clips vectorized batch decoder
    (operators/audio.py adpcm_decode_batch — the recurrence is
    sequential in time but the inner op width is the whole Arrow
    batch). Nibbles, initial predictor, and initial step index are
    synthesized closed-form per event, and the DuckDB oracle REPLAYS
    the full decode recurrence with a RECURSIVE CTE over the published
    IMA step/index tables — every predictor clamp, step adaptation,
    and sign bit is cross-checked sample by sample through the
    abs-energy/max accumulators, a genuinely independent execution of
    the same standard (SQL fixpoint vs NumPy vector loop). Every 17th
    payload is NULL and every 19th is truncated below the 4-byte
    header (both refuse: decoded_ok=false, zero metrics)."""
    from ..operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    d = (e % 13 + 8).cast("int")  # data bytes -> 16..40 samples
    pred0 = (e * 37) % 1024 - 512
    idx0 = e % 89
    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-byte HOF form): 4-byte header (pred0 int16-LE, idx0, 0x00)
    # + data byte k = nib(2k) + 16*nib(2k+1) with
    # nib(t) = (e + 5t + t*t) % 16; NULL every 17th, sub-header
    # 2-byte truncation every 19th
    def _adpcm_payload(ev_, k, nv):
        import numpy as np

        t0, t1 = 2 * k[None, :], 2 * k[None, :] + 1
        lo = (ev_[:, None] + 5 * t0 + t0 * t0) % 16
        hi = (ev_[:, None] + 5 * t1 + t1 * t1) % 16
        data = (lo + 16 * hi).astype(np.uint8)
        p0 = ((ev_ * 37) % 1024 - 512).astype("<i2")
        i0 = (ev_ % 89).astype(np.uint8)
        out = []
        for r, e_ in enumerate(ev_.tolist()):
            if e_ % 17 == 0:
                out.append(None)
            elif e_ % 19 == 0:
                out.append(b"\x00\x00")
            else:
                out.append(
                    p0[r].tobytes() + bytes([i0[r], 0])
                    + data[r, : nv[r]].tobytes()
                )
        return out

    payload = _synth_payload_np(_adpcm_payload)(e, d)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("adpcm_ima").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


# Transcode twin: replays the standard segmented G.711 ENCODERS
# (threshold ladder, mantissa shifts, bias, bit inversion / XOR 0x55)
# and the expansion decode per sample; the operator's actual byte
# stream sits between the two derivations.
@register(oracle="""
    WITH synth AS (
      SELECT event_id, CAST(event_id % 9 + 20 AS INT) AS n,
             (event_id % 11 = 0) AS refused,
             (event_id % 2 = 0) AS is_u
      FROM events),
    x AS (
      SELECT s.event_id, s.is_u,
             (s.event_id * 31 + t.j * 1717) % 65401 - 32700 AS xv
      FROM synth s, UNNEST(generate_series(0, s.n - 1)) AS t(j)
      WHERE NOT s.refused),
    lad AS (
      SELECT event_id, is_u, xv,
             CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                  ELSE LEAST(ABS(xv), 32767) END AS mag,
             CASE WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 16384 THEN 7
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 8192 THEN 6
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 4096 THEN 5
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 2048 THEN 4
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 1024 THEN 3
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 512 THEN 2
                  WHEN (CASE WHEN is_u THEN LEAST(ABS(xv), 32635) + 132
                             ELSE LEAST(ABS(xv), 32767) END) >= 256 THEN 1
                  ELSE 0 END AS sg
      FROM x),
    code AS (
      SELECT event_id, is_u,
             CASE WHEN is_u THEN
               255 - (CASE WHEN xv < 0 THEN 128 ELSE 0 END + sg * 16
                      + ((mag // (1 << (sg + 3))) % 16))
             ELSE
               xor(CASE WHEN xv >= 0 THEN 128 ELSE 0 END + sg * 16
                   + (CASE WHEN sg = 0 THEN mag // 16
                           ELSE (mag // (1 << (sg + 3))) % 16 END), 85)
             END AS b
      FROM lad),
    lin AS (
      SELECT event_id,
             CASE WHEN is_u THEN
               CASE WHEN (255 - b) >= 128
                    THEN 132 - ((((255 - b) % 16) * 8 + 132)
                                << (((255 - b) // 16) % 8))
                    ELSE ((((255 - b) % 16) * 8 + 132)
                          << (((255 - b) // 16) % 8)) - 132
               END
             ELSE
               CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
               CASE WHEN ((xor(b, 85) // 16) % 8) = 0
                    THEN (xor(b, 85) % 16) * 16 + 8
                    WHEN ((xor(b, 85) // 16) % 8) = 1
                    THEN (xor(b, 85) % 16) * 16 + 264
                    ELSE ((xor(b, 85) % 16) * 16 + 264)
                         << (((xor(b, 85) // 16) % 8) - 1)
               END
             END AS val
      FROM code),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(val)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(val)) AS INT) AS max_abs
      FROM lin GROUP BY event_id)
    SELECT s.event_id AS clip_id,
           CASE WHEN s.refused THEN 'pcm_s16le'
                WHEN s.is_u THEN 'pcm_ulaw' ELSE 'pcm_alaw' END AS codec,
           CAST(NOT s.refused AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM synth s LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
""")
def q_g711_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization the OTHER direction: PCM16 clips
    transcoded INTO G.711 (even ids -> mu-law, odd -> A-law) by the
    standard segmented ENCODERS inside `audio_transcode`, then decoded
    back by `audio_codec_energy`. The synthesis sweeps the full 16-bit
    range INCLUDING values above the mu-law clip point (32635), so
    segment selection, mantissa truncation, bias, bit inversion / XOR
    masking, and clipping are all live. The DuckDB oracle replays
    encode (threshold ladder + integer shifts) and decode (expansion
    arithmetic) per sample — the operator's byte stream sits between.
    Every 11th payload is NULL: transcode passes it through with NULL
    bytes and the ORIGINAL codec tag (quarantine routing), and the
    decode stage refuses it."""
    from ..operators.audio import audio_codec_energy, audio_transcode

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 9 + 20).cast("int")
    payload = _synth_payload_np(_sweep_payload_np)(e, n)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("pcm_s16le").alias("codec"),
        (e % 2).alias("par"),
    )
    tc = audio_transcode(
        clips.where(F.col("par") == 0).drop("par"), "pcm_ulaw"
    ).unionByName(
        audio_transcode(clips.where(F.col("par") == 1).drop("par"), "pcm_alaw")
    )
    # the transcoded codec tag rides the energy re-decode as a
    # passthrough column (ONE mapInPandas chain, no item-keyed
    # self-join and no checkpoint — `tc` has one consumer)
    en = audio_codec_energy(
        tc.select(
            "clip_id", "bytes", "codec", F.col("codec").alias("_codec")
        ),
        passthrough=("_codec",),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_codec").alias("codec"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id")
    )


# Chunker twin: recomputes every window's [start, start+len) sample
# range from the same integer boundary math (per-codec width, floor
# steps, kept short tail) and re-derives the decoded values per
# sample; the operator's JVM substring slicing sits between.
@register(oracle="""
    WITH base AS (
      SELECT event_id,
             CASE WHEN event_id % 2 = 0 THEN 4000 ELSE 6000 END AS sr,
             CAST(event_id % 301 + 300 AS BIGINT) AS n,
             (event_id % 17 = 0) AS is_null,
             (event_id % 13 = 0) AS is_ad,
             (event_id % 3 = 0) AS is_u
      FROM events),
    geom AS (
      SELECT event_id, sr, n, is_u,
             sr * 50 // 1000 AS csamp,
             sr * 25 // 1000 AS step
      FROM base WHERE NOT is_null AND NOT is_ad),
    chunks AS (
      SELECT g.event_id, g.sr, g.n, g.is_u, g.csamp, c.c,
             c.c * g.step AS strt,
             LEAST(g.csamp, g.n - c.c * g.step) AS clen
      FROM geom g, UNNEST(generate_series(0,
           GREATEST(1, CAST(CEIL((g.n - g.csamp) * 1.0 / g.step) AS BIGINT)
                        + 1) - 1)) AS c(c)),
    vals AS (
      SELECT ch.event_id, ch.c,
             CASE WHEN ch.is_u THEN
               CASE WHEN (255 - ((ch.event_id * 37 + t.j * 101
                                  + (t.j * t.j) % 251) % 256)) >= 128
                    THEN 132 - ((((255 - ((ch.event_id * 37 + t.j * 101
                                           + (t.j * t.j) % 251) % 256))
                                  % 16) * 8 + 132)
                                << (((255 - ((ch.event_id * 37 + t.j * 101
                                              + (t.j * t.j) % 251) % 256))
                                     // 16) % 8))
                    ELSE ((((255 - ((ch.event_id * 37 + t.j * 101
                                     + (t.j * t.j) % 251) % 256))
                            % 16) * 8 + 132)
                          << (((255 - ((ch.event_id * 37 + t.j * 101
                                        + (t.j * t.j) % 251) % 256))
                               // 16) % 8)) - 132
               END
             ELSE (ch.event_id * 31 + t.j * 1717) % 65401 - 32700
             END AS v
      FROM chunks ch,
           UNNEST(generate_series(ch.strt, ch.strt + ch.clen - 1)) AS t(j)),
    agg AS (
      SELECT event_id, c, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(v)) AS INT) AS max_abs
      FROM vals GROUP BY event_id, c),
    outg AS (
      SELECT ch.event_id AS clip_id, CAST(ch.c AS INT) AS chunk_id,
             CAST(ch.strt * 1000 // ch.sr AS INT) AS start_ms,
             CAST(ch.clen * 1000 // ch.sr AS INT) AS dur_ms,
             1 AS decoded_ok, a.n_samples, a.abs_energy, a.max_abs
      FROM chunks ch
      JOIN agg a ON a.event_id = ch.event_id AND a.c = ch.c
      UNION ALL
      SELECT event_id, -1, -1, -1, 0, CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), 0
      FROM base WHERE is_null OR is_ad)
    SELECT clip_id, chunk_id, start_ms, dur_ms,
           CAST(decoded_ok AS INT) AS decoded_ok, n_samples, abs_energy,
           CAST(max_abs AS INT) AS max_abs
    FROM outg ORDER BY clip_id, chunk_id
""")
def q_audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window segmentation of audio: `audio_chunk` slices
    fixed-width payloads (PCM16 and 1-byte/sample mu-law mixed in one
    table) into 50ms windows stepping 25ms ENTIRELY in JVM column
    expressions (sequence+explode for window ids, substring on the
    binary column for the slice — zero Python in the slicing path),
    then every chunk's integer energy is decoded by
    `audio_codec_energy`. The DuckDB oracle recomputes each window's
    sample range from the same integer boundary math and re-derives
    the decoded values per sample (PCM formula / G.711 expansion) —
    window arithmetic, byte offsets (including the codec width), the
    kept short tail, and chunk content are all hash-checked. Stateful
    codecs (every 13th clip is tagged adpcm_ima) pass through as the
    documented single chunk_id=-1 row; every 17th payload is NULL."""
    from ..operators.audio import audio_chunk, audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    sr = F.when(e % 2 == 0, F.lit(4000)).otherwise(F.lit(6000))
    n = (e % 301 + 300).cast("int")
    is_u = e % 3 == 0

    # vectorized synthesis twin (guide §4.2; bytes bit-identical to
    # the former HOF form): mu-law rows u(j) = (e*37 + j*101 +
    # (j*j)%251) % 256, PCM rows v(i) = (e*31 + i*1717) % 65401 -
    # 32700, NULL every 17th — one NumPy broadcast per Arrow batch
    def _chunk_payload(ev_, i, nv):
        upick = ev_ % 3 == 0
        out = [None] * len(ev_)
        if upick.any():
            import numpy as np

            iu = np.flatnonzero(upick)
            u = (
                ev_[iu, None] * 37 + i[None, :] * 101 + (i[None, :] ** 2) % 251
            ) % 256
            ub = u.astype(np.uint8)
            for k, r in enumerate(iu.tolist()):
                out[r] = ub[k, : nv[r]].tobytes()
        if (~upick).any():
            import numpy as np

            ip = np.flatnonzero(~upick)
            v = (ev_[ip, None] * 31 + i[None, :] * 1717) % 65401 - 32700
            le = v.astype("<i2")
            for k, r in enumerate(ip.tolist()):
                out[r] = le[k, : nv[r]].tobytes()
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), out)
        ]

    payload = _synth_payload_np(_chunk_payload)(e, n)
    codec = (
        F.when(e % 13 == 0, F.lit("adpcm_ima"))
        .when(is_u, F.lit("pcm_ulaw"))
        .otherwise(F.lit("pcm_s16le"))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        sr.alias("sr_hz"),
        codec.alias("codec"),
    )
    # chunk metadata rides the energy re-decode as passthrough columns
    # (ONE mapInPandas pass; the former shape re-aligned the chunk
    # frame with itself via a concat-keyed self-join — two shuffles of
    # every chunk row — behind a localCheckpoint)
    ch = audio_chunk(clips, chunk_ms=50, overlap_ms=25)
    en = audio_codec_energy(
        ch.select("clip_id", "bytes", "codec", "chunk_id", "start_ms",
                  "dur_ms"),
        passthrough=("chunk_id", "start_ms", "dur_ms"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            "chunk_id",
            F.coalesce("start_ms", F.lit(-1)).alias("start_ms"),
            F.coalesce("dur_ms", F.lit(-1)).alias("dur_ms"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id", "chunk_id")
    )


# WAV twin: the oracle never builds a header — it re-derives decoded
# samples from the content formulas; the container parser (chunk
# walk, fmt dispatch, data offset/length) sits between.
@register(oracle="""
    WITH base AS (
      SELECT event_id, CAST(event_id % 21 + 40 AS INT) AS n,
             (event_id % 17 = 0) OR (event_id % 13 = 0) AS refused,
             (event_id % 3 = 0) AS is_pcm,
             (event_id % 3 = 1) AS is_alaw
      FROM events),
    vals AS (
      SELECT b.event_id,
             CASE WHEN b.is_pcm THEN
               (b.event_id * 31 + t.j * 1717) % 65401 - 32700
             WHEN b.is_alaw THEN
               CASE WHEN xor((b.event_id * 37 + t.j * 101
                              + (t.j * t.j) % 251) % 256, 85) >= 128
                    THEN 1 ELSE -1 END *
               CASE WHEN ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) // 16) % 8) = 0
                    THEN (xor((b.event_id * 37 + t.j * 101
                               + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 8
                    WHEN ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) // 16) % 8) = 1
                    THEN (xor((b.event_id * 37 + t.j * 101
                               + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 264
                    ELSE ((xor((b.event_id * 37 + t.j * 101
                                + (t.j * t.j) % 251) % 256, 85) % 16) * 16 + 264)
                         << (((xor((b.event_id * 37 + t.j * 101
                                    + (t.j * t.j) % 251) % 256, 85) // 16) % 8)
                             - 1)
               END
             ELSE
               CASE WHEN (255 - ((b.event_id * 37 + t.j * 101
                                  + (t.j * t.j) % 251) % 256)) >= 128
                    THEN 132 - ((((255 - ((b.event_id * 37 + t.j * 101
                                           + (t.j * t.j) % 251) % 256))
                                  % 16) * 8 + 132)
                                << (((255 - ((b.event_id * 37 + t.j * 101
                                              + (t.j * t.j) % 251) % 256))
                                     // 16) % 8))
                    ELSE ((((255 - ((b.event_id * 37 + t.j * 101
                                     + (t.j * t.j) % 251) % 256))
                            % 16) * 8 + 132)
                          << (((255 - ((b.event_id * 37 + t.j * 101
                                        + (t.j * t.j) % 251) % 256))
                               // 16) % 8)) - 132
               END
             END AS v
      FROM base b, UNNEST(generate_series(0, b.n - 1)) AS t(j)
      WHERE NOT b.refused),
    agg AS (
      SELECT event_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(SUM(ABS(v)) AS BIGINT) AS abs_energy,
             CAST(MAX(ABS(v)) AS INT) AS max_abs
      FROM vals GROUP BY event_id)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           COALESCE(a.n_samples, 0) AS n_samples,
           COALESCE(a.abs_energy, 0) AS abs_energy,
           COALESCE(a.max_abs, 0) AS max_abs
    FROM base b LEFT JOIN agg a USING (event_id)
    ORDER BY clip_id
""")
def q_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF/WAV container parsing driver-verified: complete WAV files
    (RIFF header, fmt chunk, data chunk) are synthesized closed-form
    — format tag 1 (PCM16), 6 (A-law), 7 (mu-law) — and
    decoded through `parse_wav_header` + `decode_wav_int` inside
    `audio_codec_energy`. The DuckDB oracle re-derives the decoded
    samples from the content formulas alone (it never builds a
    header), so every header field the parser consumes — chunk walk,
    fmt/bits dispatch, data offset/length — sits between the two.
    Every 13th file declares IEEE-float format 3 (unsupported ->
    refuse), every 17th payload is NULL."""
    from ..operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 21 + 40).cast("int")

    # vectorized synthesis twin (guide §4.2; byte-identical to the
    # former per-field/per-sample HOF form): full RIFF/WAV container —
    # header fields little-endian, data = PCM16 sweep / G.711 byte
    # formula / zero-filled float payload; NULL every 17th
    def _wav_payload(ev_, i, nv):
        import struct

        import numpy as np

        pcm = ((ev_[:, None] * 31 + i[None, :] * 1717) % 65401 - 32700
               ).astype("<i2")
        g7 = (
            (ev_[:, None] * 37 + i[None, :] * 101 + (i[None, :] ** 2) % 251)
            % 256
        ).astype(np.uint8)
        out = []
        for r, e_ in enumerate(ev_.tolist()):
            if e_ % 17 == 0:
                out.append(None)
                continue
            n_ = int(nv[r])
            if e_ % 13 == 0:
                fmt, bits = 3, 32
            elif e_ % 3 == 0:
                fmt, bits = 1, 16
            elif e_ % 3 == 1:
                fmt, bits = 6, 8
            else:
                fmt, bits = 7, 8
            block = bits // 8
            dlen = n_ * block
            sr = 8000
            hdr = (
                b"RIFF" + struct.pack("<I", dlen + 36) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, 1, sr,
                                        sr * block, block, bits)
                + b"data" + struct.pack("<I", dlen)
            )
            if fmt == 3:
                data = b"\x00" * dlen
            elif fmt == 1:
                data = pcm[r, :n_].tobytes()
            else:
                data = g7[r, :n_].tobytes()
            out.append(hdr + data)
        return out

    payload = _synth_payload_np(_wav_payload)(e, n)
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("wav").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


# q_audio_tone_probe synthesis constants. Per clip the sample sequence
# x[i] = class_term(i) + noise(i) has period lcm(8, 7) = 56 (tone class
# period 8, hf class period 2, noise period 7 in i), and the noise
# depends on event_id only through event_id % 7 — so every payload is a
# repetition of ONE of 14 precomputed 56-sample hex constants plus a
# truncated tail (NOTES.md #33: per-chunk constants beat per-sample
# interpreted HOF synthesis ~50x for identical bytes).
_TONE_P = (30, 21, 0, -21, -30, -21, 0, 21)  # ~30*cos(2*pi*i/8)


_TONE_COS = (1000, 707, 0, -707, -1000, -707, 0, 707)


_TONE_SIN = (0, 707, 1000, 707, 0, -707, -1000, -707)


def _tone_chunk_hex(cls: int, em7: int) -> str:
    out = []
    for i in range(56):
        base = _TONE_P[i % 8] if cls == 0 else 25 * (1 - 2 * (i % 2))
        v = base + ((em7 + i * 13) % 7 - 3)
        out.append(f"{v & 0xFFFF:04x}"[2:] + f"{v & 0xFFFF:04x}"[:2])
    return "".join(out)


# Tone-probe twin: re-derives the one-bin integer DFT correlations
# from the closed-form sample formula (tone class + hf class + shared
# noise) and the same integer basis tables as 1-based DuckDB list
# literals; the engine side decodes REAL bytes, so the PCM16 decode,
# modular basis gather, segment reduce, and odd-byte truncation all
# sit between the two derivations.
@register(oracle="""
    WITH t AS (
      SELECT event_id,
             CAST((event_id % 13 + 40) * 8 + event_id % 5 AS INT) AS n,
             (event_id % 17 = 0) AS is_null
      FROM events),
    u AS (SELECT event_id, n, unnest(range(0, n)) AS i
          FROM t WHERE NOT is_null),
    x AS (
      SELECT event_id, i,
             (CASE WHEN event_id % 2 = 0
                   THEN ([30,21,0,-21,-30,-21,0,21])[CAST(i % 8 AS INT) + 1]
                   ELSE 25 * (1 - 2 * CAST(i % 2 AS INT)) END)
             + ((event_id + i * 13) % 7 - 3) AS v
      FROM u),
    c AS (
      SELECT event_id,
             CAST(sum(v * ([1000,707,0,-707,-1000,-707,0,707])
                          [CAST(i % 8 AS INT) + 1]) AS BIGINT) AS corr_c,
             CAST(sum(v * ([0,707,1000,707,0,-707,-1000,-707])
                          [CAST(i % 8 AS INT) + 1]) AS BIGINT) AS corr_s
      FROM x GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.n END AS INT) AS n_samples,
           CAST(COALESCE(c.corr_c, 0) AS BIGINT) AS corr_c,
           CAST(COALESCE(c.corr_s, 0) AS BIGINT) AS corr_s,
           CAST(CASE WHEN NOT t.is_null
                      AND abs(COALESCE(c.corr_c, 0))
                        + abs(COALESCE(c.corr_s, 0)) > 6000 * t.n
                     THEN 1 ELSE 0 END AS INT) AS is_tonal
    FROM t LEFT JOIN c USING (event_id)
    ORDER BY clip_id
""")
def q_audio_tone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer one-bin DFT probe (operators/audio.audio_tone_probe):
    band-limit / upsample / hum detection as exact integer arithmetic,
    the oracle-checkable member of the spectral family. Synthesis
    plants two classes — tonal clips carrying ~30*cos at the probe bin
    (correlation >= 14867 per sample) and high-frequency alternating
    clips orthogonal to it over full periods (<= 188 per sample,
    measured over all event_id residues) — plus shared small noise, so
    the is_tonal threshold (6000 milli-units/sample) separates with
    >75x margin and the DuckDB oracle re-derives corr_c/corr_s/is_tonal
    from the closed-form sample formula. Every 17th payload is NULL
    (refuse path); every 3rd gets one odd trailing byte (PCM16
    truncation path)."""
    from ..operators.audio import audio_tone_probe

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = ((e % 13 + 40) * 8 + e % 5).cast("int")  # 320..427 samples
    chunk = F.lit(None).cast("string")
    for cls in (0, 1):
        for em7 in range(7):
            chunk = F.when(
                (e % 2 == cls) & (e % 7 == em7),
                F.lit(_tone_chunk_hex(cls, em7)),
            ).otherwise(chunk)
    reps = F.ceil(n / 56).cast("int")
    hexstr = F.concat(
        F.substring(F.repeat(chunk, reps), F.lit(1), n * 4),
        # odd trailing byte: must truncate, never shift decoding
        F.when(e % 3 == 0, F.lit("02")).otherwise(F.lit("")),
    )
    payload = F.when(e % 17 == 0, F.lit(None).cast("binary")).otherwise(
        F.to_binary(hexstr, F.lit("hex"))
    )
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    out = audio_tone_probe(
        clips, cos_table=_TONE_COS, sin_table=_TONE_SIN,
        tonal_threshold_milli=6000,
    )
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "corr_c",
        "corr_s",
        F.col("is_tonal").cast("int").alias("is_tonal"),
    ).orderBy("clip_id")


# Trim twin: recomputes frame energies from the closed-form synthesis,
# derives first/last voiced frame, byte offsets, kept samples and kept
# energy — the engine's byte slicing + re-decode (recheck_energy) must
# land on the same integers.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 23 + 10 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    u AS (SELECT event_id, nf, unnest(range(0, nf)) AS f
          FROM t WHERE NOT is_null),
    e AS (
      SELECT event_id, f,
             CASE WHEN event_id % 19 <> 0
                   AND f >= event_id % 4
                   AND f < nf - event_id % 3
                   AND (event_id * 13 + f * f) % 11 < 8
                  THEN 720 ELSE 16 END AS en
      FROM u),
    a AS (
      SELECT event_id,
             min(CASE WHEN en >= 400 THEN f END) AS fv,
             max(CASE WHEN en >= 400 THEN f END) AS lv
      FROM e GROUP BY 1),
    k AS (
      SELECT e.event_id, CAST(sum(e.en) AS BIGINT) AS ke
      FROM e JOIN a USING (event_id)
      WHERE e.f BETWEEN a.fv AND a.lv GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf END AS INT) AS n_frames,
           CAST(COALESCE(a.fv, -1) AS INT) AS first_voiced,
           CAST(COALESCE(a.lv, -1) AS INT) AS last_voiced,
           CAST(CASE WHEN a.fv IS NULL THEN 0 ELSE a.fv * 16 END
                AS BIGINT) AS start_byte,
           CAST(CASE WHEN a.fv IS NULL THEN 0 ELSE (a.lv + 1) * 16 END
                AS BIGINT) AS end_byte,
           CAST(CASE WHEN a.fv IS NULL THEN 0
                     ELSE (a.lv - a.fv + 1) * 8 END AS BIGINT)
             AS kept_samples,
           CAST(COALESCE(k.ke, 0) AS BIGINT) AS kept_energy,
           CAST(COALESCE(k.ke, 0) AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN a ON a.event_id = t.event_id AND NOT t.is_null
    LEFT JOIN k ON k.event_id = t.event_id
    ORDER BY clip_id
""")
def q_audio_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading/trailing silence trim (operators/audio.audio_trim)
    COMPOSED with a re-decode: the trimmed bytes flow straight into
    audio_codec_energy, whose abs_energy must reproduce kept_energy —
    so frame bounds, byte offsets, AND the sliced byte content are all
    pinned against a DuckDB oracle that never sees a byte (closed-form
    frame energies, VAD-style synthesis: planted leading silence
    e%4 frames, trailing silence e%3 frames, ~27% interior silent
    frames that must NOT trim, all-silent clips every 19th, NULL
    payloads every 17th, odd tail samples every 5th)."""
    from ..operators.audio import audio_codec_energy, audio_trim

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 23 + 10).cast("int")  # 10..32 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): voiced amp 90 inside the
    # planted [e%4, nf - e%3) span when (e*13 + t*t)%11 < 8 and the
    # clip is not all-silent (e%19), else 2; value-2 tail of e%5
    # samples; NULL every 17th
    def _trim_payload(ev_, t, nv):
        import numpy as np

        voiced = (
            (ev_[:, None] % 19 != 0)
            & (t[None, :] >= (ev_ % 4)[:, None])
            & (t[None, :] < (nv - ev_ % 3)[:, None])
            & ((ev_[:, None] * 13 + t[None, :] ** 2) % 11 < 8)
        )
        amp = np.where(voiced, 90, 2)
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv, tail_cnt=ev_ % 5)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_trim_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # trim stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass — the former shape re-aligned the trim
    # output with itself via an item-keyed self-join behind a
    # localCheckpoint); decoded_ok is the TRIM's flag, aliased around
    # the energy output's own
    trimmed = audio_trim(clips, frame_samples=fs, energy_threshold=400)
    en = audio_codec_energy(
        trimmed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"), "n_frames", "first_voiced",
            "last_voiced", "start_byte", "end_byte", "kept_samples",
            "kept_energy",
        ),
        passthrough=(
            "_ok", "n_frames", "first_voiced", "last_voiced",
            "start_byte", "end_byte", "kept_samples", "kept_energy",
        ),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            "n_frames",
            "first_voiced",
            "last_voiced",
            "start_byte",
            "end_byte",
            "kept_samples",
            "kept_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


# Gain-normalize twin: recomputes peak / gain_ppm / out_energy from the
# frame-constant closed form; the engine's recheck (decode of the
# OUTPUT bytes) must land on the same integers, pinning the content.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 11 + 4 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null,
             (event_id % 19 = 0) AS silent
      FROM events),
    a AS (
      SELECT event_id, f,
             CASE WHEN silent THEN 0
                  ELSE (event_id * 31 + f * 17) % 29000 + 1 END AS amp
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    p AS (SELECT event_id, max(amp) AS peak FROM a GROUP BY 1),
    oe AS (
      SELECT a.event_id,
             CAST(sum(8 * ((a.amp * 24000) // greatest(p.peak, 1)))
                  AS BIGINT) AS oute
      FROM a JOIN p USING (event_id) GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(p.peak, 0) AS BIGINT) AS peak,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN 24000000000 // p.peak ELSE 0 END AS BIGINT)
             AS gain_ppm,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN oe.oute ELSE 0 END AS BIGINT) AS out_energy,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN oe.oute ELSE 0 END AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN p ON p.event_id = t.event_id
    LEFT JOIN oe ON oe.event_id = t.event_id
    ORDER BY clip_id
""")
def q_audio_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak/gain normalization (operators/audio.audio_gain_normalize)
    COMPOSED with a re-decode: the rescaled bytes flow into
    audio_codec_energy whose abs_energy must equal out_energy, so the
    integer rescale y = sign(x) * ((|x| * T) // peak) is pinned on the
    actual output CONTENT, not just the stats. Synthesis is
    frame-constant (NOTES.md #33): clip e has nf = e%11+4 frames of 8
    samples alternating +a/-a with a = 1 + (e*31 + f*17) % 29000, so
    peaks land on BOTH sides of the target 24000 (up- and down-gain
    both exercised); every 19th clip is digital silence (peak 0 ->
    gain undefined, bytes NULL), every 17th a NULL payload. The DuckDB
    twin recomputes peak, gain_ppm, and out_energy from the closed
    form and never sees a byte."""
    from ..operators.audio import audio_codec_energy, audio_gain_normalize

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 11 + 4).cast("int")  # 4..14 whole frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): amp_f = (e*31 + f*17) % 29000 + 1
    # (0 for every 19th, digital silence), frame = [amp,-amp]*4,
    # NULL every 17th
    def _gain_payload(ev_, f, nv):
        import numpy as np

        amp = (ev_[:, None] * 31 + f[None, :] * 17) % 29000 + 1
        amp[ev_ % 19 == 0, :] = 0
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_gain_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # gain stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    normed = audio_gain_normalize(clips, target_peak=24000)
    en = audio_codec_energy(
        normed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "peak", "gain_ppm",
            "out_energy",
        ),
        passthrough=("_ok", "_ns", "peak", "gain_ppm", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "peak",
            "gain_ppm",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


def _flac_variant_params(v: int) -> dict:
    """Deterministic per-variant FLAC content parameters. The DuckDB
    oracle re-derives every decoded sample from THESE formulas (see
    q_flac_energy's oracle); the Spark side packs them into real
    FLAC bitstreams and decodes them back — so the whole decoder
    (frame headers, CRCs, subframe coding, Rice residuals) sits
    between the two derivations."""
    blocksize = 8 + (v * 3) % 17
    nframes = 1 + v % 4
    return {
        "kind": v % 3,  # 0 CONSTANT, 1 VERBATIM, 2 FIXED order 1
        "blocksize": blocksize,
        "nframes": nframes,
        # kind 0: frame f is the constant ((v*2471 + f*977) % 4001)-2000
        # kind 1: sample (f,i) is ((v*37 + (f*blocksize+i)*101) % 4001)-2000
        # kind 2: x_{f,i} = w0_f + i*c_f with
        #         w0_f = ((v*53 + f*29) % 2001) - 1000
        #         c_f  = ((v*7  + f*11) % 41)   - 20
    }


def _flac_variant_samples(v: int) -> list[list[int]]:
    p = _flac_variant_params(v)
    bs, nf, kind = p["blocksize"], p["nframes"], p["kind"]
    frames = []
    for f in range(nf):
        if kind == 0:
            val = ((v * 2471 + f * 977) % 4001) - 2000
            frames.append([val] * bs)
        elif kind == 1:
            frames.append(
                [((v * 37 + (f * bs + i) * 101) % 4001) - 2000
                 for i in range(bs)]
            )
        else:
            w0 = ((v * 53 + f * 29) % 2001) - 1000
            c = ((v * 7 + f * 11) % 41) - 20
            frames.append([w0 + i * c for i in range(bs)])
    return frames


def _flac_payload_hex(v: int) -> str:
    """Pack variant v's frames into a REAL mono 16-bit FLAC stream
    (STREAMINFO + one frame per entry, CRC-8/16 computed): CONSTANT
    subframes for kind 0, VERBATIM for kind 1, FIXED order 1 with a
    constant Rice-coded residual for kind 2."""
    from ..operators.flac import _crc8, _crc16

    p = _flac_variant_params(v)
    bs, nf, kind = p["blocksize"], p["nframes"], p["kind"]

    class W:
        def __init__(self):
            self.bits: list[int] = []

        def w(self, val, n):
            for i in range(n - 1, -1, -1):
                self.bits.append((val >> i) & 1)

        def ws(self, val, n):
            self.w(val & ((1 << n) - 1), n)

        def rice(self, val, param):
            u = 2 * val if val >= 0 else -2 * val - 1
            self.bits.extend([0] * (u >> param) + [1])
            self.w(u & ((1 << param) - 1), param)

        def tobytes(self):
            while len(self.bits) % 8:
                self.bits.append(0)
            return bytes(
                int("".join(map(str, self.bits[i : i + 8])), 2)
                for i in range(0, len(self.bits), 8)
            )

    si = W()
    si.w(16, 16); si.w(16, 16); si.w(0, 24); si.w(0, 24)
    si.w(8000, 20); si.w(0, 3); si.w(15, 5); si.w(bs * nf, 36)
    stream = b"fLaC" + bytes([0x80]) + (len(si.tobytes()) + 16).to_bytes(
        3, "big") + si.tobytes() + bytes(16)
    for f, samples in enumerate(_flac_variant_samples(v)):
        h = W()
        h.w(0x3FFE, 14); h.w(0, 1); h.w(0, 1)
        h.w(6, 4); h.w(0, 4); h.w(0, 4); h.w(0, 3); h.w(0, 1)
        h.w(f, 8)          # coded frame number (nf <= 4 < 0x80)
        h.w(bs - 1, 8)     # 8-bit blocksize-1
        head = h.tobytes()
        head += bytes([_crc8(head)])
        body = W()
        if kind == 0:
            body.w(0, 1); body.w(0, 6); body.w(0, 1)
            body.ws(samples[0], 16)
        elif kind == 1:
            body.w(0, 1); body.w(1, 6); body.w(0, 1)
            for s in samples:
                body.ws(s, 16)
        else:
            c = samples[1] - samples[0]
            body.w(0, 1); body.w(8 + 1, 6); body.w(0, 1)
            body.ws(samples[0], 16)
            body.w(0, 2); body.w(0, 4); body.w(6, 4)
            for _ in range(bs - 1):
                body.rice(c, 6)
        raw = head + body.tobytes()
        stream += raw + _crc16(raw).to_bytes(2, "big")
    return stream.hex()


# FLAC twin: the engine decodes REAL packed bitstreams; the oracle
# never sees a bit — it re-derives every decoded sample from the
# closed-form content formulas (constant / indexed / arithmetic-
# progression frames) and aggregates. The entire decoder (frame sync,
# CRC-8/16, subframe headers, Rice residuals) sits between the two.
_FLAC_PARAMS = ", ".join(
    "({v},{kind},{blocksize},{nframes})".format(v=v, **_flac_variant_params(v))
    for v in range(20)
)


@register(oracle=f"""
    WITH params(variant, kind, blocksize, nframes) AS (VALUES {_FLAC_PARAMS}),
    samples AS (
      SELECT p.variant,
             CASE p.kind
               WHEN 0 THEN ((p.variant * 2471 + f.f * 977) % 4001) - 2000
               WHEN 1 THEN ((p.variant * 37
                             + (f.f * p.blocksize + i.i) * 101) % 4001) - 2000
               ELSE (((p.variant * 53 + f.f * 29) % 2001) - 1000)
                    + i.i * (((p.variant * 7 + f.f * 11) % 41) - 20)
             END AS x
      FROM params p,
           UNNEST(generate_series(0, p.nframes - 1)) AS f(f),
           UNNEST(generate_series(0, p.blocksize - 1)) AS i(i)),
    venergy AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(ABS(x)) AS BIGINT) AS e,
             CAST(MAX(ABS(x)) AS INT) AS m
      FROM samples GROUP BY variant),
    base AS (
      SELECT event_id, CAST(event_id % 20 AS INT) AS variant,
             (event_id % 17 = 0) OR (event_id % 13 = 0) AS refused
      FROM events)
    SELECT b.event_id AS clip_id,
           CAST(NOT b.refused AS INT) AS decoded_ok,
           CASE WHEN b.refused THEN 0 ELSE v.n END AS n_samples,
           CASE WHEN b.refused THEN 0 ELSE v.e END AS abs_energy,
           CASE WHEN b.refused THEN 0 ELSE v.m END AS max_abs
    FROM base b JOIN venergy v USING (variant)
    ORDER BY clip_id
""")
def q_flac_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless decompression end-to-end through Spark: 20
    deterministic variants of genuine FLAC bitstreams (CONSTANT,
    VERBATIM, and FIXED-order-1 subframes with Rice residuals; frame
    CRC-8/16 all real) are packed driver-side from closed-form sample
    formulas, decoded by the production FLAC subset decoder inside
    `audio_codec_energy`, and the DuckDB oracle RE-DERIVES every
    decoded sample from the same formulas (the packer emits bits, the
    oracle emits arithmetic — the entire decoder sits between them).
    Every 17th payload is NULL; every 13th is CRC-corrupted (last
    byte flipped) and must REFUSE (decoded_ok=false) — a decoder that
    skipped CRC verification would return energies there and
    hash-mismatch."""
    from ..operators.audio import audio_codec_energy

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    good = F.lit(None).cast("string")
    corrupt = F.lit(None).cast("string")
    for v in range(19, -1, -1):
        hx = _flac_payload_hex(v)
        bad = hx[:-2] + format(int(hx[-2:], 16) ^ 0xFF, "02x")
        good = F.when(e % 20 == v, F.lit(hx)).otherwise(good)
        corrupt = F.when(e % 20 == v, F.lit(bad)).otherwise(corrupt)
    payload = (
        F.when(e % 17 == 0, F.lit(None).cast("binary"))
        .when(e % 13 == 0, F.to_binary(corrupt, F.lit("hex")))
        .otherwise(F.to_binary(good, F.lit("hex")))
    )
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        F.lit("flac").alias("codec"),
    )
    out = audio_codec_energy(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        F.col("decoded_ok").cast("int").alias("decoded_ok"),
        "n_samples",
        "abs_energy",
        "max_abs",
    ).orderBy("clip_id")


# Downmix twin: y = sign(L+R) * (|L+R| // 2) — the sign-split form is
# the only portable integer division (DuckDB // truncates toward zero,
# NumPy floors); recheck_energy equals out_energy because the engine
# re-decodes its own output bytes.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 9 + 3 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 31 + f * 17) % 3001 - 1500 AS l,
             (event_id * 7 + f * 13) % 2001 - 1000 AS r
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    y AS (
      SELECT event_id,
             CAST(sum(8 * (abs(l + r) // 2)) AS BIGINT) AS oute
      FROM a GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_frames,
           CAST(COALESCE(y.oute, 0) AS BIGINT) AS out_energy,
           CAST(COALESCE(y.oute, 0) AS BIGINT) AS recheck_energy
    FROM t LEFT JOIN y USING (event_id)
    ORDER BY clip_id
""")
def q_audio_downmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stereo->mono downmix (operators/audio.audio_downmix) COMPOSED
    with a re-decode of the mono output bytes (audio_codec_energy),
    pinning the averaged CONTENT, not just stats. Synthesis: nf
    frame-groups of 8 interleaved (L, R) pairs with per-group constant
    L = (e*31 + f*17) % 3001 - 1500 and R = (e*7 + f*13) % 2001 - 1000
    (both signs exercised); y = sign(L+R) * (|L+R| // 2) replayed
    closed-form by the DuckDB twin; every 17th clip NULL."""
    from ..operators.audio import audio_codec_energy, audio_downmix

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 9 + 3).cast("int")  # 3..11 frame-groups

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): group f interleaves [L,R]*8 with
    # L = (e*31 + f*17) % 3001 - 1500, R = (e*7 + f*13) % 2001 - 1000,
    # NULL every 17th
    def _mix_payload(ev_, f, nv):
        lamp = (ev_[:, None] * 31 + f[None, :] * 17) % 3001 - 1500
        ramp = (ev_[:, None] * 7 + f[None, :] * 13) % 2001 - 1000
        rows = _frame_pair_rows(lamp, ramp, fs, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_mix_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # downmix stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    mono = audio_downmix(clips, channels=2)
    en = audio_codec_energy(
        mono.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"), "n_frames", "out_energy",
        ),
        passthrough=("_ok", "n_frames", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            "n_frames",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


# Clipping twin: frame-level gaps-and-islands (f - row_number()) over
# the planted clipped-frame pattern; counts/runs scale by fs=8 samples
# per frame; ppm is the same integer division on both sides.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 13 + 6 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    fr AS (
      SELECT event_id, f,
             (event_id % 19 <> 0 AND (event_id * 7 + f * f) % 9 < 2)
               AS is_clip
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    isl AS (
      SELECT event_id,
             f - row_number() OVER (PARTITION BY event_id ORDER BY f)
               AS grp
      FROM fr WHERE is_clip),
    runs AS (
      SELECT event_id, count(*) AS run_frames
      FROM isl GROUP BY event_id, grp),
    agg AS (
      SELECT event_id,
             CAST(sum(CASE WHEN is_clip THEN 1 ELSE 0 END) AS BIGINT)
               AS clip_frames
      FROM fr GROUP BY 1),
    mx AS (SELECT event_id, max(run_frames) AS max_run_frames
           FROM runs GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(a.clip_frames, 0) * 8 AS BIGINT) AS clipped,
           CAST(CASE WHEN t.is_null THEN 0
                     ELSE COALESCE(a.clip_frames, 0) * 8 * 1000000
                          // (t.nf * 8) END AS BIGINT) AS clip_ppm,
           CAST(COALESCE(m.max_run_frames, 0) * 8 AS BIGINT) AS max_run
    FROM t
    LEFT JOIN agg a ON a.event_id = t.event_id
    LEFT JOIN mx m ON m.event_id = t.event_id
    ORDER BY clip_id
""")
def q_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping/saturation QC (operators/audio.audio_clipping): count,
    integer ppm, and longest consecutive clipped run per clip. The
    synthesis plants clipped FRAMES (amp 32767, 8 samples) in a
    deterministic ~22% pattern with clean clips every 19th and NULL
    payloads every 17th; the DuckDB twin replays the run structure
    with the classic f - row_number() gaps-and-islands."""
    from ..operators.audio import audio_clipping

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 13 + 6).cast("int")  # 6..18 frames

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame when-chain HOF form): clipped frames amp 32767 when
    # (e*7 + f*f) % 9 < 2 (clean clips every 19th), else 500;
    # frame = [amp,-amp]*4, NULL every 17th
    def _clip_payload(ev_, f, nv):
        import numpy as np

        amp = np.where(
            (ev_[:, None] % 19 != 0)
            & ((ev_[:, None] * 7 + f[None, :] ** 2) % 9 < 2),
            32767, 500,
        )
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_clip_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    return (
        audio_clipping(clips, threshold=32760)
        .select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "clipped",
            "clip_ppm",
            "max_run",
        )
        .orderBy("clip_id")
    )


# Compressor twin: mag = CASE amp > thr THEN thr + (amp-thr)//4 —
# amps are positive by construction so // needs no sign split here;
# recheck equals out_energy because the engine re-decodes its output.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 11 + 4 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 31 + f * 17) % 29000 + 1 AS amp
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    m AS (
      SELECT event_id,
             CAST(sum(8 * CASE WHEN amp > 8000
                               THEN 8000 + (amp - 8000) // 4
                               ELSE amp END) AS BIGINT) AS oute,
             CAST(sum(8 * CASE WHEN amp > 8000 THEN 1 ELSE 0 END)
                  AS BIGINT) AS red
      FROM a GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(m.red, 0) AS BIGINT) AS reduced,
           CAST(COALESCE(m.oute, 0) AS BIGINT) AS out_energy,
           CAST(COALESCE(m.oute, 0) AS BIGINT) AS recheck_energy
    FROM t LEFT JOIN m USING (event_id)
    ORDER BY clip_id
""")
def q_audio_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-knee dynamic-range compression
    (operators/audio.audio_compress_dynamics) COMPOSED with a
    re-decode of the output bytes: overshoot above 8000 keeps 1/4,
    all integer (sign-split //), so the DuckDB twin replays mag,
    reduced-sample count, and energy closed-form. Frame-constant amps
    1 + (e*31 + f*17) % 29000 straddle the knee in both directions."""
    from ..operators.audio import audio_codec_energy, audio_compress_dynamics

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 11 + 4).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form): amp_f = (e*31 + f*17) % 29000 + 1,
    # frame = [amp,-amp]*4, NULL every 17th
    def _drc_payload(ev_, f, nv):
        amp = (ev_[:, None] * 31 + f[None, :] * 17) % 29000 + 1
        rows = _frame_pair_rows(amp, -amp, fs // 2, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_drc_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    # DRC stats ride the content re-decode as passthrough columns
    # (ONE mapInPandas pass, no item-keyed self-join / checkpoint)
    comp = audio_compress_dynamics(clips, threshold=8000, ratio=4)
    en = audio_codec_energy(
        comp.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "reduced", "out_energy",
        ),
        passthrough=("_ok", "_ns", "reduced", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "reduced",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


# Mastering-chain twin: all three stages replayed closed-form on the
# per-frame constants — downmix magnitude |L+R|//2, knee, then the
# peak-relative gain; signs cancel because every output is a
# magnitude/energy. One oracle across three chained byte stages.
@register(oracle="""
    WITH t AS (
      SELECT event_id, CAST(event_id % 9 + 3 AS INT) AS nf,
             (event_id % 17 = 0) AS is_null
      FROM events),
    a AS (
      SELECT event_id, f,
             (event_id * 131 + f * 37) % 30001 - 15000 AS l,
             (event_id * 17 + f * 29) % 20001 - 10000 AS r
      FROM t, UNNEST(range(0, nf)) AS u(f)
      WHERE NOT is_null),
    c AS (
      SELECT event_id, f,
             CASE WHEN abs(l + r) // 2 > 8000
                  THEN 8000 + (abs(l + r) // 2 - 8000) // 4
                  ELSE abs(l + r) // 2 END AS cm
      FROM a),
    p AS (SELECT event_id, max(cm) AS peak FROM c GROUP BY 1),
    g AS (
      SELECT c.event_id,
             CAST(sum(8 * ((c.cm * 24000) // greatest(p.peak, 1)))
                  AS BIGINT) AS oute
      FROM c JOIN p USING (event_id) GROUP BY 1)
    SELECT t.event_id AS clip_id,
           CAST(CASE WHEN t.is_null THEN 0 ELSE 1 END AS INT) AS decoded_ok,
           CAST(CASE WHEN t.is_null THEN 0 ELSE t.nf * 8 END AS BIGINT)
             AS n_samples,
           CAST(COALESCE(p.peak, 0) AS BIGINT) AS peak,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN 24000000000 // p.peak ELSE 0 END AS BIGINT)
             AS gain_ppm,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN g.oute ELSE 0 END AS BIGINT) AS out_energy,
           CAST(CASE WHEN COALESCE(p.peak, 0) > 0
                     THEN g.oute ELSE 0 END AS BIGINT) AS recheck_energy
    FROM t
    LEFT JOIN p ON p.event_id = t.event_id
    LEFT JOIN g ON g.event_id = t.event_id
    ORDER BY clip_id
""")
def q_audio_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full audio mastering chain COMPOSED end-to-end — stereo
    downmix -> hard-knee compression -> peak normalization -> final
    re-decode — with ONE DuckDB oracle replaying all three integer
    stages closed-form. This pins operator CHAINING through bytes
    (each stage's output bytes feed the next mapInPandas), not just
    each stage alone. Stage params: downmix ch=2, knee 8000 ratio 4,
    target peak 24000. The final stage's stats ride the re-decode as
    passthrough columns, so the 3-stage chain has exactly one
    consumer and materializes once — no checkpoint, no self-join."""
    from ..operators.audio import (
        audio_codec_energy,
        audio_compress_dynamics,
        audio_downmix,
        audio_gain_normalize,
    )

    fs = 8
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    nf = (e % 9 + 3).cast("int")

    # vectorized synthesis twin (guide §4.2; same bytes as the
    # per-frame _le16 HOF form) — wider amps than q_audio_downmix so
    # the knee (8000) engages: L = (e*131 + f*37) % 30001 - 15000,
    # R = (e*17 + f*29) % 20001 - 10000, [L,R]*8, NULL every 17th
    def _master_payload(ev_, f, nv):
        lamp = (ev_[:, None] * 131 + f[None, :] * 37) % 30001 - 15000
        ramp = (ev_[:, None] * 17 + f[None, :] * 29) % 20001 - 10000
        rows = _frame_pair_rows(lamp, ramp, fs, nv)
        return [
            None if e_ % 17 == 0 else b for e_, b in zip(ev_.tolist(), rows)
        ]

    payload = _synth_payload_np(_master_payload)(e, nf)
    clips = ev.select(e.cast("string").alias("clip_id"), payload.alias("bytes"))
    mono = audio_downmix(clips, channels=2).select("clip_id", "bytes")
    comp = audio_compress_dynamics(mono, threshold=8000, ratio=4).select(
        "clip_id", "bytes"
    )
    # final-stage stats ride the content re-decode as passthrough
    # columns (ONE chain of mapInPandas stages, no item-keyed
    # self-join and no checkpoint — the chain now has one consumer)
    normed = audio_gain_normalize(comp, target_peak=24000)
    en = audio_codec_energy(
        normed.select(
            "clip_id", "bytes", F.lit("pcm_s16le").alias("codec"),
            F.col("decoded_ok").alias("_ok"),
            F.col("n_samples").alias("_ns"), "peak", "gain_ppm",
            "out_energy",
        ),
        passthrough=("_ok", "_ns", "peak", "gain_ppm", "out_energy"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_ok").cast("int").alias("decoded_ok"),
            F.col("_ns").alias("n_samples"),
            "peak",
            "gain_ppm",
            "out_energy",
            F.col("abs_energy").alias("recheck_energy"),
        )
        .orderBy("clip_id")
    )


# WAV wrap: the oracle re-derives byte counts (44-byte canonical
# header + 2n) and decoded energies from the closed-form sample
# formula — the engine's encode_wav_pcm16 -> parse_wav_header ->
# decode_wav_int round-trip sits entirely between.
@register(oracle="""
    WITH t AS MATERIALIZED (
      SELECT event_id,
             CAST(event_id % 9 + 20 AS INT) AS n,
             (event_id % 11 = 0) AS null_payload,
             (event_id % 13 = 0) AS bad_codec
      FROM events),
    d AS (
      SELECT event_id, n,
             NOT (null_payload OR bad_codec) AS ok,
             CASE WHEN NOT (null_payload OR bad_codec) THEN 'wav'
                  WHEN bad_codec THEN 'opus'
                  ELSE 'pcm_s16le' END AS codec,
             list_transform(generate_series(0, n - 1),
               i -> abs((event_id * 31 + i * 1717) % 65401 - 32700)) AS a
      FROM t)
    SELECT event_id AS clip_id, codec,
           CASE WHEN ok THEN 44 + 2 * n END AS n_bytes,
           CAST(ok AS INT) AS decoded_ok,
           CAST(CASE WHEN ok THEN n ELSE 0 END AS BIGINT) AS n_samples,
           CAST(CASE WHEN ok THEN list_sum(a) ELSE 0 END AS BIGINT)
             AS abs_energy,
           CAST(CASE WHEN ok THEN list_max(a) ELSE 0 END AS INT) AS max_abs
    FROM d
    ORDER BY clip_id
""")
def q_wav_wrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-normalization SINK (operators/audio.audio_wrap_wav) —
    the inverse of the WAV scan path: raw PCM16 clips re-wrapped as
    canonical mono RIFF/WAV, then decoded BACK through
    audio_codec_energy's 'wav' path, so header synthesis, the 44-byte
    canonical layout, and parse_wav_header/decode_wav_int all sit
    between the closed-form synthesis and the closed-form oracle.
    Quarantine routing live: every 11th payload is NULL and every
    13th is tagged with an unregistered codec — both pass through
    with NULL bytes + ORIGINAL codec tag and refuse downstream."""
    from ..operators.audio import audio_codec_energy, audio_wrap_wav

    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    e = F.col("event_id")
    n = (e % 9 + 20).cast("int")
    payload = _synth_payload_np(_sweep_payload_np)(e, n)
    codec = F.when(e % 13 == 0, F.lit("opus")).otherwise(F.lit("pcm_s16le"))
    clips = ev.select(
        e.cast("string").alias("clip_id"),
        payload.alias("bytes"),
        codec.alias("codec"),
        F.lit(16000).alias("sr_hz"),
    )
    # the byte-length projection rides the decode-back energy pass as
    # passthrough columns (ONE mapInPandas chain, no item-keyed
    # self-join and no checkpoint — the wrap kernel has one consumer)
    w = audio_wrap_wav(clips)
    en = audio_codec_energy(
        w.select(
            "clip_id", "bytes", "codec",
            F.col("codec").alias("_codec"),
            F.length("bytes").alias("n_bytes"),
        ),
        passthrough=("_codec", "n_bytes"),
    )
    return (
        en.select(
            F.col("clip_id").cast("long").alias("clip_id"),
            F.col("_codec").alias("codec"),
            "n_bytes",
            F.col("decoded_ok").cast("int").alias("decoded_ok"),
            "n_samples",
            "abs_energy",
            "max_abs",
        )
        .orderBy("clip_id")
    )
