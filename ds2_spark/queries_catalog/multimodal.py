"""Cross-modal and image operators: audio/transcript consistency and image dhash."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import register
from .common import _t
from .synth import _dhash_media, _le16_hex


# re-derives the per-frame-constant fingerprints from the synthesis
# formula (frame energy = 8*abs(c)), the md5 transcript hashes, and
# both consistency groupings natively
@register(oracle="""
    WITH t AS (SELECT event_id, event_id % 211 AS g, event_id // 211 AS var,
                      61 + (event_id % 211) % 3 AS nf
               FROM events),
    u AS (SELECT event_id, g, nf, unnest(range(0, nf)) AS lf FROM t),
    e AS (SELECT event_id, lf,
                 8 * abs((((g*8191+lf)*(g*8191+lf)) % 2147483648 * 31
                          + g*8191+lf) % 2147483648 % 201 - 100) AS energy
          FROM u),
    b AS (SELECT event_id, lf,
                 CASE WHEN energy > lag(energy) OVER (
                        PARTITION BY event_id ORDER BY lf)
                      THEN 1 ELSE 0 END AS bit
          FROM e),
    fp0 AS (SELECT event_id,
                   CAST(coalesce(sum(CASE WHEN lf BETWEEN 1 AND 60
                          THEN bit * (CAST(1 AS BIGINT) << CAST(lf - 1 AS INT))
                          END), 0) AS BIGINT) AS fp
            FROM b GROUP BY 1),
    r AS (SELECT t.event_id AS clip_id,
                 CASE WHEN t.event_id % 11 = 0 THEN NULL ELSE fp0.fp END AS fp,
                 CASE WHEN t.event_id % 13 = 0 THEN NULL
                      ELSE md5('utt ' || (t.g % 97) ||
                               CASE WHEN t.var % 3 = 1 THEN ' alt' ELSE '' END)
                 END AS t_hash
          FROM t JOIN fp0 ON fp0.event_id = t.event_id),
    af AS (SELECT fp, CAST(count(*) AS BIGINT) AS audio_dup_count,
                  CAST(count(DISTINCT t_hash) AS BIGINT) AS n_transcripts
           FROM r WHERE fp IS NOT NULL GROUP BY 1),
    tx AS (SELECT t_hash, CAST(count(*) AS BIGINT) AS text_dup_count,
                  CAST(count(DISTINCT fp) AS BIGINT) AS n_audio
           FROM r WHERE t_hash IS NOT NULL GROUP BY 1)
    SELECT r.clip_id, r.fp, r.t_hash,
           coalesce(af.audio_dup_count, 0) AS audio_dup_count,
           coalesce(af.n_transcripts, 0) AS n_transcripts,
           CAST(coalesce(af.n_transcripts, 0) > 1 AS INT)
             AS transcript_conflict,
           coalesce(tx.text_dup_count, 0) AS text_dup_count,
           coalesce(tx.n_audio, 0) AS n_audio,
           CAST(coalesce(tx.n_audio, 0) > 1 AS INT) AS audio_variant
    FROM r
    LEFT JOIN af ON af.fp = r.fp
    LEFT JOIN tx ON tx.t_hash = r.t_hash
    ORDER BY clip_id
""")
def q_crossmodal_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal duplicate consistency (operators/crossmodal.py):
    identical-audio groups with conflicting transcripts (annotation
    inconsistency) and identical-transcript groups spanning distinct
    audio (re-read/multi-take pattern), in one pass over the bytes.

    Synthesis plants both patterns closed-form: clips sharing
    g = event_id % 211 play the same per-frame-constant PCM16 series
    (samples constant within each 8-sample frame — NOTES.md #33
    discipline: the fingerprint only sees frame abs-sums, so one
    interpreted-HOF element per FRAME synthesizes 8 samples), while
    the transcript is 'utt <g mod 97>' with an ' alt' variant on
    every third take (var = event_id div 211) — so every multi-take
    audio group with an alt member is a genuine transcript conflict,
    AND each base transcript is shared by two or three distinct
    audio groups (g, g+97, g+194 all collide mod 97), so the
    audio_variant (re-read / multi-take) flag genuinely fires —
    both flag paths are live in the contract data, not just in the
    operator pytest. Every 11th payload and every 13th transcript is
    NULL (no-group paths). The DuckDB twin re-derives fingerprints
    from the frame formula and both groupings natively."""
    from ..operators.crossmodal import crossmodal_consistency

    # spread the tiny pre-synthesis rows across all slots (NOTES #22:
    # the small-SF events scan yields 1-2 partitions, which would
    # serialize both the per-frame synthesis and the fingerprint pass)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism, "event_id"
    )
    g = F.col("event_id") % 211
    var = F.expr("event_id div 211")
    def _frame_val(f):
        h = F.col("g") * 8191 + f
        return ((h * h) % 2147483648 * 31 + h) % 2147483648 % 201 - 100

    # the payload is a function of g ALONE (that is the planted
    # structure), so synthesize the 211 distinct payloads once and
    # broadcast-join them back — 211 interpreted-HOF evaluations
    # instead of one per event (the NOTES #33 discipline, taken to
    # its limit: constant-frame chunks AND constant-group payloads)
    hexstr = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.col("nf") - 1),
            lambda f: F.repeat(_le16_hex(_frame_val(f)), 8),
        ),
        "",
    )
    by_g = (
        ev.select(g.alias("g"))
        .distinct()
        .withColumn("nf", (61 + F.col("g") % 3).cast("int"))
        .withColumn("g_payload", F.to_binary(hexstr, F.lit("hex")))
        .drop("nf")
    )
    ev = ev.withColumn("g", g).join(F.broadcast(by_g), "g")
    payload = F.when(
        F.col("event_id") % 11 == 0, F.lit(None).cast("binary")
    ).otherwise(F.col("g_payload"))
    transcript = F.when(
        F.col("event_id") % 13 == 0, F.lit(None).cast("string")
    ).otherwise(
        F.concat(
            F.lit("utt "),
            (g % 97).cast("string"),
            F.when(var % 3 == 1, F.lit(" alt")).otherwise(F.lit("")),
        )
    )
    clips = ev.select(
        F.col("event_id").cast("string").alias("clip_id"),
        payload.alias("bytes"),
        transcript.alias("transcript"),
    )
    out = crossmodal_consistency(clips)
    return out.select(
        F.col("clip_id").cast("long").alias("clip_id"),
        "fp",
        "t_hash",
        "audio_dup_count",
        "n_transcripts",
        "transcript_conflict",
        "text_dup_count",
        "n_audio",
        "audio_variant",
    ).orderBy("clip_id")


# Image dhash: the oracle recomputes both 32-bit halves from the
# closed-form pixel synthesis — it never touches a byte; the engine
# decodes REAL P6 payloads, so header walk + frombuffer + area-mean
# resize + luma + bit-pack all sit between the two sides.
def _dhash_oracle_ctes() -> str:
    def p(k: str) -> str:
        x = f"((doc_id - doc_id % 2) * 73 + ({k}) + 1)"
        return (
            f"({x} * {x} * 7 + {x} * 13"
            f" + CASE WHEN doc_id % 2 = 1 AND ({k}) % 29 = 0"
            f" THEN 97 ELSE 0 END) % 251"
        )

    def half(b0: int) -> str:
        k1 = f"((b + {b0}) // 8) * 9 + (b + {b0}) % 8"
        return (
            f"CAST(list_sum(list_transform(generate_series(0, 31),"
            f" b -> CASE WHEN {p(k1)} > {p(k1 + ' + 1')}"
            f" THEN (CAST(1 AS BIGINT) << (31 - b)) ELSE 0 END))"
            f" AS BIGINT)"
        )

    return f"""
    h AS MATERIALIZED (
      SELECT doc_id, lpad(CAST(doc_id AS VARCHAR), 12, '0') AS media_id,
             {half(0)} AS dhash_hi,
             {half(32)} AS dhash_lo
      FROM documents)"""


@register(oracle=f"""
    WITH {_dhash_oracle_ctes()}
    SELECT doc_id, true AS decoded_ok, dhash_hi, dhash_lo
    FROM h
    ORDER BY doc_id
""")
def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (operators/multimodal.image_dhash) — the
    dedup key for image payloads: integer luma, exact area-mean
    resize to the 9x8 dHash grid, neighbor-comparison bits packed
    into two 32-bit halves (one signed-64 pack would overflow bit 63
    on the SQL side). 10000 REAL P6 payloads decoded by the engine vs
    a formula-only SQL re-derivation — the decoder and hash kernel
    sit entirely between the two sides."""
    from ..operators.multimodal import image_dhash

    media = _dhash_media(spark, sf_dir)
    out = image_dhash(media)
    return (
        media.select("doc_id", "media_id")
        .join(out, "media_id")
        .select("doc_id", "decoded_ok", "dhash_hi", "dhash_lo")
        .orderBy("doc_id")
    )


@register(oracle=f"""
    WITH {_dhash_oracle_ctes()},
    bands AS MATERIALIZED (
      SELECT media_id, 0 AS bi, dhash_hi // 65536 AS bv FROM h
      UNION ALL SELECT media_id, 1, dhash_hi % 65536 FROM h
      UNION ALL SELECT media_id, 2, dhash_lo // 65536 FROM h
      UNION ALL SELECT media_id, 3, dhash_lo % 65536 FROM h),
    cand AS (
      SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
      FROM bands a JOIN bands b
        ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id),
    v AS (
      SELECT id_a, id_b,
             CAST(bit_count(xor(ha.dhash_hi, hb.dhash_hi))
                  + bit_count(xor(ha.dhash_lo, hb.dhash_lo)) AS INT)
               AS hamming
      FROM cand
      JOIN h ha ON ha.media_id = cand.id_a
      JOIN h hb ON hb.media_id = cand.id_b)
    SELECT id_a, id_b, hamming
    FROM v
    WHERE hamming <= 8
    ORDER BY id_a, id_b
""")
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Hamming near-dup over image dhashes
    (operators/multimodal.image_dhash_pairs) — four 16-bit bands give
    FULL recall at hamming <= 3 by pigeonhole (the planted pairs
    perturb 3 pixels), ids-only shuffles, no all-pairs. The oracle
    recomputes both hashes closed-form and replays the identical
    band-join + popcount(xor) verify in SQL."""
    from ..operators.multimodal import image_dhash, image_dhash_pairs

    media = _dhash_media(spark, sf_dir)
    pairs = image_dhash_pairs(image_dhash(media), max_hamming=8)
    return pairs.orderBy("id_a", "id_b")
