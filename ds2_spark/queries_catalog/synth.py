"""Payload synthesis shared by the audio and image queries.

Closed-form per-row byte payloads built from `events`/`documents`
columns, so the DuckDB oracles can rebuild the same bytes from the
same formulas."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import _t


def _le16_hex(v):
    """hex of one int16 sample, little-endian byte order, as a Spark
    SQL expression (4 hex chars; caller guarantees int16 range)."""
    u = F.when(v < 0, v + 65536).otherwise(v)
    h = F.lpad(F.hex(u.cast("bigint")), 4, "0")
    return F.concat(F.substring(h, 3, 2), F.substring(h, 1, 2))


def _synth_payload_np(fn):
    """Arrow-vectorized synthesis twin (guide §4.2): the closed-form
    per-sample payload formula runs as ONE NumPy broadcast per Arrow
    batch instead of n interpreted-HOF expression evaluations per row
    (an array_join of per-sample `_le16_hex` hex strings decoded with
    to_binary); the bytes are BIT-IDENTICAL to that SQL-expression form,
    so the oracle SQL is unchanged.

    `fn(ev, i)` receives the batch's event ids as an int64 column
    vector (k, 1) and sample indices as an int64 row vector
    (1, max_n) and returns the sample matrix. Only nonneg dividends
    may feed `%` (np.mod and Spark % agree there; every synthesis
    formula in this catalog qualifies). int16-LE truncation via
    astype('<i2') equals `_le16_hex`'s +65536 encoding for any value
    the formulas produce. Returns a (event_id, n) -> bytes pandas_udf;
    rows where fn returns None (via `null_every`) yield SQL NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _synth(e: pd.Series, n: pd.Series) -> pd.Series:
        import numpy as np

        if len(e) == 0:
            return pd.Series([], dtype=object)
        ev = e.to_numpy(dtype=np.int64)
        nv = n.to_numpy(dtype=np.int64)
        mx = int(nv.max()) if len(nv) else 0
        i = np.arange(max(mx, 1), dtype=np.int64)
        return pd.Series(fn(ev, i, nv), dtype=object)

    return _synth


def _pcm16_rows(vals, nv):
    """(k, max_n) int sample matrix -> list of per-row PCM16-LE byte
    payloads truncated to each row's sample count."""
    le = vals.astype("<i2")
    return [le[r, : nv[r]].tobytes() for r in range(len(nv))]


def _sweep_payload_np(ev_, i, nv):
    """Vectorized full-16-bit-range sweep payload shared by
    q_g711_transcode / q_wav_wrap: v(i) = (e*31 + i*1717) % 65401
    - 32700, NULL every 11th (same bytes as the former HOF form)."""
    vals = (ev_[:, None] * 31 + i[None, :] * 1717) % 65401 - 32700
    rows = _pcm16_rows(vals, nv)
    return [None if e % 11 == 0 else b for e, b in zip(ev_.tolist(), rows)]


def _frame_pair_rows(a_mat, b_mat, reps, nf, tail_cnt=None, tail_val=2):
    """Frame-constant PCM16-LE rows: frame f of row r is the 2-sample
    pair (a_mat[r,f], b_mat[r,f]) repeated `reps` times; rows truncate
    to nf[r] frames; optional per-row tail of `tail_val` samples (the
    odd-tail convention). Bit-identical to the per-frame _le16_hex
    HOF forms (int16-LE truncation == +65536 encoding)."""
    import numpy as np

    k, nfm = a_mat.shape
    pair = np.stack([a_mat, b_mat], axis=2)
    flat = (
        np.tile(pair, (1, 1, reps)).reshape(k, nfm * 2 * reps).astype("<i2")
    )
    spf = 2 * reps  # samples per frame
    tail = int(tail_val).to_bytes(2, "little")
    out = []
    for r in range(k):
        b = flat[r, : nf[r] * spf].tobytes()
        if tail_cnt is not None and tail_cnt[r]:
            b += tail * int(tail_cnt[r])
        out.append(b)
    return out


def _dhash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synthesis for the image-dhash queries: one REAL 9x8 P6
    PPM per document with R=G=B (luma weights sum to 1000 so the gray
    value survives the luma step exactly). Pixels are a QUADRATIC
    closed form p(k) = (x*x*7 + x*13) % 251 with x = pair*73 + k + 1 —
    quadratic, not linear, because a linear gradient makes every
    image's neighbor-comparison bits nearly identical (the first cut
    produced ~22 accidental 'near-dups' per doc and a quadratic
    band-bucket blowup at larger SFs; x^2 scatter makes distinct
    pairs ~32 bits apart, the realistic operating point). x <= ~365k
    at sf0.1 so x*x*7 < 2^63 — exact in BIGINT on both engines. Odd
    doc_ids perturb 3 pixels (k in 0/29/58) of their even sibling's
    image — the flipped comparison bits land in bands 0/1/3 only, so
    band 2 always matches and planted-pair recall is exactly 1. The
    ENGINE decodes the actual bytes (header walk + frombuffer +
    area-mean resize identity at 9x8); the ORACLE never sees a byte —
    it recomputes the hash from the pixel formula, so the whole
    decode+hash kernel sits between them (the q_audio_fingerprint
    discipline)."""
    # repartition BEFORE synthesis: mapInPandas parallelism = input
    # partitions, and the small documents scan is 1-2 (NOTES.md #22)
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select("doc_id")
    # vectorized synthesis twin (guide §4.2; byte-identical to the
    # former per-pixel HOF form): gray value repeated into R=G=B,
    # "P6\n9 8\n255\n" header
    def _ppm_payload(dv, i, nv):
        import numpy as np

        pair_ = dv - (dv % 2)
        # x reduced mod 251 BEFORE squaring (same p, since the
        # polynomial is taken mod 251): x*x*7 + x*13 + 97 < 2^19
        # cannot wrap int64; only pair_*73 does, at doc_id >= 2^63/73
        # (~1.26e17)
        x = (pair_[:, None] * 73 + i[None, :] + 1) % 251
        pert = np.where(
            (dv[:, None] % 2 == 1) & (i[None, :] % 29 == 0), 97, 0
        )
        p = ((x * x * 7 + x * 13 + pert) % 251).astype(np.uint8)
        rgb = np.repeat(p, 3, axis=1)
        hdr = b"P6\n9 8\n255\n"
        return [hdr + rgb[r].tobytes() for r in range(len(dv))]

    synth = _synth_payload_np(_ppm_payload)(F.col("doc_id"), F.lit(72))
    return docs.select(
        "doc_id",
        # width 12 (not 6): lpad TRUNCATES longer strings, so a 6-wide
        # pad would collide media_ids at doc_id >= 10^6
        F.lpad(F.col("doc_id").cast("string"), 12, "0").alias("media_id"),
        synth.alias("bytes"),
        F.lit("image/x-portable-pixmap").alias("mime"),
    )
