"""SimiFeat-style noisy-score detection votes (operator K4).

Re-expression of the reference's per-epoch vote loop
(score_curation/docta/apis/detect.py:32-86, docta/core/knn.py:59-108):

  for each of E epochs (pinned per-epoch seed — the reference is
  unseeded here, knn.py:70):
    sample ≤ m rows from the pool;
    k-NN inside the sample (cosine), distance-weighted neighbor label
    distribution (duplicate-trick: own label at distance 0);
    nll of the own label; per-class threshold = percentile of nll at
    the class's noise rate (from diag of T_given_noisy, clipped to
    [0.05, 0.95] — knn.py:90-96);
    flag rows above threshold; suggested label = argmax of the
    distribution with the own class masked (detect.py:82).

Spark shape: epochs fan out one task per epoch over a broadcast pool
(mapInPandas) emitting a long votes table
(epoch, clip_id, flagged, suggested); the cross-epoch majority
aggregation (A5/A6: Laplace-smoothed vote average + suggestion
matrix) is one relational groupBy — no Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import NUM_CLASSES, VoteConfig
from .knn_kernels import cosine_knn, l2_normalize_rows, weighted_label_distribution


def epoch_seed(base_seed: int, epoch: int) -> int:
    """rng = default_rng(SEED ^ epoch) — FIXTURES.md contract."""
    return (base_seed ^ epoch) & 0x7FFFFFFF


def epoch_votes_numpy(
    emb: np.ndarray,
    labels: np.ndarray,
    clip_ids: np.ndarray,
    noise_rates: np.ndarray,
    epoch: int,
    cfg: VoteConfig,
) -> pd.DataFrame:
    """One epoch's votes — plain NumPy, shared contract with the test
    oracle ONLY through knn_kernels + np.percentile."""
    rng = np.random.default_rng(epoch_seed(cfg.seed, epoch))
    n = emb.shape[0]
    m = min(cfg.sample_size, n)
    idx = np.sort(rng.choice(n, size=m, replace=False))
    sub = emb[idx]
    sub_labels = labels[idx]
    dists, nn = cosine_knn(sub, sub, k=cfg.k, exclude_self_offset=0)
    probs = weighted_label_distribution(nn, dists, sub_labels, sub_labels, NUM_CLASSES)
    rows = np.arange(m)
    nll = -np.log(probs[rows, sub_labels] + 1e-8)

    flagged = np.zeros(m, dtype=bool)
    for c in range(NUM_CLASSES):
        mask = sub_labels == c
        if not mask.any():
            continue
        noise = float(np.clip(noise_rates[c], 0.05, 0.95))
        thre = np.percentile(nll[mask], 100.0 * (1.0 - noise))
        flagged[mask] = nll[mask] >= thre
    masked = probs.copy()
    masked[rows, sub_labels] = -1.0
    suggested = masked.argmax(axis=1)
    return pd.DataFrame(
        {
            "epoch": np.full(m, epoch, dtype=np.int32),
            "clip_id": clip_ids[idx],
            "flagged": flagged.astype(np.int32),
            "suggested": suggested.astype(np.int32),
        }
    )


def vote_epochs(
    spark: SparkSession,
    emb: np.ndarray,
    labels: np.ndarray,
    clip_ids: np.ndarray,
    noise_rates: np.ndarray,
    cfg: VoteConfig | None = None,
) -> DataFrame:
    """Fan the epochs out as Spark tasks over a broadcast pool.
    Returns the long votes table (epoch, clip_id, flagged, suggested)."""
    cfg = cfg or VoteConfig()
    emb = l2_normalize_rows(np.asarray(emb, dtype=np.float32))
    labels = np.asarray(labels, dtype=np.int64)
    clip_ids = np.asarray(clip_ids)
    b = spark.sparkContext.broadcast((emb, labels, clip_ids, np.asarray(noise_rates)))

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        e_, l_, c_, nr_ = b.value
        for pdf in batches:
            for ep in pdf["id"].tolist():
                yield epoch_votes_numpy(e_, l_, c_, nr_, int(ep), cfg)

    n_parts = _fanout_partitions(spark, cfg.epochs)
    return spark.range(0, cfg.epochs, 1, numPartitions=n_parts).mapInPandas(
        _op, schema="epoch int, clip_id string, flagged int, suggested int"
    )


def _fanout_partitions(spark: SparkSession, n_units: int) -> int:
    """Task count for an epoch/round fan-out: ONE task per slot, so
    the broadcast pool is deserialized O(slots) times instead of
    O(units) and the straggler overhead is a single wave's ceil (e.g.
    51 epochs on 8 slots: sizes 6-7, wall 7/6.375 = 1.10 — measured
    better than the former 2-tasks-per-slot packing whose two
    scheduling waves gave up ~25% at the high parallelism level;
    NOTES.md #30). Vote/round results are invariant to the
    partitioning (each unit is seeded by its own id)."""
    slots = spark.sparkContext.defaultParallelism
    return max(1, min(n_units, slots))


def aggregate_votes(votes: DataFrame, scores: DataFrame) -> DataFrame:
    """Cross-epoch majority (reference detect.py:61-86) as pure
    relational ops:

      noisy_avg  = (Σ flagged + 1) / (times + 2)          (Laplace)
      suggest_c  = (count of suggestions == c + 1) / (Σ + K)
      suggested  = argmax_c suggest_c  (own score masked)
      confidence = suggest_{suggested}

    `scores` must carry (clip_id, raw_score). Output one row per
    voted clip: (clip_id, times, noisy_avg, suggested_score,
    confidence)."""
    k = NUM_CLASSES
    # ONE aggregation over the votes: every consumer of `votes` re-runs
    # the whole epoch fan-out. A NULL or out-of-range suggestion counts
    # in `times` but for no class.
    df = votes.groupBy("clip_id").agg(
        F.count(F.lit(1)).alias("times"),
        F.sum("flagged").alias("n_flagged"),
        *[
            F.count(F.when(F.col("suggested") == c, 1)).alias(str(c))
            for c in range(k)
        ],
    ).join(scores, "clip_id")
    total = sum(F.col(str(c)) for c in range(k))
    smoothed = F.array(
        *[(F.col(str(c)) + 1.0) / (total + float(k)) for c in range(k)]
    )
    df = df.withColumn("suggest_probs", smoothed)
    # mask own score, argmax with deterministic low-index tie-break
    masked = F.expr(
        f"transform(suggest_probs, (p, i) -> if(i = raw_score, -1.0D, p))"
    )
    df = df.withColumn("_masked", masked)
    df = df.withColumn(
        "suggested_score",
        F.expr("array_position(_masked, array_max(_masked)) - 1").cast("int"),
    )
    df = df.withColumn(
        "confidence",
        F.expr("element_at(suggest_probs, suggested_score + 1)"),
    )
    df = df.withColumn(
        "noisy_avg", (F.col("n_flagged") + 1.0) / (F.col("times") + 2.0)
    )
    return df.select(
        "clip_id", "raw_score", "times", "n_flagged",
        "noisy_avg", "suggested_score", "confidence",
    )


def curate_scores(
    agg: DataFrame,
    confidence_min: float = 0.5,
    noisy_min: float = 0.5,
) -> DataFrame:
    """K6 curation override: clips voted noisy (noisy_avg > noisy_min)
    whose suggestion is confident (confidence >= confidence_min) get
    final_score = suggested; everything else keeps raw_score
    (reference subset_generation.py:17-41)."""
    corrupted = (F.col("noisy_avg") > noisy_min)
    curated = corrupted & (F.col("confidence") >= confidence_min)
    return agg.withColumn("is_corrupted", corrupted).withColumn(
        "is_curated", curated
    ).withColumn(
        "final_score",
        F.when(curated, F.col("suggested_score")).otherwise(F.col("raw_score")),
    )
