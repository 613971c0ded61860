"""Incremental (delta-batch) curation: absorb new/re-crawled clips
without reprocessing the corpus.

At the 10^12-clip design point the one-shot pipeline (plans/curation)
is a bootstrap, not a steady state: daily ingest is ~10^9 clips
(0.1%), and recomputing langid/ppl/embeddings for the other 99.9% per
batch would burn 1000x the needed compute. This module splits the
pipeline into the pieces whose recombination is EXACT:

  - per-row stages (rules+features, embedding, long-tail score,
    frozen-model curated score) are pure functions of the row plus a
    FROZEN calibration artifact (pool embeddings + HOC transition
    matrix + curated score table, all bounded by cfg.knn_pool_max) —
    so running them on a delta batch alone gives byte-identical rows
    to running them inside a full-corpus pass under the same frozen
    model (tests/test_incremental.py pins this equality);
  - the global pieces (budget, diversity selection) are functions of
    the small per-clip scalar table only, so they re-run per batch
    over the merged snapshot at trivial cost (selection is the
    histogram-decomposed operator — no giant sorts).

What is NOT exact across model refreshes (and is not claimed to be):
refitting the calibration on a grown corpus changes curated scores —
that is a deliberate, versioned event. The drift monitor tells you
when to do it: each batch reports language-distribution shift (total
variation vs the frozen base) and embedding-centroid drift, and flags
`recalibrate` when either crosses its threshold.

Storage layout under `root` (all via the lineage/iceberg fallback
machinery, so an Iceberg catalog upgrades every write to
snapshot-isolated tables):

  calibration/            pool.npz + curated.parquet + meta.json
  scored_snapshot/        per-clip scalar rows, hive-partitioned by
                          _batch; LWW-merged on read (Iceberg
                          merge-on-read shape; compact_snapshot() is
                          the rewrite)
  rules_b{K}/ embed_b{K}/ per-batch checkpointed stage outputs with
                          _lineage wave rows (exact resume inside a
                          batch, idempotent redelivery of a batch)

Reference parity: the reference pipeline is one-shot
(score_curation/diagnose.sh runs the full table); incrementality is a
beyond-reference capability required by the 10^12-row design point.
Versioning semantics follow operators/merge.merge_upsert (LWW by
caller-supplied monotonic batch id).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import PipelineConfig
from ..operators.knn_kernels import l2_normalize_rows
from ..operators.longtail import lt_scores
from ..operators.selection import select_subset
from ..sources.iceberg import overwrite_partitions
from ..sources.lineage import METRICS_SCHEMA, run_stage
from .curation import (
    attach_selection,
    calibrate_rater,
    collect_pool,
    embed_candidates,
    make_rules_stage,
    score_candidates,
)

CAL_DIR = "calibration"
SNAP_DIR = "scored_snapshot"

# snapshot row shape: per-clip scalars only — bytes/transcripts never
# enter the snapshot, so the LWW merge shuffles ~50 bytes/clip.
# `version` is the LWW rank (the batch that last WROTE the row);
# `src_batch` is the batch whose checkpointed stage outputs (rules_b*/
# embed_b*) produced the row's features — a recalibration re-score
# bumps version but preserves src_batch, so a later recalibration can
# still find every clip's stage rows on disk.
_SNAP_COLS = (
    "clip_id", "reason", "lang", "final_score", "lt_score",
    "version", "src_batch",
)


@dataclass
class FrozenCalibration:
    """The bounded, driver-held part of a fitted calibration. The
    curated score table rides alongside as parquet (pool-sized, so
    broadcastable, but kept relational)."""

    pool_emb: np.ndarray      # float32 [P, D]
    pool_ids: np.ndarray      # [P] clip ids
    T: np.ndarray             # [6,6] HOC transition matrix
    p_clean: np.ndarray       # [6]
    model_version: int
    rater: str
    lang_hist: dict[str, float]     # base candidate language fractions
    base_mean_cos: float            # mean cos(pool row, pool centroid)
    centroid: np.ndarray            # unit-norm pool centroid [D]


def _cal_path(root: str) -> str:
    return os.path.join(root, CAL_DIR)


def save_calibration(frozen: FrozenCalibration, curated: DataFrame, root: str) -> None:
    path = _cal_path(root)
    os.makedirs(path, exist_ok=True)
    np.savez(
        os.path.join(path, "pool.npz"),
        emb=frozen.pool_emb,
        # collect_pool yields a pandas object array; store as fixed-
        # width unicode so the .npz never needs allow_pickle
        ids=np.asarray(frozen.pool_ids, dtype=str),
        T=frozen.T,
        p_clean=frozen.p_clean,
        centroid=frozen.centroid,
    )
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {
                "model_version": frozen.model_version,
                "rater": frozen.rater,
                "lang_hist": frozen.lang_hist,
                "base_mean_cos": frozen.base_mean_cos,
            },
            f,
        )
    curated.select("clip_id", "final_score").write.mode("overwrite").parquet(
        os.path.join(path, "curated.parquet")
    )


def load_calibration(spark: SparkSession, root: str) -> tuple[FrozenCalibration, DataFrame]:
    path = _cal_path(root)
    z = np.load(os.path.join(path, "pool.npz"))
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    frozen = FrozenCalibration(
        pool_emb=z["emb"],
        pool_ids=z["ids"],
        T=z["T"],
        p_clean=z["p_clean"],
        model_version=int(meta["model_version"]),
        rater=meta["rater"],
        lang_hist=dict(meta["lang_hist"]),
        base_mean_cos=float(meta["base_mean_cos"]),
        centroid=z["centroid"],
    )
    curated = spark.read.parquet(os.path.join(path, "curated.parquet"))
    return frozen, curated


def _lang_hist(rules: DataFrame) -> dict[str, float]:
    """Language fractions over the candidate rows — a ≤|langs|-row
    aggregate, the only collect in the drift path."""
    rows = (
        rules.filter(F.col("keep_rules"))
        .groupBy("lang")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in rows) or 1
    return {r["lang"]: r["count"] / total for r in rows}


def _centroid_cos_mean(emb_df: DataFrame, centroid: np.ndarray) -> float:
    """Mean cosine of embeddings to the (unit) centroid: one Arrow-
    batched pandas UDF feeding a scalar avg — no collect of vectors."""
    c = np.asarray(centroid, dtype=np.float32)

    @pandas_udf("double")
    def _cos(embs: pd.Series) -> pd.Series:
        m = l2_normalize_rows(np.array(embs.tolist(), dtype=np.float32))
        return pd.Series((m @ c).astype(np.float64))

    row = emb_df.select(F.avg(_cos(F.col("embedding"))).alias("m")).collect()[0]
    return float(row["m"]) if row["m"] is not None else 0.0


def fit_frozen(
    spark: SparkSession,
    rules: DataFrame,
    emb_df: DataFrame,
    scores: DataFrame,
    cfg: PipelineConfig,
    rater: str,
    model_version: int,
) -> tuple[FrozenCalibration, DataFrame]:
    """Fit calibration on the candidate embeddings (bounded pool) and
    package the frozen artifact + base drift statistics."""
    pool_emb, pool_ids = collect_pool(emb_df, cfg.knn_pool_max, cfg.seed)
    hoc_res, curated = calibrate_rater(spark, pool_emb, pool_ids, scores, rater, cfg)
    normed = l2_normalize_rows(np.asarray(pool_emb, dtype=np.float32))
    centroid = normed.mean(axis=0)
    norm = float(np.linalg.norm(centroid))
    centroid = centroid / norm if norm > 0 else centroid
    frozen = FrozenCalibration(
        pool_emb=pool_emb,
        pool_ids=pool_ids,
        T=hoc_res.T,
        p_clean=hoc_res.p_clean,
        model_version=model_version,
        rater=rater,
        lang_hist=_lang_hist(rules),
        base_mean_cos=float((normed @ centroid).mean()),
        centroid=centroid,
    )
    return frozen, curated


def _per_clip_rows(
    rules: DataFrame,
    emb_df: DataFrame,
    scores: DataFrame,
    curated: DataFrame,
    frozen: FrozenCalibration,
    cfg: PipelineConfig,
    batch_id: int,
    src: DataFrame | None = None,
) -> DataFrame:
    """Snapshot rows for one batch of clips under the frozen model —
    pure per-row given (frozen, curated): rule reason + langid for
    every clip; frozen-model final_score + long-tail score for
    candidates (NULL otherwise, exactly like the one-shot decisions).
    `src` (clip_id, src_batch) overrides the default src_batch ==
    batch_id — recalibration re-scores preserve each clip's original
    stage-output batch."""
    candidates = rules.filter(F.col("keep_rules"))
    lt = lt_scores(emb_df, frozen.pool_emb, frozen.pool_ids, k=cfg.vote.k)
    rater_scores = scores.filter(F.col("rater") == frozen.rater).select(
        "clip_id", "raw_score"
    )
    scored = score_candidates(candidates, curated, rater_scores, lt)
    rows = (
        rules.select("clip_id", "reason", "lang")
        .join(scored.select("clip_id", "final_score", "lt_score"), "clip_id", "left")
        .withColumn("version", F.lit(int(batch_id)))
    )
    if src is None:
        rows = rows.withColumn("src_batch", F.lit(int(batch_id)))
    else:
        rows = rows.join(src.select("clip_id", "src_batch"), "clip_id", "inner")
    return rows.select(*_SNAP_COLS)


def write_snapshot_batch(rows: DataFrame, root: str, batch_id: int) -> None:
    """Append one batch to the snapshot via dynamic partition
    overwrite keyed by _batch: redelivering the same batch replaces
    its own partition and nothing else (idempotent), and with Iceberg
    jars the identical call is a snapshot-isolated overwritePartitions
    (sources/iceberg.py)."""
    overwrite_partitions(
        rows.withColumn("_batch", F.lit(int(batch_id))),
        os.path.join(root, SNAP_DIR),
        "_batch",
    )


def read_snapshot(spark: SparkSession, root: str) -> DataFrame:
    """Merge-on-read of the per-clip snapshot: last-writer-wins by
    version (operators/merge semantics — the window shuffles only the
    ~50-byte scalar rows, never payloads). Exact duplicates from a
    redelivered identical batch collapse to one row regardless of
    which wins the tie."""
    df = spark.read.parquet(os.path.join(root, SNAP_DIR))
    w = Window.partitionBy("clip_id").orderBy(F.desc("version"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_batch")
    )


def compact_snapshot(spark: SparkSession, root: str) -> int:
    """Rewrite the snapshot to one partition (the parquet twin of an
    Iceberg rewrite_data_files): merge-on-read cost grows with batch
    count, so compact periodically. Returns the row count. The merged
    frame is materialized (localCheckpoint) before the static
    overwrite — writing a lazy plan back over its own input is the
    classic self-overwrite corruption."""
    merged = read_snapshot(spark, root).localCheckpoint(eager=True)
    n = merged.count()
    path = os.path.join(root, SNAP_DIR)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        (
            merged.withColumn("_batch", F.col("version"))
            .write.mode("overwrite")
            .partitionBy("_batch")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return n


def finalize_decisions(snapshot: DataFrame, cfg: PipelineConfig) -> tuple[DataFrame, int]:
    """Global selection over the merged per-clip snapshot — the only
    corpus-global step, and it touches scalar rows only. Budget is
    budget_frac of the CURRENT candidate count, so each batch's
    decisions reflect the whole corpus (a previously-selected clip can
    be displaced by better delta clips: selection is a ranking, not a
    ratchet)."""
    cand = snapshot.filter(F.col("reason") == "candidate")
    n_candidates = cand.count()
    budget = max(int(round(cfg.selection.budget_frac * n_candidates)), 1)
    selected = select_subset(
        cand.select("clip_id", "final_score", "lt_score"), budget
    )
    return attach_selection(snapshot, selected), budget


@dataclass
class DriftThresholds:
    lang_tv_max: float = 0.15        # total variation of lang fractions
    centroid_cos_drop_max: float = 0.10


def drift_report(
    rules: DataFrame,
    emb_df: DataFrame,
    frozen: FrozenCalibration,
    thresholds: DriftThresholds | None = None,
) -> dict[str, float]:
    """Per-batch drift vs the frozen base: language-mix total
    variation and embedding-centroid cosine drop. All aggregates are
    bounded (≤|langs| rows + one scalar)."""
    th = thresholds or DriftThresholds()
    hist = _lang_hist(rules)
    keys = set(hist) | set(frozen.lang_hist)
    lang_tv = 0.5 * sum(
        abs(hist.get(k, 0.0) - frozen.lang_hist.get(k, 0.0)) for k in keys
    )
    mean_cos = _centroid_cos_mean(emb_df, frozen.centroid)
    cos_drop = frozen.base_mean_cos - mean_cos
    recal = lang_tv > th.lang_tv_max or cos_drop > th.centroid_cos_drop_max
    return {
        "lang_tv": lang_tv,
        "centroid_cos_mean": mean_cos,
        "centroid_cos_drop": cos_drop,
        "recalibrate": float(recal),
    }


def _write_drift_metrics(
    spark: SparkSession, root: str, batch_id: int, metrics: dict[str, float]
) -> None:
    rows = [
        (f"b{batch_id}", "drift", int(batch_id), k, float(v))
        for k, v in metrics.items()
    ]
    spark.createDataFrame(rows, METRICS_SCHEMA).write.mode("append").parquet(
        os.path.join(root, "_metrics")
    )


def _batch_stages(
    spark: SparkSession,
    clips: DataFrame,
    cfg: PipelineConfig,
    root: str,
    batch_id: int,
    n_waves: int,
    waves_per_commit: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(rules, emb) for one batch through the lineage wave-checkpoint
    protocol, under run id b{K} and stages rules_b{K}/embed_b{K}.
    Per-batch stage names keep batches' partition overwrites and
    lineage rows disjoint."""
    run_id = f"b{batch_id}"
    rules = run_stage(
        spark, clips, make_rules_stage(cfg), root, run_id, f"rules_{run_id}",
        n_waves=n_waves, waves_per_commit=waves_per_commit,
    )
    emb = run_stage(
        spark,
        rules.filter(F.col("keep_rules")).select("clip_id", "transcript"),
        lambda d: embed_candidates(d, cfg),
        root,
        run_id,
        f"embed_{run_id}",
        n_waves=n_waves,
        waves_per_commit=waves_per_commit,
    )
    return rules, emb


def bootstrap_curation(
    spark: SparkSession,
    clips: DataFrame,
    scores: DataFrame,
    root: str,
    cfg: PipelineConfig | None = None,
    rater: str = "rater_a",
    n_waves: int = 8,
    waves_per_commit: int | None = None,
) -> dict:
    """Batch 0: run the per-row stages, FIT the calibration, freeze
    it to disk, write snapshot batch 0, and select. Subsequent
    batches go through incremental_update."""
    cfg = cfg or PipelineConfig()
    rules, emb = _batch_stages(spark, clips, cfg, root, 0, n_waves, waves_per_commit)
    frozen, live_curated = fit_frozen(
        spark, rules, emb, scores, cfg, rater, model_version=0
    )
    save_calibration(frozen, live_curated, root)
    live_curated.unpersist()  # calibrate_rater persists it
    # re-read so downstream consumes the persisted artifact (what a
    # later batch will see), not the live pipeline DataFrame
    frozen, curated = load_calibration(spark, root)
    rows = _per_clip_rows(rules, emb, scores, curated, frozen, cfg, batch_id=0)
    write_snapshot_batch(rows, root, 0)
    snapshot = read_snapshot(spark, root)
    decisions, budget = finalize_decisions(snapshot, cfg)
    return {
        "decisions": decisions,
        "snapshot": snapshot,
        "frozen": frozen,
        "budget": budget,
    }


def incremental_update(
    spark: SparkSession,
    delta_clips: DataFrame,
    scores: DataFrame,
    root: str,
    batch_id: int,
    cfg: PipelineConfig | None = None,
    n_waves: int = 8,
    waves_per_commit: int | None = None,
    thresholds: DriftThresholds | None = None,
) -> dict:
    """Process one delta batch under the frozen calibration: per-row
    stages on the DELTA ONLY (checkpointed, resumable), LWW-merge into
    the snapshot, re-select globally, report drift.

    batch_id must be a fresh monotonic integer > all previous batches
    (it is the LWW version: a re-crawled clip's new row wins because
    its batch is newer). Redelivering the SAME batch is idempotent at
    every layer: completed lineage waves are skipped, the snapshot
    partition is overwritten with identical rows, and decisions are a
    pure function of the snapshot."""
    if batch_id <= 0:
        raise ValueError("batch_id 0 is the bootstrap; deltas start at 1")
    cfg = cfg or PipelineConfig()
    frozen, curated = load_calibration(spark, root)
    rules, emb = _batch_stages(
        spark, delta_clips, cfg, root, batch_id, n_waves, waves_per_commit
    )
    rows = _per_clip_rows(rules, emb, scores, curated, frozen, cfg, batch_id)
    write_snapshot_batch(rows, root, batch_id)
    drift = drift_report(rules, emb, frozen, thresholds)
    _write_drift_metrics(spark, root, batch_id, drift)
    snapshot = read_snapshot(spark, root)
    decisions, budget = finalize_decisions(snapshot, cfg)
    return {
        "decisions": decisions,
        "snapshot": snapshot,
        "drift": drift,
        "budget": budget,
        "model_version": frozen.model_version,
    }


def _winning_stage_rows(
    spark: SparkSession, root: str, prefix: str, snapshot: DataFrame
) -> DataFrame:
    """Union the per-batch checkpointed stage outputs (rules_b*/
    embed_b*) and keep, per clip, the row from the batch that won the
    snapshot's LWW merge — i.e. the stage output that produced the
    clip's current scalar row. This is what makes recalibration cheap:
    the expensive per-row stage outputs are already on disk, keyed by
    batch, so a model refit never re-runs langid/ppl/embedding."""
    parts = []
    for name in sorted(os.listdir(root)):
        if not name.startswith(prefix):
            continue
        try:
            batch = int(name[len(prefix):])
        except ValueError:
            continue
        try:
            df = spark.read.parquet(os.path.join(root, name))
        except Exception:
            # a batch whose stage output was entirely empty wrote no
            # files (see run_stage's empty-output note) — contributes
            # no rows by definition
            continue
        parts.append(df.drop("_wave").withColumn("_b", F.lit(batch)))
    if not parts:
        raise ValueError(f"no {prefix}* stage outputs under {root}")
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    keys = snapshot.select(
        "clip_id", F.col("src_batch").alias("_b")
    )
    return union.join(keys, ["clip_id", "_b"], "inner").drop("_b")


def recalibrate(
    spark: SparkSession,
    scores: DataFrame,
    root: str,
    batch_id: int,
    cfg: PipelineConfig | None = None,
) -> dict:
    """Refit the calibration on the CURRENT corpus and re-score the
    snapshot — the action the drift monitor's `recalibrate` flag asks
    for. Cost shape: the per-row UDF stages (langid/ppl/embedding —
    the dominant compute) are NOT re-run; their checkpointed outputs
    are joined back per clip (winning batch only), so a refit costs
    one bounded pool fit + the long-tail/selection re-score over
    scalar and embedding columns already on disk.

    The new model is saved with model_version+1 and the re-scored
    rows land as snapshot batch `batch_id` (must be a fresh monotonic
    id), winning the LWW merge over every older row. Exactness
    contract (tests/test_incremental.py): recalibrating a corpus that
    arrived as bootstrap+deltas produces decisions identical to a
    fresh bootstrap over the union — same pool, same solver, same
    selection."""
    cfg = cfg or PipelineConfig()
    old_frozen, _old_curated = load_calibration(spark, root)
    snapshot = read_snapshot(spark, root)
    rules = _winning_stage_rows(spark, root, "rules_b", snapshot)
    emb = _winning_stage_rows(spark, root, "embed_b", snapshot)
    frozen, live_curated = fit_frozen(
        spark, rules, emb, scores, cfg, old_frozen.rater,
        model_version=old_frozen.model_version + 1,
    )
    save_calibration(frozen, live_curated, root)
    live_curated.unpersist()
    frozen, curated = load_calibration(spark, root)
    rows = _per_clip_rows(
        rules, emb, scores, curated, frozen, cfg, batch_id,
        src=snapshot.select("clip_id", "src_batch"),
    )
    write_snapshot_batch(rows, root, batch_id)
    new_snapshot = read_snapshot(spark, root)
    decisions, budget = finalize_decisions(new_snapshot, cfg)
    return {
        "decisions": decisions,
        "snapshot": new_snapshot,
        "budget": budget,
        "model_version": frozen.model_version,
    }


def apply_frozen(
    spark: SparkSession,
    clips: DataFrame,
    scores: DataFrame,
    root: str,
    cfg: PipelineConfig | None = None,
    batch_id: int = 0,
) -> DataFrame:
    """One-pass, non-checkpointed twin of the per-row path: score ANY
    set of clips under the frozen calibration at `root`. Used by the
    parity tests (incremental == one-pass under the same model) and as
    the model-serving entry point (score a candidate batch without
    touching the snapshot)."""
    cfg = cfg or PipelineConfig()
    frozen, curated = load_calibration(spark, root)
    rules = make_rules_stage(cfg)(clips)
    emb = embed_candidates(rules.filter(F.col("keep_rules")), cfg)
    return _per_clip_rows(rules, emb, scores, curated, frozen, cfg, batch_id)
