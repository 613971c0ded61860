"""Full DS2-style curation pipeline over the clips table.

Composes (SURVEY.md §4.3 physical sketch):

  rules (plans.pipeline) -> candidates
  embed transcripts       [pandas UDF -> array<float>]
  pool = bounded sample of candidate embeddings (broadcast)
  HOC: consensus counts (Spark) + 6x6 Adam solve (driver)  -> T
  votes: E epochs fan-out -> relational majority -> curated scores
  lt_score: blocked kNN vs pool -> rarity
  dual-sort bucket selection within budget
  decisions table (clip_id, keep, reason, final_score, lt_score)

Calibration runs per rater (the reference fans 3 rating models across
GPUs, score_curation/diagnose.sh:10-26); the configured `rater`
drives selection.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..functions.text import embed_udf
from ..operators.hoc import HocResult, estimate_t, t_given_noisy
from ..operators.longtail import lt_scores
from ..operators.selection import select_subset
from ..operators.votes import aggregate_votes, curate_scores, vote_epochs
from .pipeline import rule_decisions, transcript_features


class InputSchemaError(ValueError):
    """A clips/scores column that curation_pipeline reads is missing or
    has the wrong type."""


_KINDS = {
    "string": (T.StringType,),
    "binary": (T.BinaryType,),
    # any width: the fixtures carry int32 durations and int8 scores
    "integral": (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
}
_INPUT_COLUMNS = {
    "clips": {"clip_id": "string", "transcript": "string", "codec": "string",
              "bytes": "binary", "sr_hz": "integral", "dur_ms": "integral"},
    "scores": {"clip_id": "string", "rater": "string", "raw_score": "integral"},
}


def check_input(table: str, df: DataFrame) -> None:
    """Raise InputSchemaError on the first column of `table` that `df`
    lacks or holds under another type; extra columns pass. Reads only
    the analyzed schema, so it runs no Spark job."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    for column, kind in _INPUT_COLUMNS[table].items():
        found = fields.get(column)
        if not isinstance(found, _KINDS[kind]):
            found = "no such column" if found is None else found.simpleString()
            raise InputSchemaError(
                f"{table}.{column}: expected {kind}, found {found}"
            )


def embed_candidates(candidates: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return candidates.select(
        "clip_id",
        embed_udf(cfg.embed_dim)(F.col("transcript")).alias("embedding"),
    )


def pool_hash_prefix(seed: int):
    """48-bit integer prefix of md5('<seed>|<clip_id>') as a Column —
    the deterministic pool-membership key (NOTES #7 hex->int recipe;
    replayed byte-identically by hashlib in tests/oracle)."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit(str(seed)), F.col("clip_id"))), 1, 12
        ),
        16,
        10,
    ).cast("long")


def pool_gate_threshold(max_rows: int, n: int) -> int:
    """Integer-exact gate: keep rows whose 48-bit hash prefix falls
    below ~1.15*max_rows/n of the space (23/20 = 1.15 as a rational,
    so any engine computes the identical threshold)."""
    return (max_rows * 23 * (1 << 48)) // (20 * n)


def collect_pool(
    emb_df: DataFrame, max_rows: int, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Bounded DETERMINISTIC sample of embeddings pulled to the driver
    for broadcast. This is the ONLY place the pipeline collects data,
    and it is capped (the reference's ≤50k sampling contract,
    hoc.py:248-258), so the plan stays valid at 10^12 rows.

    Membership is a pure function of (clip_id, seed, n, max_rows) —
    an md5-prefix gate keeps ~1.15*max_rows rows (a narrow FILTER, no
    shuffle, scale-safe where a global takeOrdered over 10^12 rows is
    not), then the driver cuts to the max_rows smallest md5 keys.
    Partition layout, task order, and run count cannot influence the
    pool (the sample().limit() this replaces took whichever partitions
    answered first — the same run-dependence ADVICE r4 flagged in
    similarity._train_vectors), and tests/oracle replays the exact
    membership with hashlib. In the (~impossible at scale: >6 sigma
    for max_rows >= 1000) event the binomial gate passes fewer than
    max_rows rows, both engine and oracle just use all gated rows."""
    n = emb_df.count()
    if n > max_rows:
        emb_df = emb_df.filter(
            pool_hash_prefix(seed) < pool_gate_threshold(max_rows, n)
        )
    pdf = emb_df.select("clip_id", "embedding").toPandas()
    if n > max_rows:
        import hashlib

        keys = pdf["clip_id"].map(
            lambda c: hashlib.md5(f"{seed}|{c}".encode()).hexdigest()
        )
        pdf = pdf.loc[keys.sort_values().index[:max_rows]]
    # canonical order: partition layout must not influence downstream RNG
    pdf = pdf.sort_values("clip_id").reset_index(drop=True)
    ids = pdf["clip_id"].to_numpy()
    emb = np.array(pdf["embedding"].tolist(), dtype=np.float32)
    return emb, ids


def calibrate_rater(
    spark: SparkSession,
    pool_emb: np.ndarray,
    pool_ids: np.ndarray,
    scores: DataFrame,
    rater: str,
    cfg: PipelineConfig,
) -> tuple[HocResult, DataFrame]:
    """HOC + votes + curation for one rater. Returns (hoc_result,
    curated DataFrame with final_score)."""
    r_scores = scores.filter(F.col("rater") == rater).select("clip_id", "raw_score")
    # Driver materializes ONLY pool-sized score rows (semi-join against
    # the broadcast ≤knn_pool_max id list) — collect_pool's bounded-
    # collect invariant holds for scores too; never toPandas the full
    # score table (unbounded at the 10^12-row design point).
    spark_ids = spark.createDataFrame(
        [(str(i),) for i in pool_ids.tolist()], "clip_id string"
    )
    pool_scores = r_scores.join(F.broadcast(spark_ids), "clip_id", "left_semi")
    sp = pool_scores.toPandas().set_index("clip_id")["raw_score"]
    mask = np.isin(pool_ids, sp.index.to_numpy())
    ids = pool_ids[mask]
    emb = pool_emb[mask]
    labels = sp.loc[ids].to_numpy()

    hoc_res = estimate_t(spark, emb, labels, cfg.hoc)
    noise_rates = 1.0 - np.diag(t_given_noisy(hoc_res))
    votes = vote_epochs(spark, emb, labels, ids, noise_rates, cfg.vote)
    agg = aggregate_votes(votes, r_scores)
    # persist: curated is pool-bounded (≤knn_pool_max rows) but sits on
    # top of the full vote-epochs fan-out — without a cut point every
    # downstream action (candidate count, selection histogram, final
    # write) re-runs ALL the epoch kNN kernels. Measured: 57s -> ~3s
    # for the selection stage at 50k clips.
    curated = curate_scores(agg, cfg.selection.confidence_min).persist()
    return hoc_res, curated


_RULE_COLS = (
    "clip_id", "transcript", "transcript_scrubbed", "lang",
    "lang_margin", "ppl", "n_chars", "reason", "keep_rules",
)


def make_rules_stage(cfg: PipelineConfig):
    """The per-row rules+features stage as a pure lazy transform
    (run_stage-compatible), shared by the one-shot pipeline, the
    incremental delta path and the streaming rules query so they can
    never drift.

    Audio sanity is JVM-only metadata computed IN PLACE on the same
    frame (audio_sanity_exprs): rules is ONE scan -> project ->
    (pandas UDFs) with no exchange, and the same plan runs under
    Structured Streaming, where a separate audio frame would make
    rule_decisions a stream-stream join."""
    from ..operators.audio import audio_sanity_exprs

    def _rules_stage(c: DataFrame) -> DataFrame:
        aud = audio_sanity_exprs(
            cfg.quality.dur_tolerance, cfg.quality.pcm16_alias_codecs
        )
        enriched = c.withColumn("pcm_ok", aud["pcm_ok"]).withColumn(
            "dur_ok", aud["dur_ok"]
        )
        feats = transcript_features(enriched, cfg, keep_cols=("pcm_ok", "dur_ok"))
        return rule_decisions(feats, audio=None, cfg=cfg).select(*_RULE_COLS)

    return _rules_stage


def score_candidates(
    candidates: DataFrame,
    curated: DataFrame,
    rater_scores: DataFrame,
    lt: DataFrame,
) -> DataFrame:
    """Per-clip scored rows (clip_id, final_score, lt_score): curated
    (pool-model) score where the calibration covered the clip, raw
    rater score otherwise, long-tail score left-joined. Pure per-row
    given (curated, rater_scores, lt) — the frozen-model apply path
    (plans/incremental) relies on that purity for exact parity."""
    return (
        candidates.select("clip_id")
        .join(curated.select("clip_id", "final_score"), "clip_id", "left")
        .join(rater_scores, "clip_id", "left")
        .withColumn(
            "final_score",
            F.coalesce("final_score", "raw_score", F.lit(0)).cast("int"),
        )
        .join(lt, "clip_id", "left")
        .na.fill({"lt_score": 0.0})
    )


def attach_selection(reasons: DataFrame, selected: DataFrame) -> DataFrame:
    """Final decisions table from rule reasons + selection output."""
    return (
        reasons.select("clip_id", "reason")
        .join(
            selected.select("clip_id", "selected", "final_score", "lt_score"),
            "clip_id",
            "left",
        )
        .withColumn(
            "reason",
            F.when(F.col("reason") != "candidate", F.col("reason"))
            .when(F.col("selected"), F.lit("selected"))
            .otherwise(F.lit("low_score")),
        )
        .withColumn("keep", F.col("reason") == "selected")
        .select("clip_id", "keep", "reason", "final_score", "lt_score")
    )


def curation_pipeline(
    spark: SparkSession,
    clips: DataFrame,
    scores: DataFrame,
    cfg: PipelineConfig | None = None,
    rater: str = "rater_a",
    checkpoint_root: str | None = None,
    run_id: str = "run0",
    n_waves: int = 8,
    waves_per_commit: int | None = None,
    on_group_start=None,
) -> dict:
    """Returns dict with `decisions` DataFrame + per-stage artifacts.

    decisions: clip_id, keep, reason, final_score, lt_score where
    reason ∈ {selected, low_score, <rule reasons>}.

    With checkpoint_root set, the heavy per-row stages (rules+features,
    embedding) run through the _lineage wave-checkpoint protocol
    (sources/lineage.py) and resume exactly after failure.
    `waves_per_commit` is passed through to run_stage: the default
    (None) gives one input scan per stage with stage-level resume;
    1 gives the finest failure granularity (a crash loses at most one
    wave) at the cost of one scan per wave.

    Raises InputSchemaError, before any Spark job, when `clips` or
    `scores` lacks a column it reads or holds it under another type.
    """
    check_input("clips", clips)
    check_input("scores", scores)
    cfg = cfg or PipelineConfig()

    _rules_stage = make_rules_stage(cfg)

    if checkpoint_root:
        from ..sources.lineage import run_stage

        # on_group_start (if given) is called as (stage_name, waves)
        # before each commit group — supervisor observability, used by
        # tools/failure_drill.py to measure attempted (not just
        # committed) waves across crash/resume cycles
        def _hook(stage_name):
            if on_group_start is None:
                return None
            return lambda grp: on_group_start(stage_name, grp)

        rules = run_stage(
            spark, clips, _rules_stage, checkpoint_root, run_id, "rules",
            n_waves=n_waves, waves_per_commit=waves_per_commit,
            on_group_start=_hook("rules"),
        )
        candidates = rules.filter(F.col("keep_rules"))
        emb_df = run_stage(
            spark,
            candidates.select("clip_id", "transcript"),
            lambda d: embed_candidates(d, cfg),
            checkpoint_root,
            run_id,
            "embed",
            n_waves=n_waves,
            waves_per_commit=waves_per_commit,
            on_group_start=_hook("embed"),
        )
    else:
        # non-checkpointed path: persist the expensive UDF stages — the
        # plan is consumed by several downstream actions (pool collect,
        # lt, selection, decisions) and must not re-run langid/ppl/
        # embed/audio per action. (The checkpointed path gets this for
        # free: run_stage materializes each stage to parquet.)
        rules = _rules_stage(clips).persist()
        candidates = rules.filter(F.col("keep_rules"))
        emb_df = embed_candidates(candidates, cfg).persist()
    pool_emb, pool_ids = collect_pool(emb_df, cfg.knn_pool_max, cfg.seed)

    hoc_res, curated = calibrate_rater(spark, pool_emb, pool_ids, scores, rater, cfg)

    lt = lt_scores(emb_df, pool_emb, pool_ids, k=cfg.vote.k)

    scored = score_candidates(
        candidates,
        curated,
        scores.filter(F.col("rater") == rater).select("clip_id", "raw_score"),
        lt,
    ).persist()
    n_candidates = scored.count()
    budget = max(int(round(cfg.selection.budget_frac * n_candidates)), 1)
    selected = select_subset(scored, budget)

    decisions = attach_selection(rules, selected)
    persisted = [scored, curated]
    if not checkpoint_root:
        persisted += [rules, emb_df]
    return {
        "decisions": decisions,
        "rules": rules,
        "curated": curated,
        "hoc": hoc_res,
        "budget": budget,
        "pool_size": len(pool_ids),
        # every persist() this call created — callers that run the
        # pipeline repeatedly in one JVM (bench warm-repeats) MUST
        # unpersist these between runs or the 12g heap accumulates a
        # full pipeline's worth of cached blocks per repeat (measured:
        # 2-6x slowdown of later scans from GC pressure)
        "_persisted": persisted,
    }
