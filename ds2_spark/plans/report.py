"""Report tables — the reference's per-rater diagnosis
(score_curation/docta/core/report.py:1-28, diagnose.sh:10-26 runs one
diagnosis per rating model) re-expressed as small DataFrames."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rater_agreement_report(scores: DataFrame) -> DataFrame:
    """Pairwise Cohen's kappa between every rating model, on the
    pipeline's compressed 0..5 label space — the pre-calibration
    diagnostic that tells an operator WHICH rater's transition matrix
    to distrust before spending the HOC+votes pass (a rater whose
    kappa is low against every peer is the noisy one; the reference
    diagnoses each model separately, diagnose.sh:10-26, but never
    cross-compares them). One item-keyed join over the scores table,
    then R²L²-bounded aggregates (operators/agreement.py).

    `raw_score` here is already the 0..5 class label (the scores
    table's contract — compress_score applies upstream where ratings
    arrive on the reference's 1..10 JSON scale, readers.py)."""
    from ..operators.agreement import pairwise_rater_agreement

    labeled = scores.select(
        "clip_id", "rater", F.col("raw_score").cast("int").alias("label")
    )
    return pairwise_rater_agreement(labeled).orderBy("rater_a", "rater_b")
