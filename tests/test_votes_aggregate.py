"""Cross-epoch vote aggregation: exact parity with the oracle on a
hand-built votes table, and one pass over the epoch fan-out."""

import re

from ds2_spark.operators.votes import aggregate_votes
from ds2_spark.plans.curation import curation_pipeline

from .oracle import ds2_oracle

# (epoch, clip_id, flagged, suggested)
VOTES = [
    # two classes only, own class among them
    (0, "a", 1, 1), (1, "a", 0, 1), (2, "a", 1, 3),
    # one vote, for the own class: the argmax falls to the tie-break
    (0, "b", 0, 0),
    # a NULL suggestion counts in `times` but for no class
    (0, "c", 1, None), (1, "c", 1, 2), (2, "c", 0, 2),
    # out-of-range suggestions likewise
    (0, "d", 0, 7), (1, "d", 1, -1), (2, "d", 1, 4), (3, "d", 0, 4),
    # every class
    (0, "e", 0, 0), (1, "e", 1, 1), (2, "e", 0, 2), (3, "e", 1, 3),
    (4, "e", 0, 4), (5, "e", 1, 5), (6, "e", 0, 5),
    # only invalid suggestions
    (0, "f", 1, None), (1, "f", 0, 9),
]
RAW = {"a": 1, "b": 0, "c": 5, "d": 4, "e": 2, "f": 3, "unvoted": 1}


def test_aggregate_votes_matches_oracle(spark):
    votes = spark.createDataFrame(
        VOTES, "epoch int, clip_id string, flagged int, suggested int"
    )
    scores = spark.createDataFrame(
        sorted(RAW.items()), "clip_id string, raw_score int"
    )
    engine = {
        r["clip_id"]: (
            r["times"], r["n_flagged"], r["noisy_avg"],
            r["suggested_score"], r["confidence"],
        )
        for r in aggregate_votes(votes, scores).collect()
    }
    assert engine == ds2_oracle.aggregate_votes_oracle(VOTES, RAW)


def _plan_section(plan: str) -> str:
    """The final plan of an adaptive plan string (AQE prints the final
    and the initial plan once a query has run)."""
    m = re.search(r"== Final Plan ==(.*?)(== Initial Plan ==|$)", plan, re.S)
    return m.group(1) if m else plan


def test_curated_runs_the_vote_fanout_once(spark, clips_df, fixture_paths, tiny_cfg):
    scores = spark.read.parquet(fixture_paths["scores"])
    result = curation_pipeline(spark, clips_df, scores, tiny_cfg, rater="rater_a")
    try:
        curated = result["curated"]
        assert curated.count() > 0
        plan = _plan_section(
            curated._jdf.queryExecution().executedPlan().toString()
        )
        fanouts = re.findall(r"MapInPandas", plan)
        assert len(fanouts) == 1, plan
        # the fan-out reads the epoch range, nothing else
        epochs = rf"MapInPandas[^\n]*\n[^\n]*Range \(0, {tiny_cfg.vote.epochs},"
        assert re.search(epochs, plan), plan
        shuffles = re.findall(r"Exchange hashpartitioning", plan)
        assert len(shuffles) == 1, plan
    finally:
        for df in result["_persisted"]:
            df.unpersist()
