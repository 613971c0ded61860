"""The HOC round and vote epoch fan-outs plan one task per slot:
min(units, defaultParallelism) partitions of the unit range."""

import re

import numpy as np
import pytest

from ds2_spark.config import HocConfig, VoteConfig
from ds2_spark.operators.hoc import consensus_counts
from ds2_spark.operators.votes import vote_epochs


def _range_splits(df) -> list[int]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(s) for s in re.findall(r"Range \(0, \d+, step=1, splits=(\d+)\)", plan)]


def _pool(n: int = 40, d: int = 8):
    rng = np.random.default_rng(0)
    emb = rng.normal(size=(n, d)).astype(np.float32)
    return emb, rng.integers(0, 6, n), np.array([f"c{i}" for i in range(n)])


# units below, at and above the slot count
@pytest.mark.parametrize("extra", [-3, 0, 5])
def test_hoc_rounds_plan_one_task_per_slot(spark, extra):
    slots = spark.sparkContext.defaultParallelism
    rounds = max(1, slots + extra)
    emb, labels, _ = _pool()
    df = consensus_counts(spark, emb, labels, HocConfig(rounds=rounds, sample_size=20))
    assert _range_splits(df) == [min(rounds, slots)]


@pytest.mark.parametrize("extra", [-3, 0, 5])
def test_vote_epochs_plan_one_task_per_slot(spark, extra):
    slots = spark.sparkContext.defaultParallelism
    epochs = max(1, slots + extra)
    emb, labels, ids = _pool()
    df = vote_epochs(
        spark, emb, labels, ids, np.full(6, 0.2), VoteConfig(epochs=epochs, k=3, sample_size=20)
    )
    assert _range_splits(df) == [min(epochs, slots)]
    assert df.rdd.getNumPartitions() == min(epochs, slots)
