import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ds2_spark.fixtures import generate_all  # noqa: E402
from ds2_spark.session import get_spark  # noqa: E402

FIXTURE_DIR = "/tmp/ds2_fixtures_v1"
FIXTURE_N = 800


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ds2_tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def fixture_paths():
    marker = os.path.join(FIXTURE_DIR, f".done_{FIXTURE_N}")
    if not os.path.exists(marker):
        paths = generate_all(FIXTURE_DIR, n=FIXTURE_N)
        with open(marker, "w") as f:
            f.write("ok")
    return {
        "clips": f"{FIXTURE_DIR}/clips.parquet",
        "truth": f"{FIXTURE_DIR}/clips_truth.parquet",
        "scores": f"{FIXTURE_DIR}/scores.parquet",
        "scores_truth": f"{FIXTURE_DIR}/scores_truth.parquet",
        "t_true": f"{FIXTURE_DIR}/t_true.npy",
        "dir": FIXTURE_DIR,
    }


@pytest.fixture(scope="session")
def tiny_cfg():
    """The smallest calibration that still runs every curation stage."""
    from ds2_spark.config import (
        HocConfig, PipelineConfig, QualityConfig, SelectionConfig, VoteConfig,
    )
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES

    return PipelineConfig(
        hoc=HocConfig(rounds=2, sample_size=300, adam_steps=50),
        vote=VoteConfig(epochs=4, k=5, sample_size=300),
        selection=SelectionConfig(budget_frac=0.10),
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
        embed_dim=32,
    )


@pytest.fixture(scope="session")
def clips_df(spark, fixture_paths):
    return spark.read.parquet(fixture_paths["clips"])
