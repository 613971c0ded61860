"""`oneshot`: DS2's full chain in one call — `curation_pipeline`
without checkpointing on a seeded fixture, then the `decisions` write.
The kNN pool cap is active at this size, so calibration runs on the
bounded md5-gated pool and every candidate is long-tail scored
against it. Never touches the lineage or snapshot layers."""

from __future__ import annotations

import collections
import hashlib
import time

import numpy as np
import pyarrow.parquet as pq

from ds2_spark.config import (
    HocConfig,
    PipelineConfig,
    QualityConfig,
    SelectionConfig,
    VoteConfig,
)
from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES
from harness import no_span

N_CLIPS = 1500
POOL_MAX = 500


def config(pool_max: int) -> PipelineConfig:
    """tools/f1_gate.py's configuration with a smaller pool cap."""
    return PipelineConfig(
        hoc=HocConfig(rounds=10, sample_size=5000, adam_steps=300),
        vote=VoteConfig(epochs=15, sample_size=5000),
        selection=SelectionConfig(budget_frac=0.05),
        # fixture payloads are PCM16 under every codec tag (FIXTURES.md)
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
        knn_pool_max=pool_max,
    )


def generate_fixture(out_dir: str, n: int, seed: int) -> dict[str, str]:
    from ds2_spark.fixtures import generate_all

    return generate_all(out_dir, n=n, seed=seed, dur_median_ms=250.0, dur_max_ms=1000)


def read_decisions(path: str) -> dict[str, tuple]:
    """clip_id -> (keep, reason, final_score, lt_score)."""
    t = pq.read_table(path).to_pydict()
    return {
        c: (k, r, s, lt)
        for c, k, r, s, lt in zip(
            t["clip_id"], t["keep"], t["reason"], t["final_score"], t["lt_score"]
        )
    }


def funnel(decisions: dict[str, tuple]) -> collections.Counter:
    return collections.Counter(v[1] for v in decisions.values())


class Oneshot:
    name = "oneshot"
    rows = "clips"

    def __init__(self, spark, work, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = config(POOL_MAX)
        self._n = 0

    def setup(self) -> dict:
        t0 = time.perf_counter()
        paths = generate_fixture(self.work.sub("fixture"), N_CLIPS, self.seed)
        self.fixture_s = time.perf_counter() - t0
        self.paths = paths
        self.clips = self.spark.read.parquet(paths["clips"])
        self.scores = self.spark.read.parquet(paths["scores"])
        return self.unit()  # warm-up: JVM code paths, Python workers

    def unit(self, span=no_span) -> dict:
        from ds2_spark.plans.curation import curation_pipeline

        self._n += 1
        out = self.work.fresh("out", f"decisions_{self._n}")
        t0 = time.perf_counter()
        res = curation_pipeline(self.spark, self.clips, self.scores, self.cfg)
        with span("select", fn="write_decisions"):
            res["decisions"].write.parquet(out)
        wall = time.perf_counter() - t0
        for df in res["_persisted"]:
            df.unpersist()
        return {"path": out, "budget": res["budget"], "pool_size": res["pool_size"],
                "hoc": res["hoc"], "steps": [(wall, N_CLIPS)]}

    def prepare_check(self, warm: dict) -> None:
        """The NumPy full-chain oracle, once, given the warm-up run's
        HOC noise rates (as tools/f1_gate.py does)."""
        from oracle import ds2_oracle

        from ds2_spark.operators.hoc import t_given_noisy

        noise_rates = 1.0 - np.diag(t_given_noisy(warm["hoc"]))
        self.oracle = ds2_oracle.curation_oracle(
            self.paths["clips"], self.paths["scores"], noise_rates, self.cfg, "rater_a"
        )

    def check(self, out: dict) -> list[str]:
        dec = read_decisions(out["path"])
        exp = self.oracle["decisions"]
        problems = []
        if {c: v[:3] for c, v in dec.items()} != exp:
            bad = sum(1 for c in exp if dec.get(c, (None,) * 3)[:3] != exp[c])
            problems.append(f"{bad} clips differ from the oracle")
        f = funnel(dec)
        if sum(f.values()) != N_CLIPS:
            problems.append(f"reason funnel sums to {sum(f.values())}, not {N_CLIPS}")
        if not f["selected"] == out["budget"] == self.oracle["budget"]:
            problems.append(
                f"selected {f['selected']}, budget {out['budget']}, "
                f"oracle budget {self.oracle['budget']}"
            )
        if out["pool_size"] != POOL_MAX:
            problems.append(f"pool cap not active: pool {out['pool_size']}")
        return problems

    def digest(self, out: dict) -> list[tuple]:
        return sorted(read_decisions(out["path"]).items())

    def layer_counts(self, out: dict) -> dict[str, float]:
        dec = read_decisions(out["path"])
        counts = reason_counts(dec)
        cands = candidates(dec)
        counts.update(pool_counts(cands, out["pool_size"], self.cfg))
        counts["embed.rows"] = counts["lt.rows"] = float(len(cands))
        counts["lt.pairs"] = float(len(cands) * out["pool_size"])
        return counts


RULE_REASONS = (
    "empty_transcript", "bad_codec", "dur_mismatch",
    "rate_outlier", "langid_fail", "ppl_outlier",
)


def candidates(decisions: dict[str, tuple]) -> list[str]:
    return [c for c, v in decisions.items() if v[1] in ("selected", "low_score")]


def reason_counts(decisions: dict[str, tuple]) -> dict[str, float]:
    """The rules stage's reason funnel, read from the decisions."""
    f = funnel(decisions)
    counts = {f"rules.reason.{r}": float(f[r]) for r in RULE_REASONS}
    counts["rules.reason.candidate"] = float(f["selected"] + f["low_score"])
    return counts


def pool_counts(cand_ids: list[str], pool_size: int, cfg) -> dict[str, float]:
    """Pool size and its yield: pool rows per candidate that passed
    collect_pool's md5-prefix gate (replayed with hashlib)."""
    from ds2_spark.plans.curation import pool_gate_threshold

    n = len(cand_ids)
    gated = n
    if n > cfg.knn_pool_max:
        thr = pool_gate_threshold(cfg.knn_pool_max, n)
        gated = sum(
            1 for c in cand_ids
            if int(hashlib.md5(f"{cfg.seed}|{c}".encode()).hexdigest()[:12], 16) < thr
        )
    return {"pool.size": float(pool_size), "pool.gate_yield": pool_size / max(gated, 1)}
