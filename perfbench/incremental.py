"""`incremental`: the steady state at the design point. Setup runs
`bootstrap_curation` on a seeded base slice (pool cap active) and
freezes the calibration. Each unit copies that root into a fresh
directory and absorbs K new-clip delta batches through
`incremental_update`, writing `decisions` after each batch: wave
checkpoints, snapshot partition overwrites and a last-writer-wins
merge on read that grows with the batch count. No calibration runs
in a unit."""

from __future__ import annotations

import shutil
import time

from pyspark.sql import functions as F

from harness import no_span
from oneshot import (
    candidates,
    config,
    generate_fixture,
    pool_counts,
    read_decisions,
    reason_counts,
)

N_CLIPS = 1500
POOL_MAX = 500
# clip_id hash buckets: buckets 0..K-1 are the K delta batches, the
# rest is the base (the split of tests/test_incremental.py)
N_BUCKETS = 12
K = 2
N_WAVES = 4


class Incremental:
    name = "incremental"
    rows = "clips"

    def __init__(self, spark, work, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cfg = config(POOL_MAX)
        self._n = 0

    def setup(self) -> dict:
        from ds2_spark.plans.incremental import bootstrap_curation

        t0 = time.perf_counter()
        paths = generate_fixture(self.work.sub("fixture"), N_CLIPS, self.seed)
        self.fixture_s = time.perf_counter() - t0
        self.clips = self.spark.read.parquet(paths["clips"])
        self.scores = self.spark.read.parquet(paths["scores"])
        bucket = F.pmod(F.hash("clip_id"), F.lit(N_BUCKETS))
        self.deltas = [self.clips.filter(bucket == k) for k in range(K)]
        self.delta_ids = [
            {r["clip_id"] for r in d.select("clip_id").collect()} for d in self.deltas
        ]
        self.boot_root = self.work.sub("boot")
        boot = bootstrap_curation(
            self.spark, self.clips.filter(bucket >= K), self.scores, self.boot_root,
            self.cfg, n_waves=N_WAVES,
        )
        self.pool_size = len(boot["frozen"].pool_ids)
        return {}

    def unit(self, span=no_span) -> dict:
        from ds2_spark.plans.incremental import incremental_update

        self._n += 1
        root = self.work.fresh("runs", str(self._n))
        shutil.copytree(self.boot_root, root)
        steps, paths = [], []
        for k, delta in enumerate(self.deltas, start=1):
            out = f"{root}/decisions_b{k}"
            t0 = time.perf_counter()
            res = incremental_update(
                self.spark, delta, self.scores, root, batch_id=k, cfg=self.cfg,
                n_waves=N_WAVES,
            )
            with span("select", fn="write_decisions"):
                res["decisions"].write.parquet(out)
            steps.append((time.perf_counter() - t0, len(self.delta_ids[k - 1])))
            paths.append(out)
        return {"paths": paths, "steps": steps}

    def prepare_check(self, warm: dict) -> None:
        """Parity pinned by tests/test_incremental.py: the decisions
        after the last batch equal the one-pass frozen-model twin over
        base ∪ deltas plus the same global selection."""
        from ds2_spark.plans.incremental import apply_frozen, finalize_decisions

        twin = apply_frozen(self.spark, self.clips, self.scores, self.boot_root, self.cfg)
        dec, _ = finalize_decisions(twin, self.cfg)
        self.expected = {
            r["clip_id"]: (r["keep"], r["reason"], r["final_score"]) for r in dec.collect()
        }

    def check(self, out: dict) -> list[str]:
        problems = []
        for path in out["paths"][:-1]:
            if len(read_decisions(path)) >= N_CLIPS:
                problems.append(f"{path}: batch decisions cover every clip too early")
        final = {c: v[:3] for c, v in read_decisions(out["paths"][-1]).items()}
        if final != self.expected:
            bad = sum(1 for c in self.expected if final.get(c) != self.expected[c])
            problems.append(f"{bad} clips differ from apply_frozen over base + deltas")
        if self.pool_size != POOL_MAX:
            problems.append(f"pool cap not active: pool {self.pool_size}")
        return problems

    def digest(self, out: dict) -> list[tuple]:
        return [sorted(read_decisions(p).items()) for p in out["paths"]]

    def layer_counts(self, out: dict) -> dict[str, float]:
        from ds2_spark.sources.lineage import read_lineage

        root = out["paths"][-1].rsplit("/", 1)[0]
        dec = read_decisions(out["paths"][-1])
        counts = reason_counts(dec)
        cands = candidates(dec)
        new = set().union(*self.delta_ids)
        # the pool was drawn from the base's candidates at bootstrap
        counts.update(
            pool_counts([c for c in cands if c not in new], self.pool_size, self.cfg)
        )
        n_new = sum(1 for c in cands if c in new)
        counts["embed.rows"] = counts["lt.rows"] = float(n_new)
        counts["lt.pairs"] = float(n_new * self.pool_size)
        counts["lineage.waves"] = float(
            read_lineage(self.spark, root).filter(F.col("run_id") != "b0").count()
        )
        return counts
