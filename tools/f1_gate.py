"""The north-rule F1 gate, measured at scale against the independent
NumPy oracle.

north_rule: "matching the reference's keep/drop decision and scrubbed
text per clip (F1>=0.99 vs reference labels)". The reference labels in
this sandbox are the straight-line NumPy oracle (tests/oracle/
ds2_oracle.py) — an independent re-implementation of the full DS2
chain (rules -> embed -> pool -> votes -> curation -> lt -> selection)
that shares only the low-level float kernels and seed derivations with
the engine. pytest pins engine==oracle exactly at the 800-clip fixture
(3 profiles incl. pool-capped); THIS tool measures the same per-clip
agreement at a 200k-clip scale with the kNN pool cap genuinely active
(the 10^12-row operating mode: votes/curation on a bounded
deterministic md5-gated pool, every candidate lt-scored against it),
plus exact scrubbed-transcript equality vs the oracle's regex engine.

Writes BENCH/f1_gate.json: confusion matrix, precision/recall/F1 on
keep/drop, reason-code agreement, scrub equality, walls. Expected (and
asserted): F1 == 1.0, zero scrub mismatches — the engine is
bit-deterministic, so "close" would mean a bug.

Run alone (NOTES #4/#42: never two Spark JVMs).

Usage: python tools/f1_gate.py [--clips 200000] [--cpus 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, default=16)
    ap.add_argument("--pool-max", type=int, default=20_000)
    a = ap.parse_args()

    from ds2_spark.config import (
        HocConfig,
        PipelineConfig,
        QualityConfig,
        SelectionConfig,
        VoteConfig,
    )
    from ds2_spark.fixtures import generate_all_sharded
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES

    fixture = f"/tmp/ds2_drill_fixture_{a.clips}"
    if not os.path.isdir(os.path.join(fixture, "clips.parquet")):
        print(f"generating fixture n={a.clips}", flush=True)
        generate_all_sharded(fixture, n=a.clips, n_shards=16)

    cfg = PipelineConfig(
        hoc=HocConfig(rounds=10, sample_size=5000, adam_steps=300),
        vote=VoteConfig(epochs=15, sample_size=5000),
        selection=SelectionConfig(budget_frac=0.05),
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
        knn_pool_max=a.pool_max,
    )

    # ---- engine
    from ds2_spark.operators.hoc import t_given_noisy
    from ds2_spark.plans.curation import curation_pipeline
    from ds2_spark.session import get_spark

    spark = get_spark(app_name="f1_gate", cpus=a.cpus)
    clips = spark.read.parquet(os.path.join(fixture, "clips.parquet"))
    scores = spark.read.parquet(os.path.join(fixture, "scores.parquet"))
    t0 = time.time()
    result = curation_pipeline(spark, clips, scores, cfg, rater="rater_a")
    engine = {
        r["clip_id"]: (bool(r["keep"]), r["reason"], r["final_score"])
        for r in result["decisions"].collect()
    }
    # scrubbed transcripts from the same run's rules stage
    scrub_eng = {
        r["clip_id"]: r["transcript_scrubbed"]
        for r in result["rules"].select("clip_id", "transcript_scrubbed").collect()
    }
    engine_wall = time.time() - t0
    pool_size = result["pool_size"]
    noise_rates = 1.0 - np.diag(t_given_noisy(result["hoc"]))
    spark.stop()
    print(f"engine: {len(engine)} decisions, pool={pool_size}, "
          f"wall={engine_wall:.1f}s", flush=True)

    # ---- oracle (pure NumPy/Python, no Spark)
    from oracle import ds2_oracle

    t0 = time.time()
    oracle = ds2_oracle.curation_oracle(
        os.path.join(fixture, "clips.parquet"),
        os.path.join(fixture, "scores.parquet"),
        noise_rates,
        cfg,
        "rater_a",
    )
    oracle_wall = time.time() - t0
    exp = oracle["decisions"]
    print(f"oracle: {len(exp)} decisions, wall={oracle_wall:.1f}s", flush=True)

    # ---- scrub twin (oracle regex engine over the raw transcripts)
    import pyarrow.parquet as pqt

    from ds2_spark.functions.scrub import scrub_py

    tbl = pqt.read_table(
        os.path.join(fixture, "clips.parquet"), columns=["clip_id", "transcript"]
    )
    scrub_mismatch = 0
    for cid, txt in zip(
        tbl.column("clip_id").to_pylist(), tbl.column("transcript").to_pylist()
    ):
        expected = None if txt is None else scrub_py(txt)
        if scrub_eng[cid] != expected:
            scrub_mismatch += 1

    # ---- keep/drop confusion + F1
    assert set(engine) == set(exp)
    tp = fp = fn = tn = 0
    reason_mismatch = 0
    score_mismatch = 0
    for cid, (keep, reason, fs) in engine.items():
        ek, er, efs = exp[cid]
        tp += keep and ek
        fp += keep and not ek
        fn += (not keep) and ek
        tn += (not keep) and (not ek)
        reason_mismatch += reason != er
        score_mismatch += efs is not None and fs != efs
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-12)

    out = {
        "clips": a.clips,
        "cpus": a.cpus,
        "knn_pool_max": a.pool_max,
        "pool_size": pool_size,
        # the cap is active iff the pool filled to exactly max_rows
        # (candidates > max_rows); comparing against all clips would
        # overstate it
        "pool_cap_active": pool_size == a.pool_max,
        "confusion": {"tp": tp, "fp": fp, "fn": fn, "tn": tn},
        "precision": prec,
        "recall": rec,
        "keep_drop_f1": f1,
        "reason_code_mismatches": reason_mismatch,
        "final_score_mismatches": score_mismatch,
        "scrub_text_mismatches": scrub_mismatch,
        "engine_wall_s": round(engine_wall, 1),
        "oracle_wall_s": round(oracle_wall, 1),
        "target": 0.99,
        # gate on ALL four per-clip equalities, not just the two the
        # F1 summarizes: a regression that flips final_score or
        # reason_code without moving any keep/drop bit must fail here
        "pass": (
            f1 >= 0.99
            and scrub_mismatch == 0
            and reason_mismatch == 0
            and score_mismatch == 0
        ),
        "note": (
            "engine (PySpark, pool-capped votes/curation) vs independent "
            "NumPy full-chain oracle incl. hashlib pool-membership replay; "
            "exact per-clip keep/reason/score + scrubbed-text equality"
        ),
    }
    with open(os.path.join(REPO, "BENCH", "f1_gate.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    assert out["pass"], "F1 gate failed"
    return 0


if __name__ == "__main__":
    sys.exit(main())
