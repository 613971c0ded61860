"""Per-stage wall-clock decomposition of the quality-filter pipeline
(Amdahl evidence for BENCH/BASELINE.md).

Runs each pipeline stage with an explicit materialization barrier and
prints ONE JSON line of stage seconds. Stages are classed:

  data-parallel (scale with table size N — the 10^12-row design point):
    rules   transcript features + langid + ppl + scrub + audio sanity
            + rule decisions  (column exprs + Arrow pandas UDFs)
    embed   transcript embedding UDF over candidates
    lt      blocked kNN vs broadcast pool over ALL candidates
    select  scale-safe dual-sort selection + decisions join + write

  sample-bounded (O(1) in N by construction — reference ≤50k sampling
  contract, hoc.py:248-258):
    pool    bounded embedding sample collect
    hoc     consensus rounds (Spark fan-out) + 6x6 driver Adam solve
    votes   vote epochs fan-out + relational aggregation + curation

Run via spark-submit at two parallelism levels; per-stage scaling
efficiency of the data-parallel stages is the cluster-scale predictor
(the sample-bounded block is a constant-size term that vanishes at
scale).

Usage:
  spark-submit --master local[N] ... tools/bench_stages.py \
      --clips fx/clips.parquet --scores fx/scores.parquet [knobs]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", required=True)
    ap.add_argument("--scores", required=True)
    ap.add_argument("--workdir", default="/tmp/ds2_stage_bench")
    ap.add_argument("--rater", default="rater_a")
    ap.add_argument("--budget-frac", type=float, default=0.05)
    ap.add_argument("--hoc-rounds", type=int, default=50)
    ap.add_argument("--vote-epochs", type=int, default=51)
    ap.add_argument("--sample-size", type=int, default=5000)
    ap.add_argument("--pool-max", type=int, default=10000)
    ap.add_argument("--adam-steps", type=int, default=500)
    ap.add_argument("--embed-dim", type=int, default=128)
    ap.add_argument("--repeats", type=int, default=1,
                    help="timed repeats after one warmup (median reported)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from ds2_spark.config import (
        HocConfig, PipelineConfig, QualityConfig, SelectionConfig, VoteConfig,
    )
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES
    from ds2_spark.operators.longtail import lt_scores
    from ds2_spark.operators.selection import select_subset
    from ds2_spark.plans.curation import (
        attach_selection, calibrate_rater, collect_pool, embed_candidates,
        make_rules_stage, score_candidates,
    )

    cfg = PipelineConfig(
        hoc=HocConfig(rounds=args.hoc_rounds, sample_size=args.sample_size,
                      adam_steps=args.adam_steps),
        vote=VoteConfig(epochs=args.vote_epochs, sample_size=args.sample_size),
        selection=SelectionConfig(budget_frac=args.budget_frac),
        # fixture payloads are PCM16 under every codec tag (FIXTURES.md)
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
        embed_dim=args.embed_dim,
        knn_pool_max=args.pool_max,
    )
    clips = spark.read.parquet(args.clips)
    scores = spark.read.parquet(args.scores)
    n_clips = clips.count()
    wd = args.workdir

    def one_pass(tag: str) -> dict:
        t: dict[str, float] = {}

        def clock(name: str, fn):
            t0 = time.time()
            out = fn()
            t[name] = round(time.time() - t0, 3)
            return out

        # ---- rules (data-parallel) ----
        def _rules():
            # the production stage, so the fixture's flac/opus-tagged
            # PCM16 clips pass dur_ok exactly as in curation_pipeline
            r = make_rules_stage(cfg)(clips)
            r.write.mode("overwrite").parquet(f"{wd}/rules_{tag}")
            return spark.read.parquet(f"{wd}/rules_{tag}")

        rules = clock("rules", _rules)
        candidates = rules.filter(F.col("keep_rules")).select("clip_id", "transcript")

        # ---- embed (data-parallel) ----
        def _embed():
            e = embed_candidates(candidates, cfg)
            e.write.mode("overwrite").parquet(f"{wd}/emb_{tag}")
            return spark.read.parquet(f"{wd}/emb_{tag}")

        emb_df = clock("embed", _embed)

        # ---- pool + hoc + votes (sample-bounded) ----
        pool_emb, pool_ids = clock(
            "pool", lambda: collect_pool(emb_df, cfg.knn_pool_max, cfg.seed)
        )

        def _calib():
            res = calibrate_rater(spark, pool_emb, pool_ids, scores,
                                  args.rater, cfg)
            # calibrate_rater returns a lazily-persisted curated DF;
            # force it here so epoch-kNN cost lands in THIS stage, not
            # in the first downstream consumer
            res[1].count()
            return res

        _hoc, curated = clock("calibration", _calib)

        # ---- lt (data-parallel) ----
        def _lt():
            lt = lt_scores(emb_df, pool_emb, pool_ids, k=cfg.vote.k)
            lt.write.mode("overwrite").parquet(f"{wd}/lt_{tag}")
            return spark.read.parquet(f"{wd}/lt_{tag}")

        lt = clock("lt", _lt)

        # ---- selection + decisions (data-parallel-ish) ----
        def _select():
            scored = score_candidates(
                candidates,
                curated,
                scores.filter(F.col("rater") == args.rater)
                .select("clip_id", "raw_score"),
                lt,
            ).persist()  # 3 serial jobs read it (count, histogram, write)
            n_cand = scored.count()
            budget = max(int(round(cfg.selection.budget_frac * n_cand)), 1)
            dec = attach_selection(rules, select_subset(scored, budget))
            dec.write.mode("overwrite").parquet(f"{wd}/dec_{tag}")
            scored.unpersist()

        clock("select", _select)
        # drop this pass's cached blocks (calibrate_rater persists the
        # curated table) — leaked persists across passes degrade later
        # scans via heap/GC pressure
        curated.unpersist()
        t["total"] = round(sum(v for k, v in t.items() if k != "total"), 3)
        return t

    one_pass("warm")  # warmup: JVM, python workers, kernel model tables
    runs = [one_pass(f"r{i}") for i in range(args.repeats)]
    med = {k: sorted(r[k] for r in runs)[len(runs) // 2] for k in runs[0]}
    dp = ["rules", "embed", "lt", "select"]
    print(json.dumps({
        "n_clips": n_clips,
        "parallelism": spark.sparkContext.defaultParallelism,
        "stages": med,
        "data_parallel_sec": round(sum(med[k] for k in dp), 3),
        "sample_bounded_sec": round(med["pool"] + med["calibration"], 3),
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
