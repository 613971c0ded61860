#!/usr/bin/env python
"""spark-submit entry point for the quality-filter pipeline.

Ships unchanged at any parallelism (north_rule). Build the --py-files
artifact first (dist/ is not committed), then submit:

  python tools/make_pyfiles.py
  spark-submit --master local[8]  --py-files dist/ds2_spark.zip \
      run_pipeline.py --clips fx/clips.parquet --scores fx/scores.parquet \
      --out /tmp/out --checkpoint /tmp/ckpt

Prints exactly one JSON line with row counts, keep stats, and
throughput (clips/sec) — the measurement unit of BENCH/BASELINE.md.
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
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--rater", default="rater_a")
    ap.add_argument("--budget-frac", type=float, default=0.05)
    ap.add_argument("--hoc-rounds", type=int, default=20)
    ap.add_argument("--vote-epochs", type=int, default=21)
    ap.add_argument("--sample-size", type=int, default=20000)
    ap.add_argument("--pool-max", type=int, default=10000)
    ap.add_argument("--adam-steps", type=int, default=500)
    ap.add_argument("--embed-dim", type=int, default=128)
    ap.add_argument("--waves", type=int, default=8)
    ap.add_argument(
        "--pcm16-alias-codecs",
        default="flac,opus,mp3",
        help="comma-separated codec tags whose payloads are KNOWN to be "
        "raw PCM16 despite the compressed tag (this sandbox's fixtures, "
        "FIXTURES.md §1). Pass '' in production so unregistered codecs "
        "refuse to decode instead of producing garbage features.",
    )
    ap.add_argument(
        "--warm-repeats",
        type=int,
        default=0,
        help="bench mode: run once as warmup, then N timed repeats in the "
        "same JVM; report the median timed run (cold start excluded, "
        "which is the honest protocol for throughput scaling)",
    )
    args = ap.parse_args()
    if args.warm_repeats > 0 and args.checkpoint:
        # a warmup run would mark every wave done under this run_id and
        # the timed repeats would resume-skip the heavy stages,
        # measuring only parquet read-back — refuse the combination
        ap.error("--warm-repeats cannot be combined with --checkpoint "
                 "(resume would skip the timed work); bench without "
                 "checkpointing or time a single cold run instead")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()  # configured by spark-submit
    spark.sparkContext.setLogLevel("WARN")

    from ds2_spark.config import (
        HocConfig,
        PipelineConfig,
        QualityConfig,
        SelectionConfig,
        VoteConfig,
    )
    from ds2_spark.plans.curation import curation_pipeline

    aliases = tuple(
        c for c in (args.pcm16_alias_codecs or "").split(",") if c
    )
    cfg = PipelineConfig(
        hoc=HocConfig(
            rounds=args.hoc_rounds,
            sample_size=args.sample_size,
            adam_steps=args.adam_steps,
        ),
        vote=VoteConfig(epochs=args.vote_epochs, sample_size=args.sample_size),
        selection=SelectionConfig(budget_frac=args.budget_frac),
        quality=QualityConfig(pcm16_alias_codecs=aliases),
        embed_dim=args.embed_dim,
        knn_pool_max=args.pool_max,
    )
    clips = spark.read.parquet(args.clips)
    scores = spark.read.parquet(args.scores)
    n_clips = clips.count()

    def one_run() -> tuple[dict, float]:
        t0 = time.time()
        r = curation_pipeline(
            spark,
            clips,
            scores,
            cfg,
            rater=args.rater,
            checkpoint_root=args.checkpoint,
            run_id=args.run_id,
            n_waves=args.waves,
        )
        r["decisions"].write.mode("overwrite").parquet(args.out)
        el = time.time() - t0
        for df in r.get("_persisted", []):
            try:
                df.unpersist()
            except Exception:
                pass
        return r, el

    if args.warm_repeats > 0:
        one_run()  # warmup: JVM, python workers, kernel model tables
        times = []
        for _ in range(args.warm_repeats):
            res, el = one_run()
            times.append(el)
        times.sort()
        elapsed = times[len(times) // 2]
    else:
        res, elapsed = one_run()

    kept = spark.read.parquet(args.out).filter("keep").count()
    print(
        json.dumps(
            {
                "n_clips": n_clips,
                "kept": kept,
                "budget": res["budget"],
                "pool_size": res["pool_size"],
                "elapsed_sec": round(elapsed, 3),
                "clips_per_sec": round(n_clips / max(elapsed, 1e-9), 2),
                "parallelism": spark.sparkContext.defaultParallelism,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
