"""Per-stage wall-clock decomposition of the quality-filter pipeline
(Amdahl evidence for BENCH/BASELINE.md).

Runs the production `curation_pipeline` under the benchmark's
outside-in tracer (perfbench/spans.py), which persists and counts each
layer's output before the layer's span closes, and prints ONE JSON line
of stage seconds (span self time). Stages are classed:

  data-parallel (scale with table size N — the 10^12-row design point):
    rules   transcript features + langid + ppl + scrub + audio sanity
            + rule decisions  (column exprs + Arrow pandas UDFs)
    embed   transcript embedding UDF over candidates
    lt      blocked kNN vs broadcast pool over ALL candidates
    select  scoring + scale-safe selection + decisions join, then the
            decisions executed into a no-op sink

  sample-bounded (O(1) in N by construction — reference ≤50k sampling
  contract, hoc.py:248-258):
    pool         bounded embedding sample collect
    calibration  pool-score fetch + HOC consensus rounds and 6x6 driver
                 Adam solve + vote epochs, aggregation and curation

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
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

# stage -> the tracer layers it sums
STAGES = {
    "rules": ("rules",),
    "embed": ("embed",),
    "pool": ("pool",),
    "calibration": ("calibrate", "hoc", "votes"),
    "lt": ("lt",),
    "select": ("select",),
}
DATA_PARALLEL = ("rules", "embed", "lt", "select")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--clips", required=True)
    ap.add_argument("--scores", required=True)
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
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from spans import Tracer

    from ds2_spark.config import (
        HocConfig, PipelineConfig, QualityConfig, SelectionConfig, VoteConfig,
    )
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES
    from ds2_spark.plans.curation import curation_pipeline

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
    slots = spark.sparkContext.defaultParallelism

    def one_pass(tag: str) -> dict:
        tracer = Tracer(spark, f"bench_stages.{tag}")
        with tracer.installed():
            res = curation_pipeline(spark, clips, scores, cfg, rater=args.rater)
            with tracer.span("select", fn="write_decisions"):
                res["decisions"].write.format("noop").mode("overwrite").save()
        # leaked persists across passes degrade later scans via heap/GC
        # pressure
        tracer.release()
        for df in res["_persisted"]:
            df.unpersist()
        tracer.read_counters()
        layers = tracer.layers(slots)
        t = {
            stage: round(sum(layers.get(la, {}).get("wall_s", 0.0) for la in las), 3)
            for stage, las in STAGES.items()
        }
        t["total"] = round(sum(t.values()), 3)
        return t

    one_pass("warm")  # warmup: JVM, python workers, kernel model tables
    runs = [one_pass(f"r{i}") for i in range(args.repeats)]
    med = {k: sorted(r[k] for r in runs)[len(runs) // 2] for k in runs[0]}
    print(json.dumps({
        "n_clips": n_clips,
        "parallelism": slots,
        "stages": med,
        "data_parallel_sec": round(sum(med[k] for k in DATA_PARALLEL), 3),
        "sample_bounded_sec": round(med["pool"] + med["calibration"], 3),
        "runs": runs,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
