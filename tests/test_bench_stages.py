"""tools/bench_stages.py times the production pipeline, stage by
stage, through the benchmark tracer."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGE_KEYS = {"rules", "embed", "pool", "calibration", "lt", "select"}


def test_bench_stages_reports_every_stage(spark, fixture_paths, capsys):
    spec = importlib.util.spec_from_file_location(
        "bench_stages", os.path.join(ROOT, "tools", "bench_stages.py")
    )
    bench_stages = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_stages)
    capsys.readouterr()
    assert bench_stages.main([
        "--clips", fixture_paths["clips"], "--scores", fixture_paths["scores"],
        "--hoc-rounds", "2", "--vote-epochs", "4", "--sample-size", "300",
        "--pool-max", "300", "--adam-steps", "50", "--embed-dim", "32",
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_clips"] == 800
    stages = out["stages"]
    assert STAGE_KEYS <= set(stages)
    assert all(stages[k] >= 0 for k in STAGE_KEYS)
    # span self times: the two classes partition the six stages
    assert abs(
        out["data_parallel_sec"] + out["sample_bounded_sec"] - stages["total"]
    ) < 0.01
