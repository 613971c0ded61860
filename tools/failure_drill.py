"""Process-kill failure drill for the lineage resume path.

The existing resume tests (tests/test_resume.py) inject failures as
in-process exceptions; this drill kills the WHOLE DRIVER PROCESS TREE
(python + JVM + pyspark daemons, SIGKILL to the process group) partway
through a checkpointed stage at a scale where a commit group takes
real wall time, restarts it cold, and proves the north-rule claim
"resumable from checkpoint with per-partition lineage" end to end:

  1. control: one uninterrupted run of the rules stage
     (plans/curation.make_rules_stage, the production keep/drop path,
     over `sources/lineage.run_stage` with waves_per_commit commit
     groups) on a sharded fixture; record wall + an
     order-insensitive sha256 fingerprint of the output parquet.
  2. drill: same stage on a FRESH checkpoint root. The controller
     polls `_lineage` (pyarrow, no second Spark) and SIGKILLs the
     worker's process group each time a kill threshold of completed
     waves is crossed; after the final kill the worker is restarted
     once more and runs to completion.
  3. verdict: drill output fingerprint must equal control exactly
     (same rows, bit-identical floats — every kernel is seeded);
     rework is bounded AND MEASURED: waves attempted across all drill
     attempts (counted from GROUP_START lines each worker logs before
     every commit group, killed attempts included) must be
     <= n_waves + kills * waves_per_commit, and each (stage, wave)
     must have exactly one status=done _lineage row — a resume that
     recomputed a committed wave would append a duplicate.

Writes BENCH/failure_drill.json and prints it. Run AFTER any other
Spark work has finished (NOTES #4/#42: never two JVMs here).

Usage:
  python tools/failure_drill.py --clips 200000 --waves 16 \
      --waves-per-commit 4 --kill-after 3 9
  python tools/failure_drill.py --worker --fixture F --root R --run-id I ...
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STAGE = "rules"
# the checkpointed stages each mode runs
MODE_STAGES = {"stage": (STAGE,), "pipeline": ("rules", "embed")}


# ---------------------------------------------------------------- worker
def worker(args) -> int:
    t0 = time.time()
    total = len(MODE_STAGES[args.mode]) * args.waves
    print(f"PENDING={total - len(_done_rows(args.root))}", flush=True)

    from ds2_spark.config import (
        HocConfig,
        PipelineConfig,
        QualityConfig,
        SelectionConfig,
        VoteConfig,
    )
    from ds2_spark.operators.audio import FIXTURE_PCM16_ALIASES
    from ds2_spark.session import get_spark

    spark = get_spark(app_name=f"failure_drill_{args.run_id}", cpus=args.cpus)
    clips = spark.read.parquet(os.path.join(args.fixture, "clips.parquet"))

    if args.mode == "pipeline":
        # FULL checkpointed curation pipeline: rules + embed stages go
        # through the _lineage wave protocol; calibration/lt/selection
        # run downstream of the resumed stage tables. The deterministic
        # md5-gated pool makes the END decisions reproducible across a
        # kill — pool membership is a pure function of the candidate
        # set, not of which run collected it.
        from ds2_spark.plans.curation import curation_pipeline

        cfg = PipelineConfig(
            hoc=HocConfig(rounds=10, sample_size=5000, adam_steps=300),
            vote=VoteConfig(epochs=15, sample_size=5000),
            selection=SelectionConfig(budget_frac=0.05),
            quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES),
            knn_pool_max=5000,
        )
        scores = spark.read.parquet(os.path.join(args.fixture, "scores.parquet"))
        res = curation_pipeline(
            spark,
            clips,
            scores,
            cfg,
            checkpoint_root=args.root,
            run_id=args.run_id,
            n_waves=args.waves,
            waves_per_commit=args.waves_per_commit,
            on_group_start=lambda st, grp: print(
                f"GROUP_START {json.dumps(grp)}", flush=True
            ),
        )
        out_dir = os.path.join(args.root, "decisions_out")
        res["decisions"].write.mode("overwrite").parquet(out_dir)
        n = spark.read.parquet(out_dir).count()
        print(f"DONE rows={n} wall={time.time() - t0:.1f}", flush=True)
        spark.stop()
        return 0

    from ds2_spark.plans.curation import make_rules_stage
    from ds2_spark.sources.lineage import run_stage

    cfg = PipelineConfig(
        quality=QualityConfig(pcm16_alias_codecs=FIXTURE_PCM16_ALIASES)
    )
    out = run_stage(
        spark,
        clips,
        make_rules_stage(cfg),
        root=args.root,
        run_id=args.run_id,
        stage=STAGE,
        key_col="clip_id",
        n_waves=args.waves,
        waves_per_commit=args.waves_per_commit,
        on_group_start=lambda grp: print(
            f"GROUP_START {json.dumps(grp)}", flush=True
        ),
    )
    n = out.count()
    print(f"DONE rows={n} wall={time.time() - t0:.1f}", flush=True)
    spark.stop()
    return 0


# ------------------------------------------------------------ controller
def _done_rows(root: str) -> list[tuple[str, int]]:
    """(stage, wave) of every status=done _lineage row, via pyarrow
    only (the controller must never hold a second SparkSession).
    Tolerates in-flight writes: non-parquet temp files are skipped, a
    file being renamed between listdir and read is retried on the next
    poll."""
    d = os.path.join(root, "_lineage")
    if not os.path.isdir(d):
        return []
    import pyarrow.parquet as pq

    rows = []
    for f in os.listdir(d):
        if not f.endswith(".parquet"):
            continue
        try:
            t = pq.read_table(
                os.path.join(d, f), columns=["stage", "partition_id", "status"]
            )
        except Exception:
            continue  # mid-rename/partial; next poll sees it
        rows += [
            (st, int(pid))
            for st, pid, status in zip(
                t.column("stage").to_pylist(),
                t.column("partition_id").to_pylist(),
                t.column("status").to_pylist(),
            )
            if status == "done"
        ]
    return rows


def _fingerprint(out_dir: str) -> tuple[int, str]:
    """Order-insensitive sha256 over the stage output (hive-partitioned
    parquet, `_wave` folded back in as a column)."""
    import pyarrow.dataset as ds

    # default ignore_prefixes=['.', '_'] would silently drop every
    # `_wave=N` partition dir -> empty table; keep only Spark's marker
    table = ds.dataset(
        out_dir,
        format="parquet",
        partitioning="hive",
        ignore_prefixes=[".", "_SUCCESS", "_committed", "_started"],
    ).to_table()
    df = table.to_pandas()
    df = df[sorted(df.columns)]
    rows = sorted(repr(t) for t in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def _spawn(
    fixture: str, root: str, run_id: str, a, tag: str
) -> tuple[subprocess.Popen, str]:
    """Spawn a worker with stdout+stderr going to a LOG FILE, never a
    PIPE: the controller's kill loop only polls _lineage and sleeps, so
    a PIPE would fill (~64KB of JVM startup INFO + py4j chatter) and
    block the worker's writes — the drill would stall on pipe
    backpressure, not on anything under test. The file also preserves
    the PENDING=/GROUP_START lines of KILLED attempts, which the
    rework-bound measurement needs."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--worker",
        "--fixture", fixture, "--root", root, "--run-id", run_id,
        "--waves", str(a.waves), "--waves-per-commit", str(a.waves_per_commit),
        "--cpus", str(a.cpus),
        "--mode", a.mode,
    ]
    log_path = f"{root}_{tag}.log"
    log_f = open(log_path, "w")
    proc = subprocess.Popen(
        cmd,
        stdout=log_f,
        stderr=subprocess.STDOUT,
        text=True,
        start_new_session=True,  # own pgid: killpg reaps python+JVM+daemons
        cwd=REPO,
    )
    log_f.close()  # child holds its own fd; controller reads the path
    return proc, log_path


def _killpg(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # belt + braces: the group kill reaps the JVM because Popen made the
    # worker a session leader; verify nothing from this drill survived
    time.sleep(1.0)
    left = subprocess.run(
        ["pgrep", "-f", "failure_drill_"], capture_output=True, text=True
    ).stdout.split()
    left = [p for p in left if int(p) != os.getpid()]
    for p in left:
        try:
            os.kill(int(p), signal.SIGKILL)
        except (ProcessLookupError, ValueError):
            pass


def _drain(spawned: tuple[subprocess.Popen, str]) -> tuple[int, str]:
    proc, log_path = spawned
    proc.wait()
    with open(log_path) as f:
        return proc.returncode, f.read()


def _read_log(log_path: str) -> str:
    try:
        with open(log_path) as f:
            return f.read()
    except OSError:
        return ""


def _waves_started(logs: list[str]) -> int:
    """Waves ATTEMPTED across all drill attempts: sum of commit-group
    sizes whose GROUP_START line made it to the log — committed or
    lost to the SIGKILL alike. This is what the rework bound actually
    bounds; counting committed lineage rows instead can never exceed
    the bound (lost groups log no lineage) and would be vacuous."""
    n = 0
    for text in logs:
        for ln in text.splitlines():
            if ln.startswith("GROUP_START "):
                n += len(json.loads(ln.split(" ", 1)[1]))
    return n


def _done_exactly_once(root: str, expect: dict[str, int]) -> tuple[bool, dict]:
    """Each (stage, wave) must have EXACTLY one status=done _lineage
    row. Resume that recomputed a committed wave would append a second
    done row for it (run_stage appends per commit, never rewrites), so
    duplicates here are the direct signature of committed-work rework."""
    from collections import Counter

    c = Counter(_done_rows(root))
    dupes = {f"{s}:{w}": n for (s, w), n in c.items() if n != 1}
    counts = {s: sum(1 for (st, _w) in c if st == s) for s in expect}
    ok = not dupes and all(counts.get(s, 0) == n for s, n in expect.items())
    return ok, {"per_stage_done_waves": counts, "duplicate_done_rows": dupes}


def controller(a) -> int:
    from ds2_spark.fixtures import generate_all_sharded

    fixture = f"/tmp/ds2_drill_fixture_{a.clips}"
    if not os.path.isdir(os.path.join(fixture, "clips.parquet")):
        print(f"generating fixture n={a.clips} at {fixture}", flush=True)
        generate_all_sharded(fixture, n=a.clips, n_shards=16)

    # the kill thresholds are measured in done _lineage rows: completed
    # waves of the single stage, or across the pipeline's two
    # checkpointed stages (rules + embed)
    expect = {st: a.waves for st in MODE_STAGES[a.mode]}
    total_waves = sum(expect.values())
    out_sub = STAGE if a.mode == "stage" else "decisions_out"

    import shutil

    root_a = f"/tmp/ds2_drill_control_{a.clips}_{a.mode}"
    root_b = f"/tmp/ds2_drill_killed_{a.clips}_{a.mode}"
    for r in (root_a, root_b):
        shutil.rmtree(r, ignore_errors=True)

    # ---- control: uninterrupted
    t0 = time.time()
    rc, out = _drain(_spawn(fixture, root_a, "control", a, "control"))
    control_wall = time.time() - t0
    assert rc == 0, f"control run failed:\n{out[-2000:]}"
    n_ctl, fp_ctl = _fingerprint(os.path.join(root_a, out_sub))
    print(f"control: wall={control_wall:.1f}s rows={n_ctl} fp={fp_ctl[:16]}", flush=True)

    # ---- drill: kill at each threshold, then run to completion
    attempts: list[dict] = []
    drill_logs: list[str] = []
    thresholds = list(a.kill_after)
    for i, thr in enumerate(thresholds):
        t0 = time.time()
        proc, log_path = _spawn(fixture, root_b, "drill", a, f"attempt{i}")
        deadline = time.time() + a.attempt_timeout
        killed_at = None
        while time.time() < deadline:
            if proc.poll() is not None:
                break  # finished before the threshold was reached
            done = len(_done_rows(root_b))
            if done >= thr:
                _killpg(proc)
                killed_at = done
                break
            time.sleep(0.5)
        else:
            _killpg(proc)
            raise RuntimeError(f"attempt {i}: timeout before {thr} waves done")
        rc = proc.returncode
        drill_logs.append(_read_log(log_path))
        attempts.append(
            {
                "attempt": i,
                "kill_threshold": thr,
                "killed_at_done_waves": killed_at,
                "finished_early": killed_at is None,
                "wall_s": round(time.time() - t0, 1),
            }
        )
        print(f"attempt {i}: killed at {killed_at} done waves (threshold {thr})", flush=True)
        if killed_at is None and rc == 0:
            break  # stage finished before we could kill it

    t0 = time.time()
    rc, out = _drain(_spawn(fixture, root_b, "drill", a, "resume"))
    resume_wall = time.time() - t0
    drill_logs.append(out)
    assert rc == 0, f"resume run failed:\n{out[-2000:]}"
    pending_line = next(
        (ln for ln in out.splitlines() if ln.startswith("PENDING=")), "PENDING=?"
    )
    attempts.append(
        {
            "attempt": len(attempts),
            "kill_threshold": None,
            "resumed_pending_waves": int(pending_line.split("=")[1]),
            "wall_s": round(resume_wall, 1),
        }
    )
    print(f"final resume: {pending_line} wall={resume_wall:.1f}s", flush=True)

    n_drl, fp_drl = _fingerprint(os.path.join(root_b, out_sub))
    lineage_rows = len(_done_rows(root_b))
    # bound by kills that HAPPENED, not thresholds configured: an
    # attempt that finished before its threshold loses nothing, and
    # counting it would loosen the bound by waves_per_commit — wide
    # enough to hide one whole commit group of real rework
    actual_kills = sum(
        1 for at in attempts if at.get("killed_at_done_waves") is not None
    )
    rework_bound = total_waves + actual_kills * a.waves_per_commit
    # measured, not assumed: GROUP_START lines from every attempt's log
    # (incl. killed ones) count waves ATTEMPTED; lineage duplicates
    # would be the signature of a resume recomputing committed work
    waves_started = _waves_started(drill_logs)
    once_ok, once_detail = _done_exactly_once(root_b, expect)

    result = {
        "clips": a.clips,
        "n_waves": a.waves,
        "waves_per_commit": a.waves_per_commit,
        "cpus": a.cpus,
        "kills": actual_kills,
        "kill_thresholds_configured": len(thresholds),
        "control_wall_s": round(control_wall, 1),
        "control_rows": n_ctl,
        "attempts": attempts,
        "drill_rows": n_drl,
        "fingerprint_match": fp_ctl == fp_drl,
        "fingerprint": fp_ctl,
        "lineage_done_rows": lineage_rows,
        "rework_bound_waves": rework_bound,
        "waves_started_total": waves_started,
        "rework_bound_holds": waves_started <= rework_bound,
        "waves_done_exactly_once": once_ok,
        "lineage_done_detail": once_detail,
        "note": (
            "SIGKILL to the whole driver process group (python+JVM+daemons) "
            "at each threshold; resume skips committed waves via _lineage; "
            "fingerprint is order-insensitive sha256 over the output table"
        ),
    }
    name = "failure_drill.json" if a.mode == "stage" else "failure_drill_pipeline.json"
    dest = os.path.join(REPO, "BENCH", name)
    with open(dest, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result, indent=1))
    assert result["fingerprint_match"], "drill output != control output"
    assert result["rework_bound_holds"], (
        f"waves attempted {waves_started} > bound {rework_bound}"
    )
    assert result["waves_done_exactly_once"], f"lineage dupes: {once_detail}"
    assert n_ctl == a.clips, f"control rows {n_ctl} != clips {a.clips}"
    return 0


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--worker", action="store_true")
    p.add_argument("--fixture")
    p.add_argument("--root")
    p.add_argument("--run-id", default="drill")
    p.add_argument("--clips", type=int, default=200_000)
    p.add_argument("--waves", type=int, default=16)
    p.add_argument("--waves-per-commit", type=int, default=4)
    p.add_argument("--cpus", type=int, default=8)
    p.add_argument("--kill-after", type=int, nargs="+", default=[3, 9])
    p.add_argument(
        "--mode",
        choices=("stage", "pipeline"),
        default="stage",
        help="stage: one checkpointed rules stage (kill thresholds in "
        "completed WAVES). pipeline: the full curation pipeline with "
        "checkpointed rules+embed stages (thresholds in done _lineage "
        "ROWS across both stages); verifies the END keep/drop decisions "
        "are bit-identical after driver kills.",
    )
    p.add_argument("--attempt-timeout", type=float, default=900.0)
    a = p.parse_args()
    if a.worker:
        return worker(a)
    return controller(a)


if __name__ == "__main__":
    sys.exit(main())
