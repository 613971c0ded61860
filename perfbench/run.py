#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload oneshot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table

One invocation starts one Spark driver on local[<cores>], sets up its
workload (inputs generated from --seed, a warm-up, and the bootstrap
for `incremental`), then runs units of work back to back, one job at a
time, for about --seconds (at least one unit). Outputs are checked against the
repository's oracles outside the timed window. The last line of
standard output is one JSON object: with --trace 0 it holds the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics of one further, traced unit. The metric names and units are
read from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SPEC_PATH = os.path.join(harness.ROOT, "BENCHMARK.json")
WORKLOADS = ("oneshot", "incremental", "catalog_text")


def load_workload(name: str):
    if name == "oneshot":
        from oneshot import Oneshot as cls
    elif name == "incremental":
        from incremental import Incremental as cls
    else:
        from catalog_text import CatalogText as cls
    return cls


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def report(problems: list[str], what: str) -> list[str]:
    for p in problems:
        log(f"{what} check failed: {p}")
    return problems


def run_units(wl, seconds: float) -> tuple[list[dict], int]:
    """Closed loop: the next unit starts when the previous one ends,
    as long as, at the median unit time so far, it would end within
    `seconds`; at least one unit runs. A unit that raises counts as
    failed."""
    outs, raised, times = [], 0, []
    start = time.perf_counter()
    while True:
        t0, c0 = time.perf_counter(), harness.cpu_s()
        try:
            out = wl.unit()
            out["cpu_s"] = harness.cpu_s() - c0
            outs.append(out)
        except Exception:
            traceback.print_exc()
            raised += 1
        now = time.perf_counter()
        times.append(now - t0)
        if now - start + statistics.median(times) > seconds:
            return outs, raised


class Clock:
    """Wall time, CPU time of the driver's process tree, and the
    machine's hypervisor steal, from one `start()` to each `read()`."""

    def start(self) -> "Clock":
        self.t0, self.c0 = time.perf_counter(), harness.cpu_s()
        self.a0, self.s0 = harness.stat_ticks()
        return self

    def read(self) -> tuple[float, float, float]:
        """(wall_s, cpu_s, steal_frac) since start()."""
        a1, s1 = harness.stat_ticks()
        return (time.perf_counter() - self.t0, harness.cpu_s() - self.c0,
                (s1 - self.s0) / max(a1 - self.a0, 1))


def figures(wl, outs: list[dict], setup: tuple, steal: float, rss_mb: float) -> dict:
    """Every end-to-end figure of a run, with its unit. `setup_s` and
    `cpu_s` are CPU seconds, the figures BENCHMARK.json gates on
    because hypervisor steal swings them least (README.md). `wall_s` is
    scaled by (1 - steal) over the timed window; `setup_wall_s` and
    `step_wall_s` are as read."""
    steps = [s for o in outs for s in o["steps"]]
    wall = statistics.median([t for t, _ in steps])
    out = {
        "setup_s": (setup[1], "s"),
        "setup_wall_s": (setup[0], "s"),
        "wall_s": (wall * (1.0 - steal), "s"),
        "step_wall_s": (wall, "s"),
        "cpu_s": (statistics.median([o["cpu_s"] / len(o["steps"]) for o in outs]), "s"),
        f"{wl.rows}_per_sec": (statistics.median([n / t for t, n in steps]), f"{wl.rows}/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "steal_frac": (steal, "ratio"),
    }
    if wl.name == "incremental":
        out["delta_s_p50"] = (wall, "s")
    return out


def traced_unit(spark, wl, outs: list[dict]) -> tuple[dict, dict[str, float]]:
    from spans import Tracer

    tracer = Tracer(spark, f"perfbench-{os.getpid()}")
    with tracer.installed():
        with tracer.span("unit") as root:
            out = wl.unit(span=tracer.span)
    tracer.release()
    tracer.read_counters()
    layers = tracer.layers(harness.slots())
    values = {
        f"{layer}.{k}": v for layer, agg in layers.items() if layer != "unit"
        for k, v in agg.items()
    }
    unit_wall = root["t1"] - root["t0"]
    values["trace.coverage"] = 1.0 - layers["unit"]["wall_s"] / unit_wall
    values["trace.overhead_s"] = sum(t for t, _ in out["steps"]) - statistics.median(
        [sum(t for t, _ in o["steps"]) for o in outs]
    )
    values.update(wl.layer_counts(out))
    trace_dir = os.path.join(harness.ROOT, ".perfbench_trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{wl.name}-seed{wl.seed}.json"), "w") as f:
        json.dump({"workload": wl.name, "seed": wl.seed, "spans": tracer.spans,
                   "layers": layers}, f, indent=1)
    return out, values


def run(args, spec: dict) -> dict:
    cls = load_workload(args.workload)
    work = harness.Workdir()
    try:
        setup_clock = Clock().start()
        spark = harness.start_spark(work)
        session_s = setup_clock.read()[0]
        try:
            wl = cls(spark, work, args.seed)
            warm = wl.setup()
            setup = setup_clock.read()
            window = Clock().start()
            with harness.RssSampler() as rss:
                outs, raised = run_units(wl, args.seconds)
            window_s, _, steal = window.read()
            t_checks = time.perf_counter()

            attempted = len(outs) + raised
            if not outs:
                return {"correct": False, "attempted": attempted, "failed": raised,
                        "metrics": {}}
            # checks run outside the timed window
            wl.prepare_check(warm)
            warm_ok = not warm or not report(wl.check(warm), "warm-up")
            failed = raised + sum(bool(report(wl.check(o), "unit")) for o in outs)

            if args.trace:
                out, values = traced_unit(spark, wl, outs)
                problems = wl.check(out)
                if wl.digest(out) != wl.digest(outs[0]):
                    problems.append("traced output differs from the untraced output")
                report(problems, "traced unit")
                attempted += 1
                failed += bool(problems)
                values.update({"session.wall_s": session_s, "fixtures.wall_s": wl.fixture_s,
                               "steal_frac": steal, "peak_rss_mb": rss.peak_mb})
                names = spec["per_layer"]
            else:
                figs = figures(wl, outs, setup, steal, rss.peak_mb)
                log("figures " + json.dumps({k: {"value": v, "unit": u}
                                             for k, (v, u) in figs.items()}))
                values = {k: v for k, (v, _) in figs.items()}
                names = spec["end_to_end"]
            log(f"{args.workload} seed={args.seed}: session {session_s:.1f}s, "
                f"setup {setup[0]:.1f}s (cpu {setup[1]:.1f}s, steal {setup[2]:.4f}), "
                f"window {window_s:.1f}s, steps "
                f"{[round(t, 2) for o in outs for t, _ in o['steps']]}, "
                f"cpu {[round(o['cpu_s'], 2) for o in outs]}, "
                f"checks and trace {time.perf_counter() - t_checks:.1f}s, "
                f"steal {steal:.4f}")
        finally:
            harness.stop_spark(spark)
    finally:
        work.remove()
    return {
        "correct": failed == 0 and warm_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names
        },
    }


def run_all(args, spec: dict) -> int:
    """Each workload in its own process, one after another; prints
    every end-to-end figure the run logged, with its unit, and the
    error rate."""
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           cwd=harness.ROOT)
        sys.stderr.write(p.stderr)
        if p.returncode != 0:
            print(f"{name}: exit code {p.returncode}")
            code = 1
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        figs = {}
        for line in p.stderr.splitlines():
            if line.startswith("[perfbench] figures "):
                figs = json.loads(line.split(" ", 2)[2])
        print(f"{name}: correct={res['correct']}")
        for m, v in figs.items():
            print(f"  {m:<16} {v['value']:>14.4f} {v['unit']}")
        print(f"  {'error_rate':<16} {res['failed'] / res['attempted']:>14.4f} failed/attempted")
        code |= not res["correct"]
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(SPEC_PATH) as f:
        spec = json.load(f)
    if args.workload == "all":
        return run_all(args, spec)
    others = harness.spark_jvms()
    if others:
        log(f"refusing to start: Spark JVM(s) already running: {others}")
        return 3
    print(json.dumps(run(args, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
