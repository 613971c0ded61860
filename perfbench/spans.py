"""Outside-in tracing of ds2_spark's layers.

`Tracer.installed()` swaps wrappers onto the module-level names that
`curation_pipeline`, `bootstrap_curation` and `incremental_update`
look up at call time, so the composition being traced is production's
own. Each wrapper opens a span and sets the span's Spark job group; a
wrapper whose function returns a lazy DataFrame persists and counts it
before the span closes, so lazy work is charged to the layer that
defines it. Inside `run_stage` nothing is forced: a wave-checkpointed
stage must stay a pure lazy transform, so on the incremental path the
rules and embed work is part of the `lineage` span.

Spark counters come from the application status store, which records
every job and stage even with the UI disabled; the listener bus is
drained before it is read.
"""

from __future__ import annotations

import functools
import importlib
import time
from contextlib import contextmanager

CURATION = "ds2_spark.plans.curation"
INCREMENTAL = "ds2_spark.plans.incremental"

# (module, name, layer, kind): "force" persists and counts a returned
# DataFrame, "factory" wraps the stage function a factory returns,
# "span" only times the call
WRAPS = [
    (CURATION, "make_rules_stage", "rules", "factory"),
    (CURATION, "embed_candidates", "embed", "force"),
    (CURATION, "collect_pool", "pool", "span"),
    # self time: the pool-score fetch around the hoc and votes calls
    (CURATION, "calibrate_rater", "calibrate", "span"),
    (CURATION, "estimate_t", "hoc", "span"),
    (CURATION, "vote_epochs", "votes", "span"),
    (CURATION, "aggregate_votes", "votes", "span"),
    (CURATION, "curate_scores", "votes", "force"),
    (CURATION, "lt_scores", "lt", "force"),
    (CURATION, "score_candidates", "select", "force"),
    (CURATION, "select_subset", "select", "force"),
    (CURATION, "attach_selection", "select", "span"),
    (INCREMENTAL, "make_rules_stage", "rules", "factory"),
    (INCREMENTAL, "embed_candidates", "embed", "force"),
    (INCREMENTAL, "run_stage", "lineage", "span"),
    (INCREMENTAL, "lt_scores", "lt", "force"),
    (INCREMENTAL, "score_candidates", "select", "force"),
    (INCREMENTAL, "select_subset", "select", "force"),
    (INCREMENTAL, "attach_selection", "select", "span"),
    (INCREMENTAL, "write_snapshot_batch", "snapshot", "span"),
    (INCREMENTAL, "read_snapshot", "snapshot", "force"),
    (INCREMENTAL, "finalize_decisions", "snapshot", "span"),
    (INCREMENTAL, "drift_report", "drift", "span"),
    (INCREMENTAL, "_write_drift_metrics", "drift", "span"),
]

COUNTERS = (
    "busy_s", "cpu_s", "jobs", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_bytes", "output_bytes",
)


class Tracer:
    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached = []
        self._saved: list[tuple] = []

    # ---------------------------------------------------------- spans
    def _group(self, rec: dict) -> str:
        return f"{self.tag}.{rec['id']}"

    @contextmanager
    def span(self, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "layer": layer,
            "t0": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self._group(rec), layer)
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1]["layer"])
            else:
                self.sc._jsc.clearJobGroup()

    def _inside(self, layer: str) -> bool:
        return any(r["layer"] == layer for r in self._stack)

    def _force(self, df, rec: dict):
        # a run_stage stage function must stay lazy (see module doc)
        if not self._inside("lineage"):
            df.persist()
            rec["rows"] = df.count()
            self._cached.append(df)
        return df

    def _wrap(self, fn, layer: str, kind: str):
        if kind == "factory":
            @functools.wraps(fn)
            def factory(*a, **kw):
                return self._wrap(fn(*a, **kw), layer, "force")
            return factory

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(layer, fn=fn.__name__) as rec:
                out = fn(*a, **kw)
                if kind == "force":
                    out = self._force(out, rec)
                return out
        return wrapper

    @contextmanager
    def installed(self):
        for mod_name, name, layer, kind in WRAPS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, name)
            self._saved.append((mod, name, orig))
            setattr(mod, name, self._wrap(orig, layer, kind))
        try:
            yield self
        finally:
            for mod, name, orig in reversed(self._saved):
                setattr(mod, name, orig)
            self._saved.clear()

    def release(self) -> None:
        """Drop the caches the forcing wrappers created."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # ------------------------------------------------------- counters
    def read_counters(self) -> None:
        """Attach Spark counters to each span from the status store:
        a job counts for the span whose group it ran under."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        as_java = self.sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        by_group = {self._group(r): r for r in self.spans}
        for r in self.spans:
            r.update({k: 0 for k in COUNTERS})
            r["job_ms"] = []
        # a stage re-listed by a later job was skipped there: its
        # metrics belong to the first job that ran it
        stage_owner: dict[int, dict] = {}
        for j in sorted(as_java(store.jobsList(None)), key=lambda j: j.jobId()):
            grp = j.jobGroup()
            rec = by_group.get(grp.get()) if grp.isDefined() else None
            if rec is None:
                continue
            rec["jobs"] += 1
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                rec["job_ms"].append((sub.get().getTime(), end.get().getTime()))
            for sid in as_java(j.stageIds()):
                stage_owner.setdefault(int(sid), rec)
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for s in as_java(store.stageList(None, False, False, no_quantiles, None)):
            rec = stage_owner.get(int(s.stageId()))
            if rec is None:
                continue
            rec["busy_s"] += s.executorRunTime() / 1e3
            rec["cpu_s"] += s.executorCpuTime() / 1e9
            rec["tasks"] += s.numCompleteTasks()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            rec["input_bytes"] += s.inputBytes()
            rec["output_bytes"] += s.outputBytes()
        for r in self.spans:
            child = sum(
                c["t1"] - c["t0"] for c in self.spans if c["parent"] == r["id"]
            )
            r["self_s"] = (r["t1"] - r["t0"]) - child
            r["driver_s"] = max(r["self_s"] - _covered_s(r.pop("job_ms")), 0.0)

    def layers(self, slots: int) -> dict[str, dict[str, float]]:
        """Per-layer sums over spans; self time, so nothing counts twice."""
        out: dict[str, dict[str, float]] = {}
        for r in self.spans:
            agg = out.setdefault(
                r["layer"], {"wall_s": 0.0, "driver_s": 0.0, "rows": 0,
                             **{k: 0 for k in COUNTERS}}
            )
            agg["wall_s"] += r["self_s"]
            agg["driver_s"] += r["driver_s"]
            agg["rows"] += r.get("rows", 0)
            for k in COUNTERS:
                agg[k] += r[k]
        for agg in out.values():
            agg["slot_util"] = agg["busy_s"] / (agg["wall_s"] * slots) if agg["wall_s"] > 0 else 0.0
            agg["write_amp"] = agg["output_bytes"] / agg["input_bytes"] if agg["input_bytes"] else 0.0
        return out


def _covered_s(intervals_ms: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end) job intervals, in seconds."""
    total, end = 0, None
    for a, b in sorted(intervals_ms):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3
