"""Spans around the calls into each layer, with Spark's own per-stage task
metrics attributed to them.

Each span gets its own Spark job group while it is the innermost open
span, so every job Spark runs is tagged with exactly one span. After a
cycle, ``harvest`` reads the jobs of each group from the status tracker
and the stage metrics from the application status store, and
``span_rows`` folds them into per-span figures: a span's counters
include its descendants' jobs; its self time excludes the time its child
spans cover; its driver time is wall time during which none of its stages
was running.
"""

from __future__ import annotations

import functools
import inspect
import statistics
import time
from contextlib import contextmanager

from perfbench.metrics import ALL_FIELDS

# The modules whose public functions are spanned, by layer name.
LAYER_MODULES = {
    "asof": "ml_feature_store_spark.operators.asof",
    "pit": "ml_feature_store_spark.operators.pit",
    "dedup": "ml_feature_store_spark.operators.dedup",
    "similarity": "ml_feature_store_spark.operators.similarity",
}
# Store calls that only build a plan: the benchmark spans them itself as
# ``<call>.plan`` and ``<call>.exec`` around the call and its action.
LAZY_CALLS = ("get_online", "get", "get_training_set", "dedup_batch", "knn_batch")
# Spans whose stages also record every task's duration (for task skew).
TASK_SPANS = ("store.get_training_set.exec",)


class Tracer:
    """Records spans while ``enabled``; does nothing otherwise."""

    def __init__(self) -> None:
        # the SparkContext, once there is one; spans opened before it exist
        # only on the Python side
        self.sc = None
        self.enabled = False
        self.phase = "setup"
        self.cycle = -1
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, uid: str | None) -> None:
        if self.sc is None:
            return
        if uid is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(uid, uid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        uid = f"perfbench-{self._next}"
        self._next += 1
        rec = {
            "name": name, "uid": uid, "phase": self.phase, "cycle": self.cycle,
            "parent": self._stack[-1]["uid"] if self._stack else None,
            "start": time.time(),
        }
        self._stack.append(rec)
        self._group(uid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1]["uid"] if self._stack else None)
            self.spans.append(rec)

    # -- instrumentation --------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, name))

    def instrument(self) -> None:
        """Span every public store method (except the lazy calls), every
        public version-store method, and every public function of the
        operator layers — including the names ``store`` imported from
        them."""
        import importlib

        from ml_feature_store_spark import store
        from ml_feature_store_spark.sources.registry import ParquetVersionStore

        for cls, layer, skip in ((store.FeatureStore, "store", LAZY_CALLS), (ParquetVersionStore, "registry", ())):
            for attr, fn in list(vars(cls).items()):
                if attr.startswith("_") or attr in skip or not inspect.isfunction(fn):
                    continue
                self._patch(cls, attr, f"{layer}.{attr}")
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                self._patch(mod, attr, f"{layer}.{attr}")
                if getattr(store, attr, None) is fn:
                    self._patch(store, attr, f"{layer}.{attr}")

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark metrics ----------------------------------------------------
    def harvest(self) -> None:
        """Attach job and stage metrics to every span not yet harvested.
        Stage times become epoch seconds, the clock ``span`` uses."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        status = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            if "jobs" in rec:
                continue
            jobs = tracker.getJobIdsForGroup(rec["uid"])
            rec["jobs"] = len(jobs)
            infos = [tracker.getJobInfo(j) for j in jobs]
            stage_ids = sorted({s for info in infos if info is not None for s in info.stageIds})
            rec["stages"] = [_stage(status, s, rec["name"] in TASK_SPANS) for s in stage_ids]


def _opt(o):
    return o.get() if o.isDefined() else None


def _stage(status, sid: int, with_tasks: bool) -> dict:
    try:
        sd = status.lastStageAttempt(sid)
    except Exception:  # stage evicted from the status store
        return {"id": sid}
    sub, done = _opt(sd.submissionTime()), _opt(sd.completionTime())
    out = {
        "id": sid,
        "start": sub.getTime() / 1000 if sub is not None else None,
        "end": done.getTime() / 1000 if done is not None else None,
        "tasks": sd.numCompleteTasks(),
        "run_ms": sd.executorRunTime(),
        "executor_cpu_ms": sd.executorCpuTime() / 1e6,
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        "input_records": sd.inputRecords(),
    }
    if with_tasks and out["tasks"] >= 2:
        tl = status.taskList(sid, sd.attemptId(), 100_000)
        out["task_ms"] = [d for d in (_opt(tl.apply(i).duration()) for i in range(tl.length())) if d is not None]
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_rows(spans: list[dict]) -> list[dict]:
    """Per-span figures (one row per span instance), counters inclusive
    of descendants."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out = [s]
        for c in kids.get(s["uid"], []):
            out.extend(subtree(c))
        return out

    rows = []
    for s in spans:
        wall = s["end"] - s["start"]
        child = [(c["start"], c["end"]) for c in kids.get(s["uid"], [])]
        stages = {st["id"]: st for t in subtree(s) for st in t.get("stages", [])}.values()
        running = [(st["start"], st["end"]) for st in stages if st.get("start") and st.get("end")]
        row = {
            "name": s["name"], "phase": s["phase"], "cycle": s["cycle"],
            "wall_ms": 1000 * wall,
            "self_ms": 1000 * (wall - covered(child, s["start"], s["end"])),
            "driver_ms": 1000 * (wall - covered(running, s["start"], s["end"])),
            "jobs": sum(t.get("jobs", 0) for t in subtree(s)),
        }
        for f in ("tasks", "executor_cpu_ms", "shuffle_write_bytes", "spill_bytes", "input_records"):
            row[f] = sum(st.get(f, 0) for st in stages)
        if "rows" in s:
            row["rows"] = s["rows"]
        if any("task_ms" in st for st in stages):
            big = max((st for st in stages if st.get("task_ms")), key=lambda st: st["run_ms"])
            row["task_skew"] = max(big["task_ms"]) / max(1, statistics.median(big["task_ms"]))
        rows.append(row)
    return rows


def span_means(rows: list[dict]) -> dict[str, dict]:
    """Mean of every field per span name, with the call count."""
    by: dict[str, list[dict]] = {}
    for r in rows:
        by.setdefault(r["name"], []).append(r)
    out = {}
    for name, rs in by.items():
        out[name] = {"calls": len(rs)}
        for f in ALL_FIELDS:
            out[name][f] = statistics.fmean(r[f] for r in rs)
    return out
