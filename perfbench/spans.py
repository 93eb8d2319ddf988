"""Spans around the engine's public functions, recorded from outside
the engine, plus Spark's own counters read through py4j.

A span is (name, layer, trace id, id, parent id, start, end, attrs).
Spans live in memory and are written as JSON lines when the run ends.
Spans nest per thread: foreachBatch callbacks run on a py4j callback
thread, so each thread keeps its own stack.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext, set once a session exists
        self.overhead_s = 0.0  # tracing-only work inside the timed region

    @contextmanager
    def overhead(self):
        """Time work that only a traced run does (counter reads, forced
        planning, probe counts)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, trace: str | None = None, job_group: bool = False):
        """Context manager recording one span; a no-op when tracing is
        off. ``trace`` defaults to the enclosing span's trace id. With
        ``job_group`` the Spark jobs started inside (and not inside a
        nested grouped span) run under a job group of their own, so
        :meth:`collect_stages` can attribute them to this span."""
        if not self.enabled:
            return nullcontext({})
        return self._span(name, trace, job_group)

    @contextmanager
    def _span(self, name: str, trace: str | None, job_group: bool):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "layer": name.split(".", 1)[0],
            "trace": trace or (parent["trace"] if parent else None),
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        prev_group = None
        if job_group:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            rec["attrs"]["group"] = f"perfbench/{rec['trace']}/{rec['id']}"
            self.sc.setJobGroup(rec["attrs"]["group"], name)
        stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            with self._lock:
                self.spans.append(rec)

    def collect_stages(self, spark, trace: str) -> None:
        """Attach stage totals to every grouped span of ``trace``."""
        if not self.enabled:
            return
        with self.overhead():
            for s in self.spans:
                if s["trace"] == trace and "group" in s["attrs"] and "jobs" not in s["attrs"]:
                    s["attrs"].update(stage_totals(spark, s["attrs"]["group"]))

    # -- wrapping the engine's public functions ---------------------------

    def wrap(self, module, attr: str, span_name: str, package: str,
             job_group: bool = False, before=None, after=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper at
        EVERY binding of the same function object under ``package``
        (plan modules import ``load_table`` by name, so patching only
        the defining module would miss their calls). Inside the span,
        ``before(args, attrs)`` runs ahead of the call and
        ``after(result, attrs)`` returns the result handed back."""
        if not self.enabled:
            return
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(span_name, job_group=job_group) as attrs:
                if before is not None:
                    before(args, attrs)
                result = original(*args, **kwargs)
                return after(result, attrs) if after is not None else result

        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == package or name.startswith(package + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    self._patched.append((mod, key, original))
                    setattr(mod, key, wrapper)

    def unwrap_all(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    # -- results ----------------------------------------------------------

    def write_jsonl(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                out = dict(s, start=round(s["start"] - t0, 6), end=round(s["end"] - t0, 6))
                f.write(json.dumps(out, default=str) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    child spans cover (children clipped to the parent, overlaps
    counted once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            kids[p["id"]].append((max(s["start"], p["start"]), min(s["end"], p["end"])))
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += st[s["id"]]
    return dict(out)


# ---- Spark's own counters (py4j) --------------------------------------


def codegen_counters(spark) -> tuple[int, int]:
    """(CodeGenerator.compileTime ns, CodegenMetrics compile count):
    JVM-wide totals, so read deltas."""
    jvm = spark.sparkContext._jvm
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return int(ns), int(n)


STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


def stage_totals(spark, group: str) -> dict[str, float]:
    """Sum the completed stages of every job in ``group``, read from
    the app status store. Call right after the group's work, before
    ``spark.ui.retainedStages`` can drop its stages."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # NoSuchElementException: stage already evicted
            continue
        if st.status().toString() != "COMPLETE":
            continue  # skipped (reused shuffle output): no work done
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["input_bytes"] += st.inputBytes()
    return out


def force_plan(df) -> None:
    """Run Catalyst analysis, optimization and physical planning on
    ``df``'s own QueryExecution."""
    df._jdf.queryExecution().executedPlan()
