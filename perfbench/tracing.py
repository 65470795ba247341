"""Traced runs: spans around the engine's public entry points, and
Spark's own per-job counters.

Spans are recorded from outside the program. ``Tracer.install`` wraps
the public functions of the layer modules named in ``LAYERS`` and
rebinds every reference to them found in the engine's loaded modules,
so ``from x import f`` bindings taken at import time are traced as
well. Each span is (name, layer, start, end, parent, op id); the spans
stay in memory and are written out when the run ends.

Spark counters come from the in-process status store
(``SparkContext.statusStore()``), which exists with the UI disabled.
Every op runs under a job tag equal to its op id, so a tag selects
exactly that op's jobs.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

PKG = "transcript_analysis_spark"

# module -> layer. Operators are attributed per module; `bpe` is the
# tokenizer half of the chunking layer.
LAYERS = {
    f"{PKG}.sources.tables": "sources",
    f"{PKG}.operators.islands": "operators.islands",
    f"{PKG}.operators.ann": "operators.ann",
    f"{PKG}.operators.chunking": "operators.chunking",
    f"{PKG}.operators.bpe": "operators.chunking",
    f"{PKG}.streaming.store_io": "store_io",
}
SOURCE_FUNCS = ("load_table", "register_views")

# streaming stage name -> the store functions `streaming.pipeline` calls
STREAM_STAGES = {
    "islands": ("foreach_batch_islands",),
    "neardup": ("foreach_batch_neardup",),
    "decontam": ("foreach_batch_decontam",),
    "dsir": ("foreach_batch_dsir",),
    "sample": ("foreach_batch_sample",),
    "perceptron": ("foreach_batch_perceptron",),
    "sketch": ("foreach_batch_sketch", "foreach_batch_hll"),
    "ivf": ("foreach_batch_ivf",),
    "pca": ("foreach_batch_pca",),
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: int


class Tracer:
    """Records spans; disabled tracers record nothing and wrap nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.span_cost = 0.0    # seconds one span adds, from calibrate()
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- op context ------------------------------------------------------
    def current_op(self) -> str | None:
        return getattr(self._local, "op", None)

    @contextmanager
    def op(self, op_id: str):
        prev = self.current_op()
        self._local.op = op_id
        try:
            yield
        finally:
            self._local.op = prev

    # -- spans -----------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.perf_counter(), 0.0,
                                   parent, self.current_op(),
                                   threading.get_ident()))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        if getattr(fn, "__perfbench_wrapped__", False):
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__perfbench_wrapped__ = True
        return wrapper

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        """Wrap the layer entry points."""
        import importlib
        replace: dict[int, object] = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in vars(mod).items():
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod_name):
                    continue
                if layer == "sources" and attr not in SOURCE_FUNCS:
                    continue
                if layer == "store_io" and attr != "write_batch_partition":
                    continue
                replace[id(fn)] = self.wrap(fn, f"{layer}.{attr}", layer)
        pipeline = importlib.import_module(f"{PKG}.streaming.pipeline")
        for stage, funcs in STREAM_STAGES.items():
            for attr in funcs:
                fn = getattr(pipeline, attr)
                replace[id(fn)] = self.wrap(fn, f"streaming.{stage}",
                                            "streaming")
        for attr in ("init_pipeline_stores", "foreach_batch_corpus_pipeline"):
            fn = getattr(pipeline, attr)
            replace[id(fn)] = self.wrap(fn, f"streaming.{attr}", "streaming")
        from transcript_analysis_spark.plans import all_queries
        for q in all_queries().values():
            q.fn = self.wrap(q.fn, f"plans.{q.name}.build", "plans")
        # rebind every reference, including `from x import f` copies
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PKG):
                continue
            for attr, val in list(vars(mod).items()):
                new = replace.get(id(val))
                if new is not None:
                    setattr(mod, attr, new)

    def calibrate(self, n: int = 20000) -> None:
        """Measure ``span_cost``: the seconds one span adds around a
        call (wrapper + bookkeeping)."""
        def noop():
            return None
        wrapped = self.wrap(noop, "calibration", "trace")
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        bare = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(n):
            wrapped()
        cost = (time.perf_counter() - t0 - bare) / n
        del self.spans[-n:]
        self.span_cost = max(cost, 0.0)

    # -- analysis --------------------------------------------------------
    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    def layer_time(self, op_id: str, layer_prefix: str) -> float:
        """Wall time inside spans of a layer during one op, counting
        nested spans of the same layer once (outermost spans only)."""
        spans = self.spans
        total = 0.0
        for s in self.op_spans(op_id):
            if not s.layer.startswith(layer_prefix):
                continue
            p = s.parent
            if p is not None and spans[p].layer.startswith(layer_prefix):
                continue
            total += s.end - s.start
        return total

    def span_time(self, op_id: str, name: str) -> float:
        return sum(s.end - s.start for s in self.op_spans(op_id)
                   if s.name == name)

    def self_times(self) -> list[float]:
        """Per-span self time: duration minus time covered by children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({
                    "name": s.name, "layer": s.layer,
                    "start_s": round(s.start - t0, 6),
                    "end_s": round(s.end - t0, 6),
                    "self_s": round(st, 6), "parent": s.parent,
                    "op": s.op, "thread": s.thread}) + "\n")


class SparkCounters:
    """Per-op job, task, shuffle, spill and GC totals from the status
    store, selected by job tag."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def tag(self, op_id: str):
        return _JobTag(self._sc, op_id)

    def mark(self) -> int:
        """Id of the newest job so far (-1 before the first)."""
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _jobs(self, since: int | None):
        """(tags, stage ids) of each job newer than ``since``; the
        store lists the newest job first."""
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if since is not None and job.jobId() <= since:
                return
            tags = str(job.jobTags().mkString("\x1f")).split("\x1f")
            stages = str(job.stageIds().mkString(","))
            yield tags, [int(x) for x in stages.split(",") if x]

    def _totals(self, n_jobs: int, stage_ids: set[int]) -> dict:
        out = {"jobs": n_jobs, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, None, False,
                                             self._no_quantiles)
            for k in range(attempts.size()):
                st = attempts.apply(k)
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        return out

    def collect(self, op_id: str, since: int | None = None) -> dict:
        return self.collect_all([op_id], since)[op_id]

    def collect_all(self, op_ids: list[str], since: int | None = None
                    ) -> dict[str, dict]:
        wanted = set(op_ids)
        jobs = {o: 0 for o in op_ids}
        stages: dict[str, set[int]] = {o: set() for o in op_ids}
        for tags, sids in self._jobs(since):
            for t in wanted.intersection(tags):
                jobs[t] += 1
                stages[t].update(sids)
        return {o: self._totals(jobs[o], stages[o]) for o in op_ids}


class _JobTag:
    def __init__(self, sc, tag: str):
        self._sc, self._tag = sc, tag

    def __enter__(self):
        self._sc.addJobTag(self._tag)

    def __exit__(self, *exc):
        self._sc.removeJobTag(self._tag)
