"""Span recorder for the traced run, wrapped around the program's layers
from outside (nothing under ``rfb_data_pipeline_spark/`` is edited).

``Tracer.install()`` replaces every public function of each traced
module with a wrapper that records a span: name, start, end, parent
span and operation id. Modules bind names in two ways, so the wrapper
goes on the defining module and on every loaded program module that
bound the same function object at top level (``from … import f``).
Calls resolved at call time through the module attribute see the
wrapper too.

Each span that enters a new layer also becomes a Spark job group, so
the jobs a layer launched are counted from the status tracker. Spans
stay in memory; ``dump`` writes them out at the end of the run. The
recorder keeps the time it spends on its own bookkeeping, which is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import sys
import threading
import time
import zipfile
from collections import defaultdict
from dataclasses import dataclass, field

PKG = "rfb_data_pipeline_spark"

# traced modules under the package; the module path is the layer name
LAYERS = (
    "pipeline.run", "pipeline.manifest", "pipeline.discovery", "pipeline.download",
    "pipeline.ingest", "pipeline.validate", "sources.rfb_csv", "sources.encoding",
    "normalize", "catalog", "memo", "plans.stage", "session",
    "operators.relational", "operators.events", "operators.dedup",
    "operators.similarity", "operators.text",
)


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.sc = None  # SparkContext used for job groups
        self.counters: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0  # time spent recording, not in the program
        self._stack: list[Span] = []
        self._main = threading.main_thread()

    # ---- span bookkeeping -------------------------------------------
    def _open(self, name: str, layer: str) -> Span | None:
        if not self.enabled or threading.current_thread() is not self._main:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(
            len(self.spans), name, layer, time.perf_counter(),
            parent=parent.sid if parent else None, op=self.op,
        )
        self.spans.append(span)
        self._stack.append(span)
        if self.sc is not None and (parent is None or parent.layer != layer):
            self.sc.setJobGroup(f"span-{span.sid}", name)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return span

    def _close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        if self.sc is not None and (parent is None or parent.layer != span.layer):
            tracker = self.sc.statusTracker()
            span.jobs = list(tracker.getJobIdsForGroup(f"span-{span.sid}"))
            group = self._group_of(parent)
            self.sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - span.end

    def _group_of(self, span: Span | None) -> str:
        while span is not None:
            if span.parent is None or self.spans[span.parent].layer != span.layer:
                return f"span-{span.sid}"
            span = self.spans[span.parent]
        return f"op-{self.op}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None):
        """A span opened by the benchmark itself."""
        span = self._open(name, layer or name.rsplit(".", 1)[0])
        try:
            yield span
        finally:
            self._close(span)

    def start_op(self, op_id: int) -> None:
        self.op = op_id
        if self.sc is not None and self.enabled:
            self.sc.setJobGroup(f"op-{op_id}", f"op-{op_id}")

    def op_jobs(self, op_id: int) -> list[int]:
        """Every Spark job launched during operation ``op_id``."""
        jobs = [j for s in self.spans if s.op == op_id for j in s.jobs]
        if self.sc is not None:
            jobs += list(self.sc.statusTracker().getJobIdsForGroup(f"op-{op_id}"))
        return jobs

    # ---- wrapping ----------------------------------------------------
    def _wrap(self, fn, layer: str, hook=None):
        name = f"{layer}.{fn.__name__}"
        tracer = self

        def wrapper(*args, **kwargs):
            span = tracer._open(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(span)
            if hook is not None and span is not None:
                hook(tracer, args, kwargs, out)
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = fn.__name__
        wrapper.__doc__ = fn.__doc__
        return wrapper

    def install(self, hooks: dict | None = None) -> None:
        """Wrap the public functions of every traced layer."""
        import importlib

        hooks = hooks or {}
        replaced: dict[int, object] = {}
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for attr, obj in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                ):
                    continue
                hook = hooks.get(f"{layer}.{attr}")
                if layer == "memo" and attr == "session_memo":
                    wrapped = self._wrap_memo(obj)
                else:
                    wrapped = self._wrap(obj, layer, hook)
                replaced[id(obj)] = wrapped
                setattr(mod, attr, wrapped)
        # names bound at top level by `from … import f` elsewhere
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (
                mod_name.startswith(PKG) or mod_name == "__spark_entry__"
            ):
                continue
            for attr, obj in list(vars(mod).items()):
                if id(obj) in replaced and getattr(mod, attr) is obj:
                    setattr(mod, attr, replaced[id(obj)])
        # archive extraction is inline code in run_month: time the
        # stdlib call it makes
        setattr(
            zipfile.ZipFile, "extractall",
            self._wrap(zipfile.ZipFile.extractall, "pipeline.run.extract"),
        )

    def _wrap_memo(self, fn):
        """session_memo: count lookups, and time the build callback,
        which runs only on a miss."""
        tracer = self
        inner = self._wrap(fn, "memo")

        def wrapper(cache, spark, sf_dir, tables, build, extra=()):
            if not tracer.enabled:
                return fn(cache, spark, sf_dir, tables, build, extra)
            tracer.counters["memo.lookups"] += 1

            def timed_build():
                tracer.counters["memo.misses"] += 1
                with tracer.span("memo.build", "memo.build"):
                    return build()

            return inner(cache, spark, sf_dir, tables, timed_build, extra)

        wrapper.__wrapped__ = fn
        return wrapper

    # ---- reports -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the part covered by its direct children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children[s.sid]])
            out[s.sid] = (s.end - s.start) - covered
        return out

    def _matching(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def busy(self, prefix: str) -> float:
        """Wall time covered by spans named ``prefix`` or ``prefix.*``."""
        return _union_length([(s.start, s.end) for s in self._matching(prefix)])

    def count(self, prefix: str) -> int:
        return len(self._matching(prefix))

    def jobs(self, prefix: str) -> int:
        return sum(len(s.jobs) for s in self._matching(prefix))

    def self_time(self, prefix: str) -> float:
        st = self.self_times()
        return sum(st[s.sid] for s in self._matching(prefix))

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, "self_s": selfs[s.sid],
                    "spark_jobs": len(s.jobs),
                }) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
