"""Per-layer ledger for traced benchmark runs.

Two sources, neither of which instruments the program:

- ``Tracer`` wraps, at run time, every module-level function of the
  package's layers (``plans``, ``sources``, ``operators``, ``functions``,
  ``streaming``) and records a span for each call that crosses into a layer
  from outside it. Calls within one layer run unwrapped-through, so a
  layer's span covers its own helpers. Calls into ``functions/checkpoint.py``
  are counted wherever they come from. ``uninstall`` restores every
  original, so untraced passes run the program exactly as shipped.
- ``spark_ledger`` reads Spark's own job and stage counters from the
  session's live status store (always present, UI or not) and attributes
  each job to the operation, and the innermost span, that was active when
  the job was submitted.

A layer's self time is its span's duration minus the part covered by its
child spans. Where spans on several threads overlap (``run_medallion``
writes from a thread pool), each instant is split evenly between the spans
active in it, so the self times of one operation sum to at most its wall.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import pkgutil
import sys
import threading
import time
import types
from collections import Counter, defaultdict
from dataclasses import dataclass, field

PACKAGE = "yelp_etl_spark"
LAYERS = ("plans", "sources", "operators", "functions", "streaming")
CHECKPOINT_MODULE = f"{PACKAGE}.functions.checkpoint"
MEDALLION_LAYERS = ("bronze", "silver", "enriched", "gold")
BENCH_LAYER = "bench"  # the benchmark's own code between layer calls


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) >= 2 and parts[0] == PACKAGE and parts[1] in LAYERS:
        return parts[1]
    return None


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds, comparable with Spark's epoch-ms times
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans and counts around calls into the package's layers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.calls: Counter[str] = Counter()
        self.checkpoints = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_stack: list[int] | None = None
        self._patched: list[tuple[types.ModuleType, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif self._op_stack:  # first span on a pool thread: child of the op
            parent = self._op_stack[-1]
        else:
            parent = None
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, layer, time.time(), parent=parent))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def op(self, name: str) -> int:
        """Open the root span of one operation on the calling thread."""
        self.spans.clear()
        self.calls.clear()
        self.checkpoints = 0
        self._op_stack = self._stack()
        return self.begin(name, BENCH_LAYER)

    # -- wrapping --------------------------------------------------------

    def _wrap(self, fn: types.FunctionType, layer: str) -> types.FunctionType:
        tracer = self
        counts_checkpoint = fn.__module__ == CHECKPOINT_MODULE

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if counts_checkpoint:
                with tracer._lock:
                    tracer.checkpoints += 1
            stack = tracer._stack()
            if stack and tracer.spans[stack[-1]].layer == layer:
                return fn(*args, **kwargs)
            with tracer._lock:
                tracer.calls[layer] += 1
            idx = tracer.begin(fn.__qualname__, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        # PySpark inspects UDF callables with getfullargspec, which reads
        # __signature__ but does not follow __wrapped__.
        traced.__signature__ = inspect.signature(fn)
        return traced

    def install(self) -> None:
        """Wrap every layer function in every loaded package module."""
        pkg = importlib.import_module(PACKAGE)
        for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
            if not info.name.endswith(".__main__"):  # the CLI entry point
                importlib.import_module(info.name)
        wrapped: dict[int, types.FunctionType] = {}
        for mod_name, module in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE):
                continue
            for attr, obj in list(vars(module).items()):
                if not isinstance(obj, types.FunctionType):
                    continue
                layer = layer_of(obj.__module__)
                if layer is None or inspect.isgeneratorfunction(obj):
                    continue
                if id(obj) not in wrapped:
                    wrapped[id(obj)] = self._wrap(obj, layer)
                self._patched.append((module, attr, obj))
                setattr(module, attr, wrapped[id(obj)])

    def uninstall(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


# -- self time -------------------------------------------------------------


def _subtract(lo: float, hi: float, cuts: list[tuple[float, float]]):
    """Parts of [lo, hi] not covered by the (possibly overlapping) cuts."""
    out, pos = [], lo
    for a, b in sorted(cuts):
        a, b = max(a, lo), min(b, hi)
        if b <= pos:
            continue
        if a > pos:
            out.append((pos, a))
        pos = max(pos, b)
    if pos < hi:
        out.append((pos, hi))
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of wall attributed to each layer (see module docstring)."""
    segments = []  # (start, end, layer)
    for s in spans:
        cuts = [(spans[c].start, spans[c].end) for c in s.children]
        segments += [(a, b, s.layer) for a, b in _subtract(s.start, s.end, cuts)]
    events = sorted(
        [(a, 1, i) for i, (a, _, _) in enumerate(segments)]
        + [(b, -1, i) for i, (_, b, _) in enumerate(segments)]
    )
    out: dict[str, float] = defaultdict(float)
    active: set[int] = set()
    prev = None
    for t, kind, i in events:
        if active and prev is not None and t > prev:
            share = (t - prev) / len(active)
            for j in active:
                out[segments[j][2]] += share
        prev = t
        if kind > 0:
            active.add(i)
        else:
            active.discard(i)
    return dict(out)


def innermost_layer(spans: list[Span], t: float) -> str:
    """Layer of the most recently opened span active at epoch time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.layer if best else BENCH_LAYER


# -- Spark's own counters -----------------------------------------------------


class StatusStore:
    """JSON snapshots of the live application status store."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        listing = self._store.stageList(None, False, False, self._no_quantiles, self._empty)
        return json.loads(self._mapper.writeValueAsString(listing))


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def medallion_layer_walls(jobs: list[dict]) -> dict[str, float]:
    """Wall seconds per medallion layer, from the job descriptions
    ``run_medallion`` sets; untagged jobs after the tagged ones are gold."""
    spans: dict[str, list[tuple[float, float]]] = defaultdict(list)
    last_tagged = max(
        (j["submissionTime"] for j in jobs if (j.get("description") or "").startswith("medallion ")),
        default=None,
    )
    for j in jobs:
        desc = j.get("description") or ""
        interval = (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        if desc.startswith("medallion "):
            spans[desc.split()[1].rstrip(":")].append(interval)
        elif last_tagged is not None and j["submissionTime"] > last_tagged:
            spans["gold"].append(interval)
    return {layer: _union_s(spans[layer]) for layer in MEDALLION_LAYERS}


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    """Finished jobs submitted in [lo, hi] (epoch seconds)."""
    return [
        j for j in jobs
        if j.get("submissionTime") is not None
        and j.get("completionTime") is not None
        and lo * 1e3 <= j["submissionTime"] <= hi * 1e3
    ]


def spark_ledger(
    jobs: list[dict], stages: list[dict], lo: float, hi: float, spans: list[Span]
) -> dict:
    """Spark counters of the jobs and stages submitted in [lo, hi]
    (epoch seconds)."""
    mine = jobs_in(jobs, lo, hi)
    ran = [
        s for s in stages
        if s.get("status") == "COMPLETE"
        and lo * 1e3 <= (s.get("submissionTime") or 0) <= hi * 1e3
    ]
    intervals = [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3) for j in mine]
    busy = _union_s(intervals)
    extent = (
        max(b for _, b in intervals) - min(a for a, _ in intervals) if intervals else 0.0
    )
    jobs_by_layer = Counter(innermost_layer(spans, j["submissionTime"] / 1e3) for j in mine)
    batches = {
        tuple(line for line in (j.get("description") or "").splitlines()
              if line.startswith(("runId =", "batch =")))
        for j in mine
    }
    batches.discard(())

    def total(key: str) -> float:
        return float(sum(s.get(key) or 0 for s in ran))

    return {
        "jobs": len(mine),
        "stages": len(ran),
        "tasks": int(total("numCompleteTasks")),
        "job_gap_s": extent - busy,
        "executor_run_ms": total("executorRunTime"),
        "executor_cpu_ms": total("executorCpuTime") / 1e6,
        "gc_ms": total("jvmGcTime"),
        "shuffle_read_bytes": total("shuffleReadBytes"),
        "shuffle_write_bytes": total("shuffleWriteBytes"),
        "spill_bytes": total("memoryBytesSpilled") + total("diskBytesSpilled"),
        "bytes_read": total("inputBytes"),
        "bytes_written": total("outputBytes"),
        "jobs_by_layer": dict(jobs_by_layer),
        "stream_batches": len(batches),
        "medallion": medallion_layer_walls(mine),
    }


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning ms of ``df``'s plan.

    Called after the timed action: the action runs under its own
    QueryExecution, so forcing this one's physical plan re-plans the same
    query once more, outside the timed region."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)
