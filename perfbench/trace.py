"""Per-layer tracing from outside the engine.

``Tracer.install()`` wraps every public function of each layer module (and
the public methods of the classes those modules define) in a span, and
rebinds every reference the engine's own modules hold to them, so calls
from one layer into another are seen too. While a span is open its
thread's Spark job group is ``pb-<span id>``; the Spark event log then
says which layer fired each job. Spans are kept in memory and written as
JSONL at the end of the run.

``layer_metrics`` joins the spans with the event log into per-layer
counters: calls, self time, jobs, tasks, task time, shuffle-write bytes,
spill bytes and driver gap (self time that none of the layer's jobs
cover).
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass, field

# layer name -> module it wraps; "queries", "sink" and the streaming drain
# also get spans opened by the benchmark around its own calls
LAYER_MODULES = {
    "session": "sparsity_spark.session",
    "data": "sparsity_spark.data",
    "events": "sparsity_spark.events",
    "reshape": "sparsity_spark.reshape",
    "frame": "sparsity_spark.frame",
    "io": "sparsity_spark.io",
    "queries": "sparsity_spark.queries",
    "operators.dedup": "sparsity_spark.operators.dedup",
    "operators.graph": "sparsity_spark.operators.graph",
    "operators.skew": "sparsity_spark.operators.skew",
    "streaming.ingest": "sparsity_spark.streaming.ingest",
}
LAYERS = [*LAYER_MODULES, "sink"]
COUNTERS = [
    "calls",
    "self_s",
    "jobs",
    "tasks",
    "task_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "driver_gap_s",
]
GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    thread: int
    start: float
    end: float = 0.0
    group: str = ""


@dataclass
class Tracer:
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    main_thread: int = field(default_factory=threading.get_ident)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _main_top(self) -> Span | None:
        # a span opened on a callback thread (a streaming micro-batch) with
        # nothing open on that thread belongs under the main thread's
        # innermost open span; the stacks are only read here, never mutated
        with self._lock:
            opened = [s for s in self.spans if s.thread == self.main_thread and s.end == 0.0]
        return opened[-1] if opened else None

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _open(self, layer: str, name: str) -> tuple[Span, str | None]:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif threading.get_ident() != self.main_thread:
            parent = self._main_top()
        else:
            parent = None
        sid = next(self._ids)
        s = Span(
            id=sid,
            parent=parent.id if parent else None,
            layer=layer,
            name=name,
            thread=threading.get_ident(),
            start=time.time(),
            group=f"{GROUP_PREFIX}{sid}",
        )
        with self._lock:
            self.spans.append(s)
        stack.append(s)
        return s, _swap_job_group(s.group)

    def _close(self, s: Span, prev_group: str | None) -> None:
        _restore_job_group(prev_group)
        s.end = time.time()
        self._stack().pop()

    # -- wrapping ------------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            s, prev = tracer._open(layer, name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(s, prev)

        wrapper.__pb_wrapped__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap the layer modules' public functions and class methods and
        rebind every module-level reference to them in the engine."""
        replaced: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "__pb_wrapped__"):
                    w = self._wrap(layer, f"{attr}", obj)
                    replaced[id(obj)] = w
                    setattr(mod, attr, w)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if m.startswith("_") or not inspect.isfunction(fn):
                            continue
                        if hasattr(fn, "__pb_wrapped__"):
                            continue
                        setattr(obj, m, self._wrap(layer, f"{attr}.{m}", fn))
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (
                modname.startswith("sparsity_spark") or modname == "__spark_entry__"
            ):
                continue
            for attr, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None:
                    setattr(mod, attr, w)

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name
        self._s = None

    def __enter__(self):
        if self.tracer.enabled:
            self._s = self.tracer._open(self.layer, self.name)
        return self

    def __exit__(self, *exc):
        if self._s is not None:
            self.tracer._close(*self._s)
        return False


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def _swap_job_group(group: str) -> str | None:
    sc = _spark_context()
    if sc is None:
        return None
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    return prev


def _restore_job_group(prev: str | None) -> None:
    sc = _spark_context()
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", prev)


# --------------------------------------------------------------------- #
# event log → jobs                                                      #
# --------------------------------------------------------------------- #


@dataclass
class Job:
    id: tuple[str, int]
    group: str
    start: float
    end: float
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks_failed: int = 0


def read_event_logs(paths: list[str]) -> list[Job]:
    """Jobs with their task counters from Spark JSON event logs (one file
    per application). A stage's tasks are charged to the first job that
    lists the stage."""
    jobs: list[Job] = []
    for app, path in enumerate(sorted(paths)):
        by_id: dict[int, Job] = {}
        stage_job: dict[int, Job] = {}
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(
                    id=(str(app), ev["Job ID"]),
                    group=props.get("spark.jobGroup.id") or "",
                    start=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                )
                by_id[ev["Job ID"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, j)
                jobs.append(j)
            elif kind == "SparkListenerJobEnd":
                j = by_id.get(ev["Job ID"])
                if j is not None:
                    j.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = stage_job.get(ev.get("Stage ID"))
                if j is None:
                    continue
                j.tasks += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if reason != "Success":
                    j.tasks_failed += 1
                m = ev.get("Task Metrics") or {}
                j.task_s += m.get("Executor Run Time", 0) / 1000.0
                j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                j.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs


def event_log_files(directory: str) -> list[str]:
    return [p for p in glob.glob(f"{directory}/*") if not p.endswith(".inprogress")]


# --------------------------------------------------------------------- #
# spans + jobs → layers                                                 #
# --------------------------------------------------------------------- #


def _subtract(base: tuple[float, float], cuts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``base`` minus the union of ``cuts``, as disjoint intervals."""
    out, pos = [], base[0]
    for s, e in sorted(cuts):
        s, e = max(s, base[0]), min(e, base[1])
        if e <= s:
            continue
        if s > pos:
            out.append((pos, s))
        pos = max(pos, e)
    if pos < base[1]:
        out.append((pos, base[1]))
    return out


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Per span: its interval minus what its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: _subtract((s.start, s.end), [(c.start, c.end) for c in children.get(s.id, [])])
        for s in spans
    }


def attribute_jobs(spans: list[Span], jobs: list[Job], main_thread: int | None = None) -> dict[int, list[Job]]:
    """Span id -> the jobs it fired. A job whose group names a span goes to
    that span; any other job (e.g. fired by a streaming query's own thread)
    goes to the innermost main-thread span open when it was submitted, and
    is dropped if none was."""
    by_group = {s.group: s for s in spans}
    main = [s for s in spans if main_thread is None or s.thread == main_thread]
    out: dict[int, list[Job]] = {}
    for j in jobs:
        s = by_group.get(j.group)
        if s is None:
            live = [m for m in main if m.start <= j.start <= m.end]
            if not live:
                continue
            s = max(live, key=lambda m: m.start)
        out.setdefault(s.id, []).append(j)
    return out


def layer_metrics(spans: list[Span], jobs: list[Job], main_thread: int | None = None) -> dict[str, dict[str, float]]:
    """``{layer: {counter: value}}`` for every layer in LAYERS."""
    out = {layer: {c: 0 for c in COUNTERS} for layer in LAYERS}
    by_id = {s.id: s for s in spans}
    own = self_intervals(spans)
    fired = attribute_jobs(spans, jobs, main_thread)
    layer_jobs: dict[str, list[Job]] = {}
    for sid, js in fired.items():
        layer_jobs.setdefault(by_id[sid].layer, []).extend(js)
    for s in spans:
        row = out.setdefault(s.layer, {c: 0 for c in COUNTERS})
        parent = by_id.get(s.parent) if s.parent is not None else None
        if parent is None or parent.layer != s.layer:
            row["calls"] += 1
        mine = own[s.id]
        row["self_s"] += sum(e - b for b, e in mine)
        covered = [(j.start, j.end) for j in layer_jobs.get(s.layer, [])]
        for b, e in mine:
            row["driver_gap_s"] += sum(y - x for x, y in _subtract((b, e), covered))
    for layer, js in layer_jobs.items():
        row = out[layer]
        row["jobs"] += len(js)
        for j in js:
            row["tasks"] += j.tasks
            row["task_s"] += j.task_s
            row["shuffle_write_bytes"] += j.shuffle_write_bytes
            row["spill_bytes"] += j.spill_bytes
    return out
