"""Operation recording, and the traced run's spans and Spark counters.

``Recorder`` times operations for the end-to-end run and does nothing
else. ``Tracer`` adds, for the traced run only:

* spans: one per operation, its ``plan`` and ``action`` phases, and one
  per call into a public ``renoir_spark`` function or method (wrapped
  from outside at start; the library is not edited);
* Spark counters per operation, read from Spark's own status stores
  after the listener bus is drained. A job belongs to the operation
  whose span contains its submission time: with one sequential client
  that is exact, and it also catches jobs that ``util.run_concurrent``
  threads submit without the caller's job-group properties.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import re
import threading
import time

from py4j.protocol import Py4JJavaError

LIB_MODULES = ("stream", "keyed", "window", "joins", "context", "suite",
               "datapipe", "prep", "multimodal", "iteration", "dedup_index",
               "ann_index", "util", "streaming", "nexmark")

PY_METRICS = {
    "time to start Python workers": "py.start_ms",
    "time to initialize Python workers": "py.init_ms",
    "time to run Python workers": "py.run_ms",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}
_UNITS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6, "B": 1.0,
          "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3}


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
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


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end] its children
    cover (children clipped to the parent; overlaps counted once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


class Op:
    __slots__ = ("id", "name", "kind", "items", "t0", "t1", "wall0",
                 "wall1", "output", "extra", "traced", "span")

    def __init__(self, op_id: int, name: str, kind: str, items: int):
        self.id, self.name, self.kind, self.items = op_id, name, kind, items
        self.output = None
        self.extra: dict = {}
        self.traced = False

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3


class Recorder:
    """Times each operation of the closed loop; no tracing."""

    tracing = False

    def __init__(self):
        self.ops: list[Op] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def op(self, name: str, kind: str, items: int = 1):
        op = Op(next(self._ids), name, kind, items)
        op.wall0 = time.time()
        op.t0 = time.perf_counter()
        yield op
        op.t1 = time.perf_counter()
        op.wall1 = time.time()
        self.ops.append(op)

    @contextlib.contextmanager
    def phase(self, name: str):
        yield


class Tracer(Recorder):
    """Recorder plus spans and per-operation Spark counters.

    ``enabled`` can be switched between operations, so one process can
    alternate traced and untraced passes and measure the overhead."""

    def __init__(self, spark):
        super().__init__()
        self.spark = spark
        self.enabled = True
        self.spans: list[dict] = []
        self._span_ids = itertools.count(1)
        self._local = threading.local()
        self._current_op: Op | None = None
        self._patched: list[tuple[object, str, object]] = []

    @property
    def tracing(self) -> bool:
        return self.enabled

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> tuple[int, int | None, float]:
        stack = self._stack()
        op = self._current_op
        parent = stack[-1] if stack else (op.span if op else None)
        sid = next(self._span_ids)
        stack.append(sid)
        return sid, parent, time.perf_counter()

    def _close(self, sid: int, parent, name: str, t0: float) -> None:
        self._stack().pop()
        op = self._current_op
        self.spans.append({"id": sid, "parent": parent,
                           "op": op.id if op else None, "name": name,
                           "start": t0, "end": time.perf_counter()})

    @contextlib.contextmanager
    def op(self, name: str, kind: str, items: int = 1):
        if not self.enabled:
            with super().op(name, kind, items) as op:
                yield op
            return
        with super().op(name, kind, items) as op:
            op.traced = True
            op.span = next(self._span_ids)
            self._current_op = op
            try:
                yield op
            finally:
                self._current_op = None
        self.spans.append({"id": op.span, "parent": None, "op": op.id,
                           "name": f"op:{name}", "start": op.t0,
                           "end": op.t1})

    @contextlib.contextmanager
    def phase(self, name: str):
        if not self.enabled or self._current_op is None:
            yield
            return
        sid, parent, t0 = self._open(name)
        try:
            yield
        finally:
            self._close(sid, parent, name, t0)

    # -- library wrappers ----------------------------------------------
    def _wrap(self, fn, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            if not tracer.enabled or tracer._current_op is None:
                return fn(*a, **kw)
            sid, parent, t0 = tracer._open(label)
            try:
                return fn(*a, **kw)
            finally:
                tracer._close(sid, parent, label, t0)

        return traced

    def install(self) -> None:
        """Wrap every public function and public method defined in the
        library's modules."""
        for mod_name in LIB_MODULES:
            mod = importlib.import_module(f"renoir_spark.{mod_name}")
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    self._patch(mod, attr, obj, f"{mod_name}.{attr}")
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._patch(obj, m, fn, f"{mod_name}.{attr}.{m}")

    def _patch(self, owner, attr: str, fn, label: str) -> None:
        self._patched.append((owner, attr, fn))
        setattr(owner, attr, self._wrap(fn, label))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- Spark counters ------------------------------------------------
    def spark_counters(self) -> dict[int, dict]:
        """Per traced op: job, stage and task counts, executor times,
        bytes, driver gap and Python-worker SQL metrics."""
        jvm = self.spark._jvm
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        traced = [o for o in self.ops if o.traced]
        out = {o.id: dict.fromkeys(
            ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
             "spark.task_cpu_ms", "spark.gc_ms", "spark.shuffle_write_bytes",
             "spark.shuffle_read_bytes", "spark.output_bytes",
             *PY_METRICS.values()), 0.0) for o in traced}
        spans: dict[int, list] = {o.id: [] for o in traced}

        def owner(ms: int):
            for o in traced:
                if o.wall0 * 1e3 <= ms <= o.wall1 * 1e3:
                    return o
            return None

        seen_stages: set[int] = set()
        for job in conv.asJava(store.jobsList(None)):
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            o = owner(sub.get().getTime())
            if o is None:
                continue
            end = job.completionTime()
            spans[o.id].append((sub.get().getTime(),
                                end.get().getTime() if end.isDefined() else o.wall1 * 1e3))
            c = out[o.id]
            c["spark.jobs"] += 1
            for sid in conv.asJava(job.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never ran (skipped): not in store
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                c["spark.stages"] += 1
                c["spark.tasks"] += st.numCompleteTasks()
                c["spark.task_ms"] += st.executorRunTime()
                c["spark.task_cpu_ms"] += st.executorCpuTime() / 1e6
                c["spark.gc_ms"] += st.jvmGcTime()
                c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                c["spark.output_bytes"] += st.outputBytes()
        for o in traced:
            out[o.id]["spark.driver_gap_ms"] = (
                o.wall1 - o.wall0) * 1e3 - union_length(spans[o.id])

        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql.executionsList()):
            o = owner(ex.submissionTime())
            if o is None:
                continue
            values = conv.asJava(sql.executionMetrics(ex.executionId()))
            graph = sql.planGraph(ex.executionId())
            for node in conv.asJava(graph.allNodes()):
                for m in conv.asJava(node.metrics()):
                    key = PY_METRICS.get(m.name())
                    if key:
                        out[o.id][key] += parse_metric(values.get(m.accumulatorId()))
        return out

    # -- output --------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Summed self time (ms) per span name over all traced ops."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            st = self_time(s["start"], s["end"], kids.get(s["id"], ()))
            out[s["name"]] = out.get(s["name"], 0.0) + st * 1e3
        return out

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


_METRIC_RE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric(text) -> float:
    """Value of a formatted SQL metric ("1.2 s", "81.9 KiB", or the
    'total (min, med, max ...)' form), in ms for times and bytes for
    sizes."""
    if not text:
        return 0.0
    line = str(text).split("\n")[-1]
    m = _METRIC_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
