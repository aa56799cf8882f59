"""Spans around calls into the engine's layers, with Spark's own counts.

A traced run patches each layer's public functions (``LAYER_CALLS``)
with a wrapper that opens a span; the benchmark marks the action that
materialises a lazy call with ``sink``. Spans live in memory and are
written out once at the end of the run. Nothing in ``gelos_spark``
changes; the patches exist only inside the benchmark process.

Counts come from three places, read through py4j:
  - the SQL status store: each span sets the Spark job description to
    its id, so every SQL execution is charged to the innermost span
    that started it; its plan graph gives exchange rows and bytes,
    spill, Python worker time and Arrow bytes, and join output rows;
  - ``CodeGenerator.compileTime`` and ``CodegenMetrics`` (compile
    count), sampled at every span boundary and charged the same way;
  - wall time from ``time.perf_counter``.

Spark is lazy, so a lazy call's span holds planning and driver work
(the AOI cover build, for one) and its execution lands in the sink
span that follows; an eager call's span holds its execution.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "cell_udfs",
    "pip_join",
    "knn_join",
    "snapshot",
    "checkpoint",
    "images",
    "dedup.pairs",
    "dedup.components",
    "dedup.near",
)

FIELDS = (
    "wall_s",
    "self_s",
    "actions",
    "exchange_records",
    "exchange_bytes",
    "spill_bytes",
    "codegen_compiles",
    "codegen_ms",
    "python_init_ms",
    "python_run_ms",
    "arrow_bytes_to_py",
    "arrow_bytes_from_py",
)

UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "actions": "count",
    "exchange_records": "count",
    "exchange_bytes": "B",
    "spill_bytes": "B",
    "codegen_compiles": "count",
    "codegen_ms": "ms",
    "python_init_ms": "ms",
    "python_run_ms": "ms",
    "arrow_bytes_to_py": "B",
    "arrow_bytes_from_py": "B",
}

# counters charged to a span (everything but the two times)
COUNTERS = FIELDS[2:] + ("join_rows",)

# status-store metric name -> (plan node it must come from, None for any;
# the span counter it adds to)
_NODE_METRICS = {
    "shuffle records written": ("Exchange", "exchange_records"),
    "shuffle bytes written": ("Exchange", "exchange_bytes"),
    "spill size": (None, "spill_bytes"),
    "time to start Python workers": (None, "python_init_ms"),
    "time to initialize Python workers": (None, "python_init_ms"),
    "time to run Python workers": (None, "python_run_ms"),
    "data sent to Python workers": (None, "arrow_bytes_to_py"),
    "data returned from Python workers": (None, "arrow_bytes_from_py"),
}

_SIZE_UNITS = {"B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40, "PiB": 2.0**50}
_TIME_UNITS_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}

_DESC = "perfbench-span-"


def parse_metric(text: str) -> float:
    """A status-store metric string as a number: sizes in bytes,
    timings in ms, counts as is. Handles the single-task form
    ``"5.7 s"``, the per-stage form ``"10.7 MiB (1.0 MiB, ...)"``, its
    ``"total (min, med, max ...)\\n"`` header and ``"199,888"``."""
    s = text.strip()
    if s.startswith("total (") and "\n" in s:
        s = s.split("\n", 1)[1].strip()
    head = s.split(" (", 1)[0].split()
    if not head:
        raise ValueError(f"empty metric value {text!r}")
    value = float(head[0].replace(",", ""))
    if len(head) == 1:
        return value
    unit = head[1]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS_MS:
        return value * _TIME_UNITS_MS[unit]
    raise ValueError(f"unknown metric unit {unit!r} in {text!r}")


def _iter(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Span recorder for one Spark session. Inactive until ``op`` is
    entered with ``traced=True``; inactive spans cost one flag test."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = spark._jvm
        self._compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._seen_executions = self._store.executionsCount()
        self.active = False
        self.spans: list[dict] = []
        self.facts: dict[int, dict] = defaultdict(dict)
        #: seconds per op spent in span bookkeeping (py4j reads, job labels)
        self.bookkeeping_s: dict[int, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._last_codegen: tuple[int, int] | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._op: int | None = None
        self._t0 = time.perf_counter()

    # ------------------------------------------------------- patching

    def install(self, targets) -> None:
        """Wrap ``(owner, attribute, layer)`` targets in spans."""
        for owner, attr, layer in targets:
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, layer))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    # ---------------------------------------------------------- spans

    def _charge_codegen(self) -> None:
        now = (int(self._compiles.getCount()), int(self._compile_ns.compileTime()))
        if self._stack and self._last_codegen is not None:
            top = self._stack[-1]
            top["codegen_compiles"] += now[0] - self._last_codegen[0]
            top["codegen_ms"] += (now[1] - self._last_codegen[1]) / 1e6
        self._last_codegen = now

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        if not self.active:
            yield None
            return
        t_in = time.perf_counter()
        self._charge_codegen()
        parent = self._stack[-1]["id"] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": parent,
            "op": self._op,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        s.update(dict.fromkeys(COUNTERS, 0))
        s["codegen_ms"] = 0.0
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{_DESC}{s['id']}")
        self.bookkeeping_s[self._op] += time.perf_counter() - t_in
        try:
            yield s
        finally:
            t_out = time.perf_counter()
            self._charge_codegen()
            s["end"] = t_out - self._t0
            self._stack.pop()
            self.sc.setJobDescription(f"{_DESC}{self._stack[-1]['id']}" if self._stack else None)
            self.bookkeeping_s[self._op] += time.perf_counter() - t_out

    def sink(self, layer: str):
        """Span for the action that executes a lazy ``layer`` call."""
        return self.span(layer, kind="sink")

    def phase(self, name: str):
        """Span for a part of an op that is not a layer (resume, say)."""
        return self.span(name, kind="phase")

    @contextmanager
    def op(self, op_id: int, traced: bool):
        self._op = op_id
        self.active = traced
        try:
            with self.span("op", kind="op"):
                yield
        finally:
            self.active = False

    def note(self, op_id: int, key: str, value: float) -> None:
        """A per-op fact the checks found (rows assigned, pairs kept)."""
        self.facts[op_id][key] = value

    # ----------------------------------------------- status store reads

    def collect(self) -> None:
        """Charge every SQL execution finished since the last call to
        the span named in its description. Call outside timed regions."""
        self._bus.waitUntilEmpty(60_000)
        count = self._store.executionsCount()
        if count <= self._seen_executions:
            return
        for e in _iter(self._store.executionsList(self._seen_executions, count - self._seen_executions)):
            desc = e.description() or ""
            if not desc.startswith(_DESC):
                continue
            span = self.spans[int(desc[len(_DESC):])]
            summary = self._execution_counts(e.executionId())
            if e.rootExecutionId() == e.executionId():
                span["actions"] += 1
            for k, v in summary.items():
                span[k] += v
        self._seen_executions = count

    def _execution_counts(self, execution_id: int) -> dict[str, float]:
        values = self._store.executionMetrics(execution_id)
        out: dict[str, float] = defaultdict(float)
        join_rows = 0.0
        for node in _iter(self._store.planGraph(execution_id).allNodes()):
            name = node.name()
            for m in _iter(node.metrics()):
                mname = m.name()
                hit = _NODE_METRICS.get(mname)
                is_join = "Join" in name and mname == "number of output rows"
                if hit is None and not is_join:
                    continue
                raw = values.get(m.accumulatorId())
                if raw.isEmpty():
                    continue
                v = parse_metric(raw.get())
                if is_join:
                    # a PIP plan stacks two 1:1 joins; the widest is the
                    # candidate count
                    join_rows = max(join_rows, v)
                elif hit[0] is None or hit[0] == name:
                    out[hit[1]] += v
        out["join_rows"] = join_rows
        return out

    # ------------------------------------------------------ summaries

    def _op_spans(self, op_id: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op_id]

    def op_layers(self, op_id: int) -> dict[str, dict[str, float]]:
        """Per-layer totals for one op. ``wall_s`` counts only the
        outermost span of a layer; ``self_s`` subtracts child spans."""
        spans = self._op_spans(op_id)
        by_id = {s["id"]: s for s in spans}
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = {layer: dict.fromkeys(FIELDS + ("join_rows",), 0.0) for layer in LAYERS}
        for s in spans:
            if s["name"] not in out:
                continue
            acc = out[s["name"]]
            dur = s["end"] - s["start"]
            p = by_id.get(s["parent"])
            while p is not None and p["name"] != s["name"]:
                p = by_id.get(p["parent"])
            if p is None:
                acc["wall_s"] += dur
            acc["self_s"] += dur - child_time[s["id"]]
            for k in COUNTERS:
                acc[k] += s[k]
        return out

    def subtree(self, op_id: int, name: str) -> dict[str, float]:
        """Wall time and summed counters of the spans named ``name`` in
        one op, including everything nested under them."""
        spans = self._op_spans(op_id)
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)
        out = dict.fromkeys(("wall_s",) + COUNTERS, 0.0)
        for root in (s for s in spans if s["name"] == name):
            out["wall_s"] += root["end"] - root["start"]
            todo = [root]
            while todo:
                s = todo.pop()
                for k in COUNTERS:
                    out[k] += s[k]
                todo.extend(kids[s["id"]])
        return out

    def dump(self) -> dict:
        return {
            "spans": self.spans,
            "facts": {str(k): v for k, v in self.facts.items()},
            "bookkeeping_s": {str(k): v for k, v in self.bookkeeping_s.items()},
        }
