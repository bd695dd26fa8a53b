"""Per-layer tracing from outside the program.

``Tracer.install`` wraps every public function of the layer modules in
a span and rebinds the wrapper under every name the package imported
it as, so calls from other modules are covered too.  Spans stay in
memory; ``Tracer.op_metrics`` folds one operation's spans, py4j round
trips and Spark jobs into ``<layer>.<kind>`` totals.

Kinds per layer:

- ``calls``: span count.
- ``self_s``: span time minus the time of child spans on the same thread.
- ``py4j_calls``: ``send_command`` round trips made while the span was
  the innermost one open on the calling thread (a pool thread with no
  span of its own charges the main thread's innermost span), not
  counting the messages that release garbage-collected proxies.
- ``jobs``, ``tasks``, ``executor_cpu_s``, ``shuffle_mb``: Spark jobs
  charged to the span open when the job was submitted, with stage
  totals from the status store (``tasks`` counts the partitions of
  every stage that ran; ``shuffle_mb`` is shuffle write).
- ``worker_cpu_s``: CPU of the PySpark daemon and its Python workers,
  sampled at span boundaries and charged to the innermost span.
- ``iterations`` (``glm`` and ``cox`` only): ``n_iter`` of returned fits.

The pseudo-layer ``bench`` is the benchmark's own code around the layer
calls: it collects the results, so it runs the jobs of lazy frames a
layer returned (the jackknife's grouped pass, for one).
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import math
import statistics
import sys
import threading
import time
from collections import defaultdict

from proctree import cpu_seconds, tree, cmdline

LAYERS = ("simulation", "sampling", "glm", "propensity", "pseudoweights",
          "calibration", "calib_pipeline", "cox", "survival", "influence",
          "hazard_influence", "taylor", "method_suite", "dense_suite",
          "jackknife")
KINDS = ("calls", "self_s", "py4j_calls", "jobs", "tasks",
         "executor_cpu_s", "worker_cpu_s", "shuffle_mb")
ITERATION_LAYERS = ("glm", "cox")
UNITS = {"calls": "count", "self_s": "s", "py4j_calls": "count", "jobs": "count",
         "tasks": "count", "executor_cpu_s": "s", "worker_cpu_s": "s",
         "shuffle_mb": "MB", "iterations": "count"}
# names that read zero on every workload, left out of the report
ALWAYS_ZERO = frozenset({
    "simulation.jobs",
    "simulation.tasks",
    "simulation.executor_cpu_s",
    "simulation.worker_cpu_s",
    "simulation.shuffle_mb",
    "sampling.worker_cpu_s",
    "glm.worker_cpu_s",
    "propensity.worker_cpu_s",
    "calibration.worker_cpu_s",
    "cox.worker_cpu_s",
    "survival.worker_cpu_s",
    "survival.shuffle_mb",
    "influence.worker_cpu_s",
    "hazard_influence.worker_cpu_s",
    "taylor.worker_cpu_s",
    "dense_suite.worker_cpu_s",
    "jackknife.py4j_calls",
    "jackknife.jobs",
    "jackknife.tasks",
    "jackknife.executor_cpu_s",
    "jackknife.worker_cpu_s",
    "jackknife.shuffle_mb",
    "bench.worker_cpu_s",
})


def metric_names() -> list[str]:
    names = [f"{layer}.{kind}" for layer in LAYERS for kind in KINDS]
    names += [f"bench.{kind}" for kind in KINDS if kind != "calls"]
    names += [f"{layer}.iterations" for layer in ITERATION_LAYERS]
    return [n for n in names if n not in ALWAYS_ZERO] + ["op_s_traced"]


def per_layer(layer_ops: list[dict], op_s: list[float]) -> dict:
    """Per-operation means of the layer totals, plus the median wall
    time of a traced operation."""
    n = max(len(layer_ops), 1)
    out = {}
    for name in metric_names()[:-1]:
        value = sum(op.get(name, 0.0) for op in layer_ops) / n
        out[name] = {"value": value, "unit": UNITS[name.split(".", 1)[1]]}
    out["op_s_traced"] = {"value": statistics.median(op_s) if op_s else 0.0,
                          "unit": "s"}
    return out


# a round trip shorter than this cannot have waited for a Spark job
_SLOW_CALL_S = 0.001
# py4j's message releasing a Java object whose Python proxy was garbage
# collected: sent whenever the collector runs, so not charged to a span
_RELEASE = "m\nd\n"


class _Span:
    __slots__ = ("layer", "t0", "t1", "parent", "child_s", "py4j",
                 "w0", "child_w", "worker_s", "iters")

    def __init__(self, layer, parent, w0):
        self.layer = layer
        self.parent = parent
        self.t0 = time.time()
        self.t1 = math.inf
        self.child_s = 0.0
        self.py4j = 0
        self.w0 = w0
        self.child_w = 0.0
        self.worker_s = 0.0
        self.iters = 0


class Tracer:
    def __init__(self, package, layers):
        self.package = package
        self.layers = tuple(layers)
        self.active = False
        self._local = threading.local()
        self._main_stack: list[_Span] = []
        self._spans: list[_Span] = []
        self._slow_calls: list[tuple[float, float, _Span | None]] = []
        self._daemons: list[int] = []

    # -- installation -------------------------------------------------
    def install(self) -> None:
        """Wrap the layer functions and count py4j round trips."""
        import importlib

        from py4j.clientserver import ClientServerConnection

        mods = {layer: importlib.import_module(f"{self.package}.operators.{layer}")
                for layer in self.layers}
        wrapped = {}
        for layer, mod in mods.items():
            for name, fn in vars(mod).items():
                if (name.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != mod.__name__):
                    continue
                wrapped[id(fn)] = (fn, self._wrap(layer, fn))
        for mname, mod in list(sys.modules.items()):
            if mod is None or not mname.startswith(self.package):
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])

        send = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if not tracer.active or command.startswith(_RELEASE):
                return send(conn, command)
            t0 = time.time()
            try:
                return send(conn, command)
            finally:
                span = tracer._current()
                if span is not None:
                    span.py4j += 1
                t1 = time.time()
                if t1 - t0 >= _SLOW_CALL_S:
                    tracer._slow_calls.append((t0, t1, span))

        ClientServerConnection.send_command = send_command

    def _stack(self) -> list[_Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _current(self) -> _Span | None:
        st = self._stack() or self._main_stack
        return st[-1] if st else None

    def _wrap(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def span_wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            return tracer._run(layer, fn, args, kwargs)

        return span_wrapper

    def _run(self, layer, fn, args, kwargs):
        st = self._stack()
        span = _Span(layer, self._current(), self._worker_cpu())
        st.append(span)
        try:
            out = fn(*args, **kwargs)
        finally:
            st.pop()
            span.t1 = time.time()
            span.worker_s = self._worker_cpu() - span.w0
            if st:
                st[-1].child_s += span.t1 - span.t0
                st[-1].child_w += span.worker_s
            self._spans.append(span)
        n_iter = getattr(out, "n_iter", None)
        if layer in ITERATION_LAYERS and isinstance(n_iter, int):
            span.iters += n_iter
        return out

    @contextlib.contextmanager
    def root(self):
        """The ``bench`` span around one whole operation; spans, round
        trips and worker pids of the previous operation are dropped."""
        self._spans.clear()
        self._slow_calls.clear()
        self._daemons = [p for p in tree() if "pyspark.daemon" in cmdline(p)
                         and "pyspark.daemon" not in cmdline(_parent(p))]
        self._main_stack = self._stack()
        span = _Span("bench", None, self._worker_cpu())
        self._main_stack.append(span)
        self.active = True
        try:
            yield span
        finally:
            self.active = False
            self._main_stack.pop()
            span.t1 = time.time()
            self._spans.append(span)

    # -- python worker cpu -------------------------------------------
    def _worker_cpu(self) -> float:
        return cpu_seconds([p for d in self._daemons for p in tree(d)])

    # -- folding ------------------------------------------------------
    def op_metrics(self, sc, first_job: int) -> tuple[dict, int]:
        """Per-layer totals of the operation just traced, plus the next
        unseen job id.  Reads the status store; call it right after the
        operation, before the store evicts old jobs."""
        out = defaultdict(float)
        for s in self._spans:
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += (s.t1 - s.t0) - s.child_s
            out[f"{s.layer}.py4j_calls"] += s.py4j
            out[f"{s.layer}.worker_cpu_s"] += max(s.worker_s - s.child_w, 0.0)
            if s.layer in ITERATION_LAYERS:
                out[f"{s.layer}.iterations"] += s.iters
        jobs, stages = _status(sc)
        jobs = [j for j in jobs if j["jobId"] >= first_job]
        owner = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        by_job = defaultdict(lambda: [0, 0.0, 0.0])
        for st in stages:
            jid = owner.get(st["stageId"])
            if jid is None or st["status"] in ("SKIPPED", "PENDING"):
                continue
            acc = by_job[jid]
            acc[0] += st["numTasks"]
            acc[1] += st["executorCpuTime"] / 1e9
            acc[2] += st["shuffleWriteBytes"] / 1e6
        for j in jobs:
            span = self._owner_span(j.get("submissionTime"))
            if span is None:
                continue
            tasks, cpu, shuf = by_job[j["jobId"]]
            out[f"{span.layer}.jobs"] += 1
            out[f"{span.layer}.tasks"] += tasks
            out[f"{span.layer}.executor_cpu_s"] += cpu
            out[f"{span.layer}.shuffle_mb"] += shuf
        nxt = max([j["jobId"] + 1 for j in jobs], default=first_job)
        return dict(out), nxt

    def _owner_span(self, t_ms):
        """The span a job submitted at ``t_ms`` (epoch ms, truncated)
        belongs to: the latest-started slow py4j call in flight then, or
        failing that the latest-started span open then."""
        if t_ms is None:
            return None
        best = None
        for t0, t1, span in self._slow_calls:
            if math.floor(t0 * 1000) <= t_ms <= t1 * 1000 + 1:
                if best is None or t0 > best[0]:
                    best = (t0, span)
        if best is not None:
            return best[1]
        best_span = None
        for s in self._spans:
            if math.floor(s.t0 * 1000) <= t_ms <= s.t1 * 1000 + 1:
                if best_span is None or s.t0 > best_span.t0:
                    best_span = s
        return best_span


def _parent(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return int(stat[stat.rindex(")") + 2:].split()[1])
    except OSError:
        return 0


def _status(sc):
    """(jobs, stages) from the status store as plain dicts, in two
    round trips: Spark's own Jackson mapper serialises the lists."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = store.stageList(None, False, False,
                             getattr(store, "stageList$default$4")(), None)
    stages = json.loads(mapper.writeValueAsString(stages))
    last = {}
    for st in stages:
        prev = last.get(st["stageId"])
        if prev is None or st["attemptId"] > prev["attemptId"]:
            last[st["stageId"]] = st
    return jobs, list(last.values())
