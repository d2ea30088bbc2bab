"""Traced-run instrumentation, applied from outside the package.

Nothing here edits ``dbt_lab_spark``: the tracer replaces the public
functions and methods of the package's layer modules (and py4j's
``GatewayClient.send_command``) with timing wrappers, at every module
attribute that binds them, including names other modules bound with
``from x import f``.  Each wrapped call records one span.  Spark-side
numbers come from the UI REST API on localhost, streaming numbers from a
``StreamingQueryListener``, and Python-worker CPU from ``/proc``.
"""

from __future__ import annotations

import functools
import gc
import importlib
import inspect
import json
import os
import pkgutil
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime

# (module prefix, layer name).  Every public function defined in a
# matching module, and every public method of a public class defined
# there, is wrapped as a span named after the layer.
FUNCTION_LAYERS = [
    ("dbt_lab_spark.catalog", "catalog"),
    ("dbt_lab_spark.operators", "operators"),
    ("dbt_lab_spark.functions", "functions"),
    ("dbt_lab_spark.sql", "sql"),
    ("dbt_lab_spark.parser", "parser"),
    ("dbt_lab_spark.llm", "llm"),
    ("dbt_lab_spark.plans.ann", "plans.ann"),
]
SNAPSHOT_OPS = ("append", "merge", "delete_where", "read", "compact", "vacuum")
PROTOCOL_OPS = ("put_if_absent", "put", "read", "list", "stat", "delete", "exists")


@dataclass
class Span:
    sid: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float
    main: bool  # recorded on the thread that runs the operations


class Tracer:
    """In-memory span recorder.  ``enabled`` is flipped by the runner so
    the untraced and traced halves of a traced run share one process."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.op: int | None = None
        self.counters: dict[int | None, dict[str, float]] = defaultdict(
            lambda: defaultdict(float)
        )
        self._local = threading.local()
        self._main = threading.get_ident()
        self._next = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._gc_t0: float | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(
                Span(sid, parent, self.op, name, t0, t1,
                     threading.get_ident() == self._main)
            )

    @contextmanager
    def paused(self):
        """Record nothing inside: the benchmark's own work around an op."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def _gc_hook(self, phase: str, info: dict) -> None:
        """A ``python.gc`` span for each collection on the client thread:
        a pause in the client Python process that no other layer covers."""
        if not self.enabled or threading.get_ident() != self._main:
            return
        if phase == "start":
            self._gc_t0 = time.perf_counter()
        elif self._gc_t0 is not None:
            stack = self._stack()
            with self._lock:
                sid = self._next
                self._next += 1
            self.spans.append(Span(sid, stack[-1] if stack else None, self.op, "python.gc",
                                   self._gc_t0, time.perf_counter(), True))
            self._gc_t0 = None

    def count(self, key: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[self.op][key] += value

    def _wrap(self, fn, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out)
            return out

        return wrapper

    # -- patching ------------------------------------------------------
    def _set(self, owner: object, attr: str, value: object) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer function and rebind it everywhere."""
        originals: dict[int, object] = {}
        for prefix, layer in FUNCTION_LAYERS:
            for mod in _modules(prefix):
                for attr, val in list(vars(mod).items()):
                    if attr.startswith("_"):
                        continue
                    if inspect.isfunction(val) and val.__module__ == mod.__name__:
                        originals[id(val)] = self._wrap(val, layer)
                    elif inspect.isclass(val) and val.__module__ == mod.__name__:
                        self._wrap_class(val, lambda m, layer=layer: layer)
        for mod in list(sys.modules.values()):
            if not (getattr(mod, "__name__", "") or "").startswith("dbt_lab_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None:
                    self._set(mod, attr, w)

        from dbt_lab_spark.plans import snapshots

        self._wrap_class(
            snapshots.SnapshotTable,
            lambda m: f"snapshots.{m}" if m in SNAPSHOT_OPS else "snapshots.other",
        )
        protocols = [snapshots.CommitProtocol] + _subclasses(snapshots.CommitProtocol)
        for cls in protocols:
            for m in PROTOCOL_OPS:
                if m in vars(cls):
                    self._set(cls, m, self._wrap(
                        vars(cls)[m], f"protocol.{m}", self._protocol_hook(m)))

        from py4j.java_gateway import GatewayClient

        self._set(GatewayClient, "send_command",
                  self._wrap(GatewayClient.send_command, "py4j"))
        gc.callbacks.append(self._gc_hook)

    def _wrap_class(self, cls: type, name_of) -> None:
        for attr, raw in list(vars(cls).items()):
            if attr.startswith("_"):
                continue
            if isinstance(raw, staticmethod):
                self._set(cls, attr, staticmethod(self._wrap(raw.__func__, name_of(attr))))
            elif isinstance(raw, classmethod):
                self._set(cls, attr, classmethod(self._wrap(raw.__func__, name_of(attr))))
            elif inspect.isfunction(raw):
                self._set(cls, attr, self._wrap(raw, name_of(attr)))

    def _protocol_hook(self, m: str):
        def hook(args, kwargs, out):
            if m in ("put", "put_if_absent"):
                data = args[2] if len(args) > 2 else kwargs.get("data", b"")
                self.count("protocol.bytes_written", len(data or b""))
                if m == "put_if_absent":
                    self.count("protocol.cas_attempts")
                    self.count("protocol.cas_ok", 1.0 if out else 0.0)
            elif m == "read" and isinstance(out, (bytes, bytearray)):
                self.count("protocol.bytes_read", len(out))
        return hook

    def uninstall(self) -> None:
        if self._gc_hook in gc.callbacks:
            gc.callbacks.remove(self._gc_hook)
        for owner, attr, old in reversed(self._patched):
            setattr(owner, attr, old)
        self._patched.clear()


def _modules(prefix: str) -> list:
    mod = importlib.import_module(prefix)
    mods = [mod]
    if hasattr(mod, "__path__"):
        for info in pkgutil.walk_packages(mod.__path__, prefix + "."):
            mods.append(importlib.import_module(info.name))
    return mods


def _subclasses(cls: type) -> list[type]:
    out = []
    for sub in cls.__subclasses__():
        out.append(sub)
        out.extend(_subclasses(sub))
    return out


# ---------------------------------------------------------------------------
# span analysis
# ---------------------------------------------------------------------------

def layer_of(name: str) -> str:
    """Span name -> layer: ``snapshots.merge`` -> ``snapshots``."""
    for prefix in ("snapshots.", "protocol.", "workload.", "python."):
        if name.startswith(prefix):
            return prefix[:-1]
    return name


def op_breakdown(spans: list[Span]) -> dict:
    """Per-op analysis of main-thread spans: self time per layer, and
    the time and call count of each span name, counting only spans with
    no enclosing span of the same layer (so recursion and internal
    calls inside a layer are not counted twice)."""
    by_id = {s.sid: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            child_time[s.parent] += s.t1 - s.t0
    self_by_layer: dict[str, float] = defaultdict(float)
    outer_s: dict[str, float] = defaultdict(float)
    outer_n: dict[str, int] = defaultdict(int)
    for s in spans:
        self_by_layer[layer_of(s.name)] += (s.t1 - s.t0) - child_time[s.sid]
        layer = layer_of(s.name)
        p = by_id.get(s.parent) if s.parent is not None else None
        nested = False
        while p is not None:
            if layer_of(p.name) == layer:
                nested = True
                break
            p = by_id.get(p.parent) if p.parent is not None else None
        if not nested:
            outer_s[s.name] += s.t1 - s.t0
            outer_n[s.name] += 1
    return {"self": dict(self_by_layer), "time": dict(outer_s), "calls": dict(outer_n)}


def reconcile(spans: list[Span], wall: float, limit: float = 0.10) -> tuple[float, str | None]:
    """Check an op's main-thread spans against its wall time.

    The self times of the measured layers (wrapped package functions,
    py4j and the client process's garbage-collection pauses) must sum to
    the op's wall time to within ``limit``.  The runner's own spans, the
    root ``op`` and the ``workload.build`` and ``workload.exec`` phases,
    do not count: their self time is time no measured layer covers.  An
    op with no span of a package function or py4j fails too.  Returns
    (error share, problem or None)."""
    own = ("op", "workload")
    if not any(layer_of(s.name) not in own + ("python",) for s in spans):
        return 1.0, "no layer spans"
    covered = sum(v for k, v in op_breakdown(spans)["self"].items() if k not in own)
    err = abs(covered - wall) / wall if wall > 0 else 0.0
    if err > limit:
        return err, f"layers cover {covered:.3f}s of {wall:.3f}s"
    return err, None


# ---------------------------------------------------------------------------
# Spark UI REST API (localhost)
# ---------------------------------------------------------------------------

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode())


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.fromisoformat(s.replace("GMT", "+00:00")).timestamp()


PY_NODE = re.compile(r"Python|Pandas|InArrow")


def spark_rest(spark) -> dict:
    """Jobs, stages and SQL executions of this application."""
    sc = spark.sparkContext
    port = re.search(r":(\d+)/?$", sc.uiWebUrl or "")
    if not port:
        raise RuntimeError(f"no Spark UI url: {sc.uiWebUrl!r}")
    base = f"http://127.0.0.1:{port.group(1)}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages?details=false")
    sql = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=100000")
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _num(v) -> float:
    m = re.match(r"\s*([\d,\.]+)", str(v))
    return float(m.group(1).replace(",", "")) if m else 0.0


def attribute_spark(rest: dict, windows: list[tuple[int, str, float, float]]) -> dict:
    """Per-(op, phase) Spark metrics.  ``windows`` holds (op, phase,
    start, end) in epoch seconds; a job belongs to the window its
    submission time falls in (one client, so windows never overlap)."""
    stage_by_id = defaultdict(list)  # one entry per stage attempt
    for st in rest["stages"]:
        stage_by_id[st["stageId"]].append(st)

    def find(t: float):
        for w in windows:
            if w[2] - 0.002 <= t <= w[3] + 0.002:
                return w
        return None

    out: dict[tuple[int, str], dict] = defaultdict(lambda: defaultdict(float))
    job_op: dict[int, tuple[int, str]] = {}
    intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for job in rest["jobs"]:
        t = _epoch(job.get("submissionTime"))
        if t is None:
            continue
        w = find(t)
        if w is None:
            continue
        key = (w[0], w[1])
        job_op[job["jobId"]] = key
        m = out[key]
        m["jobs"] += 1
        end = _epoch(job.get("completionTime")) or t
        intervals[w[0]].append((t, end))
        for sid in job.get("stageIds", []):
            for st in stage_by_id.get(sid, []):
                if st.get("status") == "SKIPPED":
                    continue
                m["stages"] += 1
                m["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                m["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                m["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
                m["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                m["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
                m["input_mb"] += st.get("inputBytes", 0) / 1e6
    for ex in rest["sql"]:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        key = next((job_op[j] for j in ids if j in job_op), None)
        if key is None:
            continue
        nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
        feeds = defaultdict(list)
        for e in ex.get("edges", []):
            feeds[e["toId"]].append(e["fromId"])
        for nid, n in nodes.items():
            if not PY_NODE.search(n.get("nodeName", "")):
                continue
            rows = 0.0
            for child in feeds.get(nid, []):
                rows += sum(_num(mt["value"]) for mt in nodes.get(child, {}).get("metrics", [])
                            if mt["name"] == "number of output rows")
            out[key]["py_rows_in"] += rows
    wall = {}
    for op, iv in intervals.items():
        iv.sort()
        total, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        wall[op] = total
    return {"by_phase": {k: dict(v) for k, v in out.items()}, "job_wall": wall}


# ---------------------------------------------------------------------------
# streaming progress and Python-worker CPU
# ---------------------------------------------------------------------------

def make_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.events.append({
                "t": _epoch(p.timestamp.replace("Z", "+00:00")),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
                "state_rows": sum(so.numRowsTotal for so in (p.stateOperators or [])),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


_TICK = os.sysconf("SC_CLK_TCK")


def proc_tree_cpu(root_pid: int) -> float:
    """CPU seconds (own + reaped children) of every descendant of
    ``root_pid``: the Python workers and daemon under the JVM."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2:].split()
        pid = int(entry)
        parent[pid] = int(rest[1])
        cpu[pid] = sum(int(x) for x in rest[11:15]) / _TICK
    total = 0.0
    for pid in cpu:
        p = parent.get(pid)
        while p is not None and p > 1:
            if p == root_pid:
                total += cpu[pid]
                break
            p = parent.get(p)
    return total
