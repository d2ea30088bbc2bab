#!/usr/bin/env python3
"""The repository benchmark: one workload, one closed-loop client.

    python3 perfbench/run.py --workload query --seed 1 --seconds 24 --trace 0

Runs from the root of a checkout.  It generates its input tables under
``.perfbench/data`` (once; they are cached), then sets up: it starts a
Spark session on ``local[N]`` (N = min(4, cores)), makes the workload's
catalog ready and runs one untimed warm-up pass (``setup_s`` counts all
of it from process start).  Then it runs as many whole timed passes over
the workload's operations as fit in ``--seconds`` at the workload's
nominal pass time, then one untimed pass that checks every result, and
prints one JSON object as the last line of standard output.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs timed
passes untraced, traced, then untraced again, reports the per-layer
metrics of the traced passes and the tracing overhead, and fails if an
operation's time is not covered by the layers' spans.

Exit status: 0 when every operation succeeded and returned a correct
result, 1 when any did not, 2 when the program could not be run.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query", "table_rw")
CORES = min(4, os.cpu_count() or 1)  # Spark runs on local[CORES]
DEFAULT_SF = 0.01


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb table_rw's expected checksums (self-test)")
    return ap.parse_args(argv)


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples beyond it): the highest whole
    percentile above the median with at least ten samples beyond it;
    the median itself when there is none (fewer than 21 samples)."""
    xs = sorted(values)
    n = len(xs)
    for p in range(99, 50, -1):
        k = n * p // 100
        if n - k - 1 >= 10:
            return xs[k], p, n - k - 1
    return statistics.median(xs), 50, n // 2


def rss_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_steal_s() -> float:
    """CPU time a hypervisor has taken from this host since boot (the
    steal column of /proc/stat): time other tenants cost the run."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def setup_env(work: str, cores: int) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and make the package importable by Python workers."""
    import tempfile

    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Every JVM, the spark-submit launcher's too: no hsperfdata under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Context:
    """What an operation sees: the session, the data, the tracer."""

    def __init__(self, tracer, data_dir: str, work: str) -> None:
        self.spark = None
        self.tracer = tracer
        self.data_dir = data_dir
        self.work = work
        self.marks: list[tuple[str, float]] = []
        self.deferred: list = []  # callables returning a files-read ratio
        self._duck = None

    def mark(self, phase: str) -> None:
        self.marks.append((phase, time.time()))

    def defer(self, fn) -> None:
        """Run ``fn`` after the operation, outside its timing, untraced
        (traced runs only); it returns a ``snapshots.files_read_ratio``."""
        if self.tracer.enabled:
            self.deferred.append(fn)

    def duck(self):
        if self._duck is None:
            from tests.oracle import duckdb_connect

            self._duck = duckdb_connect(self.data_dir)
        return self._duck


class Bench:
    def __init__(self, args: argparse.Namespace, work: str, data_dir: str, conf: dict) -> None:
        self.args = args
        self.cores = CORES
        self.conf = conf
        self.tracer = tracing.Tracer()
        self.ctx = Context(self.tracer, data_dir, work)
        self.wl = workloads.make(args.workload, args.seed, args.corrupt_expected)
        self.records: list[dict] = []
        self.errors: list[str] = []
        self.windows: list[tuple[int, str, float, float]] = []
        self.op_extra: dict[int, dict[str, float]] = {}
        self.files_read: list[float] = []
        self.listener = None
        self.jvm_pid = None

    # -- session -----------------------------------------------------------
    def start_session(self):
        from dbt_lab_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> dict:
        """Start the session and make the workload's catalog ready, then
        run one untimed warm-up pass.  ``setup_s`` counts from process
        start (imports, JVM launch) to the end of the warm-up pass."""
        self.ctx.spark = self.start_session()
        session = time.time() - T_PROCESS
        self.wl.prepare(self.ctx)
        ready = time.time() - T_PROCESS
        self.jvm_pid = int(self.ctx.spark._jvm.java.lang.ProcessHandle.current().pid())
        warmup = self.run_pass("warmup", -1)
        return {"session_s": session, "ready_s": ready, "warmup_s": warmup,
                "setup_s": ready + warmup}

    def close(self) -> None:
        """Stop Spark and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.ctx.spark is not None:
            self.ctx.spark.stop()
            self.ctx.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- operations ----------------------------------------------------------
    def run_op(self, op, phase: str, pass_no: int, verify: bool = False) -> dict:
        """Run one operation.  Its latency covers ``op.run`` only; its
        inputs are made before and its outcome checked after, untraced."""
        tr, ctx = self.tracer, self.ctx
        idx = len(self.records)
        traced = tr.enabled
        extra: dict[str, float] = {}
        err = inputs = outcome = None
        try:
            with tr.paused():
                inputs = op.prepare(ctx) if op.prepare else None
        except Exception as exc:
            err = f"prepare: {type(exc).__name__}: {str(exc)[:300]}"
        # before tr.op is set: its py4j call is outside the op's wall time
        ctx.spark.sparkContext.setJobGroup(f"op-{idx}", f"{op.name} pass {pass_no}")
        if traced:
            tr.op = idx
            cpu0 = tracing.proc_tree_cpu(self.jvm_pid)
            bytes0 = self.wl.storage_bytes()
        ctx.marks = []
        w0 = time.time()
        t0 = time.perf_counter()
        if err is None:
            try:
                with tr.span("op"):
                    outcome = op.run(ctx, inputs, verify)
            except Exception as exc:  # one failed operation must not end the run
                err = f"{type(exc).__name__}: {str(exc)[:300]}"
        wall = time.perf_counter() - t0
        w1 = time.time()
        if err is None:
            try:
                with tr.paused():
                    err = op.check(inputs, outcome) if op.check else outcome
            except Exception as exc:
                err = f"check: {type(exc).__name__}: {str(exc)[:300]}"
        if traced:
            tr.op = None
            extra["pyworker.cpu_s"] = tracing.proc_tree_cpu(self.jvm_pid) - cpu0
            b1 = self.wl.storage_bytes()
            if bytes0 is not None and op.kind == "write":
                extra["storage.bytes_written"] = max(0, b1 - bytes0)
            with tr.paused():
                self.files_read += [fn() for fn in ctx.deferred]
            bounds = [m[1] for m in ctx.marks] + [w1]
            if ctx.marks:
                for (ph, s), e in zip(ctx.marks, bounds[1:]):
                    self.windows.append((idx, ph, s, e))
            else:
                self.windows.append((idx, "table", w0, w1))
            self.op_extra[idx] = extra
        ctx.deferred = []
        rec = {"name": op.name, "kind": op.kind, "phase": phase, "pass": pass_no,
               "s": wall, "t0": w0, "t1": w1, "err": err}
        if err is not None:
            self.errors.append(f"{op.name}: {err}")
        self.records.append(rec)
        return rec

    def run_pass(self, phase: str, pass_no: int) -> float:
        """One pass over the operation list; its time is the sum of the
        operations' latencies."""
        return sum(self.run_op(op, phase, pass_no)["s"] for op in self.wl.pass_ops())

    def run_passes(self, phase: str, seconds: float, first_pass: int) -> list[float]:
        """Whole passes, closed loop: as many as fit in ``seconds`` at the
        workload's nominal pass time, at least one.  The count depends on
        ``seconds`` only, so every run of a workload does the same work."""
        n = max(1, int(seconds // self.wl.pass_seconds))
        return [self.run_pass(phase, first_pass + k) for k in range(n)]

    def verify(self, phase: str) -> None:
        """The untimed pass after timing that checks every result."""
        for op in self.wl.verify_ops():
            self.run_op(op, phase, -2, verify=True)

    # -- the run ---------------------------------------------------------------
    def run(self) -> dict:
        args = self.args
        out: dict = {"setup": self.setup()}
        if args.trace:
            # Untraced, traced, untraced: the overhead ratio compares the
            # traced passes with untraced ones on both sides of them, so
            # warm-up drift and table growth cancel out.
            half = args.seconds / 2
            out["passes"] = self.run_passes("timed", half, 0)
            self.listener = tracing.make_listener()
            self.ctx.spark.streams.addListener(self.listener)
            self.trace_on()
            out["traced_passes"] = self.run_passes("traced", half, len(out["passes"]))
            self.trace_off()
            out["passes"] += self.run_passes(
                "timed", half, len(out["passes"]) + len(out["traced_passes"]))
            if self.wl.trace_verify:
                self.trace_on()
                self.verify("traced")
                self.trace_off()
            else:
                self.verify("verify")
            out["table"] = self.wl.summary(self.ctx)
            out["layers"] = self.finish_trace(out)
        else:
            steal0 = host_steal_s()
            out["passes"] = self.run_passes("timed", args.seconds, 0)
            out["steal_s"] = host_steal_s() - steal0
            self.verify("verify")
            out["table"] = self.wl.summary(self.ctx)
        out["peak_rss_mb"] = rss_hwm_mb("self") + rss_hwm_mb(self.jvm_pid)
        return out

    # -- tracing -----------------------------------------------------------
    def trace_on(self) -> None:
        self.tracer.install()
        self.tracer.enabled = True

    def trace_off(self) -> None:
        self.tracer.enabled = False
        self.tracer.uninstall()

    def finish_trace(self, out: dict) -> dict:
        self.trace_off()
        time.sleep(1.0)  # let the listener bus and the UI store catch up
        self.ctx.spark.streams.removeListener(self.listener)
        rest = tracing.spark_rest(self.ctx.spark)
        return layer_metrics(self, rest, out)


def layer_metrics(bench: Bench, rest: dict, out: dict) -> dict:
    """Per-layer metrics of the traced passes, per pass (mean)."""
    recs = [(i, r) for i, r in enumerate(bench.records) if r["phase"] == "traced"]
    spark_by = tracing.attribute_spark(rest, bench.windows)
    spans_by_op: dict[int, list] = {}
    for s in bench.tracer.spans:
        spans_by_op.setdefault(s.op, []).append(s)

    totals: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        totals[key] = totals.get(key, 0.0) + v

    recon_err = 0.0
    problems = []
    groups: dict[str, dict[str, float]] = {}
    for i, r in recs:
        spans = spans_by_op.get(i, [])
        err, problem = tracing.reconcile([s for s in spans if s.main], r["s"])
        recon_err = max(recon_err, err)
        if problem:
            problems.append(f"op {i} ({r['name']}): {problem}")
        bd = tracing.op_breakdown(spans)
        g = groups.setdefault(workloads.group_of(r["name"]) if r["kind"] == "query" else "table", {})
        for key, v in (("wall_s", r["s"]), ("build_s", bd["time"].get("workload.build", 0.0)),
                       ("exec_s", bd["time"].get("workload.exec", 0.0)),
                       ("snapshots_s", sum(v for k, v in bd["time"].items()
                                           if k.startswith("snapshots.")))):
            g[key] = g.get(key, 0.0) + v
        for name, v in bd["time"].items():
            add(f"{name}.s", v)
        for name, v in bd["calls"].items():
            add(f"{name}.calls", v)
        for k, v in bench.tracer.counters.get(i, {}).items():
            add(k, v)
        for k, v in bench.op_extra.get(i, {}).items():
            add(k, v)
        for ph in ("build", "exec", "table"):
            m = spark_by["by_phase"].get((i, ph), {})
            if ph in ("build", "exec"):
                add(f"workload.{ph}_jobs", m.get("jobs", 0))
            for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                      "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
                add(f"spark.{k}", m.get(k, 0.0))
            add("pyworker.rows_in", m.get("py_rows_in", 0.0))
        add("job_wall", spark_by["job_wall"].get(i, 0.0))
        for ev in bench.listener.events:
            if ev["t"] is not None and r["t0"] - 0.002 <= ev["t"] <= r["t1"] + 0.002:
                ms = ev["ms"]
                g["trigger_s"] = g.get("trigger_s", 0.0) + ms.get("triggerExecution", 0) / 1e3
                add("streaming.batches", 1)
                add("streaming.no_data_batches", 1 if ev["rows"] == 0 else 0)
                add("streaming.input_rows", ev["rows"])
                add("streaming.state_rows", ev["state_rows"])
                for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                                  ("commitOffsets", "commit_offsets_s"),
                                  ("walCommit", "wal_commit_s"), ("queryPlanning", "planning_s")):
                    add(f"streaming.{name}", ms.get(key, 0) / 1e3)

    n_pass = max(1, len(out["traced_passes"]))
    per = {k: v / n_pass for k, v in totals.items()}
    m: dict[str, float] = {}
    m["workload.build_s"] = per.get("workload.build.s", 0.0)
    m["workload.exec_s"] = per.get("workload.exec.s", 0.0)
    m["workload.build_jobs"] = per.get("workload.build_jobs", 0.0)
    m["workload.exec_jobs"] = per.get("workload.exec_jobs", 0.0)
    m["py4j.calls"] = per.get("py4j.calls", 0.0)
    m["py4j.s"] = per.get("py4j.s", 0.0)
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"):
        m[f"spark.{k}"] = per.get(f"spark.{k}", 0.0)
    wall = per.get("job_wall", 0.0)
    m["spark.core_util"] = m["spark.executor_run_s"] / (bench.cores * wall) if wall else 0.0
    m["pyworker.cpu_s"] = per.get("pyworker.cpu_s", 0.0)
    m["pyworker.rows_in"] = per.get("pyworker.rows_in", 0.0)
    m["catalog.s"] = per.get("catalog.s", 0.0)
    m["python.gc_s"] = per.get("python.gc.s", 0.0)
    for layer in ("operators", "functions", "llm"):
        m[f"{layer}.calls"] = per.get(f"{layer}.calls", 0.0)
        m[f"{layer}.s"] = per.get(f"{layer}.s", 0.0)
    for layer in ("sql", "parser", "plans.ann"):
        m[f"{layer}.s"] = per.get(f"{layer}.s", 0.0)
    for op in tracing.SNAPSHOT_OPS:
        m[f"snapshots.{op}.calls"] = per.get(f"snapshots.{op}.calls", 0.0)
        m[f"snapshots.{op}.s"] = per.get(f"snapshots.{op}.s", 0.0)
    m["protocol.s"] = sum(per.get(f"protocol.{op}.s", 0.0) for op in tracing.PROTOCOL_OPS)
    for op in tracing.PROTOCOL_OPS:
        if op != "exists":
            m[f"protocol.{op}.calls"] = per.get(f"protocol.{op}.calls", 0.0)
    m["protocol.bytes_written"] = per.get("protocol.bytes_written", 0.0)
    m["protocol.bytes_read"] = per.get("protocol.bytes_read", 0.0)
    att = totals.get("protocol.cas_attempts", 0.0)
    m["protocol.cas_ok_ratio"] = totals.get("protocol.cas_ok", 0.0) / att if att else 0.0
    fr = bench.files_read
    m["snapshots.files_read_ratio"] = sum(fr) / len(fr) if fr else 0.0
    m["storage.bytes_written"] = per.get("storage.bytes_written", 0.0)
    for k in ("batches", "no_data_batches", "trigger_s", "add_batch_s", "commit_offsets_s",
              "wal_commit_s", "planning_s", "state_rows", "input_rows"):
        m[f"streaming.{k}"] = per.get(f"streaming.{k}", 0.0)
    for k in ("session_s", "ready_s", "warmup_s"):
        m[f"setup.{k}"] = out["setup"][k]

    timed = [r for r in bench.records if r["phase"] == "timed" and r["err"] is None]
    for kind in ("read", "write"):
        xs = [r["s"] for r in timed if r["kind"] == kind]
        m[f"table.{kind}_p50_s"] = statistics.median(xs) if xs else 0.0
        m[f"table.{kind}_tail_s"] = tail(xs)[0] if xs else 0.0
    m["table.space_amp"] = out["table"].get("space_amp", 0.0)
    traced_pass = statistics.median(out["traced_passes"])
    m["trace.pass_s"] = traced_pass
    m["trace.overhead"] = traced_pass / statistics.median(out["passes"])
    m["trace.reconcile_err"] = recon_err
    m["trace.spans"] = len(bench.tracer.spans) / n_pass
    if set(m) != set(workloads.PER_LAYER_UNITS):
        raise RuntimeError(f"per-layer metric set drifted: {set(m) ^ set(workloads.PER_LAYER_UNITS)}")
    split = {name: {k: round(v / n_pass, 4) for k, v in g.items()} for name, g in groups.items()}
    return {"metrics": m, "problems": problems, "split": split}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dbt_lab_spark", "__init__.py")):
        print(f"perfbench: no dbt_lab_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = setup_env(work, CORES)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import dbt_lab_spark.workload  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    global T_PROCESS
    t_gen = time.time()
    data_dir = datagen.ensure(os.path.join(base, "data"), args.sf)
    T_PROCESS += time.time() - t_gen  # input generation is not set-up
    bench = Bench(args, work, data_dir, conf)
    try:
        out = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    return report(args, bench, out, base)


def report(args, bench: Bench, out: dict, base: str) -> int:
    timed = [r for r in bench.records if r["phase"] == "timed" and r["err"] is None]
    failed = sum(1 for r in bench.records if r["err"] is not None)
    attempted = len(bench.records)
    lat = [r["s"] for r in timed]
    correct = failed == 0 and bool(lat)
    outdir = os.path.join(base, "out")
    os.makedirs(outdir, exist_ok=True)
    record = os.path.join(
        outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}")
    detail = {
        "record": os.path.relpath(record, ROOT),
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cores": bench.cores,
        "clients": 1, "setup": out["setup"],
        "passes_s": out["passes"], "host_steal_s": out.get("steal_s"),
        "timed_ops": len(lat), "error_rate": failed / max(1, attempted),
        "errors": bench.errors[:10], "table": out["table"],
    }
    if lat:
        value, pct, beyond = tail(lat)
        detail["op_tail"] = {"percentile": pct, "samples": len(lat), "beyond": beyond}
    if args.trace:
        layers = out["layers"]
        metrics = layers["metrics"]
        detail["trace_problems"] = layers["problems"]
        detail["layer_split_per_pass"] = layers["split"]
        detail["trace_overhead"] = metrics["trace.overhead"]
        if layers["problems"]:
            correct = False
        units = workloads.PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": out["setup"]["setup_s"],
            "pass_s": statistics.median(out["passes"]),
            "op_p50_s": statistics.median(lat) if lat else 0.0,
            "op_tail_s": tail(lat)[0] if lat else 0.0,
            "peak_rss_mb": out["peak_rss_mb"],
        }
        units = workloads.END_TO_END_UNITS
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    with open(record + ".json", "w") as fh:
        json.dump({"detail": detail, "result": result, "ops": bench.records}, fh)
    if args.trace:
        with open(record + ".spans.jsonl", "w") as fh:
            for s in bench.tracer.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
