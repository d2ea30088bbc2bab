"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The end-to-end tests run the real command at sf0.001 with one pass
(``--seconds 1``), about a minute each; the rest are pure functions.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# Span names every layer the traced run must cover, across workloads.
LAYER_SPANS = {
    "op", "workload.build", "workload.exec", "py4j", "catalog", "operators",
    "functions", "sql", "parser", "llm", "plans.ann",
    *(f"snapshots.{op}" for op in tracing.SNAPSHOT_OPS),
    *(f"protocol.{op}" for op in ("put_if_absent", "put", "read", "list", "stat", "delete")),
}


def bench(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, list[dict]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = []
    for line in proc.stdout.splitlines():
        try:
            lines.append(json.loads(line))
        except json.JSONDecodeError:
            continue
    return proc.returncode, lines


@pytest.fixture(scope="module")
def traced():
    return {w: bench(w, 1) for w in run.WORKLOADS}


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_workload_prints_every_end_to_end_metric(workload):
    code, lines = bench(workload, 0)
    assert code == 0, lines
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_runs_print_every_layer_metric_and_span_every_layer(traced):
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    names = set()
    for workload, (code, lines) in traced.items():
        assert code == 0, (workload, lines)
        detail, result = lines[-2]["detail"], lines[-1]
        assert result["correct"] is True, (workload, detail)
        assert detail["trace_problems"] == []
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        with open(os.path.join(ROOT, detail["record"] + ".spans.jsonl")) as fh:
            names |= {json.loads(line)["name"] for line in fh}
    assert LAYER_SPANS <= names, LAYER_SPANS - names


def test_streaming_listener_counts_batches(traced):
    metrics = traced["query"][1][-1]["metrics"]
    assert metrics["streaming.batches"]["value"] > 0
    assert metrics["streaming.trigger_s"]["value"] > 0
    assert traced["table_rw"][1][-1]["metrics"]["streaming.batches"]["value"] == 0


def test_wrong_expected_checksum_is_an_error():
    code, lines = bench("table_rw", 0, "--corrupt-expected")
    assert code == 1
    detail, result = lines[-2]["detail"], lines[-1]
    assert result["correct"] is False and result["failed"] > 0
    assert detail["error_rate"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("query", 0, cwd=str(tmp_path))
    assert code != 0
    assert not any("metrics" in obj for obj in lines)


# -- pure functions ------------------------------------------------------------

def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert run.tail([float(i) for i in range(100)]) == (89.0, 89, 10)
    value, pct, _ = run.tail([1.0, 2.0, 3.0])
    assert pct == 50 and value == 2.0


def test_self_times_add_up_to_the_root_span():
    S = tracing.Span
    spans = [S(0, None, 1, "op", 0.0, 10.0, True), S(1, 0, 1, "workload.build", 1.0, 6.0, True),
             S(2, 1, 1, "operators", 2.0, 4.0, True), S(3, 2, 1, "operators", 2.5, 3.0, True),
             S(4, 2, 1, "py4j", 3.0, 3.5, True)]
    bd = tracing.op_breakdown(spans)
    assert sum(bd["self"].values()) == pytest.approx(10.0)
    assert bd["self"]["operators"] == pytest.approx(1.5)
    # nested calls inside one layer are counted once
    assert bd["calls"]["operators"] == 1 and bd["time"]["operators"] == pytest.approx(2.0)


def test_reconcile_counts_only_measured_layers():
    S = tracing.Span
    covered = [S(0, None, 1, "op", 0.0, 10.0, True), S(1, 0, 1, "workload.build", 0.0, 10.0, True),
               S(2, 1, 1, "py4j", 0.5, 9.5, True)]
    assert tracing.reconcile(covered, 10.0)[1] is None
    # a second of build() outside any measured layer: 20% unattributed
    gap = covered[:2] + [S(2, 1, 1, "py4j", 2.0, 10.0, True)]
    err, problem = tracing.reconcile(gap, 10.0)
    assert err == pytest.approx(0.2) and problem is not None
    assert tracing.reconcile(covered[:2], 10.0)[1] == "no layer spans"


def test_compare_verdicts():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]
    better = [x * 0.8 for x in parent]
    worse = [x * 1.3 for x in parent]
    same = list(reversed(parent))
    pairs = lambda c: list(zip(parent, c))  # noqa: E731
    assert compare.verdict(parent, better, pairs(better), True, 0.1)[0] == "improved"
    assert compare.verdict(parent, worse, pairs(worse), True, 0.1)[0] == "worse"
    assert compare.verdict(parent, same, pairs(same), True, 0.1)[0] == "unchanged"
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert compare.verdict(parent, noisy, pairs(noisy), True, 0.1)[0] == "unresolved"


def test_table_checksum_is_order_independent():
    import pandas as pd

    frame = pd.DataFrame({"id": [3, 1, 2], "val": [30, 10, 20]})
    assert workloads.checksum(frame) == workloads.checksum(frame.iloc[::-1])
    assert workloads.checksum(frame.iloc[:0]) == (0, 0, 0, 0)
