#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per (workload, metric).

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are directories (or files) holding run outputs: the
records ``perfbench/run.py`` writes under ``.perfbench/out``, or captured
standard output of the command.  Runs are paired by seed where both sides
have it, otherwise in order.  Each row gives both sides' median and
quartiles, the pairs the change won, and a verdict:

- ``improved``: the change wins at least 9 in 10 pairs (ties count for
  neither) and the medians differ, in the better direction, by more
  than the parent's interquartile distance;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's bound (per-layer metrics have no bound: there it
  takes losing 9 in 10 pairs by more than the parent's spread);
- ``unresolved``: neither, and either side's spread (interquartile
  distance over median) exceeds the bound, unless every change run
  reads better than every parent run;
- ``unchanged``: otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path: str) -> list[dict]:
    """Every (detail, result) pair found in the files under ``path``."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if not f.endswith(".spans.jsonl")
    )
    runs = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        try:
            obj = json.loads(text)
            objs = [obj.get("detail") and {"detail": obj["detail"]}, obj.get("result")]
        except json.JSONDecodeError:
            objs = []
            for line in text.splitlines():
                try:
                    objs.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
        detail = None
        for o in objs:
            if not isinstance(o, dict):
                continue
            if "detail" in o:
                detail = o["detail"]
            elif "metrics" in o and detail is not None:
                runs.append({"workload": detail["workload"], "seed": detail.get("seed"),
                             "metrics": {k: v["value"] for k, v in o["metrics"].items()}})
                detail = None
    return runs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(parent: list[float], change: list[float], pairs: list[tuple[float, float]],
            lower_better: bool, bound: float | None) -> tuple[str, int]:
    sign = -1.0 if lower_better else 1.0  # positive = better
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    losses = sum(1 for p, c in pairs if sign * (c - p) < 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    gain = sign * (cm - pm)
    iqr = p3 - p1
    n = len(pairs)
    if n and wins >= 0.9 * n and gain > iqr:
        return "improved", wins
    if bound is None:
        if n and losses >= 0.9 * n and -gain > iqr:
            return "worse", wins
    elif pm and -gain / abs(pm) > bound:
        return "worse", wins
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    if bound is not None and spread > bound:
        all_better = all(sign * (c - p) > 0 for c in change for p in parent)
        return ("unchanged" if all_better else "unresolved"), wins
    return "unchanged", wins


def compare(parent_runs: list[dict], change_runs: list[dict], spec: dict) -> list[dict]:
    metrics = {m["name"]: m for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}
    rows = []
    for wl in sorted({r["workload"] for r in parent_runs} & {r["workload"] for r in change_runs}):
        pr = [r for r in parent_runs if r["workload"] == wl]
        cr = [r for r in change_runs if r["workload"] == wl]
        names = sorted(set().union(*(r["metrics"] for r in pr)) &
                       set().union(*(r["metrics"] for r in cr)))
        for name in names:
            pv = [r["metrics"][name] for r in pr if name in r["metrics"]]
            cv = [r["metrics"][name] for r in cr if name in r["metrics"]]
            by_seed = {r["seed"]: r["metrics"][name] for r in cr if name in r["metrics"]}
            pairs = [(r["metrics"][name], by_seed[r["seed"]]) for r in pr
                     if name in r["metrics"] and r["seed"] in by_seed]
            if not pairs:
                pairs = list(zip(pv, cv))
            m = metrics.get(name, {})
            v, wins = verdict(pv, cv, pairs, m.get("better", "lower") == "lower", m.get("bound"))
            rows.append({"workload": wl, "metric": name, "unit": m.get("unit", ""),
                         "parent": quartiles(pv), "change": quartiles(cv),
                         "won": f"{wins}/{len(pairs)}", "verdict": v})
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows = compare(load_runs(argv[0]), load_runs(argv[1]), spec)

    def fmt(q: tuple[float, float, float]) -> str:
        return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    print(f"{'workload':<9} {'metric':<28} {'unit':<6} {'parent median [q1, q3]':<32} "
          f"{'change median [q1, q3]':<32} {'won':<6} verdict")
    for r in rows:
        print(f"{r['workload']:<9} {r['metric']:<28} {r['unit']:<6} {fmt(r['parent']):<32} "
              f"{fmt(r['change']):<32} {r['won']:<6} {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
