#!/usr/bin/env python3
"""Interleaved A/B of the benchmark between two checkouts.

    python tools/kgbench_ab.py PARENT_DIR CHANGE_DIR --workload query --seed 7 --pairs 10

Runs ``BENCHMARK.json``'s command (``kgbench/run.py --workload W --seed S
--seconds <run_seconds> --trace 0``) in each checkout, one pair at a
time, the side that runs first alternating from pair to pair. Prints
every pair, then per side and end-to-end metric the median and
quartiles, and per metric:

* the pairs the change won (ties count for neither side);
* the gain rule: the change wins at least 9/10 of the pairs AND its
  median beats the parent's by more than the parent's interquartile
  range;
* the regression bound: the change's median is no worse than the
  parent's by more than the metric's ``bound`` (relative).

Each side's first run is also printed on a line of its own: it can pay a
one-time cache fill (the change's class-data-sharing archive is written
by the first session that finds none). It stays in the medians.

It only reads ``kgbench/``; each run's scratch files stay in the
checkout it ran in, as a plain ``make kgbench`` leaves them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, bench: dict, workload: str, seed: int) -> dict:
    """One benchmark run in ``checkout``: its result line, with each
    metric's value in place of its {value, unit} record."""
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    if cmd[0] in ("python", "python3"):
        cmd[0] = sys.executable
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"{checkout}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["metrics"] = {k: m["value"] for k, m in res["metrics"].items()}
    return res


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    """Wins, the gain rule and the regression bound for one metric."""
    lower = metric["better"] == "lower"
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    gain = (pm - cm) if lower else (cm - pm)
    worse = -gain / abs(pm) if pm else 0.0
    return {"wins": wins, "pairs": len(parent),
            "gain_rule": wins >= 0.9 * len(parent) and gain > p3 - p1,
            "within_bound": worse <= metric["bound"], "worse_by": worse}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    sides = {"parent": args.parent_dir, "change": args.change_dir}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            runs[side].append(run_once(sides[side], bench, args.workload, args.seed))
        row = "  ".join(
            f"{m['name']} {runs['parent'][-1]['metrics'][m['name']]:.4g}/"
            f"{runs['change'][-1]['metrics'][m['name']]:.4g}" for m in metrics)
        health = " ".join(
            f"{s}:correct={runs[s][-1]['correct']},failed={runs[s][-1]['failed']}"
            for s in sides)
        print(f"pair {i + 1} ({order[0]} first) parent/change: {row}  [{health}]",
              flush=True)
    for s in sides:
        first = "  ".join(f"{m['name']} {runs[s][0]['metrics'][m['name']]:.4g}"
                          for m in metrics)
        print(f"first run, {s}: {first}")
    summary = {}
    for m in metrics:
        vals = {s: [r["metrics"][m["name"]] for r in runs[s]] for s in sides}
        for s in sides:
            q1, med, q3 = quartiles(vals[s])
            print(f"{m['name']} {s}: median {med:.4g} [{q1:.4g}, {q3:.4g}] {m['unit']}")
        v = verdict(m, vals["parent"], vals["change"])
        summary[m["name"]] = v
        print(f"{m['name']}: change won {v['wins']}/{v['pairs']}; gain rule "
              f"{'holds' if v['gain_rule'] else 'does not hold'}; "
              f"{'within' if v['within_bound'] else 'OUTSIDE'} the {m['bound']:.0%} bound "
              f"(worse by {v['worse_by']:+.1%})")
    failed = {s: sum(r["failed"] for r in runs[s]) for s in sides}
    correct = {s: all(r["correct"] for r in runs[s]) for s in sides}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "pairs": args.pairs,
                      "failed": failed, "correct": correct, "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
