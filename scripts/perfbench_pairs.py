#!/usr/bin/env python
"""Alternating parent/change perfbench pairs, judged by the metrics
guide's rule 8.

Usage:
    python scripts/perfbench_pairs.py PARENT CHANGE --workload streaming \\
        --seeds 21-30 [--out pairs.json]

PARENT and CHANGE are two checkouts of this repository (e.g. made with
`git archive`). Each seed is one pair: both checkouts run the
benchmark's own command (`BENCHMARK.json` "command" plus `--workload W
--seed S --seconds <run_seconds>`) in their own root, one after the
other; the side that runs first alternates from pair to pair.

Prints every run (the end-to-end metrics, correct/failed and the host
CPU steal that run saw), each side's median and quartiles per metric,
how many pairs the change won (ties count for neither), and a verdict
per metric:

- "gain": the change won at least 9/10 of the pairs and its median is
  better than the parent's by more than the parent's own quartile
  spread (Q3 - Q1);
- "worse beyond bound": the change's median is worse than the parent's
  by more than the metric's BENCHMARK.json bound;
- "no gain" otherwise.

Exit code 1 when any run is incorrect or reports failed operations.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout: str, cmd: list[str]) -> dict:
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return {"correct": False, "failed": None, "values": {}, "steal_pct": float("nan")}
    steal = re.search(r"steal_pct=([\d.]+)", p.stdout)
    return {
        "correct": result["correct"],
        "failed": result["failed"],
        "values": {k: v["value"] for k, v in result["metrics"].items()},
        "steal_pct": float(steal.group(1)) if steal else float("nan"),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(q) -> str:
    return "/".join(f"{x:.4g}" for x in q)


def verdict(metric: dict, parent: list[float], change: list[float]) -> dict:
    sign = 1.0 if metric["better"] == "lower" else -1.0
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = sign * (pmed - cmed)  # > 0: the change's median is better
    if wins >= 0.9 * len(parent) and gain > pq3 - pq1:
        word = "gain"
    elif -gain > metric["bound"] * abs(pmed):
        word = "worse beyond bound"
    else:
        word = "no gain"
    return {
        "parent": [pq1, pmed, pq3], "change": [cq1, cmed, cq3],
        "wins": wins, "pairs": len(parent), "median_change_pct": 100.0 * (cmed - pmed) / pmed,
        "parent_iqr_pct": 100.0 * (pq3 - pq1) / pmed, "verdict": word,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 21-30 or 1,3,5")
    ap.add_argument("--out", help="also write every run and verdict here as JSON")
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(seeds_of(args.seeds)):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"])]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(sides[side], cmd)
            r.update(seed=seed, first=side == order[0])
            runs[side].append(r)
            vals = " ".join(f"{m['name']}={r['values'].get(m['name'], float('nan')):.4g}" for m in metrics)
            print(f"seed={seed} {side:6s} {'1st' if r['first'] else '2nd'} correct={r['correct']} "
                  f"failed={r['failed']} steal_pct={r['steal_pct']:.1f} {vals}", flush=True)

    ok = all(r["correct"] and r["failed"] == 0 for side in runs.values() for r in side)
    verdicts = {}
    print(f"\n{args.workload}: {len(runs['parent'])} pairs, all correct: {ok}")
    for m in metrics:
        name = m["name"]
        v = verdict(m, [r["values"].get(name, float("nan")) for r in runs["parent"]],
                    [r["values"].get(name, float("nan")) for r in runs["change"]])
        verdicts[name] = v
        print(f"{name:16s} parent Q1/med/Q3 {fmt(v['parent'])}  change {fmt(v['change'])}  "
              f"median {v['median_change_pct']:+.1f}% (parent IQR {v['parent_iqr_pct']:.1f}%)  "
              f"change wins {v['wins']}/{v['pairs']}  -> {v['verdict']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "verdicts": verdicts}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
