#!/usr/bin/env python
"""A/B runner for the seeded benchmark: alternating parent/change pairs.

Usage::

    python3 scripts/ab.py --parent /path/to/parent --change . \\
        --workload points_rai --seeds 101-104

For each seed it runs ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0`` (the command and ``N`` come from
``BENCHMARK.json``) once in each checkout, one run at a time; which side
runs first alternates from pair to pair.  It then prints, per metric,
the parent and change medians with their quartiles and how many pairs
the change won, and flags every end-to-end metric whose change median
is worse than the parent's by more than its ``BENCHMARK.json`` bound.
Exit status is 1 if anything is flagged or a run failed.  It reads only
``BENCHMARK.json`` and runs only ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def _run(cmd: list[str], checkout: str) -> dict | None:
    """One benchmark run; its final JSON line, or None if it failed."""
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        res = None
    if p.returncode or not res or "metrics" not in res:
        sys.stderr.write(f"run failed in {checkout} (exit {p.returncode}):\n"
                         f"{p.stderr[-2000:]}\n")
        return None
    return res


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="change checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-104 or 7,9,11")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    base = bench["command"] + ["--workload", args.workload]
    sides = {"parent": args.parent, "change": args.change}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    failed = 0
    for i, seed in enumerate(_seeds(args.seeds)):
        cmd = base + ["--seed", str(seed),
                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {}
        for side in order:
            pair[side] = _run(cmd, sides[side])
        if None in pair.values() or not all(r["correct"] for r in pair.values()):
            failed += 1
            print(f"seed {seed}: pair dropped (failed or incorrect run)")
            continue
        for side in order:
            runs[side].append(pair[side]["metrics"])
        print(f"seed {seed} ({order[0]} first): " + ", ".join(
            f"{m} {pair['parent']['metrics'][m]['value']:.4g}/"
            f"{pair['change']['metrics'][m]['value']:.4g}"
            for m in e2e if m in pair["parent"]["metrics"]))
    if not runs["parent"]:
        print("no complete pairs")
        return 1

    n = len(runs["parent"])
    print(f"\n{args.workload}: {n} pairs (parent/change), "
          "median [q1, q3], change wins")
    flagged = []
    for name in sorted(runs["parent"][0]):
        par = [r[name]["value"] for r in runs["parent"]]
        chg = [r[name]["value"] for r in runs["change"]]
        lower = e2e.get(name, {}).get("better", "lower") == "lower"
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        p1, pm, p3 = _quartiles(par)
        c1, cm, c3 = _quartiles(chg)
        worse = ((cm - pm) if lower else (pm - cm)) / pm if pm else 0.0
        flag = ""
        if name in e2e and worse > e2e[name]["bound"]:
            flag = f"  WORSE by {worse:.1%} > bound {e2e[name]['bound']}"
            flagged.append(name)
        print(f"  {name:14s} {pm:10.4g} [{p1:.4g}, {p3:.4g}] -> "
              f"{cm:10.4g} [{c1:.4g}, {c3:.4g}]  {wins}/{n}{flag}")
    return 1 if flagged or failed else 0


if __name__ == "__main__":
    sys.exit(main())
