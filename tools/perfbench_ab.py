#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark between two checkouts.

    python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR \\
        --workload realtime_detect --seeds 921-930 [--trace 0]

For each seed it runs ``perfbench/run.py`` once in each checkout, for
the change's BENCHMARK.json ``run_seconds``, untraced unless
``--trace 1``; the side that runs first alternates from seed to seed,
so drift in the host's load falls on both sides alike.  It then prints,
per metric, each side's median, quartiles and quartile distance, the
change's median over the parent's, and on how many seeds the change
won (by the metric's ``better`` direction in BENCHMARK.json), followed
by every run that failed or reported an incorrect output.  Give the
checkouts as clean trees (``git archive``): a run builds what it runs
from the source in its own directory.  Standard library only.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def parse_seeds(text: str) -> list[int]:
    """``"921-930"``, ``"1,4,9"`` or a mix of both."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One ``perfbench/run.py`` process; its last stdout line is the result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t = time.time()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}}
    result.update(returncode=proc.returncode, wall_s=time.time() - t)
    if proc.returncode or not result.get("correct"):
        result["stderr_tail"] = proc.stderr[-1500:]
    return result


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def report(spec: dict, kind: str, pairs: list[tuple[int, dict, dict]]) -> None:
    better = {m["name"]: m["better"] for m in spec[kind]}
    print(f"{len(pairs)} pairs; 'won' counts the pairs where the change is better")
    print(f"{'metric / side':42s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
          f"{'q3-q1':>10s} {'ratio':>7s} {'won':>6s}")
    for name, direction in better.items():
        both = [
            (a["metrics"][name]["value"], b["metrics"][name]["value"])
            for _, a, b in pairs
            if name in a["metrics"] and name in b["metrics"]
        ]
        if not both:
            continue
        sign = 1 if direction == "higher" else -1
        wins = sum(sign * (y - x) > 0 for x, y in both)
        (p1, pm, p3), (c1, cm, c3) = (quartiles([v[i] for v in both]) for i in (0, 1))
        ratio = cm / pm if pm else float("nan")
        print(name)
        print(f"{'  parent':42s} {pm:11.4g} {p1:11.4g} {p3:11.4g} {p3 - p1:10.4g}")
        print(f"{'  change':42s} {cm:11.4g} {c1:11.4g} {c3:11.4g} {c3 - c1:10.4g} "
              f"{ratio:7.3f} {wins:3d}/{len(both)}")
    bad = [
        (seed, label, r)
        for seed, a, b in pairs
        for label, r in (("parent", a), ("change", b))
        if r["returncode"] or not r.get("correct") or r.get("failed")
    ]
    print(f"runs failed or incorrect: {len(bad)}")
    for seed, label, r in bad:
        print(f"  seed {seed} {label}: returncode {r['returncode']}, "
              f"correct {r.get('correct')}, failed {r.get('failed')}/{r.get('attempted')}")
        print("    " + r.get("stderr_tail", "").strip().replace("\n", "\n    "))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for label in order:
            got[label] = run_once(
                getattr(args, label), args.workload, seed, spec["run_seconds"], args.trace
            )
            r = got[label]
            print(f"[ab] seed {seed} {label}: correct {r.get('correct')} "
                  f"({r['wall_s']:.0f} s)", file=sys.stderr, flush=True)
        pairs.append((seed, got["parent"], got["change"]))
    report(spec, "per_layer" if args.trace else "end_to_end", pairs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
