"""Compare a parent and a change checkout on the benchmark.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

Runs ``perfbench/run.py`` of each checkout in alternating pairs (the side
that runs first alternates; both sides of a pair share a seed, and each
pair gets a new seed) and prints, per (metric, workload), one verdict:

- ``improved``: the change wins at least 9 of 10 pairs (ties count for
  neither side) and the medians differ by more than the parent's own
  spread, the distance between its quartiles;
- ``worse``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
- ``unresolved``: the parent's spread is wider than the bound, so a
  difference within it cannot be told from noise (unless every change
  run beats every parent run);
- ``within bound``: none of the above.

Each checkout runs its own copy of the benchmark, so the comparison
refuses to run unless ``BENCHMARK.json`` and every file under
``perfbench/`` are identical in the two checkouts.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout: str, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited {out.returncode}:\n"
                           + out.stderr[-2000:])
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} failed its output checks")
    return {k: v["value"] for k, v in result["metrics"].items()}


def bench_digest(checkout: str) -> str:
    """Hash of BENCHMARK.json and the benchmark's files in a checkout."""
    h = hashlib.sha256()
    paths = [os.path.join(checkout, "BENCHMARK.json")]
    for d, dirs, files in os.walk(os.path.join(checkout, "perfbench")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(d, f) for f in sorted(files)]
    for path in paths:
        h.update(os.path.relpath(path, checkout).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> str:
    """The choosing-metrics rule for one (metric, workload)."""
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    _c1, cm, _c3 = quartiles(change)
    gap = sign * (cm - pm)
    if wins >= 0.9 * len(parent) and gap > (p3 - p1):
        return "improved"
    worse_share = -gap / abs(pm) if pm else 0.0
    if worse_share > bound:
        return "worse"
    if better == "lower":
        separated = max(change) < min(parent)
    else:
        separated = min(change) > max(parent)
    if (p3 - p1) / abs(pm or 1.0) > bound and not separated:
        return "unresolved"
    return "within bound"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--workload", action="append", help="default: every workload")
    args = p.parse_args(argv)

    if bench_digest(args.parent) != bench_digest(args.change):
        print("the benchmark differs between the checkouts; compare with one benchmark",
              file=sys.stderr)
        return 2
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    status = 0
    for workload in workloads:
        runs = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                checkout = args.parent if side == "parent" else args.change
                runs[side].append(run_once(checkout, workload, seed, spec["run_seconds"]))
        for m in spec["end_to_end"]:
            name = m["name"]
            par = [r[name] for r in runs["parent"]]
            chg = [r[name] for r in runs["change"]]
            v = verdict(par, chg, m["better"], m["bound"])
            p1, pm, p3 = quartiles(par)
            c1, cm, c3 = quartiles(chg)
            print(f"{workload:16s} {name:18s} {v:13s} parent {pm:.4g} [{p1:.4g}, {p3:.4g}] "
                  f"change {cm:.4g} [{c1:.4g}, {c3:.4g}] {m['unit']}")
            status |= v == "worse"
    return 1 if status else 0


if __name__ == "__main__":
    sys.exit(main())
