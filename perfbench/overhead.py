"""Tracing overhead: one untraced and one traced run of a workload with
the same seed, and the end-to-end metrics of each side by side.

    python3 perfbench/overhead.py --workload wro_service --seed 3 --seconds 10

The traced run records its own end-to-end metrics in its trace file
(``.perfbench/traces/<workload>-seed<seed>.json``); the relative
difference to the untraced run is the overhead of reading the status
store at every span end. One pair is a single sample: repeat with other
seeds before quoting a number.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    args = p.parse_args(argv)
    base = [sys.executable, "perfbench/run.py", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds)]
    untraced = subprocess.run(base + ["--trace", "0"], cwd=ROOT, capture_output=True,
                              text=True, timeout=900)
    traced = subprocess.run(base + ["--trace", "1"], cwd=ROOT, capture_output=True,
                            text=True, timeout=900)
    for name, out in (("untraced", untraced), ("traced", traced)):
        if out.returncode != 0:
            print(f"{name} run failed ({out.returncode}):\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
    off = {k: v["value"] for k, v in
           json.loads(untraced.stdout.strip().splitlines()[-1])["metrics"].items()}
    trace_file = os.path.join(ROOT, ".perfbench", "traces",
                              f"{args.workload}-seed{args.seed}.json")
    with open(trace_file) as f:
        trace = json.load(f)
    on = trace["end_to_end"]
    reads = sum(a["tracer_reads_s"] for a in trace["attribution"])
    print(f"{'metric':18s} {'untraced':>12s} {'traced':>12s} {'change':>8s}")
    for name, value in off.items():
        change = (on[name] - value) / value if value else float("nan")
        print(f"{name:18s} {value:12.5g} {on[name]:12.5g} {change:+8.1%}")
    print(f"store reads inside the attributed spans: {reads:.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
