#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced with the same
seed, print the traced run's per-layer metrics, and report each
end-to-end metric of the traced run against the untraced one, with the
time the tracer itself spent reading the status stores.

    python3 perfbench/overhead.py --workload serve --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from steady import HERE, ROOT, run_once


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    plain = run_once(args.workload, args.seed, spec["run_seconds"])
    traced = run_once(args.workload, args.seed, spec["run_seconds"], trace=1)
    path = os.path.join(HERE, "out", f"trace-{args.workload}-{args.seed}.json")
    with open(path) as f:
        trace = json.load(f)
    print(f"per-layer metrics ({len(trace['spans'])} spans in {path}):")
    for name, m in traced["metrics"].items():
        print(f"  {name:32s} {m['value']:14.4f} {m['unit']}")
    print(f"tracer's own status-store time: {trace['trace_overhead_s']:.3f} s")
    print("end-to-end, untraced -> traced (overhead):")
    for name, m in plain["metrics"].items():
        a, b = m["value"], trace["end_to_end"][name]["value"]
        share = (b - a) / a if a else 0.0
        print(f"  {name:20s} {a:12.4f} -> {b:12.4f} {m['unit']:6s} ({share:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
