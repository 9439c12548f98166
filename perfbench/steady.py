#!/usr/bin/env python3
"""Steadiness check: run one workload in sets of runs, one seed per
run, and report each end-to-end metric's median, quartiles and
quartile spread as a share of the median. With two sets it also says
whether the sets agree: every spread but setup_s within the metric's
bound, each second-set median no worse than the first by more than
the bound, and the same share of failed operations.

    python3 perfbench/steady.py --workload serve --runs 10 --sets 2
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900, check=True,
    )
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    hosts = [json.loads(x[len("# host "):]) for x in lines if x.startswith("# host ")]
    result["host"] = hosts[-1] if hosts else {}
    return result


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share."""
    delta = (second - first) if better == "lower" else (first - second)
    return delta / first if first else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    seed = args.first_seed
    for s in range(args.sets):
        results = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            r = run_once(args.workload, seed, spec["run_seconds"])
            print(f"set {s + 1} seed {seed}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                | {"attempted": r["attempted"], "failed": r["failed"],
                   "wall_s": round(time.perf_counter() - t0, 1),
                   "steal": r["host"].get("steal_share")}),
                flush=True)
            results.append(r)
            seed += 1
        sets.append(results)
    ok = True
    for name, m in metrics.items():
        rows = [summary([r["metrics"][name]["value"] for r in rs]) for rs in sets]
        line = f"{name:20s}"
        for row in rows:
            line += (f" median {row['median']:.4g} q1 {row['q1']:.4g}"
                     f" q3 {row['q3']:.4g} spread {row['spread']:.3f} |")
            if name != "setup_s" and row["spread"] > m["bound"]:
                ok = False
                line += " SPREAD>BOUND"
        if len(rows) == 2:
            w = worse_by(rows[0]["median"], rows[1]["median"], m["better"])
            line += f" second worse by {w:+.3f} (bound {m['bound']})"
            if w > m["bound"]:
                ok = False
                line += " DISAGREE"
        print(line)
    shares = {sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
              for rs in sets}
    print(f"failed share per set: {sorted(shares)}")
    ok = ok and len(shares) == 1
    print("sets agree" if ok else "sets DISAGREE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
