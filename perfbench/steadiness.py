"""Run-to-run spread of the end-to-end metrics; run from the repository root:

    python3 perfbench/steadiness.py --runs 10 [--first-seed 1] [--workloads olap,cdc_changelog]

Runs each workload ``--runs`` times with consecutive seeds and prints,
per metric, the median, the quartiles (``statistics.quantiles(n=4)``)
and the spread: the distance between the quartiles as a share of the
median, next to the metric's bound in ``BENCHMARK.json``. With
``--trace 1`` it runs the traced runs instead and prints the per-layer
medians; the ``traced.*`` medians minus the untraced medians of the same
seeds are the tracing overhead. Every result line is appended to
``.perfbench/steadiness.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out_path = os.path.join(ROOT, ".perfbench", "steadiness.jsonl")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    failed = False
    for workload in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            if out.returncode != 0:
                print(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
                failed = True
                continue
            result = json.loads(out.stdout.strip().splitlines()[-1])
            failed |= not result["correct"]
            with open(out_path, "a") as f:
                f.write(json.dumps({"workload": workload, "seed": seed, "trace": args.trace,
                                    **result}) + "\n")
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{workload} seed {seed}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                             if args.trace == 0), flush=True)
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{workload:14s} {name:34s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                  f"spread={spread:7.4f} bound={bounds.get(name)} n={len(vs)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
