"""Self-check of the benchmark; run from the repository root:

    python3 perfbench/selfcheck.py            # every check (about 8 minutes)
    python3 perfbench/selfcheck.py olap       # the checks of one workload

For each workload, a short untraced and a short traced run must end
with a result line that carries every ``BENCHMARK.json`` metric with its
unit and no failures, and the report lines must name the workload's own
metrics. A metric's unit must agree with its name's suffix. An injected fault -- one corrupted catalog row, one CDC change
row never sent -- must show up as failed operations.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: names the human-readable report of each workload must carry
REPORT_NAMES = {
    "olap": ["queries_per_s", "latency_p50_ms", "latency_p90_ms", "failed_share", "setup_s"],
    "llm_corpus": ["queries_per_s", "latency_p50_ms", "latency_p90_ms", "failed_share", "setup_s"],
    "cdc_changelog": ["freshness_p50_ms.low", "freshness_p90_ms.low", "freshness_p50_ms.high",
                      "freshness_p90_ms.high", "drain_events_per_s", "failed_share", "setup_s"],
}
FAULTS = {"olap": "catalog_row", "llm_corpus": "catalog_row", "cdc_changelog": "cdc_drop"}
#: the unit a metric name's suffix implies (first match wins)
SUFFIX_UNITS = (("_per_s", "1/s"), ("_ms", "ms"), (".ms", "ms"), ("_s", "s"), ("_bytes", "bytes"))


def unit_problems(spec: dict) -> list[str]:
    """Metrics whose declared unit contradicts their name; the result
    line copies units from ``BENCHMARK.json``, so only the name can
    catch a wrong one."""
    problems = []
    for m in spec["end_to_end"] + spec["per_layer"]:
        want = next((u for suffix, u in SUFFIX_UNITS if m["name"].endswith(suffix)), None)
        if want is not None and m["unit"] != want:
            problems.append(f"metric {m['name']} has unit {m['unit']}, its name says {want}")
    return problems


def run(workload: str, trace: int, fault: str = "none") -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), "--fault", fault]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


def check_workload(workload: str, spec: dict) -> list[str]:
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, report = run(workload, trace)
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            problems.append(f"{workload} trace={trace}: result keys {sorted(result)}")
        if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
            problems.append(f"{workload} trace={trace}: not correct: {result}\n{report}")
        for m in spec[key]:
            got = result["metrics"].get(m["name"])
            if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                problems.append(f"{workload} trace={trace}: metric {m['name']} is {got}")
        for name in REPORT_NAMES[workload] if trace == 0 else []:
            if f"{name}=" not in report:
                problems.append(f"{workload}: report does not name {name}")
    result, report = run(workload, 0, FAULTS[workload])
    if result["failed"] < 1 or result["correct"]:
        problems.append(f"{workload}: fault {FAULTS[workload]} not detected: {result}\n{report}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    problems = unit_problems(spec)
    for workload in workloads:
        found = check_workload(workload, spec)
        print(f"{workload}: {'ok' if not found else 'FAILED'}", flush=True)
        problems += found
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
