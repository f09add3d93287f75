#!/usr/bin/env python
"""Per-query optimization probe (r16 optimization round).

For each named query (or the bench HEADLINE+EXTRA when none given),
measure separately:

- ``construct_s``: wall of calling ``registry[name].fn(spark, sf_dir)``
  — DataFrame/plan CONSTRUCTION (Py4J traffic + parser calls), a pure
  driver cost the bench cell nevertheless pays;
- ``construct_jobs``: Spark jobs launched during that construction
  (eager materialize_once/localCheckpoint barriers show up here);
- ``first_s``: first noop materialize (codegen compile + execution);
- ``jobs``: Spark jobs launched by that first materialize;
- ``best_s`` / ``median_s``: best/median of ``--runs`` further
  materializes of a freshly constructed frame (steady-state cost);
- ``construct_compiles`` / ``first_compiles`` / ``runs_compiles``:
  generated classes compiled in each phase (the ``CodegenMetrics``
  delta; ``runs_compiles`` sums all runs). Repeating one query back to
  back finds its classes still in Spark's generated-code cache, so
  only an interleaved mix (the perfbench ``llm_corpus`` workload) can
  show one query evicting another's; that is why the r16/r17 probes,
  one query at a time, never saw the default cache recompile.

Usage: python tools/opt_probe.py [--sf DIR] [--runs N] [name ...]
Writes JSON lines to stdout; meant for an IDLE host.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gomaxscale_spark.plans import all_queries
from gomaxscale_spark.session import codegen_compilations, get_session


def phase_split(spark, fn, sf_dir: str, group: str, runs: int = 0) -> dict:
    """One query's phases: construct ``fn(spark, sf_dir)``, its first
    noop write, then ``runs`` fresh construct + write repeats. Each
    phase runs in its own job group under the ``group`` prefix, so
    ``job_ids`` (sorted, construct and first write) are this query's
    jobs alone. Cached frames are dropped at the end."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiles = [codegen_compilations(spark)]
    sc.setJobGroup(f"{group}:construct", group)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    construct_s = time.perf_counter() - t0
    compiles.append(codegen_compilations(spark))
    sc.setJobGroup(f"{group}:first", group)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    first_s = time.perf_counter() - t0
    compiles.append(codegen_compilations(spark))
    sc.setJobGroup(f"{group}:runs", group)
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        # fresh construction per run: catalog fns may materialize
        # (localCheckpoint) during fn() or first use; re-building is
        # exactly what the bench times
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    compiles.append(codegen_compilations(spark))
    spark.catalog.clearCache()
    construct_ids = tracker.getJobIdsForGroup(f"{group}:construct")
    first_ids = tracker.getJobIdsForGroup(f"{group}:first")
    row = {
        "construct_s": round(construct_s, 3),
        "construct_jobs": len(construct_ids),
        "construct_compiles": compiles[1] - compiles[0],
        "first_s": round(first_s, 3),
        "jobs": len(first_ids),
        "first_compiles": compiles[2] - compiles[1],
    }
    if runs:
        row.update({
            "best_s": round(min(walls), 3),
            "median_s": round(statistics.median(walls), 3),
            "runs_compiles": compiles[3] - compiles[2],
        })
    row["job_ids"] = sorted(construct_ids) + sorted(first_ids)
    return row


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    runs = 3
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    registry = all_queries()
    if not names:
        import bench

        names = list(bench.HEADLINE) + list(bench.EXTRA)

    spark = get_session("opt_probe")

    # warm JVM/codegen once
    registry["scan_filter_project"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        row = phase_split(spark, registry[name].fn, sf_dir, f"opt_probe:{name}", runs)
        del row["job_ids"]
        print(json.dumps({"name": name, **row}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
