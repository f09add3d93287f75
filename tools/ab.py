#!/usr/bin/env python
"""Same-session A/B of catalog queries: a base revision against the
working tree.

    python tools/ab.py --base REV --sf-dir DIR [--queries a,b] [--rounds N]

``git archive REV gomaxscale_spark`` is unpacked into a temporary
directory and imported under the alias ``gmx_base`` (the package
imports itself relatively); the working tree's ``gomaxscale_spark`` is
the ``head`` side. ``--base HEAD`` therefore measures uncommitted
changes. Query names are checked on both sides before Spark starts.

Both sides run in ONE Spark session started by the working tree's
``get_session``, with the JVM and Python-worker environment of
``perfbench/run.py`` (the alias directory joins ``PYTHONPATH``, so
workers unpickle base-side UDFs). The tool therefore measures operator
and plan code under HEAD's session confs: a change to ``session.py``
cannot be A/B'd with it.

Per query: one untimed warm-up per side, then ``--rounds`` timed
rounds. A round times ``Query.fn`` plus a noop write for each side
(``opt_probe.phase_split``); the side that goes first alternates from
round to round. Prints one JSON line per query with, per side, the
median and quartiles of the round walls, ``wins`` (rounds where that
side was faster), Spark ``jobs`` per round and ``cpu_ms``, the median
task CPU per round from Spark's event log; ``ratio`` is head median
over base median. Task CPU next to wall shows host interference: a
wall that moved while its CPU did not is the host, not the code.

The temporary directory is removed and the JVM stopped on every exit.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench"), HERE]

import run as perfbench_run  # noqa: E402
from catalog_mix import LLM_CORPUS  # noqa: E402
from spans import EventLog  # noqa: E402

from gomaxscale_spark.plans import all_queries  # noqa: E402
from gomaxscale_spark.session import get_session  # noqa: E402
from opt_probe import phase_split  # noqa: E402

PACKAGE = "gomaxscale_spark"
ALIAS = "gmx_base"
SIDES = ("base", "head")


def load_base(rev: str, dest: str) -> dict:
    """``all_queries()`` of ``rev``'s package, unpacked into ``dest``
    and imported as ``ALIAS`` (replacing any earlier import of it)."""
    tar = subprocess.run(["git", "-C", ROOT, "archive", rev, PACKAGE],
                         check=True, stdout=subprocess.PIPE).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    os.rename(os.path.join(dest, PACKAGE), os.path.join(dest, ALIAS))
    for mod in [m for m in sys.modules if m == ALIAS or m.startswith(ALIAS + ".")]:
        del sys.modules[mod]
    sys.path.insert(0, dest)
    from gmx_base.plans import all_queries as base_queries

    return base_queries()


def summarize(walls: dict[str, list[float]]) -> dict:
    """Per side: median and quartiles of the round walls and the rounds
    it won against the other side (a tie wins for neither)."""
    out = {}
    for side, other in zip(SIDES, reversed(SIDES)):
        xs = walls[side]
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        out[side] = {
            "median_s": statistics.median(xs),
            "q1_s": q1,
            "q3_s": q3,
            "wins": sum(a < b for a, b in zip(xs, walls[other])),
        }
    out["ratio"] = out["head"]["median_s"] / out["base"]["median_s"]
    return out


def measure(spark, registries: dict, names: list[str], rounds: int, sf_dir: str) -> dict:
    """Per query and side, one row per timed round: wall, jobs and the
    Spark job ids of that round."""
    def one(name: str, side: str, tag: str) -> dict:
        row = phase_split(spark, registries[side][name].fn, sf_dir, f"ab:{side}:{name}:{tag}")
        return {"wall_s": row["construct_s"] + row["first_s"],
                "jobs": row["construct_jobs"] + row["jobs"], "job_ids": row["job_ids"]}

    for name in names:
        for side in SIDES:
            one(name, side, "warmup")
    out = {name: {side: [] for side in SIDES} for name in names}
    for r in range(rounds):
        order = SIDES if r % 2 == 0 else SIDES[::-1]
        for name in names:
            for side in order:
                out[name][side].append(one(name, side, str(r)))
    return out


def report(name: str, rows: dict, events: EventLog) -> dict:
    line = summarize({s: [r["wall_s"] for r in rows[s]] for s in SIDES})
    for side in SIDES:
        line[side] = {k: round(v, 3) for k, v in line[side].items()}
        line[side]["jobs"] = statistics.median(r["jobs"] for r in rows[side])
        line[side]["cpu_ms"] = round(statistics.median(
            events.totals(r["job_ids"])["cpu_ms"] for r in rows[side]), 1)
    return {"query": name, **line, "ratio": round(line["ratio"], 3)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--sf-dir", required=True, help="directory of the catalog tables")
    ap.add_argument("--queries", default=",".join(LLM_CORPUS),
                    help="comma-separated query names (default: the llm_corpus mix)")
    ap.add_argument("--rounds", type=int, default=10)
    args = ap.parse_args(argv)
    if args.rounds < 1:
        ap.error("--rounds must be at least 1")
    names = [n for n in args.queries.split(",") if n]

    tmp = tempfile.mkdtemp(prefix="ab-")
    spark = None
    try:
        src = os.path.join(tmp, "src")
        registries = {"base": load_base(args.base, src), "head": all_queries()}
        missing = {s: [n for n in names if n not in registries[s]] for s in SIDES}
        if any(missing.values()):
            print(f"ab: unknown queries {missing}", file=sys.stderr)
            return 2

        work = os.path.join(tmp, "work")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [src] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        perfbench_run.prepare_env(work, trace=True)
        spark = get_session("ab", cpus=perfbench_run.CPUS)
        rows = measure(spark, registries, names, args.rounds, args.sf_dir)
        perfbench_run.stop_spark(spark)
        spark = None
        # read after stop: the event log is complete once Spark closes it
        events = EventLog.read(os.path.join(work, "eventlog"))
        print(f"# base {args.base}, head = working tree, sf_dir {args.sf_dir}, "
              f"{args.rounds} rounds, local[{perfbench_run.CPUS}]")
        for name in names:
            print(json.dumps(report(name, rows[name], events)), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                # raises when a signal broke a Py4J call; the JVM then
                # exits with this process, which closes its stdin
                perfbench_run.stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    # SIGTERM unwinds through main's cleanup like Ctrl-C does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
