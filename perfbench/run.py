"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 25 --trace 0

Run from the repository root. Workloads: ``olap`` and ``llm_corpus``
(closed-loop catalog mixes, ``catalog_mix.py``) and ``cdc_changelog``
(open-loop CDC changelog into the snapshot sink, ``cdc.py``). Inputs
are generated from ``--seed``. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Lines before it starting with
``#`` are the human-readable report. ``NOTES.md`` says what every
metric means on each workload.

Everything the run writes goes under ``.perfbench/`` in the working
directory: a per-run scratch directory (data, checkpoints, warehouse,
Spark local dirs, event log) that is removed at exit, and the traced
run's span dump under ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from functools import partial  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("olap", "llm_corpus", "cdc_changelog")
#: Spark task threads on both sides of every workload. Both catalog
#: mixes are bound by job and driver overhead, so local[2] loses no
#: throughput against local[4] and the spare cores absorb JIT, GC and
#: neighbour activity (see NOTES.md).
CPUS = 2


def log(msg: str) -> None:
    for line in str(msg).splitlines():
        print(f"# {line}", flush=True)


def prepare_env(work: str, trace: bool) -> None:
    """Environment for the Spark JVM and its Python workers; must run
    before pyspark starts the JVM."""
    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers run the maxscale_cdc reader and UDFs: they must
    # import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        # the event log is the traced run's only source of task metrics;
        # it is switched on here, never in the package
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", choices=("none", "catalog_row", "cdc_drop"), default="none",
                    help="inject one fault (benchmark self-check only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gomaxscale_spark")):
        print(f"perfbench: no gomaxscale_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work, bool(args.trace))
    try:
        result = run_workload(args, work, [m["name"] for m in spec["per_layer"]])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in result["metrics"]]
    if missing:
        print(f"perfbench: workload produced no {missing}", file=sys.stderr)
        return 3
    attempted, failed = result["attempted"], result["failed"]
    log(f"attempted={attempted} failed={failed} failed_share={failed / max(attempted, 1):.6f}")
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


def run_workload(args, work: str, layer_names: list[str]) -> dict:
    from gomaxscale_spark.session import get_session

    from spans import EventLog, Tracer

    traced = bool(args.trace)
    if args.workload == "cdc_changelog":
        import cdc

        prepare = partial(cdc.prepare, args.seed, args.fault, work)
    else:
        import catalog_mix
        import datagen

        oracle_dir = os.path.join(work, "data")
        prepare = partial(datagen.prepare, oracle_dir, args.seed,
                          catalog_mix.SF[args.workload], args.workload,
                          args.fault == "catalog_row")
    # the inputs are made while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(prepare)
        t0 = time.perf_counter()
        spark = get_session("perfbench", cpus=CPUS)
        session_s = time.perf_counter() - t0
        try:
            prep = inputs.result()
        except BaseException:
            stop_spark(spark)
            raise
    tracer = Tracer(spark, enabled=traced)
    try:
        if args.workload == "cdc_changelog":
            res = cdc.run(spark, prep, tracer, log)
        else:
            res = catalog_mix.run(spark, args.workload, args.seconds, tracer,
                                  prep, oracle_dir, log)
    finally:
        if args.workload == "cdc_changelog":
            cdc.stop_generator(prep["gen"])
        stop_spark(spark)

    e2e = dict(res["e2e"], setup_s=res["first_op"] - PROCESS_START)
    log(f"setup_s={e2e['setup_s']:.3f} (session.start_s {session_s:.3f}); "
        f"run wall {time.time() - PROCESS_START:.2f} s")
    if not traced:
        return {"attempted": res["attempted"], "failed": res["failed"], "metrics": e2e}

    events = EventLog.read(os.path.join(work, "eventlog"))
    # a layer the workload does not reach reports 0 (the CDC changelog
    # never reaches catalog or plans)
    layers = {name: 0.0 for name in layer_names}
    layers["session.start_s"] = session_s
    if args.workload == "cdc_changelog":
        layers.update(cdc.per_layer(res, tracer))
    else:
        layers.update(catalog_mix.per_layer(tracer, events, res["passes"], res["layers"]["catalog"]))
        c, e = layers["plans.construct_ms"], layers["exec.ms"]
        log(f"plans.construct share of construct + action: {c / (c + e):.3f} "
            f"({c:.0f} ms construct, {e:.0f} ms action per pass)")
    layers["exec.ungrouped_jobs"] = float(len(events.ungrouped_jobs()))
    # the end-to-end numbers of the traced run; their difference to an
    # untraced run of the same seed is the tracing overhead
    for k, v in e2e.items():
        layers[f"traced.{k}"] = v
    trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.jsonl")
    tracer.dump(trace_path)
    log(f"spans: {len(tracer.spans)} written to {os.path.relpath(trace_path, ROOT)}")
    for name in layer_names:
        log(f"{name:42s} {layers[name]:16.3f}   -> {LAYER_TARGET.get(name.split('.')[0], '')}")
    return {"attempted": res["attempted"], "failed": res["failed"], "metrics": layers}


#: the end-to-end metric each layer should move, and where
LAYER_TARGET = {
    "session": "setup_s (all workloads)",
    "catalog": "throughput_per_s, latency_p50_ms on llm_corpus (and olap); not cdc_changelog",
    "plans": "throughput_per_s, latency_p90_ms on llm_corpus (less on olap)",
    "operators": "throughput_per_s, latency_p90_ms on llm_corpus",
    "exec": "latency_p90_ms on llm_corpus (and olap)",
    "task": "latency_p90_ms on llm_corpus (and olap); flat cpu + slower wall = host",
    "shuffle": "latency_p90_ms on llm_corpus (and olap)",
    "spill_bytes": "latency_p90_ms on llm_corpus (and olap)",
    "sources": "latency_p50_ms, latency_p90_ms on cdc_changelog (low-rate freshness)",
    "streaming": "throughput_per_s (drain) and high-rate freshness on cdc_changelog",
    "generator": "explains cdc_changelog freshness; growing backlog = unsustainable rate",
    "traced": "minus the untraced run of the same seed = tracing overhead",
}


if __name__ == "__main__":
    sys.exit(main())
