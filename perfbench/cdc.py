"""Open-loop CDC workload: ``cdc_changelog``.

A generator process (``cdcgen.py``) speaks the MaxScale CDC protocol on
one TCP connection and sends a seeded changelog on an absolute
schedule. The consumer is the product pipeline at its default options:
``readStream.format("maxscale_cdc")`` -> ``from_json`` with the
``SchemaRegistry`` schema -> ``foreachBatch`` -> ``CDCSnapshotSink``.

Phases, in wire rows (the source closes a micro-batch at 10 000 rows,
so every phase is a whole number of batches and no batch spans two):

- set-up: the DDL event plus the live key space, then a warm-up burst;
- ``high`` and ``low``: two fixed send rates; freshness of a row is the
  end of the epoch that committed it minus the row's scheduled send time;
- ``drain``: a backlog written at once; the catch-up speed is the median
  over its batches of rows committed per second since the previous
  commit (the first write, for the first batch).

Each phase starts once everything before it is committed, so the phases
measure separate regimes. The phases are fixed in rows; the timed ones
take about 25 s, the ``run_seconds`` of ``BENCHMARK.json``. Committed
rows are counted from the source offsets (``end.pos - start.pos``);
``numInputRows`` counts every action the sink runs over a batch.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime

import numpy as np

import cdcgen

BATCH_ROWS = 10_000  # the source's default max_events_per_batch
LOAD_ROWS = BATCH_ROWS  # DDL + 9 999 live keys
#: (name, rows, rows/s); 0 = all at once
#: The sink keeps getting faster over the first batches (8.6, 2.6, 1.7,
#: 1.4 s on a 4-core VM), so set-up sends a four-batch warm-up burst.
#: The timed phases run in the order of how much their gated metric
#: needs a warm sink: ``high`` (reported only), then ``drain``
#: (throughput) and ``low`` (latency).
PLAN = [
    ("warmup", 4 * BATCH_ROWS, 0),
    ("high", 3 * BATCH_ROWS, 5_000),
    ("drain", 4 * BATCH_ROWS, 0),
    ("low", 3 * BATCH_ROWS, 2_500),
]
TIMED = ("high", "drain", "low")


def prepare(seed: int, fault: str, work: str) -> dict:
    """Start the generator and build the expected snapshot."""
    plan = [{"name": n, "rows": r, "rate": rate} for n, r, rate in PLAN]
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "cdcgen.py"),
           "--seed", str(seed), "--load-rows", str(LOAD_ROWS), "--plan", json.dumps(plan)]
    if fault == "cdc_drop":
        cmd += ["--drop", str(BATCH_ROWS // 2)]
    rows = cdcgen.changelog(seed, LOAD_ROWS, sum(r for _, r, _ in PLAN))
    expected = cdcgen.replay(rows)
    gen = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    port = json.loads(gen.stdout.readline())["port"]
    return {"gen": gen, "port": port, "expected": expected,
            "dml_rows": len(rows) - 1, "work": work}


def _progress(p) -> dict:
    return json.loads(p.json)


def _pos(offset: dict | None) -> int:
    return 0 if offset is None else int(offset["pos"])


def _epoch_end(p: dict) -> float:
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return ts + p["durationMs"].get("triggerExecution", 0) / 1000.0


def run(spark, prep: dict, tracer, log) -> dict:
    from pyspark.sql import functions as F

    from gomaxscale_spark.sources.cdc_source import MaxScaleCDCDataSource
    from gomaxscale_spark.sources.schema_registry import SchemaRegistry
    from gomaxscale_spark.streaming.sinks import CDCSnapshotSink

    gen = prep["gen"]
    work = os.path.join(prep["work"], "cdc")
    spark.dataSource.register(MaxScaleCDCDataSource)
    registry = SchemaRegistry()
    registry.register(cdcgen.DDL)
    schema = registry.full_dml_schema(cdcgen.DATABASE, cdcgen.TABLE)
    sink = CDCSnapshotSink(os.path.join(work, "snapshot"), key_cols=["id"],
                           order_cols=["sequence", "event_number"])
    apply_ms: dict[int, float] = {}

    def apply(batch_df, epoch_id):
        typed = (batch_df.filter(F.col("kind") == "dml")
                 .select(F.from_json("raw", schema).alias("r")).select("r.*"))
        with tracer.span("streaming.sinks.apply_batch", f"b{epoch_id}") as sp:
            sink.apply_batch(typed)
        if sp is not None:
            apply_ms[epoch_id] = sp.ms

    stream = (spark.readStream.format("maxscale_cdc")
              .options(host="127.0.0.1", port=str(prep["port"]), database=cdcgen.DATABASE,
                       table=cdcgen.TABLE, user="perfbench", password="perfbench")
              .load())
    query = (stream.writeStream.foreachBatch(apply)
             .option("checkpointLocation", os.path.join(work, "checkpoint")).start())

    def committed() -> int:
        p = query.lastProgress
        return _pos(_progress(p)["sources"][0]["endOffset"]) if p else 0

    def run_phase(name: str) -> dict:
        gen.stdin.write("go\n")
        gen.stdin.flush()
        report = json.loads(gen.stdout.readline())
        target = report["first"] + report["rows"]
        idle_since = time.time()
        last = committed()
        while last < target:
            if query.exception() is not None:
                raise RuntimeError(f"stream failed: {query.exception()}")
            time.sleep(0.05)
            now_committed = committed()
            if now_committed != last:
                last, idle_since = now_committed, time.time()
            elif time.time() - idle_since > 30:
                log(f"phase {name}: stalled at {last}/{target} committed rows")
                break
        return report

    reports = {}
    try:
        for name in ["load", "warmup"]:
            reports[name] = run_phase(name)
        first_op = time.time()
        for name in TIMED:
            reports[name] = run_phase(name)
        progress = [_progress(p) for p in query.recentProgress]
    finally:
        query.stop()
        stop_generator(gen)

    batches = []
    for p in progress:
        src = p["sources"][0]
        start, end = _pos(src["startOffset"]), _pos(src["endOffset"])
        if end > start:
            batches.append({"id": p["batchId"], "start": start, "end": end,
                            "epoch_end": _epoch_end(p), "d": p["durationMs"]})
    committed_rows = max((b["end"] for b in batches), default=0)

    snap = sink.read_snapshot(spark).select("id", "name", "email", "state").collect()
    got = {r.id: (r.name, r.email, r.state) for r in snap}
    expected = prep["expected"]
    wrong_keys = sum(1 for k in expected.keys() | got.keys() if expected.get(k) != got.get(k))
    lost = (prep["dml_rows"] + 1) - committed_rows
    if wrong_keys or lost:
        log(f"correctness: {lost} rows never committed, {wrong_keys} keys differ from the replay")

    phases = {name: phase_stats(reports[name], batches) for name in TIMED}
    low, high, drain = phases["low"], phases["high"], phases["drain"]
    log(f"freshness_p50_ms.low={low['p50']:.1f} freshness_p90_ms.low={low['p90']:.1f} "
        f"freshness_p50_ms.high={high['p50']:.1f} freshness_p90_ms.high={high['p90']:.1f} "
        f"(n={low['n']}/{high['n']} rows in {low['batches']}/{high['batches']} batches); "
        f"drain_events_per_s={drain['rate']:.1f} ({drain['n']} rows, {drain['batches']} batches)")
    log(f"generator lateness_ms max low={reports['low']['lateness_ms_max']:.2f} "
        f"high={reports['high']['lateness_ms_max']:.2f}; backlog max low={low['backlog']} "
        f"high={high['backlog']}")
    for b in batches:
        log(f"batch {b['id']}: rows {b['start']}..{b['end']} trigger {b['d'].get('triggerExecution')} ms "
            f"latestOffset {b['d'].get('latestOffset')} addBatch {b['d'].get('addBatch')}")
    timed = [b for b in batches if b["start"] >= reports[TIMED[0]]["first"]]
    return {
        "first_op": first_op,
        "attempted": prep["dml_rows"],
        "failed": max(lost, 0) + wrong_keys,
        "e2e": {"latency_p50_ms": low["p50"], "latency_p90_ms": low["p90"],
                "throughput_per_s": drain["rate"]},
        "reports": reports, "phases": phases, "batches": timed, "apply_ms": apply_ms,
        "snapshot_bytes": dir_bytes(sink.path),
    }


def stop_generator(gen: subprocess.Popen) -> None:
    try:
        gen.stdin.close()  # EOF: the generator closes its connection and exits
        gen.wait(timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        gen.kill()
        gen.wait()


def phase_stats(report: dict, batches: list[dict]) -> dict:
    """Freshness, backlog and commit rate of one phase's rows; the rate
    is the median over the phase's batches of rows per second since the
    previous commit."""
    first, n, rate, t0 = report["first"], report["rows"], report["rate"], report["t0"]
    fresh: list[np.ndarray] = []
    rates: list[float] = []
    backlog, n_batches, last_commit = 0, 0, t0
    for b in sorted(batches, key=lambda b: b["start"]):
        lo, hi = max(b["start"], first), min(b["end"], first + n)
        if hi <= lo:
            continue
        n_batches += 1
        idx = np.arange(lo - first, hi - first)
        due = t0 + idx / rate if rate > 0 else np.full(len(idx), t0)
        fresh.append((b["epoch_end"] - due) * 1000.0)
        # commit rate of this batch: its rows over the time since the
        # previous commit (the first write, for the first batch)
        rates.append((hi - lo) / max(b["epoch_end"] - last_commit, 1e-3))
        last_commit = b["epoch_end"]
        if rate > 0:
            due_by_then = min(n, int((b["epoch_end"] - t0) * rate) + 1)
            backlog = max(backlog, due_by_then - (hi - first))
    values = np.concatenate(fresh) if fresh else np.array([np.nan])
    return {"p50": float(np.percentile(values, 50)), "p90": float(np.percentile(values, 90)),
            "n": len(values), "batches": n_batches, "backlog": backlog,
            "rate": statistics.median(rates) if rates else 0.0}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def per_layer(res: dict, tracer) -> dict[str, float]:
    """Per-batch medians over the timed phases' micro-batches."""
    low_first = res["reports"]["low"]["first"]
    timed = res["batches"]
    low = [b for b in timed if b["start"] >= low_first]
    med = statistics.median
    return {
        "sources.cdc_source.read_ms": med(b["d"].get("latestOffset", 0) for b in low),
        "sources.cdc_source.rows_per_batch": med(b["end"] - b["start"] for b in timed),
        "streaming.sinks.apply_batch_ms": med(res["apply_ms"][b["id"]] for b in timed
                                              if b["id"] in res["apply_ms"]),
        "streaming.add_batch_ms": med(b["d"].get("addBatch", 0) for b in timed),
        "streaming.checkpoint_ms": med(b["d"].get("walCommit", 0) + b["d"].get("commitOffsets", 0)
                                       for b in timed),
        "streaming.batch_ms": med(b["d"].get("triggerExecution", 0) for b in timed),
        "streaming.snapshot_bytes": float(res["snapshot_bytes"]),
        "generator.lateness_ms": max(res["reports"][n]["lateness_ms_max"] for n in ("low", "high")),
        "generator.backlog_events": float(max(res["phases"][n]["backlog"] for n in ("low", "high"))),
    }
