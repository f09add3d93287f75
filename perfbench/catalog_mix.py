"""Closed-loop catalog workloads: ``olap`` and ``llm_corpus``.

One client runs a fixed mix of catalog queries in a fixed order, pass
after pass. An execution is ``Query.fn`` (plan construction,
including any eager ``materialize_once`` jobs it runs) followed by the
noop-write action, the same action ``bench.py`` times. A run measures a
fixed number of whole passes, ``seconds // PASS_SECONDS`` (at least
one), so every query weighs the same in every run and a slow host does
not change how much work a run measures.

Set-up runs each query once, untimed, and keeps its collected result;
that pass is also the JIT warm-up. After the timed loop the results are
compared with the queries' DuckDB twins, outside ``setup_s``.
"""

from __future__ import annotations

import statistics
import time
import traceback

import numpy as np

from gomaxscale_spark.catalog import load_table
from gomaxscale_spark.plans import all_queries
from gomaxscale_spark.testing import compare_frames, duckdb_connection

from spans import EventLog, Tracer

#: relational, event and CDC-snapshot queries: per-job overhead and
#: ``catalog.load_table`` dominate (13 jobs in q5, little task time)
OLAP = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority_check",
    "q5_region_revenue", "q6_forecast_revenue", "q12_linestatus_priority",
    "flagship_user_activity", "asof_join_purchase_attribution",
    "window_topk_orders_per_customer", "tumbling_window_counts",
    "session_window_per_user", "json_extract_props", "range_join_bucketed",
    "cdc_snapshot_latest_state",
]
#: LLM-corpus operators: driver-side construction dominates (eager
#: materialize_once jobs inside ``Query.fn``). Eleven queries, an odd
#: number: with two passes the 50th and 90th percentiles of the 22
#: latencies fall inside one query's pair of executions, not on the gap
#: between two queries, where they would swing with either one.
LLM_CORPUS = [
    "dedup_exact_documents", "dedup_minhash_lsh", "dedup_minhash_lsh_capped",
    "dedup_simhash", "dedup_embedding_cosine", "similarity_cosine_topk",
    "text_tfidf", "text_quality_score", "search_bm25_topk",
    "sampling_dsir_weights", "text_gopher_rules",
]
MIXES = {"olap": OLAP, "llm_corpus": LLM_CORPUS}
TABLES = {
    "olap": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"],
    "llm_corpus": ["documents", "embeddings"],
}
FAMILIES = ("dedup", "similarity", "text", "search", "sampling")
#: a pass of either mix takes 7-11 s on a 4-vCPU VM
PASS_SECONDS = 10
#: scale factor of each workload's generated tables. The LLM tables
#: are read at sf0.01 (500 documents, 200 embeddings): at sf0.1 the
#: DuckDB twins of the MinHash and embedding dedup alone take 18 s and
#: a pass 60% longer, which the benchmark's run budget cannot carry.
SF = {"olap": 0.1, "llm_corpus": 0.01}


def family(name: str) -> str | None:
    head = name.split("_", 1)[0]
    return head if head in FAMILIES else None


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def exact_dup_pairs(data_dir: str) -> set[tuple[int, int]]:
    """Pairs of documents with identical text (SimHash distance 0)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{data_dir}/documents.parquet", columns=["doc_id", "text"])
    first: dict[str, list[int]] = {}
    for doc_id, text in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()):
        first.setdefault(text, []).append(doc_id)
    return {(a, b) for ids in first.values() for a in ids for b in ids if a < b}


def significant(df, digits: int = 12):
    """``df`` with float columns rounded to ``digits`` significant digits."""
    df = df.copy()
    for col in df.columns:
        if df[col].dtype.kind == "f":
            df[col] = df[col].map(lambda v: float(f"{v:.{digits}g}"))
    return df


def verify(query, got, oracle, oracle_dir: str, log) -> list[str]:
    """Mismatches between a query's collected result and its reference;
    ``oracle`` is the DuckDB twin's result.

    Values must be equal, floats to 12 significant digits: a sum of
    600 000 doubles rounded to 6 decimals (q1's sum_charge at sf0.1)
    depends on summation order in its last digit, which differs between
    the engines. An exact difference is still reported."""
    if query.oracle is not None:
        exact = compare_frames(got, oracle)
        if not exact:
            return []
        problems = compare_frames(significant(got), significant(oracle))
        if not problems:
            log(f"correctness: {query.name}: equal to 12 significant digits, "
                f"not exactly: {exact[0][:200]}")
        return problems
    # no SQL twin (SimHash signatures use xxhash64): identical texts
    # have identical signatures, so every exact-duplicate pair must be
    # among the reported near-duplicate pairs
    ids = [c for c in got.columns if c.startswith("id")][:2]
    found = {tuple(sorted(map(int, p))) for p in got[ids].itertuples(index=False)}
    missing = exact_dup_pairs(oracle_dir) - found
    return [f"{len(missing)} exact-duplicate pairs missing"] if missing else []


def warmup_pass(spark, registry, order, tracer, spark_dir: str) -> dict[str, object]:
    """Run every query once, untimed, and collect its result (a pandas
    frame) or the exception it raised; this pass warms the JIT."""
    results: dict[str, object] = {}
    for name in order:
        try:
            with tracer.span("warmup", name, jobs=True):
                results[name] = registry[name].fn(spark, spark_dir).toPandas()
        except Exception as exc:  # a raising query is a failed operation
            results[name] = exc
    return results


def check_results(registry, results: dict[str, object], oracle_dir: str, log) -> dict[str, str]:
    """Compare each warm-up result with its reference (the DuckDB twin
    on the uncorrupted tables); return the queries that raised or
    disagreed."""
    con = duckdb_connection(oracle_dir)
    con.execute("SET threads TO 2")
    wrong = {}
    try:
        for name, got in results.items():
            query = registry[name]
            if isinstance(got, Exception):
                found = [f"raised {type(got).__name__}: {got}"]
            else:
                oracle = con.execute(query.oracle).df() if query.oracle is not None else None
                found = verify(query, got, oracle, oracle_dir, log)
            if found:
                wrong[name] = "; ".join(found)[:300]
                log(f"correctness: {name}: {wrong[name]}")
    finally:
        con.close()
    return wrong


def run(spark, workload: str, seconds: float, tracer: Tracer,
        spark_dir: str, oracle_dir: str, log) -> dict:
    registry = all_queries()
    order = MIXES[workload]

    # set-up: the untimed warm-up pass, whose results are checked after
    # the timed loop, so that DuckDB neither counts into set-up nor runs
    # beside a timed execution
    warm_start = time.perf_counter()
    results = warmup_pass(spark, registry, order, tracer, spark_dir)
    with tracer.span("warmup", "noop", jobs=True):
        noop_write(registry[order[0]].fn(spark, spark_dir))
    log(f"warm-up pass: {time.perf_counter() - warm_start:.2f} s")

    first_op = time.time()
    latencies: list[float] = []
    executed: list[str] = []
    raised = 0
    passes = max(1, int(seconds // PASS_SECONDS))
    loop_start = time.perf_counter()
    for p in range(passes):
        for name in order:
            req = f"p{p}:{name}"
            t0 = time.perf_counter()
            try:
                with tracer.span("query", req):
                    with tracer.span("plans.construct", req, jobs=True):
                        df = registry[name].fn(spark, spark_dir)
                    with tracer.span("exec.action", req, jobs=True):
                        noop_write(df)
            except Exception:
                log(f"{name} raised:\n{traceback.format_exc()}")
                raised += 1
            latencies.append((time.perf_counter() - t0) * 1000.0)
            executed.append(name)
    loop_s = time.perf_counter() - loop_start
    log("latency_ms by query and pass: " + "; ".join(
        f"{name} " + " ".join(f"{ms:.0f}" for ms in latencies[i::len(order)])
        for i, name in enumerate(order)))

    check_start = time.perf_counter()
    wrong = check_results(registry, results, oracle_dir, log)
    log(f"correctness check (DuckDB twins, comparisons): "
        f"{time.perf_counter() - check_start:.2f} s, not in setup_s")
    # an execution of a query whose result disagreed is a failed one
    failed = raised + sum(name in wrong for name in executed)
    e2e = {
        "latency_p50_ms": float(np.percentile(latencies, 50)),
        "latency_p90_ms": float(np.percentile(latencies, 90)),
        "throughput_per_s": len(latencies) / loop_s,
    }
    log(f"{workload}: {passes} passes, {len(latencies)} executions in {loop_s:.2f} s; "
        f"queries_per_s={e2e['throughput_per_s']:.4f} latency_p50_ms={e2e['latency_p50_ms']:.1f} "
        f"latency_p90_ms={e2e['latency_p90_ms']:.1f} (n={len(latencies)}); "
        f"failed_share={failed / len(latencies):.4f}")
    layers = {}
    if tracer.enabled:
        layers["catalog"] = time_load_table(spark, tracer, spark_dir, TABLES[workload])
    return {"first_op": first_op, "attempted": len(latencies), "failed": failed,
            "e2e": e2e, "passes": passes, "layers": layers}


def time_load_table(spark, tracer: Tracer, spark_dir: str, tables: list[str]) -> dict:
    """Direct ``catalog.load_table`` calls: one round over the mix's
    tables, three times; the median round's wall and its job count."""
    rounds = []
    for r in range(3):
        ms, jobs = 0.0, 0
        for name in tables:
            with tracer.span("catalog.load_table", f"load{r}:{name}", jobs=True) as sp:
                load_table(spark, spark_dir, name)
            ms += sp.ms
            jobs += len(sp.jobs)
        rounds.append((ms, jobs))
    return {"load_table_ms": statistics.median(r[0] for r in rounds),
            "load_table_jobs": rounds[0][1]}


def per_layer(tracer: Tracer, events: EventLog, passes: int, catalog: dict) -> dict[str, float]:
    """Per-pass layer totals from the traced run's spans and event log."""
    out: dict[str, float] = {
        "catalog.load_table_ms": catalog["load_table_ms"],
        "catalog.load_table_jobs": catalog["load_table_jobs"],
    }
    construct = [s for s in tracer.spans if s.name == "plans.construct"]
    action = [s for s in tracer.spans if s.name == "exec.action"]
    out["plans.construct_ms"] = sum(s.ms for s in construct) / passes
    out["plans.construct_jobs"] = sum(len(s.jobs) for s in construct) / passes
    for fam in FAMILIES:
        mine = [s for s in construct if family(s.request.split(":", 1)[1]) == fam]
        out[f"operators.{fam}.construct_ms"] = sum(s.ms for s in mine) / passes
        out[f"operators.{fam}.construct_jobs"] = sum(len(s.jobs) for s in mine) / passes
    exec_jobs = [j for s in action for j in s.jobs]
    all_jobs = exec_jobs + [j for s in construct for j in s.jobs]
    out["exec.ms"] = sum(s.ms for s in action) / passes
    out["exec.jobs"] = len(exec_jobs) / passes
    ex = events.totals(exec_jobs)
    out["exec.stages"] = ex["stages"] / passes
    out["exec.tasks"] = ex["tasks"] / passes
    out["exec.driver_gap_ms"] = sum(s.ms - events.job_wall_ms(s.jobs) for s in action) / passes
    tasks = events.totals(all_jobs)
    out["task.cpu_ms"] = tasks["cpu_ms"] / passes
    out["task.gc_ms"] = tasks["gc_ms"] / passes
    out["shuffle.read_bytes"] = tasks["shuffle_read_bytes"] / passes
    out["shuffle.write_bytes"] = tasks["shuffle_write_bytes"] / passes
    out["spill_bytes"] = tasks["spill_bytes"] / passes
    return out
