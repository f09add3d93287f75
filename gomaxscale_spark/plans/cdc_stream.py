"""CDC-bridge + event-time windowing catalog (SURVEY.md §2 Part C and
B14 batch-equivalents) over the ``events`` stream table.

The same DataFrame expressions run over the streaming CDC source
(gomaxscale_spark.sources) with ``readStream`` — Structured Streaming
semantics (watermarks, availableNow replay) are exercised in
tests/test_streaming.py where a query can be driven to completion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import event_ts_as_timestamp, read_parquet
from ..operators.snapshot import (
    materialize_history,
    materialize_snapshot,
    materialize_snapshot_salted,
)
from .base import query, t


@query(
    "cdc_event_routing",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value,
           min(event_id) AS first_id, max(event_id) AS last_id
    FROM events GROUP BY event_type
    """,
    doc="C1 event-type routing (reference dispatch, stream.go:119-141): "
    "per-type stream stats. The filter form pushes event_type into the "
    "scan; sinks partitionBy(event_type) for routed writes.",
)
def cdc_event_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


@query(
    "cdc_snapshot_latest_state",
    oracle="""
    WITH ch AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id, value AS last_value, ts_us AS last_ts_us
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
    doc="C2 snapshot materialization: fold the change stream to current "
    "state ('error' plays the delete role; ordering = exact ns + "
    "event_id, the GTID-tuple analogue of types.go:173-176). Scale: one "
    "shuffle on the PK; AQE splits hot keys. This is the changelog-"
    "compaction plan used for 100 TB CDC lakes.",
)
def cdc_snapshot_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        # µs (not ns) so ordering/output agree with the oracle engine,
        # which truncates the ns parquet to µs on read
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", "delete").otherwise("insert").alias("op"),
    )
    snap = materialize_snapshot(
        e, key_cols=["user_id"], order_cols=["ts_us", "event_id"], event_type_col="op"
    )
    return snap.select(
        "user_id", F.col("value").alias("last_value"), F.col("ts_us").alias("last_ts_us")
    )


@query(
    "cdc_snapshot_latest_state_salted",
    oracle="""
    WITH ch AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id, value AS last_value, ts_us AS last_ts_us
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
    doc="C2 snapshot materialization, skew-proof form (VERDICT r4 item "
    "3): the latest-wins fold as a salted two-phase max_by aggregate "
    "instead of a per-key window — a key holding 30% of the changelog "
    "spreads over 8 salt reducers rather than serializing on one "
    "(operators/snapshot.py materialize_snapshot_salted; equality to "
    "the window form pytested under the 30% single-key replica "
    "transform, no Window node plan-asserted). Same oracle as "
    "cdc_snapshot_latest_state — the fold is associative, so the "
    "results are row-identical.",
)
def cdc_snapshot_latest_state_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", "delete").otherwise("insert").alias("op"),
    )
    snap = materialize_snapshot_salted(
        e, key_cols=["user_id"], order_cols=["ts_us", "event_id"], event_type_col="op"
    )
    return snap.select(
        "user_id", F.col("value").alias("last_value"), F.col("ts_us").alias("last_ts_us")
    )


@query(
    "cdc_scd2_history",
    oracle="""
    WITH ch AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
      FROM events
    ), led AS (
      SELECT *, lead(ts_us) OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS valid_to_us
      FROM ch
    )
    SELECT user_id, value, ts_us AS valid_from_us, valid_to_us,
           (valid_to_us IS NULL) AS is_current
    FROM led WHERE op <> 'delete'
    """,
    doc="C2's OTHER standard fold — SCD2 / type-2 HISTORY: every "
    "accepted change image with its [valid_from, valid_to) validity "
    "interval and is_current flag (operators/snapshot.py "
    "materialize_history). Deletes ('error') close the prior version "
    "without opening one, so their intervals end exactly at the "
    "tombstone; the latest open version per key is the snapshot fold's "
    "row — the two folds are consistent views of the same GTID-ordered "
    "changelog (types.go:172-179). Scale: one PK shuffle + a per-key "
    "lead window (sequential per key by nature — each version needs "
    "its successor); a hot key serializes its partition, the honest "
    "limit the docstring states (the salted max_by trick does not "
    "apply: intervals are not associative).",
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", "delete").otherwise("insert").alias("op"),
    )
    hist = materialize_history(
        e, key_cols=["user_id"], order_cols=["ts_us", "event_id"], event_type_col="op"
    )
    return hist.select(
        "user_id",
        "value",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "is_current",
    )


@query(
    "cdc_snapshot_as_of",
    oracle="""
    WITH bounds AS (
      SELECT min(epoch_us(ts))
             + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS cutoff
      FROM events
    ), ch AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'insert' END AS op
      FROM events, bounds
      WHERE epoch_us(ts) <= bounds.cutoff
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
      FROM ch
    )
    SELECT user_id, value AS last_value, ts_us AS last_ts_us
    FROM ranked WHERE rn = 1 AND op <> 'delete'
    """,
    doc="C2 point-in-time snapshot: table state AS OF a cutoff position "
    "— the reference's GTID total order (types.go:173-176) makes any "
    "prefix of the change stream a consistent state, which is exactly "
    "what checkpoint recovery / PITR replays. The cutoff (stream "
    "midpoint) stays IN the plan (1-row agg, broadcast cross join — no "
    "driver-side lookup); downstream identical to the latest-state "
    "fold. Scale: the position predicate prunes the scan before the "
    "one PK shuffle; on a ts-partitioned changelog lake it becomes "
    "partition pruning.",
)
def cdc_snapshot_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "value",
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "error", "delete").otherwise("insert").alias("op"),
    )
    bounds = e.agg(
        F.expr("min(ts_us) + (max(ts_us) - min(ts_us)) div 2").alias("__cutoff")
    )
    upto = e.crossJoin(F.broadcast(bounds)).filter(F.col("ts_us") <= F.col("__cutoff"))
    snap = materialize_snapshot(
        upto, key_cols=["user_id"], order_cols=["ts_us", "event_id"], event_type_col="op"
    )
    return snap.select(
        "user_id", F.col("value").alias("last_value"), F.col("ts_us").alias("last_ts_us")
    )


@query(
    "tumbling_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="B14/A12 tumbling event-time window (1h) — the reference's "
    "WithStats periodic aggregation (gomaxscale.go:120-135) generalized "
    "to event time. Streaming twin: groupBy(window(ts,'1 hour')) with "
    "withWatermark — tests/test_streaming.py asserts batch≡stream.",
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "sliding_window_counts",
    oracle="""
    WITH w AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                            - 1800000000) AS window_start, value
      FROM events
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM w GROUP BY window_start
    """,
    doc="B14 sliding window (1h window, 30m slide): each event lands in "
    "exactly two windows. Spark's window() does the fan-out pre-"
    "aggregation; the oracle states the same assignment arithmetic.",
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n", "sum_value"
        )
    )


@query(
    "session_window_per_user",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM x
    )
    SELECT user_id, date_trunc('second', min(ts)) AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM y GROUP BY user_id, session_id
    """,
    doc="B14 session windows (30m gap) via session_window() — "
    "sessionization for user-activity streams. Oracle = the classic "
    "gaps-and-islands formulation. Session start truncated to seconds "
    "(ns-vs-µs precision discipline).",
)
def session_window_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_trunc("second", F.col("sw.start")).cast("timestamp_ntz").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "flagship_user_activity",
    oracle="""
    WITH purchases AS (
      SELECT user_id, value, date_trunc('hour', ts) AS hour_start,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events WHERE event_type = 'purchase'
    )
    SELECT n.n_name, p.hour_start,
           count(*) AS n_purchases,
           round(sum(p.value), 2) AS revenue,
           round(avg(p.k), 4) AS avg_k
    FROM purchases p
    JOIN customer c ON c.c_custkey = p.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, p.hour_start
    """,
    doc="Phase-0 flagship (SURVEY §7): RawData-style JSON projection "
    "(A8/B12) → event routing (C1) → broadcast dim join (B3) → "
    "event-time tumbling agg (A12/B14). The spine of the engine in one "
    "query. Scale: events shuffle once on user_id; customer joins "
    "shuffled, nation broadcast; agg keys are (nation, hour) — tiny.",
)
def flagship_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "value",
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return (
        purchases.join(c, c.c_custkey == purchases.user_id)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("n_name", "hour_start")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             min(ts) FILTER (WHERE event_type = 'click')    AS first_click,
             min(ts) FILTER (WHERE event_type = 'view')     AS first_view,
             min(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(first_click) AS clicked,
           count(*) FILTER (WHERE first_click IS NOT NULL
                            AND first_view > first_click) AS then_viewed,
           count(*) FILTER (WHERE first_click IS NOT NULL
                            AND first_view > first_click
                            AND first_purchase > first_view) AS then_purchased
    FROM per_user
    """,
    doc="Stream-analytics: click→view→purchase funnel (ordered first-"
    "occurrence per user). One shuffle on user_id with conditional "
    "min aggregates — the product-analytics staple over CDC events. "
    "µs-domain comparisons only (ts precision discipline).",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    viewed = F.col("first_click").isNotNull() & (F.col("first_view") > F.col("first_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_click").alias("clicked"),
        F.count(F.when(viewed, F.lit(1))).alias("then_viewed"),
        F.count(
            F.when(viewed & (F.col("first_purchase") > F.col("first_view")), F.lit(1))
        ).alias("then_purchased"),
    )


@query(
    "retention_daily_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('day', min(ts)) AS cohort_day FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             CAST(datediff('day', f.cohort_day, date_trunc('day', e.ts)) AS INTEGER) AS day_n
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_day, day_n, count(*) AS active_users
    FROM activity WHERE day_n <= 7 GROUP BY cohort_day, day_n
    """,
    doc="Stream-analytics: daily cohort retention (day-N active users "
    "per first-seen cohort). Two shuffles (user fold + cohort agg); "
    "the firsts table is user-cardinality and joins broadcast-or-"
    "shuffled by AQE.",
)
def retention_daily_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("int")
            .alias("day_n"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_n") <= 7)
        .groupBy(F.col("cohort_day").cast("timestamp_ntz").alias("cohort_day"), "day_n")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


def _events_replay_dir(spark: SparkSession, sf_dir: str):
    """Expose the single events.parquet through a symlinked temp dir
    (the streaming file source wants a directory; no data copy) and
    return ``(replay_dir, schema)``.  Callers MUST rmtree the dir in a
    ``finally`` block — r14 VERDICT flagged the six older gates for
    leaking these across repeated bench/gate replays."""
    import os
    import tempfile

    replay_dir = tempfile.mkdtemp(prefix="events_replay_")
    os.symlink(f"{sf_dir}/events.parquet", f"{replay_dir}/events.parquet")
    # physical ts encoding varies; normalized by event_ts_as_timestamp
    schema = read_parquet(spark, f"{sf_dir}/events.parquet").schema
    return replay_dir, schema


def _drain_to_memory_sink(spark: SparkSession, df: DataFrame, prefix: str,
                          mode: str) -> DataFrame:
    """Drive ``df`` through a memory sink under availableNow and return
    the MATERIALIZED result with the sink released.

    ``awaitTermination(timeout)`` returns False on timeout with the
    query STILL RUNNING — reading the sink then would serve a
    partially-ingested table and silently mismatch the oracle
    (r13 ADVICE; pattern applied uniformly to all gates in r15).
    ``localCheckpoint(eager=True)`` truncates lineage off the sink so
    the uuid-named temp view can be dropped immediately instead of
    retaining the complete-mode result in driver memory for the
    session (r14 ADVICE)."""
    import uuid

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(f"{prefix} ingest did not terminate within 300 s")
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


@query(
    "streaming_tumbling_availablenow",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="B14 with the REAL streaming engine in the correctness gate: "
    "the events table replayed through readStream → windowed agg → "
    "complete-mode memory sink, driven to completion with availableNow. "
    "Same oracle as the batch twin (complete mode emits every window), "
    "so the value-hash check covers Structured Streaming execution "
    "itself — state store, watermark bookkeeping, micro-batch planning.",
)
def streaming_tumbling_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
        )
        stream = event_ts_as_timestamp(stream)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n",
                "sum_value",
            )
        )
        return _drain_to_memory_sink(spark, agg, "stream_gate", "complete")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "streaming_session_availablenow",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), y AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM x
    )
    SELECT user_id, date_trunc('second', min(ts)) AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM y GROUP BY user_id, session_id
    """,
    doc="B14 with the REAL streaming engine, second surface: "
    "session_window sessionization executed by Structured Streaming "
    "(readStream replay → session merge state → complete-mode memory "
    "sink, availableNow). Complete mode needs no watermark for session "
    "windows, so every session is emitted and the DuckDB gaps-and-"
    "islands oracle checks the streaming session-merge machinery "
    "value-for-value (same oracle as the batch twin "
    "session_window_per_user).",
)
def streaming_session_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
        )
        stream = event_ts_as_timestamp(stream)
        agg = (
            stream.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("sum_value"),
            )
            .select(
                "user_id",
                F.date_trunc("second", F.col("sw.start"))
                .cast("timestamp_ntz")
                .alias("session_start"),
                "n_events",
                "sum_value",
            )
        )
        return _drain_to_memory_sink(spark, agg, "stream_session_gate", "complete")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "streaming_dedup_availablenow",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="B14 streaming exact dedup through the REAL engine: readStream "
    "replay → dropDuplicates on (user_id, event_type) → append-mode "
    "memory sink. Output is the distinct key set (key columns only), "
    "so first-arrival nondeterminism cannot leak into the values and "
    "the DISTINCT oracle hash-matches. Exercises the streaming dedup "
    "state store end-to-end; the watermarked variant "
    "(dropDuplicatesWithinWatermark) is tested in test_streaming.py "
    "where state expiry matters.",
)
def streaming_dedup_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
            .select("user_id", "event_type")
            .dropDuplicates(["user_id", "event_type"])
        )
        return _drain_to_memory_sink(spark, stream, "stream_dedup_gate", "append")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "streaming_static_enrichment",
    oracle="""
    SELECT e.event_id, e.user_id, n.n_name, e.value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE e.event_type = 'purchase'
    """,
    doc="B14 stream-static join through the REAL engine: streaming "
    "events joined to the static customer→nation dimension (broadcast "
    "both sides of the static chain), append mode. The canonical "
    "enrichment topology — at scale the static side re-broadcasts per "
    "micro-batch, so keep it dimension-sized or use a state-store "
    "stream-stream join instead.",
)
def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure
    from ..catalog import load_table

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        dim = F.broadcast(
            c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
                "c_custkey", "n_name"
            )
        )
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "value")
        )
        joined = stream.join(dim, stream["user_id"] == dim["c_custkey"]).select(
            "event_id", "user_id", "n_name", "value"
        )
        return _drain_to_memory_sink(spark, joined, "stream_enrich_gate", "append")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "streaming_sliding_availablenow",
    oracle="""
    WITH w AS (
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS window_start, value
      FROM events
      UNION ALL
      SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000
                            - 1800000000) AS window_start, value
      FROM events
    )
    SELECT window_start, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM w GROUP BY window_start
    """,
    doc="B14 sliding windows (1h/30m) through the REAL streaming engine "
    "(complete-mode availableNow) — the two-windows-per-event fan-out "
    "running in streaming state rather than batch. Same oracle as the "
    "batch twin sliding_window_counts.",
)
def streaming_sliding_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
        )
        stream = event_ts_as_timestamp(stream)
        agg = (
            stream.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n", "sum_value"
            )
        )
        return _drain_to_memory_sink(spark, agg, "stream_sliding_gate", "complete")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
    doc="B14 stream-stream time-interval join through the REAL engine: "
    "purchases joined to the same user's clicks in the trailing hour — "
    "the attribution topology. Two watermarked streams, inner join "
    "with a time-bound condition; inner-join matches emit in-batch "
    "(the watermark only bounds state retention), so availableNow "
    "yields the complete exact result and the SQL range-join oracle "
    "hash-checks it. Scale: state is bounded by the interval × rate; "
    "both sides shuffle on user_id once.",
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)

    def side(event_type: str, prefix: str):
        return (
            spark.readStream.schema(schema)
            .format("parquet")
            .load(replay_dir)
            .transform(event_ts_as_timestamp)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_uid"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "2 hours")
        )

    try:
        purchases = side("purchase", "p")
        clicks = side("click", "c")
        joined = purchases.join(
            clicks,
            F.expr(
                "p_uid = c_uid AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
            ),
        ).select(
            F.col("p_id").alias("purchase_id"),
            F.col("c_id").alias("click_id"),
            F.col("p_uid").alias("user_id"),
        )
        return _drain_to_memory_sink(spark, joined, "stream_ssjoin_gate", "append")
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


@query(
    "cdc_transaction_stitching",
    oracle="""
    SELECT event_id // 10 AS sequence,
           count(*) AS n_events,
           CAST(min(event_id % 10) AS BIGINT) AS first_event_number,
           CAST(max(event_id % 10) AS BIGINT) AS last_event_number,
           count(DISTINCT event_type) AS n_types,
           round(sum(value), 2) AS txn_value
    FROM events GROUP BY event_id // 10
    """,
    doc="C2-adjacent transaction reconstruction: DML events sharing a "
    "binlog sequence belong to one transaction (the (domain, server_id, "
    "sequence) triple of the reference envelope, types.go:173-176; "
    "event_number orders rows within it) — fold the stream back into "
    "per-transaction summaries. Here the sequence is derived "
    "deterministically from event_id (10 events per txn). Scale: one "
    "hash agg on the sequence key, map-side combined; transactions are "
    "contiguous in the stream so ingest-ordered parquet gives near-"
    "perfect partial aggregation.",
)
def cdc_transaction_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    seq = F.expr("event_id div 10")
    return (
        e.groupBy(seq.alias("sequence"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.col("event_id") % 10).alias("first_event_number"),
            F.max(F.col("event_id") % 10).alias("last_event_number"),
            F.countDistinct("event_type").alias("n_types"),
            F.round(F.sum("value"), 2).alias("txn_value"),
        )
    )



from .llm import _bm25_hashed_sql  # noqa: E402  (llm imports first in __init__)


@query(
    "streaming_bm25_lake_availablenow",
    oracle=_bm25_hashed_sql(("data", "query", "table"), k=20),
    doc="B14×retrieval: the BM25 term-statistics lake fed through the "
    "REAL engine — documents re-partitioned into 4 files, readStream "
    "with maxFilesPerTrigger=1 → 4 foreachBatch micro-batches into "
    "TermStatsLakeSink (EpochCommit per epoch), then the corpus scored "
    "against the lake's committed stats. The lake's df/meta deltas are "
    "ADDITIVE and batch-split-INVARIANT (pytested), so the final "
    "stats — and the scores — are deterministic whatever file-to-batch "
    "assignment the engine picks, which is what makes a streaming "
    "ingest oracle-checkable by the same SQL as the batch hashed-df "
    "operator. Scale: each epoch's artifact is ≤ n_buckets rows; "
    "serving stats stay current under ingest without ever re-scanning "
    "absorbed corpus (the r13 retrieval-family streaming story).",
)
def streaming_bm25_lake_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..session import configure
    from ..streaming.term_stats import TermStatsLakeSink

    configure(spark)
    docs = t(spark, sf_dir, "documents")
    replay_dir = tempfile.mkdtemp(prefix="docs_replay_")
    lake_path = tempfile.mkdtemp(prefix="ts_lake_gate_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(replay_dir)
        sink = TermStatsLakeSink(lake_path)
        stream = (
            spark.readStream.schema(docs.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(replay_dir)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .queryName(f"stream_bm25_lake_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False on timeout with the
        # query STILL RUNNING — scoring then would read a partially-
        # ingested lake and silently mismatch the oracle (r13 ADVICE).
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "BM25 lake ingest did not terminate within 300 s"
            )
        # Materialize the k-row result and truncate lineage so the temp
        # replay/lake dirs can be deleted before the caller collects —
        # repeated gate/bench replays no longer accumulate /tmp litter.
        return sink.topk(docs, ["data", "query", "table"], k=20).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)
        shutil.rmtree(lake_path, ignore_errors=True)


@query(
    "streaming_mixture_monitor_availablenow",
    oracle="""
    WITH c AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY window_start), 6) AS share,
           CASE event_type WHEN 'view' THEN 0.4 WHEN 'click' THEN 0.3
                           WHEN 'purchase' THEN 0.1 WHEN 'signup' THEN 0.1
                           WHEN 'error' THEN 0.1 ELSE NULL END AS target_share,
           round((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY window_start))
                 * ln((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY window_start))
                      / CASE event_type WHEN 'view' THEN 0.4 WHEN 'click' THEN 0.3
                                        WHEN 'purchase' THEN 0.1
                                        WHEN 'signup' THEN 0.1
                                        WHEN 'error' THEN 0.1 ELSE NULL END), 6)
               AS kl_term
    FROM c
    """,
    doc="B14 × run governance, the EIGHTH real-engine streaming gate "
    "entry: a windowed TRAFFIC-MIX DRIFT MONITOR on the CDC event "
    "stream — per hourly window, each event type's observed share vs "
    "the expected mix (plan-literal target: view 0.4 / click 0.3 / "
    "purchase·signup·error 0.1) with its KL contribution, the alarm a "
    "pipeline owner pages on when an upstream producer breaks or a "
    "bot floods one event type. The STREAMING side maintains exactly "
    "the per-(window, type) counts (the minimal keyed state — bounded "
    "by windows × types whatever the throughput); shares and KL terms "
    "are computed on the serving read over the complete-mode result, "
    "the lake-then-serve split the BM25 gate entry established. "
    "Engine surface covered: state store, watermark bookkeeping, "
    "micro-batch planning under availableNow. Oracle = the batch twin "
    "(complete mode emits every window). Scale: ONE streaming shuffle "
    "keyed by (window, type); the share window runs on the "
    "windows×types result frame, never the event stream.",
)
def streaming_mixture_monitor_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from pyspark.sql import Window as W

    from ..session import configure

    configure(spark)
    replay_dir, schema = _events_replay_dir(spark, sf_dir)
    try:
        stream = (
            spark.readStream.schema(schema).format("parquet").load(replay_dir)
        )
        stream = event_ts_as_timestamp(stream)
        counts = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type",
                "n",
            )
        )
        tbl = _drain_to_memory_sink(spark, counts, "stream_mix", "complete")
        target = (
            F.when(F.col("event_type") == "view", F.lit(0.4))
            .when(F.col("event_type") == "click", F.lit(0.3))
            .when(F.col("event_type") == "purchase", F.lit(0.1))
            .when(F.col("event_type") == "signup", F.lit(0.1))
            .when(F.col("event_type") == "error", F.lit(0.1))
            .otherwise(F.lit(None).cast("double"))
        )
        share = F.col("n").cast("double") / F.sum("n").over(
            W.partitionBy("window_start")
        )
        return tbl.select(
            "window_start",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round(share, 6).alias("share"),
            target.alias("target_share"),
            F.round(share * F.log(share / target), 6).alias("kl_term"),
        )
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)


from .llm import _VERSIONS_SQL, _corpus_versions  # noqa: E402


@query(
    "streaming_version_diff_availablenow",
    oracle="WITH " + _VERSIONS_SQL + """,
    j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             md5(o.text) AS old_digest, md5(n.text) AS new_digest,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, change, old_digest, new_digest
    FROM j WHERE change <> 'unchanged'
    """,
    doc="B14 × versioning, the NINTH real-engine streaming gate entry: "
    "INCREMENTAL release diffing — the new corpus version re-"
    "partitioned into 4 files, readStream with maxFilesPerTrigger=1 → "
    "4 foreachBatch micro-batches into ManifestLakeSink (each epoch "
    "lands its (id, md5) manifest behind EpochCommit), then the old "
    "version diffed AGAINST THE LAKE's committed manifest — digest vs "
    "digest, the new version's text read exactly once (at ingest) and "
    "never again. Micro-batches are id-disjoint so the manifest union "
    "is batch-split-INVARIANT, which is what makes a streaming ingest "
    "oracle-checkable by the same SQL as the batch corpus_version_diff "
    "operator. The lake-then-serve split of the BM25-lake gate, "
    "applied to dataset ops: at 100 TB the manifest is KBs per GB of "
    "corpus and a release diff costs two (id, 32-byte) scans — "
    "content is never re-read, never shuffled "
    "(streaming/manifest_lake.py).",
)
def streaming_version_diff_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..session import configure
    from ..streaming.manifest_lake import ManifestLakeSink

    configure(spark)
    docs = t(spark, sf_dir, "documents")
    old, new = _corpus_versions(docs)
    replay_dir = tempfile.mkdtemp(prefix="vdiff_replay_")
    lake_path = tempfile.mkdtemp(prefix="manifest_lake_gate_")
    try:
        new.repartition(4).write.mode("overwrite").parquet(replay_dir)
        sink = ManifestLakeSink(lake_path, "doc_id", "text")
        stream = (
            spark.readStream.schema(new.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(replay_dir)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .queryName(f"stream_vdiff_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "manifest lake ingest did not terminate within 300 s"
            )
        return sink.diff_against(old, "doc_id", "text").localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)
        shutil.rmtree(lake_path, ignore_errors=True)


@query(
    "streaming_bpe_vocab_lake_availablenow",
    oracle="""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wc
      FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents
      )
      GROUP BY w
    ), p AS (
      SELECT substring(w, CAST(i AS INT), 2) AS pair, wc
      FROM (
        SELECT w, wc, unnest(range(1, length(w))) AS i
        FROM words WHERE length(w) >= 2
      )
    )
    SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences
    FROM p GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    doc="B14 × tokenizer, the TENTH real-engine streaming gate entry: "
    "the incremental tokenizer-VOCABULARY lake — documents "
    "re-partitioned into 4 files, readStream with "
    "maxFilesPerTrigger=1 → 4 foreachBatch micro-batches into "
    "VocabLakeSink (each epoch lands its (w, wc) delta behind "
    "EpochCommit), then BPE's round-1 merge candidates (top-20 "
    "adjacent character-pair counts) served off the SUMMED committed "
    "vocabulary via the same operator core as the batch "
    "text_bpe_pair_counts entry (pair_counts_from_vocab — batch ≡ "
    "lake is an identity). Word counts are additive over disjoint "
    "batches, so the lake union is batch-split-INVARIANT and the "
    "streaming ingest is oracle-checkable by the batch SQL. At "
    "100 TB: the corpus streams in once; every tokenizer-retrain "
    "decision then runs against the vocabulary-sized lake with text "
    "never re-read (streaming/vocab_lake.py).",
)
def streaming_bpe_vocab_lake_availablenow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..session import configure
    from ..streaming.vocab_lake import VocabLakeSink

    configure(spark)
    docs = t(spark, sf_dir, "documents")
    replay_dir = tempfile.mkdtemp(prefix="vocab_replay_")
    lake_path = tempfile.mkdtemp(prefix="vocab_lake_gate_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(replay_dir)
        sink = VocabLakeSink(lake_path, "text")
        stream = (
            spark.readStream.schema(docs.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(replay_dir)
        )
        q = (
            stream.writeStream.foreachBatch(sink)
            .queryName(f"stream_vocab_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "vocab lake ingest did not terminate within 300 s"
            )
        return sink.pair_counts(spark, k=20).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)
        shutil.rmtree(lake_path, ignore_errors=True)
