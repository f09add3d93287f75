"""The `maxscale_cdc` data source driven through real Spark queries
(batch + Structured Streaming) against the mock server, plus the C3
typed-projection path (from_json with the registry schema)."""

from __future__ import annotations

import json
import time

import pytest

from pyspark.sql import functions as F

from gomaxscale_spark.sources.cdc_source import MaxScaleCDCDataSource
from gomaxscale_spark.sources.mock_server import MockMaxScaleServer
from gomaxscale_spark.sources.schema_registry import SchemaRegistry

DDL = {
    "namespace": "MaxScaleChangeDataSchema.avro",
    "type": "record",
    "name": "ChangeRecord",
    "table": "users",
    "database": "example",
    "version": 1,
    "gtid": "0-1-1",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "name", "type": ["null", "string"]},
    ],
}


def dml(seq: int, **cols):
    row = {
        "domain": 0,
        "server_id": 1,
        "sequence": seq,
        "event_number": 1,
        "timestamp": 1704067200 + seq,
        "event_type": "insert",
    }
    row.update(cols)
    return row


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(MaxScaleCDCDataSource)
    return spark


def read_options(addr):
    host, port = addr
    return {
        "host": host,
        "port": str(port),
        "database": "example",
        "table": "users",
        "user": "maxuser",
        "password": "maxpwd",
        "read_timeout": "0.2",
        "max_idle_polls": "3",
    }


def test_batch_read(registered):
    script = [DDL] + [dml(i, id=i, name=f"u{i}") for i in range(5)]
    with MockMaxScaleServer(script=script) as addr:
        df = registered.read.format("maxscale_cdc").options(**read_options(addr)).load()
        rows = df.collect()
    kinds = sorted(r.kind for r in rows)
    assert kinds == ["ddl"] + ["dml"] * 5
    dml_rows = [r for r in rows if r.kind == "dml"]
    assert sorted(r.sequence for r in dml_rows) == list(range(5))
    assert all(r.raw for r in rows)


def test_batch_typed_projection_via_registry(registered):
    """C3: RawData → typed columns using the DDL-derived schema."""
    script = [DDL] + [dml(i, id=i, name=None if i % 2 else f"user-{i}") for i in range(4)]
    with MockMaxScaleServer(script=script) as addr:
        df = registered.read.format("maxscale_cdc").options(**read_options(addr)).load()
        ddl_raw = df.filter(F.col("kind") == "ddl").select("raw").head()[0]
        reg = SchemaRegistry()
        reg.register(ddl_raw)
        schema = reg.full_dml_schema("example", "users")
        typed = (
            df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select("r.sequence", "r.id", "r.name")
        )
        out = {r.sequence: (r.id, r.name) for r in typed.collect()}
    assert out[0] == (0, "user-0")
    assert out[1] == (1, None)


def test_streaming_read_micro_batches(registered):
    script = [dml(i, id=i) for i in range(10)]
    with MockMaxScaleServer(script=script, write_delay=0.02) as addr:
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**read_options(addr))
            .load()
            .writeStream.format("memory")
            .queryName("cdc_stream_out")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 20
            while time.time() < deadline:
                n = registered.sql("SELECT count(*) FROM cdc_stream_out").head()[0]
                if n >= 10:
                    break
                time.sleep(0.3)
            out = registered.sql(
                "SELECT sequence FROM cdc_stream_out WHERE kind='dml' ORDER BY sequence"
            ).collect()
        finally:
            q.stop()
    assert [r.sequence for r in out] == list(range(10))


def test_streaming_offsets_track_gtid(registered):
    from gomaxscale_spark.sources.cdc_source import MaxScaleCDCStreamReader

    script = [dml(7, id=1), dml(9, id=2)]
    with MockMaxScaleServer(script=script) as addr:
        opts = read_options(addr)
        reader = MaxScaleCDCStreamReader(opts)
        start = reader.initialOffset()
        rows, end = reader.read(start)
        rows = list(rows)
        reader.stop()
    assert end["pos"] == len(rows) == 2
    assert end["gtid"] == "0-1-9"


def test_streaming_checkpoint_restart_exactly_once(registered, tmp_path):
    """A14/A15: stop a streaming query mid-stream, restart from the
    checkpoint against a (GTID-honoring) server — the file sink must end
    up with every event exactly once."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    first = [dml(i, id=i) for i in range(1, 4)]
    srv1 = MockMaxScaleServer(script=first, write_delay=0.05, keep_open=3.0)
    host, port = srv1.start()
    opts = read_options((host, port))

    def start_query():
        return (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q = start_query()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if registered.read.parquet(out).count() >= 3:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()
    srv1.stop()

    # the restarted server holds the FULL history; honoring the
    # requested GTID (inclusive) it replays 3..6 — the reader's
    # position dedup must drop the re-delivered 3
    second = [dml(i, id=i) for i in range(1, 7)]
    srv2 = MockMaxScaleServer(script=second, write_delay=0.05, keep_open=3.0, port=port)
    srv2.start()
    q = start_query()
    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            if registered.read.parquet(out).count() >= 6:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()
    # the reconnect must have asked to resume at the stored GTID
    assert any(b"REQUEST-DATA example.users 0-1-3" == r for r in srv2.requests), srv2.requests
    srv2.stop()

    rows = registered.read.parquet(out).collect()
    seqs = sorted(r.sequence for r in rows if r.kind == "dml")
    assert seqs == [1, 2, 3, 4, 5, 6], f"not exactly-once: {seqs}"


def test_rate_limit_max_events_per_batch(registered):
    """Backpressure (the reference's unbuffered-channel blocking,
    gomaxscale.go:52): max_events_per_batch caps one micro-batch."""
    from gomaxscale_spark.sources.cdc_source import MaxScaleCDCStreamReader

    script = [dml(i, id=i) for i in range(10)]
    with MockMaxScaleServer(script=script, keep_open=1.0) as addr:
        opts = dict(read_options(addr), max_events_per_batch="3")
        reader = MaxScaleCDCStreamReader(opts)
        rows1, end1 = reader.read(reader.initialOffset())
        rows1 = list(rows1)
        rows2, end2 = reader.read(end1)
        rows2 = list(rows2)
        reader.stop()
    assert len(rows1) == 3
    assert end1["pos"] == 3
    assert len(rows2) == 3
    assert [r[2] for r in rows1 + rows2] == list(range(6))  # sequence column


def _wire(*events) -> bytes:
    """Events as one wire write, so they reach the socket together."""
    return b"".join(json.dumps(e).encode() + b"\n" for e in events)


def _reader(addr, **opts):
    from gomaxscale_spark.sources.cdc_source import MaxScaleCDCStreamReader

    return MaxScaleCDCStreamReader(dict(read_options(addr), **opts))


def test_batch_closes_on_rows_received():
    """A burst, then a pause: read() returns the burst as soon as the
    socket would block, well inside read_timeout and without waiting for
    the 10 000-row cap; the next burst is the next batch."""
    script = [_wire(*(dml(i, id=i) for i in range(5))), _wire(dml(5, id=5))]
    with MockMaxScaleServer(script=script, write_delay=0.5, keep_open=0.5) as addr:
        reader = _reader(addr, read_timeout="2.0")
        t0 = time.monotonic()
        rows1, end1 = reader.read(reader.initialOffset())
        elapsed = time.monotonic() - t0
        rows2, end2 = reader.read(end1)
        reader.stop()
    assert [r[2] for r in rows1] == list(range(5))
    assert elapsed < 0.4, elapsed
    assert [r[2] for r in rows2] == [5]
    assert (end1["pos"], end2["pos"], end2["gtid"]) == (5, 6, "0-1-5")


def test_batch_over_cap_yields_cap_then_rest():
    """A burst larger than the cap: exactly cap rows, then the rest from
    the leftovers, in order, without another wait."""
    script = [dml(i, id=i) for i in range(7)]
    with MockMaxScaleServer(script=script, keep_open=1.0) as addr:
        reader = _reader(addr, max_events_per_batch="3", read_timeout="2.0")
        t0 = time.monotonic()
        offset, batches = reader.initialOffset(), []
        for _ in range(3):
            rows, offset = reader.read(offset)
            batches.append([r[2] for r in rows])
        elapsed = time.monotonic() - t0
        reader.stop()
    assert batches == [[0, 1, 2], [3, 4, 5], [6]]
    assert offset["pos"] == 7
    assert elapsed < 1.0, elapsed


def test_idle_socket_yields_empty_batch_after_read_timeout():
    with MockMaxScaleServer(script=[], keep_open=1.0) as addr:
        reader = _reader(addr, read_timeout="0.3")
        start = reader.initialOffset()
        t0 = time.monotonic()
        rows, end = reader.read(start)
        elapsed = time.monotonic() - t0
        reader.stop()
    assert list(rows) == []
    assert end == start
    assert elapsed >= 0.3, elapsed


def test_frame_split_across_batch_close_arrives_whole():
    """The batch closes while a frame is half received; its bytes stay
    in the scanner and the frame arrives whole in the next batch."""
    tail = _wire(dml(2, id=2))
    script = [_wire(dml(0, id=0), dml(1, id=1)) + tail[:25], tail[25:]]
    with MockMaxScaleServer(script=script, write_delay=0.3, keep_open=0.5) as addr:
        reader = _reader(addr, read_timeout="2.0")
        rows1, end1 = reader.read(reader.initialOffset())
        rows2, end2 = reader.read(end1)
        reader.stop()
    assert [r[2] for r in rows1] == [0, 1]
    rows2 = list(rows2)
    assert [r[2] for r in rows2] == [2]
    assert json.loads(rows2[0][7]) == dml(2, id=2)
    assert end2["pos"] == 3


def test_two_table_sources_compose(registered):
    """One consumer per db.table (the reference's model,
    gomaxscale.go:96-100): two registered sources read different tables
    concurrently and their typed snapshots join."""
    users = [dict(dml(i, id=i), name=f"user-{i}") for i in range(1, 4)]
    orders = [dict(dml(i + 10, id=i + 10), user_id=i, amount=i * 10.0) for i in range(1, 4)]
    s_users = MockMaxScaleServer(script=users, keep_open=1.0)
    s_orders = MockMaxScaleServer(script=orders, keep_open=1.0)
    ua, oa = s_users.start(), s_orders.start()
    try:
        u_df = (
            registered.read.format("maxscale_cdc")
            .options(**dict(read_options(ua), table="users"))
            .load()
            .select(F.get_json_object("raw", "$.id").cast("int").alias("uid"),
                    F.get_json_object("raw", "$.name").alias("name"))
        )
        o_df = (
            registered.read.format("maxscale_cdc")
            .options(**dict(read_options(oa), table="orders"))
            .load()
            .select(F.get_json_object("raw", "$.user_id").cast("int").alias("uid"),
                    F.get_json_object("raw", "$.amount").cast("double").alias("amount"))
        )
        joined = {(r.name, r.amount) for r in u_df.join(o_df, "uid").collect()}
    finally:
        s_users.stop()
        s_orders.stop()
    assert joined == {("user-1", 10.0), ("user-2", 20.0), ("user-3", 30.0)}


# -- checkpoint-replay contract (readBetweenOffsets) ---------------------
#
# The committed offset range is a promise: replay must deliver exactly
# end.pos − start.pos rows (retrying a quiet/closed server) or raise —
# a silently truncated batch would break exactly-once recovery.

from gomaxscale_spark.sources.cdc_source import MaxScaleCDCStreamReader


class _TruncatingServer(MockMaxScaleServer):
    """Serves only the first `first_conn_events` script items to the
    FIRST connection (then closes), the full script afterwards —
    simulates a server dying mid-replay."""

    def __post_init__(self):
        super().__post_init__()
        self.first_conn_events = 3
        self._conns = 0

    def _handle(self, conn):
        self._conns += 1
        if self._conns == 1:
            full = self.script
            self.script = full[: self.first_conn_events]
            try:
                super()._handle(conn)
            finally:
                self.script = full
        else:
            super()._handle(conn)


def _replay_options(addr, **extra):
    opts = read_options(addr)
    opts["read_timeout"] = "0.2"
    opts.update(extra)
    return opts


def test_replay_delivers_full_committed_range():
    script = [DDL] + [dml(i) for i in range(1, 6)]
    with MockMaxScaleServer(script=script, keep_open=0.1) as addr:
        reader = MaxScaleCDCStreamReader(_replay_options(addr))
        rows = list(
            reader.readBetweenOffsets(
                {"pos": 0, "gtid": "", "last": None},
                {"pos": 6, "gtid": "0-1-5", "last": [0, 1, 5, 1]},
            )
        )
    assert len(rows) == 6  # 1 ddl + 5 dml


def test_replay_retries_across_server_close_without_duplicates():
    script = [dml(i) for i in range(1, 6)]
    with _TruncatingServer(script=script, keep_open=0.05) as addr:
        reader = MaxScaleCDCStreamReader(_replay_options(addr))
        rows = list(
            reader.readBetweenOffsets(
                {"pos": 0, "gtid": "", "last": None},
                {"pos": 5, "gtid": "0-1-5", "last": [0, 1, 5, 1]},
            )
        )
    assert len(rows) == 5
    seqs = [json.loads(r[-1])["sequence"] for r in rows]
    assert seqs == [1, 2, 3, 4, 5]  # resumed, inclusive-replay deduped


def test_replay_raises_instead_of_truncating():
    script = [dml(i) for i in range(1, 4)]  # only 3 of the promised 5
    with MockMaxScaleServer(script=script, keep_open=0.05) as addr:
        reader = MaxScaleCDCStreamReader(_replay_options(addr, replay_attempts="2"))
        with pytest.raises(RuntimeError, match="replay short"):
            list(
                reader.readBetweenOffsets(
                    {"pos": 0, "gtid": "", "last": None},
                    {"pos": 5, "gtid": "0-1-5", "last": [0, 1, 5, 1]},
                )
            )


def test_multi_table_union_batch(registered):
    """Two subscriptions (two mock servers = two sockets) compose into
    one DataFrame tagged by source_table — the reference needs one
    consumer per table; the union is the Spark-side composition."""
    from gomaxscale_spark.sources.multi import read_cdc_tables

    script_a = [DDL] + [dml(i, id=i, name=f"a{i}") for i in range(3)]
    ddl_b = dict(DDL, table="orders", gtid="0-1-9")
    script_b = [ddl_b] + [dml(i, id=100 + i, name=f"b{i}") for i in range(2)]
    with MockMaxScaleServer(script=script_a) as addr_a, MockMaxScaleServer(
        script=script_b
    ) as addr_b:
        subs = [
            dict(read_options(addr_a)),
            dict(read_options(addr_b), table="orders"),
        ]
        df = read_cdc_tables(registered, subs, streaming=False)
        rows = df.collect()
    by_table = {}
    for r in rows:
        by_table.setdefault(r.source_table, []).append(r)
    assert set(by_table) == {"example.users", "example.orders"}
    assert len([r for r in by_table["example.users"] if r.kind == "dml"]) == 3
    assert len([r for r in by_table["example.orders"] if r.kind == "dml"]) == 2
    # per-table routing is a filter over the already-collected union
    assert {r.sequence for r in by_table["example.orders"] if r.kind == "dml"} == {0, 1}


def test_replay_retries_with_leading_ddl_no_duplicate():
    """ADVICE r2: DDL frames have no GTID position, so `last`-dedup
    can't see them; a mid-replay reconnect re-receives the leading DDL
    and — before the nonpos counter — the duplicate filled the promised
    n and displaced the tail DML. Script: DDL + 5 DMLs, server dies
    after 3 items on the first connection."""
    script = [DDL] + [dml(i) for i in range(1, 6)]
    with _TruncatingServer(script=script, keep_open=0.05) as addr:
        reader = MaxScaleCDCStreamReader(_replay_options(addr))
        rows = list(
            reader.readBetweenOffsets(
                {"pos": 0, "gtid": "", "last": None},
                {"pos": 6, "gtid": "0-1-5", "last": [0, 1, 5, 1]},
            )
        )
    assert len(rows) == 6
    kinds = [r[6] for r in rows]
    assert kinds.count("ddl") == 1  # replayed DDL deduped
    seqs = [json.loads(r[-1])["sequence"] for r in rows if r[6] == "dml"]
    assert seqs == [1, 2, 3, 4, 5]  # tail DML not displaced


def test_replay_bounds_consecutive_protocol_errors(monkeypatch):
    """ADVICE r2: a server persistently emitting in-band error frames
    must consume the replay_attempts budget (bounded consecutive
    CDCProtocolErrors per attempt) instead of spinning forever."""
    from gomaxscale_spark.sources import cdc_source as mod
    from gomaxscale_spark.sources.client import CDCProtocolError

    calls = {"scans": 0}

    class _ErrClient:
        def connect(self):
            pass

        def scan(self):
            calls["scans"] += 1
            raise CDCProtocolError("err persistent in-band error")

        def close(self):
            pass

    monkeypatch.setattr(mod, "_client_from_options", lambda opts, gtid="": _ErrClient())
    reader = MaxScaleCDCStreamReader({"database": "example", "table": "users"})
    with pytest.raises(RuntimeError, match="replay short"):
        list(
            reader.readBetweenOffsets(
                {"pos": 0, "gtid": "", "last": None},
                {"pos": 2, "gtid": "", "last": None},
            )
        )
    # 3 attempts × (cap+1) scans each, not unbounded
    assert calls["scans"] <= 3 * 102


def test_streaming_mid_stream_ddl_schema_evolution(registered):
    """C4 stream-side: an ALTER (DDL v2 adding a column) arrives mid-
    stream; per micro-batch the typed projection re-resolves the latest
    registry schema, so v1 payloads land with the new column null and v2
    payloads land fully populated (union-by-name semantics, the same
    contract as the batch twin schema_evolution_union_by_name)."""
    ddl_v2 = dict(DDL, version=2, gtid="0-1-3")
    ddl_v2["fields"] = DDL["fields"] + [{"name": "email", "type": ["null", "string"]}]
    script = (
        [DDL]
        + [dml(i, id=i, name=f"u{i}") for i in range(2)]
        + [ddl_v2]
        + [dml(i, id=i, name=f"u{i}", email=f"u{i}@x.io") for i in range(2, 4)]
    )
    reg = SchemaRegistry()
    collected: dict[int, tuple] = {}

    def handle_batch(batch_df, batch_id):
        rows = sorted(batch_df.collect(), key=lambda r: (r.kind != "ddl", r.sequence or 0))
        for r in rows:
            if r.kind == "ddl":
                reg.register(r.raw)
        if not reg.versions("example", "users"):
            return  # no schema yet — hold the typed projection
        schema = reg.full_dml_schema("example", "users")
        spark_local = batch_df.sparkSession
        dml_raw = [r.raw for r in rows if r.kind == "dml"]
        if not dml_raw:
            return
        typed = (
            spark_local.createDataFrame([(x,) for x in dml_raw], "raw string")
            .select(F.from_json("raw", schema).alias("r"))
            .select("r.sequence", "r.id", "r.name", F.col("r.email") if "email" in schema.fieldNames() else F.lit(None).alias("email"))
        )
        for t in typed.collect():
            collected[t.sequence] = (t.id, t.name, t.email)

    with MockMaxScaleServer(script=script, write_delay=0.02) as addr:
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**read_options(addr))
            .load()
            .writeStream.foreachBatch(handle_batch)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 30
            while time.time() < deadline and len(collected) < 4:
                time.sleep(0.3)
        finally:
            q.stop()

    assert sorted(collected) == [0, 1, 2, 3], collected
    # v1 payloads: email resolves null under the evolved schema
    assert collected[0] == (0, "u0", None)
    assert collected[1] == (1, "u1", None)
    # v2 payloads: the new column lands populated
    assert collected[2] == (2, "u2", "u2@x.io")
    assert collected[3] == (3, "u3", "u3@x.io")
    # the registry holds both versions; pinning v1 drops the new column
    assert reg.versions("example", "users") == [1, 2]
    assert "email" not in reg.schema("example", "users", version=1).fieldNames()


def test_cdc_stream_feeds_dedup_lake(registered, tmp_path):
    """The full bridge: the reference's CDC protocol (mock MaxScale →
    maxscale_cdc streaming source) carrying a documents table, typed-
    projected per micro-batch and folded into the LLM dedup lake
    (IncrementalLSHDedupSink) — exact copies and near-dups arriving as
    row-change events never enter the kept corpus."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the warm windowsill nearby every single morning")
    docs_ddl = dict(DDL, table="documents", fields=[
        {"name": "doc_id", "type": "int"},
        {"name": "text", "type": "string"},
    ])
    payloads = {
        1: base,
        2: base,                                   # exact copy of 1
        3: base.replace("morning", "evening"),     # near-dup of 1 (J ≈ 0.9)
        4: "completely different content about distributed query engines and shuffles",
        5: "yet another unrelated document mentioning parquet files and arrow batches",
    }
    script = [docs_ddl] + [
        dml(i, doc_id=i, text=payloads[i]) for i in sorted(payloads)
    ]

    reg = SchemaRegistry()
    reg.register(json.dumps(docs_ddl).encode())
    schema = reg.full_dml_schema("example", "documents")
    sink = IncrementalLSHDedupSink(str(tmp_path / "cdc_lake"), threshold=0.8)

    def fold(batch_df, epoch_id):
        projected = (
            batch_df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select(F.col("r.doc_id").cast("long").alias("doc_id"), "r.text")
        )
        sink.apply_batch(projected, epoch_id)

    opts = dict(read_options((None, None)), table="documents")
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        opts["host"], opts["port"] = addr[0], str(addr[1])
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.foreachBatch(fold)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 45
            while time.time() < deadline:
                try:
                    if sink.read_kept(registered).count() >= 3:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    kept = {r.doc_id for r in sink.read_kept(registered).collect()}
    assert 1 in kept and 4 in kept and 5 in kept
    assert 2 not in kept, "exact CDC copy survived"
    assert 3 not in kept, "near-dup CDC payload survived"


def test_cdc_stream_feeds_substring_key_lake(registered, tmp_path):
    """CDC documents stream → SubstringKeyLakeSink under the REAL
    Structured Streaming engine: window keys accumulate per committed
    epoch and the online probe flags a doc that verbatim-copies lake
    content while passing a fresh one."""
    from gomaxscale_spark.streaming.sinks import SubstringKeyLakeSink

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs_ddl = dict(DDL, table="documents", fields=[
        {"name": "doc_id", "type": "int"},
        {"name": "text", "type": "string"},
    ])
    payloads = {
        1: base,
        2: "entirely different tokens about query planning and shuffles today",
    }
    script = [docs_ddl] + [
        dml(i, doc_id=i, text=payloads[i]) for i in sorted(payloads)
    ]
    reg = SchemaRegistry()
    reg.register(json.dumps(docs_ddl).encode())
    schema = reg.full_dml_schema("example", "documents")
    sink = SubstringKeyLakeSink(str(tmp_path / "cdc_sslake"), window=8)

    def fold(batch_df, epoch_id):
        projected = (
            batch_df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select(F.col("r.doc_id").cast("long").alias("doc_id"), "r.text")
        )
        sink.apply_batch(projected, epoch_id)

    opts = dict(read_options((None, None)), table="documents")
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        opts["host"], opts["port"] = addr[0], str(addr[1])
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.foreachBatch(fold)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 45
            while time.time() < deadline:
                try:
                    if sink.read_keys(registered).count() >= 20:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    probes = registered.createDataFrame(
        [(100, "xx " + " ".join(base.split()[:10]) + " yy"),
         (101, "totally novel probe text never seen in the lake corpus")],
        "doc_id long, text string",
    )
    cov = {r["doc_id"]: r for r in sink.probe_coverage(probes).collect()}
    assert cov[100]["lake_tokens"] == 10  # the copied 10-token prefix
    assert cov[101]["lake_tokens"] == 0


def test_cdc_stream_feeds_lm_sink(registered, tmp_path):
    """CDC documents stream → IncrementalLMSink under the REAL engine:
    count deltas land per committed epoch and the online score ranks a
    target-like probe above a spam-like one."""
    from gomaxscale_spark.streaming.lm_sink import IncrementalLMSink

    docs_ddl = dict(DDL, table="documents", fields=[
        {"name": "doc_id", "type": "int"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string"},
    ])
    payloads = {
        1: ("science history theory physics atom cell gene energy", "en"),
        2: ("click buy cheap deal offer win prize now", "xx"),
        3: ("theory atom physics science gene cell history energy", "en"),
    }
    script = [docs_ddl] + [
        dml(i, doc_id=i, text=payloads[i][0], lang=payloads[i][1])
        for i in sorted(payloads)
    ]
    reg = SchemaRegistry()
    reg.register(json.dumps(docs_ddl).encode())
    schema = reg.full_dml_schema("example", "documents")
    sink = IncrementalLMSink(
        str(tmp_path / "cdc_lm"), target_sql="lang = 'en'", n_buckets=512
    )

    def fold(batch_df, epoch_id):
        projected = (
            batch_df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select(
                F.col("r.doc_id").cast("long").alias("doc_id"), "r.text", "r.lang"
            )
        )
        sink.apply_batch(projected, epoch_id)

    opts = dict(read_options((None, None)), table="documents")
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        opts["host"], opts["port"] = addr[0], str(addr[1])
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.foreachBatch(fold)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 45
            while time.time() < deadline:
                try:
                    if (
                        sink.read_lm(registered).agg(F.sum("rc")).collect()[0][0]
                        or 0
                    ) >= 24:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    probes = registered.createDataFrame(
        [(100, "science physics atom theory"), (101, "cheap win prize deal")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["weight_micro"] / r["n_tokens"]
           for r in sink.score(probes).collect()}
    assert got[100] > got[101], got


def test_cdc_stream_feeds_release_gate(registered, tmp_path):
    """The full serving loop under the REAL engine (r11): ONE CDC
    documents stream folds into all three release-gate lakes (LSH
    text dedup, substring keys, DSIR LM) in the same foreachBatch,
    then `release_report_online` answers over the committed lake
    state: a verbatim-copy probe flags both contamination methods at
    1.0, a fresh probe reads zeros, and the target-like probe scores
    a higher LM weight than the spam-like one."""
    from gomaxscale_spark.streaming.lm_sink import IncrementalLMSink
    from gomaxscale_spark.streaming.sinks import (
        IncrementalLSHDedupSink,
        SubstringKeyLakeSink,
        release_report_online,
    )

    base = ("science history theory physics atom cell gene energy "
            "matter field force motion light wave charge spin")
    spam = "click buy cheap deal offer win prize now sale coupon"
    docs_ddl = dict(DDL, table="documents", fields=[
        {"name": "doc_id", "type": "int"},
        {"name": "text", "type": "string"},
        {"name": "lang", "type": "string"},
    ])
    payloads = {1: (base, "en"), 2: (spam, "xx")}
    script = [docs_ddl] + [
        dml(i, doc_id=i, text=payloads[i][0], lang=payloads[i][1])
        for i in sorted(payloads)
    ]
    reg = SchemaRegistry()
    reg.register(json.dumps(docs_ddl).encode())
    schema = reg.full_dml_schema("example", "documents")

    lsh = IncrementalLSHDedupSink(str(tmp_path / "rg_lsh"), threshold=0.8)
    keys = SubstringKeyLakeSink(str(tmp_path / "rg_keys"), window=8)
    lm = IncrementalLMSink(
        str(tmp_path / "rg_lm"), target_sql="lang = 'en'", n_buckets=512
    )

    def fold(batch_df, epoch_id):
        projected = (
            batch_df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select(
                F.col("r.doc_id").cast("long").alias("doc_id"),
                "r.text",
                "r.lang",
            )
        )
        lsh.apply_batch(projected.select("doc_id", "text"), epoch_id)
        keys.apply_batch(projected.select("doc_id", "text"), epoch_id)
        lm.apply_batch(projected, epoch_id)

    opts = dict(read_options((None, None)), table="documents")
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        opts["host"], opts["port"] = addr[0], str(addr[1])
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.foreachBatch(fold)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            while time.time() < deadline:
                try:
                    ready = (
                        keys.read_keys(registered).count() >= 10
                        and (
                            lm.read_lm(registered)
                            .agg(F.sum("rc"))
                            .collect()[0][0]
                            or 0
                        )
                        >= 20
                        and lsh.read_kept(registered).count() >= 2
                    )
                    if ready:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    probes = registered.createDataFrame(
        [
            (100, base),                                   # verbatim lake copy
            (101, "entirely novel probe tokens unseen anywhere today ok"),
            (102, spam),                                   # off-target copy
        ],
        "doc_id long, text string",
    )
    rep = {
        (r["doc_id"], r["method"]): r["evidence"]
        for r in release_report_online(lsh, keys, lm, probes).collect()
    }
    assert len(rep) == 9  # 3 probes × 3 methods, zeros kept
    assert rep[(100, "near_dup_jaccard")] == 1.0
    assert rep[(100, "span_coverage")] == 1.0
    assert rep[(101, "near_dup_jaccard")] == 0.0
    assert rep[(101, "span_coverage")] == 0.0
    # target-likeness orders the probes: lake-en copy > novel > spam copy
    assert (
        rep[(100, "dsir_logweight_per_token")]
        > rep[(102, "dsir_logweight_per_token")]
    )


def test_cdc_stream_feeds_term_stats_lake(registered, tmp_path):
    """CDC documents stream → TermStatsLakeSink under the REAL engine
    (the retrieval family's serving loop, r13): df/meta deltas land per
    committed epoch, and the online BM25 score ranks the doc that
    actually contains the query terms above one that doesn't."""
    from gomaxscale_spark.streaming.term_stats import TermStatsLakeSink

    docs_ddl = dict(DDL, table="documents", fields=[
        {"name": "doc_id", "type": "int"},
        {"name": "text", "type": "string"},
    ])
    payloads = {
        1: "spark window query plan shuffle join",
        2: "cheap deal offer prize now buy",
        3: "spark spark window agg scan filter",
    }
    script = [docs_ddl] + [
        dml(i, doc_id=i, text=payloads[i]) for i in sorted(payloads)
    ]
    reg = SchemaRegistry()
    reg.register(json.dumps(docs_ddl).encode())
    schema = reg.full_dml_schema("example", "documents")
    sink = TermStatsLakeSink(str(tmp_path / "cdc_ts"), n_buckets=512)

    def fold(batch_df, epoch_id):
        projected = (
            batch_df.filter(F.col("kind") == "dml")
            .select(F.from_json("raw", schema).alias("r"))
            .select(F.col("r.doc_id").cast("long").alias("doc_id"), "r.text")
        )
        sink.apply_batch(projected, epoch_id)

    opts = dict(read_options((None, None)), table="documents")
    with MockMaxScaleServer(script=script, write_delay=0.05) as addr:
        opts["host"], opts["port"] = addr[0], str(addr[1])
        q = (
            registered.readStream.format("maxscale_cdc")
            .options(**opts)
            .load()
            .writeStream.foreachBatch(fold)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 45
            while time.time() < deadline:
                try:
                    _, meta = sink.read_stats(registered)
                    if (meta.collect()[0]["n_docs"] or 0) >= 3:
                        break
                except Exception:
                    pass
                time.sleep(0.5)
        finally:
            q.stop()

    _, meta = sink.read_stats(registered)
    assert meta.collect()[0]["n_docs"] == 3
    probes = registered.createDataFrame(
        [(100, "spark window shuffle"), (101, "prize deal buy")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["score"]
           for r in sink.score(probes, ["spark", "window"]).collect()}
    assert got.get(100, 0) > 0 and 101 not in got, got
