"""Write path (routed parquet, CDC snapshot sink) + the demo CLI."""

from __future__ import annotations

import subprocess
import sys

import pytest

from pyspark.sql import functions as F

from gomaxscale_spark.catalog import load_table
from gomaxscale_spark.sources.mock_server import MockMaxScaleServer
from gomaxscale_spark.streaming.sinks import CDCSnapshotSink, write_routed


def test_write_routed_partitions_by_event_type(spark, sf_dir, tmp_path):
    path = str(tmp_path / "routed")
    df = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    write_routed(df, path)
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    import os

    kinds = {d.split("=")[1] for d in os.listdir(path) if d.startswith("event_type=")}
    assert kinds == {"click", "view", "purchase", "signup", "error"}
    # partition pruning: a route filter reads one directory
    one = back.filter(F.col("event_type") == "click")
    assert "click" in one._jdf.queryExecution().executedPlan().toString() or one.count() > 0


def test_cdc_snapshot_sink_incremental(spark, tmp_path):
    path = str(tmp_path / "snap")
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq", "event_number"])

    b1 = spark.createDataFrame(
        [
            (1, "insert", 10.0, 100, 1),
            (2, "insert", 20.0, 101, 1),
            (3, "insert", 30.0, 102, 1),
        ],
        "id int, event_type string, v double, seq long, event_number int",
    )
    sink.apply_batch(b1)
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert state == {1: 10.0, 2: 20.0, 3: 30.0}

    b2 = spark.createDataFrame(
        [
            (1, "update_before", 10.0, 200, 1),
            (1, "update_after", 11.0, 200, 2),
            (2, "delete", 20.0, 201, 1),
            (4, "insert", 40.0, 202, 1),
        ],
        "id int, event_type string, v double, seq long, event_number int",
    )
    sink.apply_batch(b2)
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert state == {1: 11.0, 3: 30.0, 4: 40.0}  # updated, deleted, kept, inserted


def test_cdc_snapshot_sink_steady_batch_infers_no_schema(spark, tmp_path, spark_jobs):
    """A steady batch reads the live buckets with the schema the sink
    last staged, so it runs no parquet schema-inference job (4 jobs, 5
    with one). A restarted sink infers once, and the folded snapshot
    equals the batch fold of every event either way."""
    from gomaxscale_spark.operators.snapshot import materialize_snapshot

    path = str(tmp_path / "snap_jobs")
    schema = "id int, event_type string, v double, seq long"
    batches = [
        spark.createDataFrame(
            [(i % 7, "insert" if e == 0 else "update_after", float(10 * e + i), 100 * e + i)
             for i in range(20)],
            schema,
        )
        for e in range(4)
    ]
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    sink.apply_batch(batches[0])
    assert spark_jobs(lambda: sink.apply_batch(batches[1]))[1] == 4
    restarted = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    assert spark_jobs(lambda: restarted.apply_batch(batches[2]))[1] == 5
    assert spark_jobs(lambda: restarted.apply_batch(batches[3]))[1] == 4

    everything = batches[0].unionByName(batches[1]).unionByName(batches[2]).unionByName(batches[3])
    want = materialize_snapshot(everything, ["id"], ["seq"]).collect()
    got = restarted.read_snapshot(spark).select(*everything.columns).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    # a batch lacking a live column still fails the fold, as it did
    # when the live buckets' schema was inferred on every batch
    with pytest.raises(Exception):
        restarted.apply_batch(batches[3].drop("v"))


def test_cdc_snapshot_sink_as_stream_target(spark, tmp_path):
    """foreachBatch wiring end-to-end over a rate-limited memory stream."""
    import time

    path = str(tmp_path / "snap_stream")
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    src_path = str(tmp_path / "changes")
    changes = spark.createDataFrame(
        [(i % 5, "insert", float(i), i) for i in range(50)],
        "id int, event_type string, v double, seq long",
    )
    changes.repartition(4).write.mode("overwrite").parquet(src_path)
    stream = spark.readStream.schema(changes.schema).option("maxFilesPerTrigger", 1).parquet(src_path)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    time.sleep(0.2)
    snap = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    # latest seq per key wins: ids 0..4, seq 45..49 → v 45.0..49.0
    assert snap == {i: float(45 + i) for i in range(5)}


def test_cdc_snapshot_sink_bucket_scoped_rewrite(spark, tmp_path):
    """The scale contract of the snapshot sink: a micro-batch touching
    one key must rewrite ONLY that key's hash bucket — every other
    bucket's files stay byte-identical on disk (same names, inodes,
    mtimes). A batch deleting every key in a bucket removes exactly
    that bucket's directory."""
    import os

    path = str(tmp_path / "snap_buckets")
    schema = "id int, event_type string, v double, seq long"
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    b1 = spark.createDataFrame(
        [(i, "insert", float(i), i) for i in range(50)], schema
    )
    sink.apply_batch(b1)

    def listing():
        out = {}
        for d in os.listdir(path):
            if d.startswith("__bucket="):
                files = {}
                for f in sorted(os.listdir(os.path.join(path, d))):
                    st = os.stat(os.path.join(path, d, f))
                    files[f] = (st.st_ino, st.st_mtime_ns, st.st_size)
                out[d] = files
        return out

    bmap = {
        r.id: r.b
        for r in spark.createDataFrame([(i,) for i in range(50)], "id int")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(16)).alias("b"))
        .collect()
    }
    assert len(set(bmap.values())) > 1, "fixture must span several buckets"

    before = listing()
    target = f"__bucket={bmap[7]}"
    sink.apply_batch(
        spark.createDataFrame([(7, "update_after", 99.0, 100)], schema)
    )
    after = listing()
    assert after[target] != before[target], "touched bucket must be rewritten"
    for d in before:
        if d != target:
            assert after[d] == before[d], f"untouched bucket {d} was rewritten"
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert state[7] == 99.0 and len(state) == 50

    # delete EVERY key of one bucket → its directory disappears; all
    # other buckets' files again stay untouched
    victims = [i for i in bmap if bmap[i] == bmap[7]]
    before2 = listing()
    sink.apply_batch(
        spark.createDataFrame(
            [(i, "delete", 0.0, 200 + i) for i in victims], schema
        )
    )
    after2 = listing()
    assert target not in after2, "fully-deleted bucket dir must be removed"
    for d in before2:
        if d != target:
            assert after2[d] == before2[d]
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert len(state) == 50 - len(victims)
    assert not any(i in state for i in victims)


@pytest.mark.parametrize("rebuild_scope", ["keys", "bucket", "auto"])
def test_cdc_history_sink_incremental(spark, tmp_path, rebuild_scope):
    """The streaming SCD2 sink: a later micro-batch must CLOSE a
    previously-open version (the thing an append-only history gets
    wrong), deletes close without opening, replay is a no-op, the
    result equals the batch fold over all events, and a 1-key batch
    rewrites only its key's bucket. Both rebuild scopes (touched-keys
    refold + untouched-rows carry vs whole-bucket refold) must be
    result-identical."""
    import os

    from gomaxscale_spark.operators.snapshot import materialize_history
    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    schema = "id int, event_type string, v double, seq long"
    path = str(tmp_path / f"hist_{rebuild_scope}")
    sink = CDCHistorySink(
        path, key_cols=["id"], order_cols=["seq"], rebuild_scope=rebuild_scope
    )

    b1 = spark.createDataFrame(
        [(1, "insert", 10.0, 100), (2, "insert", 20.0, 110)]
        + [(i, "insert", float(i), 120 + i) for i in range(4, 20)],
        schema,
    )
    sink.apply_batch(b1, 0)
    assert all(
        r.is_current and r.valid_to is None
        for r in sink.read_history(spark).collect()
    )

    b2 = spark.createDataFrame(
        [
            (1, "update_before", 10.0, 200),
            (1, "update_after", 11.0, 200),
            (2, "delete", 20.0, 210),
            (3, "insert", 30.0, 220),
        ],
        schema,
    )
    sink.apply_batch(b2, 1)
    hist = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in sink.read_history(spark).collect()
    }
    assert (1, 10.0, 100, 200, False) in hist, "open version must be CLOSED"
    assert (1, 11.0, 200, None, True) in hist
    assert (2, 20.0, 110, 210, False) in hist  # delete closed it
    assert not any(r[0] == 2 and r[4] for r in hist)
    assert (3, 30.0, 220, None, True) in hist

    # replay of a committed epoch is a no-op
    sink.apply_batch(b2, 1)
    hist2 = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in sink.read_history(spark).collect()
    }
    assert hist2 == hist

    # equals the batch fold over the full changelog
    batch_hist = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in materialize_history(
            b1.unionByName(b2), ["id"], ["seq"]
        ).collect()
    }
    assert hist == batch_hist

    # bucket-scoped rewrite: a 1-key batch leaves other buckets alone
    def listing():
        out = {}
        for d in os.listdir(f"{path}/history"):
            if d.startswith("__bucket="):
                files = {}
                for f in sorted(os.listdir(os.path.join(path, "history", d))):
                    st = os.stat(os.path.join(path, "history", d, f))
                    files[f] = (st.st_ino, st.st_mtime_ns, st.st_size)
                out[d] = files
        return out

    bmap = {
        r.id: r.b
        for r in spark.createDataFrame([(i,) for i in range(20)], "id int")
        .select("id", F.pmod(F.xxhash64("id"), F.lit(16)).alias("b"))
        .collect()
    }
    before = listing()
    b3 = spark.createDataFrame([(4, "update_after", 44.0, 300)], schema)
    sink.apply_batch(b3, 2)
    after = listing()
    target = f"__bucket={bmap[4]}"
    assert after[target] != before[target]
    for d in before:
        if d != target:
            assert after[d] == before[d], f"untouched bucket {d} was rewritten"

    # content check after the 1-key rewrite: untouched keys in the
    # touched bucket must keep their rows (the "keys" scope carries
    # them verbatim; "bucket" refolds them) — both equal the batch fold
    final = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in sink.read_history(spark).collect()
    }
    expected = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in materialize_history(
            b1.unionByName(b2).unionByName(b3), ["id"], ["seq"]
        ).collect()
    }
    assert final == expected


def test_cdc_history_sink_compact_log(spark, tmp_path):
    """Log compaction: 3 committed epochs fold into one base epoch dir
    (bucket partitioning kept), history is identical before/after,
    old-epoch replays stay no-ops, a subsequent batch rebuilds
    correctly from the compacted log, and a crash between the two
    renames self-heals."""
    import os
    import shutil as _sh

    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    schema = "id int, event_type string, v double, seq long"
    path = str(tmp_path / "hist_compact")
    sink = CDCHistorySink(path, key_cols=["id"], order_cols=["seq"])
    for e in range(3):
        sink.apply_batch(
            spark.createDataFrame(
                [(i, "insert", float(100 * e + i), 100 * e + i) for i in range(8)],
                schema,
            ),
            e,
        )
    before = sorted(
        (r.id, r.v, r.valid_from, r.valid_to) for r in sink.read_history(spark).collect()
    )
    assert len([d for d in os.listdir(f"{path}/log") if d.startswith("epoch=")]) == 3

    sink.compact_log(spark)
    assert [d for d in os.listdir(f"{path}/log") if d.startswith("epoch=")] == ["epoch=2"]
    # replay of a compacted epoch is still a no-op
    sink.apply_batch(
        spark.createDataFrame([(0, "insert", -1.0, 999)], schema), 1
    )
    after = sorted(
        (r.id, r.v, r.valid_from, r.valid_to) for r in sink.read_history(spark).collect()
    )
    assert after == before

    # a new batch rebuilds correctly from the compacted log: key 0's
    # open version (v=200.0 at seq=200) must close at the new event
    sink.apply_batch(
        spark.createDataFrame([(0, "update_after", 7.0, 500)], schema), 3
    )
    rows = {
        (r.v, r.valid_from, r.valid_to)
        for r in sink.read_history(spark).collect()
        if r.id == 0
    }
    assert (200.0, 200, 500) in rows and (7.0, 500, None) in rows

    # crash window between the renames: only log__new on disk
    _sh.copytree(f"{path}/log", f"{path}/log__new")
    _sh.move(f"{path}/log", f"{path}/log__old")
    sink.apply_batch(
        spark.createDataFrame([(1, "update_after", 8.0, 600)], schema), 4
    )
    assert os.path.isdir(f"{path}/log")
    assert not os.path.isdir(f"{path}/log__new")
    assert not os.path.isdir(f"{path}/log__old")
    rows1 = {
        (r.v, r.valid_from, r.valid_to)
        for r in sink.read_history(spark).collect()
        if r.id == 1
    }
    assert (8.0, 600, None) in rows1


def test_cdc_history_sink_as_stream_target(spark, tmp_path):
    """CDCHistorySink through the REAL engine: readStream over a
    chunked changelog → foreachBatch → availableNow; final history
    equals the batch fold regardless of chunking."""
    import time

    from gomaxscale_spark.operators.snapshot import materialize_history
    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    changes = spark.createDataFrame(
        [(i % 5, "insert", float(i), i) for i in range(40)]
        + [(1, "delete", 0.0, 100)],
        "id int, event_type string, v double, seq long",
    )
    src = str(tmp_path / "hist_changes")
    changes.repartition(4).write.mode("overwrite").parquet(src)
    sink = CDCHistorySink(str(tmp_path / "hist_stream"), key_cols=["id"], order_cols=["seq"])
    stream = (
        spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    time.sleep(0.2)
    got = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in sink.read_history(spark).collect()
    }
    want = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in materialize_history(changes, ["id"], ["seq"]).collect()
    }
    # 40 insert images = 40 version rows; the delete only closes one
    assert got == want and len(got) == 40


DML = {
    "domain": 0,
    "server_id": 1,
    "sequence": 1,
    "event_number": 1,
    "timestamp": 1704067200,
    "event_type": "insert",
    "id": 7,
}


@pytest.mark.slow
def test_cli_once_mode_prints_events():
    with MockMaxScaleServer(script=[DML, dict(DML, sequence=2)]) as (host, port):
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "gomaxscale_spark.cli",
                "--host", host,
                "--port", str(port),
                "--database", "example",
                "--table", "users",
                "--user", "u",
                "--password", "p",
                "--read-timeout", "0.2",
                "--once",
                "--cpus", "2",
            ],
            capture_output=True,
            text=True,
            timeout=180,
        )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "[dml] seq=1" in proc.stdout
    assert "[dml] seq=2" in proc.stdout


def test_cli_requires_database_and_table():
    from gomaxscale_spark.cli import main

    assert main(["--host", "x"]) == 2


def test_cdc_snapshot_sink_idempotent_replay(spark, tmp_path):
    """foreachBatch may re-run a batch after failure; the latest-wins
    fold of (current ∪ batch) makes re-application a no-op — the
    exactly-once story for the sink side."""
    path = str(tmp_path / "snap_idem")
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    batch = spark.createDataFrame(
        [(1, "insert", 1.0, 10), (2, "insert", 2.0, 11), (1, "delete", 1.0, 12)],
        "id int, event_type string, v double, seq long",
    )
    sink.apply_batch(batch)
    state1 = sorted((r.id, r.v) for r in sink.read_snapshot(spark).collect())
    sink.apply_batch(batch)  # replay the exact same epoch
    state2 = sorted((r.id, r.v) for r in sink.read_snapshot(spark).collect())
    assert state1 == state2 == [(2, 2.0)]


@pytest.mark.slow
def test_cli_streaming_mode_prints_stats():
    """The default streaming mode: console sink + per-batch stats lines
    (the reference's WithStats output, gomaxscale_test.go:296-297)."""
    script = [dict(DML, sequence=i) for i in range(1, 6)]
    # generous keep_open/duration: the subprocess boots a second JVM,
    # which can take >10 s when the host is loaded (full-suite runs)
    with MockMaxScaleServer(script=script, write_delay=0.1, keep_open=25.0) as (host, port):
        proc = subprocess.run(
            [
                sys.executable, "-m", "gomaxscale_spark.cli",
                "--host", host, "--port", str(port),
                "--database", "example", "--table", "users",
                "--user", "u", "--password", "p",
                "--read-timeout", "0.2",
                "--duration", "28",
                "--cpus", "2",
            ],
            capture_output=True,
            text=True,
            timeout=240,
        )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # console sink batches reached stdout; stats lines reached stderr
    assert "Batch:" in proc.stdout
    assert "events/second" in proc.stderr


def test_incremental_lsh_dedup_sink(spark, sf_dir, tmp_path):
    """The streaming dedup lake: documents applied in 3 chronological
    micro-batches must (a) keep a digest-unique corpus, (b) keep NO
    verified near-dup pair (the kept set is an independent set of the
    match graph — checked by running the same candidate generator +
    verify over the final kept corpus), (c) agree with the one-batch
    run on the exact layer, and (d) be idempotent under epoch replay."""
    from gomaxscale_spark.operators import dedup as D
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]

    sink = IncrementalLSHDedupSink(str(tmp_path / "lake"), threshold=0.8)
    b1 = docs.filter(F.col("doc_id") <= cut1)
    b2 = docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2))
    b3 = docs.filter(F.col("doc_id") > cut2)
    for epoch, b in enumerate([b1, b2, b3]):
        sink.apply_batch(b, epoch)
    # (d) replaying an already-applied epoch is a no-op
    n_before = sink.read_kept(spark).count()
    sink.apply_batch(b2, 1)
    kept = sink.read_kept(spark)
    assert kept.count() == n_before

    # (a) digest-unique
    n = kept.count()
    assert n > 0
    assert kept.select(F.md5("text")).distinct().count() == n

    # (b) independent set: no verified pair survives among kept docs
    cands = D.minhash_lsh_candidates(
        kept, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2
    )
    pairs = D.verify_candidates_jaccard(kept, cands, "doc_id", "text", 0.8, 2)
    assert pairs.count() == 0, "kept corpus still contains verified near-dups"

    # (c) one-batch run: exact layer must agree; near-dup layer may
    # diverge only on cross-batch chain cases
    sink1 = IncrementalLSHDedupSink(str(tmp_path / "lake_one"), threshold=0.8)
    sink1.apply_batch(docs, 0)
    kept1 = sink1.read_kept(spark)
    d3 = {r[0] for r in kept.select(F.md5("text")).collect()}
    d1 = {r[0] for r in kept1.select(F.md5("text")).collect()}
    assert d3 == d1, "batch-split changed the kept corpus on this fixture"


def test_incremental_lsh_dedup_sink_as_stream_target(spark, sf_dir, tmp_path):
    """The dedup-lake sink through the REAL engine: readStream over the
    chunked corpus → writeStream.foreachBatch(sink) → the lake ends
    digest-unique and near-dup-free, same as direct apply_batch."""
    import time

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    src_path = str(tmp_path / "doc_stream")
    docs.repartition(3).write.mode("overwrite").parquet(src_path)
    sink = IncrementalLSHDedupSink(str(tmp_path / "lake_stream"), threshold=0.8)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_path)
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)
    time.sleep(0.2)
    kept = sink.read_kept(spark)
    n = kept.count()
    assert n > 0
    assert kept.select(F.md5("text")).distinct().count() == n


@pytest.mark.parametrize("fail_stage", ["kept", "bands"])
def test_incremental_lsh_dedup_sink_crash_between_writes(
    spark, sf_dir, tmp_path, fail_stage
):
    """The commit-protocol hole the r6 review found: a crash BETWEEN the
    kept and bands writes (or after bands, before the marker) must not
    strip docs from the band index on retry. With the epoch-scoped
    commit, the retry clears the partial epoch dirs first, so the final
    lake (a) covers every kept doc in bands/ and (b) is identical to a
    crash-free run."""
    import os

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b1 = docs.filter(F.col("doc_id") <= cut)
    b2 = docs.filter(F.col("doc_id") > cut)

    path = str(tmp_path / f"lake_crash_{fail_stage}")
    sink = IncrementalLSHDedupSink(path, threshold=0.8)
    sink.apply_batch(b1, 0)
    sink._fail_after = fail_stage
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(b2, 1)
    # partial state on disk, no marker — exactly the failure window
    assert os.path.isdir(f"{path}/kept/epoch=1")
    assert os.path.isdir(f"{path}/bands/epoch=1") == (fail_stage == "bands")
    assert not os.path.exists(f"{path}/_epoch_1")

    sink._fail_after = None
    sink.apply_batch(b2, 1)  # foreachBatch's retry of the same epoch
    assert os.path.exists(f"{path}/_epoch_1")
    kept_ids = {r.doc_id for r in sink.read_kept(spark).select("doc_id").collect()}
    band_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert kept_ids == band_ids, "band index must cover every kept doc"

    clean = IncrementalLSHDedupSink(str(tmp_path / f"lake_clean_{fail_stage}"), threshold=0.8)
    clean.apply_batch(b1, 0)
    clean.apply_batch(b2, 1)
    clean_ids = {r.doc_id for r in clean.read_kept(spark).select("doc_id").collect()}
    assert kept_ids == clean_ids, "crash+retry must equal the crash-free run"


def test_incremental_lsh_dedup_sink_compaction(spark, sf_dir, tmp_path):
    """Epoch compaction (the small-files control): after 3 committed
    epochs, compact() folds kept/ and bands/ into one base epoch dir —
    contents identical, band index still covers every kept doc, old
    epoch markers still make replays no-ops, and the next epoch
    applies cleanly on top."""
    import os

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    c1, c2, c3 = ids[len(ids) // 4], ids[len(ids) // 2], ids[3 * len(ids) // 4]
    path = str(tmp_path / "lake_compact")
    sink = IncrementalLSHDedupSink(path, threshold=0.8)
    sink.apply_batch(docs.filter(F.col("doc_id") <= c1), 0)
    sink.apply_batch(docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)), 1)
    sink.apply_batch(docs.filter((F.col("doc_id") > c2) & (F.col("doc_id") <= c3)), 2)

    before_ids = sorted(r.doc_id for r in sink.read_kept(spark).collect())
    assert len(os.listdir(f"{path}/kept")) >= 3  # one dir per epoch

    sink.compact(spark, target_files=2)
    kept_dirs = [d for d in os.listdir(f"{path}/kept") if d.startswith("epoch=")]
    assert kept_dirs == ["epoch=2"], kept_dirs
    assert sorted(r.doc_id for r in sink.read_kept(spark).collect()) == before_ids
    kept_set = set(before_ids)
    band_set = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands").select("doc_id").distinct().collect()
    }
    assert band_set == kept_set

    # replaying a compacted epoch is still a no-op (markers survive)
    sink.apply_batch(docs.filter(F.col("doc_id") <= c1), 1)
    assert sorted(r.doc_id for r in sink.read_kept(spark).collect()) == before_ids

    # the next epoch applies on top of the compacted base
    sink.apply_batch(docs.filter(F.col("doc_id") > c3), 3)
    after = sorted(r.doc_id for r in sink.read_kept(spark).collect())
    assert set(after) > kept_set

    # equivalent un-compacted run agrees exactly
    ref = IncrementalLSHDedupSink(str(tmp_path / "lake_ref"), threshold=0.8)
    ref.apply_batch(docs.filter(F.col("doc_id") <= c1), 0)
    ref.apply_batch(docs.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2)), 1)
    ref.apply_batch(docs.filter((F.col("doc_id") > c2) & (F.col("doc_id") <= c3)), 2)
    ref.apply_batch(docs.filter(F.col("doc_id") > c3), 3)
    assert after == sorted(r.doc_id for r in ref.read_kept(spark).collect())


def test_incremental_lsh_dedup_sink_compaction_swap_recovery(spark, tmp_path):
    """A compaction crash between the two renames (live dir gone,
    __new staged) must self-heal on the next apply_batch."""
    import os
    import shutil

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = spark.createDataFrame(
        [(i, f"wholly distinct document number {i} {'x' * (i % 7)}") for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lake_swap")
    sink = IncrementalLSHDedupSink(path, threshold=0.8)
    sink.apply_batch(docs.filter(F.col("doc_id") < 15), 0)
    sink.apply_batch(docs.filter(F.col("doc_id") >= 15), 1)
    before = sorted(r.doc_id for r in sink.read_kept(spark).collect())

    # simulate the crash window: kept/ renamed away, staged copy present
    shutil.copytree(f"{path}/kept", f"{path}/kept__new")
    shutil.move(f"{path}/kept", f"{path}/kept__old")
    assert not os.path.isdir(f"{path}/kept")

    sink.apply_batch(docs.limit(0), 2)  # any next batch triggers recovery
    assert os.path.isdir(f"{path}/kept")
    assert not os.path.isdir(f"{path}/kept__new")
    assert not os.path.isdir(f"{path}/kept__old")
    assert sorted(r.doc_id for r in sink.read_kept(spark).collect()) == before


def test_incremental_lsh_dedup_sink_drain_review(spark, tmp_path):
    """The deferred-work channel is DRAINABLE end-to-end. With cap=1
    blocking all candidate generation, two repetition-class near-dups
    ('alpha beta' ×2 vs ×3 — IDENTICAL 2-shingle sets, different
    digests) both enter the lake and make their band keys hot. The
    within-batch hot keys reach review/ in that same epoch, so the lake
    is drainable after the first batch. drain_review collapses the
    full-signature family (min-id kept),
    republishes kept/bands, consumes review/ — and, the closure, the
    cooled keys ride the AUTO cross-batch path again: the next
    repetition arrival is dropped without any review row."""
    import os
    import shutil

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    fillers = [
        (i, f"totally unrelated document number {i} carrying its own words {i * 7}")
        for i in range(10, 16)
    ]
    path = str(tmp_path / "lake_drain")
    sink = IncrementalLSHDedupSink(path, threshold=0.8, max_bucket_size=1)
    b0 = spark.createDataFrame(
        [(0, "alpha beta alpha beta"), (1, "alpha beta alpha beta alpha beta")]
        + fillers[:3],
        "doc_id long, text string",
    )
    sink.apply_batch(b0, 0)
    kept_ids = {r.doc_id for r in sink.read_kept(spark).collect()}
    assert {0, 1} <= kept_ids, "cap=1 must defer the within-batch near-dup pair"

    # the within-batch hot keys reach review/ in the epoch that made
    # them: a copy of the lake after b0 alone is already drainable
    assert spark.read.parquet(f"{path}/review").count() > 0
    shutil.copytree(path, f"{path}_b0")
    b0_only = IncrementalLSHDedupSink(f"{path}_b0", threshold=0.8, max_bucket_size=1)
    assert b0_only.drain_review(spark) == 1

    # the next batch's lake-side count pass surfaces the hot keys too
    sink.apply_batch(
        spark.createDataFrame(fillers[3:], "doc_id long, text string"), 1
    )
    assert spark.read.parquet(f"{path}/review").count() > 0

    assert sink.drain_review(spark) == 1  # doc 1 collapses into doc 0's family
    kept_ids = {r.doc_id for r in sink.read_kept(spark).collect()}
    assert 0 in kept_ids and 1 not in kept_ids
    assert not os.path.isdir(f"{path}/review"), "review queue must be consumed"
    band_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands").select("doc_id").distinct().collect()
    }
    assert band_ids == kept_ids, "band index must match the drained lake"

    # closure: the key is cool again (1 lake member ≤ cap), so the auto
    # cross-batch path drops the next repetition without deferring it
    sink.apply_batch(
        spark.createDataFrame(
            [(2, "alpha beta alpha beta alpha beta alpha beta")],
            "doc_id long, text string",
        ),
        2,
    )
    after = {r.doc_id for r in sink.read_kept(spark).collect()}
    assert 2 not in after
    assert after == kept_ids

    # idempotence: a second drain with an empty queue is a no-op
    assert sink.drain_review(spark) == 0


def test_incremental_lsh_dedup_sink_capped_review_queue(spark, tmp_path):
    """max_bucket_size=1 on a degenerate one-family corpus: every lake
    band key is hot, so the cross-batch auto join is skipped for all of
    them — near-dups are DEFERRED (kept + review rows), never silently
    dropped — while the exact digest layer still dedupes regardless of
    the cap."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    base = "common boilerplate text repeated across the corpus for every single document"
    docs = spark.createDataFrame(
        [(i, f"{base} {'tail' + str(i) if i % 2 else ''}") for i in range(12)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lake_capped")
    sink = IncrementalLSHDedupSink(path, threshold=0.8, max_bucket_size=1)
    sink.apply_batch(docs.filter(F.col("doc_id") < 6), 0)
    sink.apply_batch(docs.filter(F.col("doc_id") >= 6), 1)
    kept = sink.read_kept(spark)
    kept_ids = sorted(r.doc_id for r in kept.collect())
    # cap=1 blocks ALL near-dup candidate generation (a pair needs a
    # 2-member bucket), so only the digest layer dedupes: evens collapse
    # to doc 0, every odd tail-variant is deferred-kept
    assert kept_ids == [0, 1, 3, 5, 7, 9, 11]
    n = kept.count()
    assert kept.select(F.md5("text")).distinct().count() == n
    review = spark.read.parquet(f"{path}/review")
    assert review.count() > 0, "hot lake band keys should surface as review rows"
    # epoch-keyed: one row per (hot key, epoch), never per retry
    assert set(review.columns) == {"band_id", "band_hash", "n_members", "epoch"}
    assert review.agg(F.min("n_members")).head()[0] > 1
    n_review = review.count()
    sink.apply_batch(docs.filter(F.col("doc_id") >= 6), 1)  # committed replay
    assert spark.read.parquet(f"{path}/review").count() == n_review

    # uncapped control on the same corpus: near-dups actually drop
    sink2 = IncrementalLSHDedupSink(str(tmp_path / "lake_uncapped"), threshold=0.8)
    sink2.apply_batch(docs.filter(F.col("doc_id") < 6), 0)
    sink2.apply_batch(docs.filter(F.col("doc_id") >= 6), 1)
    assert sink2.read_kept(spark).count() < len(kept_ids)


def _bucket_listing(path):
    import os

    out = {}
    for d in os.listdir(path):
        if d.startswith("__bucket="):
            files = {}
            for f in sorted(os.listdir(os.path.join(path, d))):
                st = os.stat(os.path.join(path, d, f))
                files[f] = (st.st_ino, st.st_mtime_ns, st.st_size)
            out[d] = files
    return out


def test_cdc_snapshot_sink_read_error_aborts_batch(spark, tmp_path, monkeypatch):
    """The silent-data-loss hole the r7 review found: a TRANSIENT read
    failure on an existing snapshot must ABORT the batch (so
    foreachBatch retries the epoch), never be mistaken for 'no snapshot
    yet' — that mistake folds the batch alone and overwrites the
    touched buckets, permanently losing their other keys."""
    from pyspark.sql.readwriter import DataFrameReader

    path = str(tmp_path / "snap_read_err")
    schema = "id int, event_type string, v double, seq long"
    sink = CDCSnapshotSink(path, key_cols=["id"], order_cols=["seq"])
    sink.apply_batch(
        spark.createDataFrame(
            [(i, "insert", float(i), i) for i in range(10)], schema
        )
    )
    before = _bucket_listing(path)

    real = DataFrameReader.parquet

    def flaky(self, *paths, **kw):
        if any(str(p).startswith(path) for p in paths):
            raise RuntimeError("transient listing failure")
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    with pytest.raises(RuntimeError, match="transient listing failure"):
        sink.apply_batch(
            spark.createDataFrame([(3, "update_after", 99.0, 100)], schema)
        )
    monkeypatch.undo()

    # no bucket touched: same files, inodes, mtimes — and full state
    assert _bucket_listing(path) == before
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert state == {i: float(i) for i in range(10)}
    # the retry of the same batch then applies cleanly
    sink.apply_batch(
        spark.createDataFrame([(3, "update_after", 99.0, 100)], schema)
    )
    state = {r.id: r.v for r in sink.read_snapshot(spark).collect()}
    assert state[3] == 99.0 and len(state) == 10


def test_incremental_lsh_dedup_sink_read_error_aborts_epoch(
    spark, tmp_path, monkeypatch
):
    """Same hole, lake side: a transient failure reading kept/ or
    bands/ must abort the epoch (marker absent, no epoch dirs), never
    be read as 'empty lake' — that would skip the dedup layers and
    admit duplicates permanently once the marker commits."""
    import os

    from pyspark.sql.readwriter import DataFrameReader
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    path = str(tmp_path / "lake_read_err")
    sink = IncrementalLSHDedupSink(path, threshold=0.8)
    b1 = spark.createDataFrame(
        [(i, f"wholly distinct document number {i} with words {i * 13}") for i in range(8)],
        "doc_id long, text string",
    )
    # b2 re-sends doc 0's text under a new id — an exact dup the lake
    # layer must drop, which it can only do if it actually READS kept/
    b2 = spark.createDataFrame(
        [(100, "wholly distinct document number 0 with words 0"),
         (101, "a genuinely new document with its own content")],
        "doc_id long, text string",
    )
    sink.apply_batch(b1, 0)

    real = DataFrameReader.parquet

    def flaky(self, *paths, **kw):
        if any(str(p).startswith(path) for p in paths):
            raise RuntimeError("transient lake read failure")
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky)
    with pytest.raises(RuntimeError, match="transient lake read"):
        sink.apply_batch(b2, 1)
    monkeypatch.undo()

    assert not os.path.exists(f"{path}/_epoch_1")
    assert not os.path.isdir(f"{path}/kept/epoch=1")
    # retry succeeds and the exact layer did its job
    sink.apply_batch(b2, 1)
    kept = sink.read_kept(spark)
    ids = {r.doc_id for r in kept.collect()}
    assert 101 in ids and 100 not in ids, "duplicate must be dropped on retry"
    assert kept.select(F.md5("text")).distinct().count() == kept.count()


def test_drain_review_ignores_partial_epoch_dirs(spark, tmp_path):
    """ADVICE r7: drain_review must delete markerless (crashed) epoch
    dirs BEFORE folding lake state into the committed base — otherwise
    a crashed epoch's uncommitted survivors get published into
    epoch=<base>, and the stream's retry of that epoch re-appends them:
    duplicates in kept/."""
    import os

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    fillers = [
        (i, f"totally unrelated document number {i} carrying its own words {i * 7}")
        for i in range(10, 16)
    ]
    path = str(tmp_path / "lake_drain_partial")
    sink = IncrementalLSHDedupSink(path, threshold=0.8, max_bucket_size=1)
    sink.apply_batch(
        spark.createDataFrame(
            [(0, "alpha beta alpha beta"), (1, "alpha beta alpha beta alpha beta")]
            + fillers[:3],
            "doc_id long, text string",
        ),
        0,
    )
    sink.apply_batch(
        spark.createDataFrame(fillers[3:5], "doc_id long, text string"), 1
    )
    assert spark.read.parquet(f"{path}/review").count() > 0

    # epoch 2 crashes after its kept/ write — partial dirs, no marker
    extra = spark.createDataFrame(fillers[5:], "doc_id long, text string")
    sink._fail_after = "kept"
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(extra, 2)
    sink._fail_after = None
    assert os.path.isdir(f"{path}/kept/epoch=2")

    assert sink.drain_review(spark) == 1
    # the crashed epoch's docs were NOT folded into the committed base
    kept_ids = {r.doc_id for r in sink.read_kept(spark).collect()}
    assert 15 not in kept_ids
    assert not os.path.isdir(f"{path}/kept/epoch=2")

    # the stream's retry then admits them exactly once
    sink.apply_batch(extra, 2)
    kept = sink.read_kept(spark)
    assert {r.doc_id for r in kept.collect()} == kept_ids | {15}
    assert kept.select(F.md5("text")).distinct().count() == kept.count()


def test_drain_review_empty_committed_guard(spark, tmp_path):
    """ADVICE r7: a lake holding ONLY markerless (crashed) epoch dirs
    must make drain_review a clean no-op, not a ValueError on
    max(committed)."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    path = str(tmp_path / "lake_drain_empty")
    sink = IncrementalLSHDedupSink(path, threshold=0.8, max_bucket_size=1)
    sink._fail_after = "bands"
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(
            spark.createDataFrame(
                [(0, "alpha beta alpha beta"), (1, "alpha beta alpha beta alpha beta")],
                "doc_id long, text string",
            ),
            0,
        )
    sink._fail_after = None
    assert sink.drain_review(spark) == 0


def test_drain_review_crash_between_publishes_heals(spark, tmp_path, monkeypatch):
    """ADVICE r7: a drain that crashes between its kept and bands
    publishes leaves band rows for docs no longer in kept/. The
    re-drain must detect those orphans and prune them out of the bands
    republish even though no new family collapses (n_drop=0) — stale
    index rows must not survive forever."""
    import os

    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    fillers = [
        (i, f"totally unrelated document number {i} carrying its own words {i * 7}")
        for i in range(10, 16)
    ]
    path = str(tmp_path / "lake_drain_orphan")
    sink = IncrementalLSHDedupSink(path, threshold=0.8, max_bucket_size=1)
    sink.apply_batch(
        spark.createDataFrame(
            [(0, "alpha beta alpha beta"), (1, "alpha beta alpha beta alpha beta")]
            + fillers[:3],
            "doc_id long, text string",
        ),
        0,
    )
    sink.apply_batch(
        spark.createDataFrame(fillers[3:], "doc_id long, text string"), 1
    )
    assert spark.read.parquet(f"{path}/review").count() > 0

    orig = IncrementalLSHDedupSink._publish_sub

    def crash_on_bands(self, sub, df, base_epoch, target_files):
        if sub == "bands":
            raise RuntimeError("injected crash before bands publish")
        return orig(self, sub, df, base_epoch, target_files)

    monkeypatch.setattr(IncrementalLSHDedupSink, "_publish_sub", crash_on_bands)
    with pytest.raises(RuntimeError, match="injected crash before bands"):
        sink.drain_review(spark)
    monkeypatch.undo()

    # the crash window: doc 1 gone from kept/, still in bands/, review intact
    kept_ids = {r.doc_id for r in sink.read_kept(spark).collect()}
    band_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands").select("doc_id").distinct().collect()
    }
    assert 1 not in kept_ids and 1 in band_ids
    assert os.path.isdir(f"{path}/review")

    n2 = sink.drain_review(spark)  # heals: no new drop, orphans pruned
    assert n2 == 0
    band_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{path}/bands").select("doc_id").distinct().collect()
    }
    kept_ids = {r.doc_id for r in sink.read_kept(spark).collect()}
    assert band_ids == kept_ids, "orphan band rows must be pruned on re-drain"
    assert not os.path.isdir(f"{path}/review")


def test_maintenance_raises_during_inflight_batch(spark, tmp_path, monkeypatch):
    """Mandate r7: the maintenance-vs-trigger exclusion is ENFORCED,
    not a docstring convention — compact()/drain_review() called while
    an apply_batch is mid-flight must raise loudly instead of reading
    state the batch is mid-rewrite of. The guard releases afterward so
    between-trigger maintenance still runs."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    path = str(tmp_path / "lake_lock")
    sink = IncrementalLSHDedupSink(path, threshold=0.8)
    docs = spark.createDataFrame(
        [(i, f"wholly distinct document number {i} with words {i * 11}") for i in range(6)],
        "doc_id long, text string",
    )
    sink.apply_batch(docs.filter(F.col("doc_id") < 3), 0)

    raced = {}
    orig = IncrementalLSHDedupSink._read_or_none

    def race_mid_batch(self, spark_, sub):
        if sub == "kept" and "done" not in raced:
            raced["done"] = True
            with pytest.raises(RuntimeError, match="would race"):
                self.compact(spark_)
            with pytest.raises(RuntimeError, match="would race"):
                self.drain_review(spark_)
        return orig(self, spark_, sub)

    monkeypatch.setattr(IncrementalLSHDedupSink, "_read_or_none", race_mid_batch)
    sink.apply_batch(docs.filter(F.col("doc_id") >= 3), 1)  # unharmed
    monkeypatch.undo()
    assert raced.get("done"), "the race must actually have been exercised"

    # lock released with the trigger: maintenance now runs cleanly
    sink.compact(spark, target_files=1)
    assert sink.read_kept(spark).count() == 6

    # and the other direction: a trigger during maintenance raises too
    with sink._commit.maintenance_guard():
        with pytest.raises(RuntimeError, match="would race"):
            sink.apply_batch(docs, 2)
    sink.apply_batch(docs, 2)  # no-op content-wise, but must not raise


def test_history_sink_exclusion_enforced(spark, tmp_path):
    """Same exclusion on CDCHistorySink: compact_log during an
    in-flight batch raises; a batch during compact_log raises."""
    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    path = str(tmp_path / "hist_lock")
    schema = "id int, event_type string, v double, seq long"
    sink = CDCHistorySink(path, key_cols=["id"], order_cols=["seq"])
    sink.apply_batch(
        spark.createDataFrame([(1, "insert", 1.0, 1)], schema), 0
    )
    with sink._commit.trigger_guard():
        with pytest.raises(RuntimeError, match="would race"):
            sink.compact_log(spark)
    with sink._commit.maintenance_guard():
        with pytest.raises(RuntimeError, match="would race"):
            sink.apply_batch(
                spark.createDataFrame([(2, "insert", 2.0, 2)], schema), 1
            )
    # both released: normal operation resumes
    sink.apply_batch(spark.createDataFrame([(2, "insert", 2.0, 2)], schema), 1)
    sink.compact_log(spark)
    assert sink.read_history(spark).count() == 2


def test_incremental_embedding_index_sink_one_batch_equals_batch_twin(
    spark, sf_dir, tmp_path
):
    """Mandate r7 #5: a ONE-batch stream through the embedding-index
    sink must keep exactly the vectors dedup_embedding_keep_
    representatives keeps (the sink's within-batch path IS the batch
    operator pipeline)."""
    from gomaxscale_spark.plans import all_queries
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_one"), threshold=0.3)
    sink.apply_batch(emb, 0)
    kept_ids = sorted(r.vec_id for r in sink.read_kept(spark).select("vec_id").collect())

    batch_twin = all_queries()["dedup_embedding_keep_representatives"].fn(
        spark, sf_dir
    )
    twin_ids = sorted(r.vec_id for r in batch_twin.select("vec_id").collect())
    assert kept_ids == twin_ids, "one-batch stream must equal the batch operator"
    # and the band index covers exactly the kept vectors
    band_ids = {
        r.vec_id
        for r in spark.read.parquet(str(tmp_path / "eidx_one" / "bands"))
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert band_ids == set(kept_ids)


def test_incremental_embedding_index_sink_cross_batch_drop(spark, sf_dir, tmp_path):
    """Cross-batch semantic dedup: a later batch re-sending a kept
    vector's embedding (new id, cosine 1.0) must be dropped against
    the lake; a genuinely novel vector must be admitted. Replay of a
    committed epoch is a no-op."""
    from pyspark.sql import Row
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_x"), threshold=0.3)
    sink.apply_batch(emb, 0)
    kept0 = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    some_kept = min(kept0)
    vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == some_kept).select("embedding").head()[0]
    ]
    novel = [1000.0 if i == 0 else 0.01 * ((-1) ** i) for i in range(len(vec))]
    b2 = spark.createDataFrame(
        [
            Row(vec_id=10_000_000, embedding=vec, label=0),
            Row(vec_id=10_000_001, embedding=novel, label=0),
        ],
        emb.schema,
    )
    sink.apply_batch(b2, 1)
    kept1 = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert 10_000_000 not in kept1, "re-sent embedding must drop vs the lake"
    assert 10_000_001 in kept1, "novel vector must be admitted"
    n = len(kept1)
    sink.apply_batch(b2, 1)  # committed replay
    assert len({r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}) == n


def test_incremental_embedding_index_sink_as_stream_target(spark, sf_dir, tmp_path):
    """Engine-driven: readStream over the chunked vectors →
    writeStream.foreachBatch(sink) → availableNow. The final kept set
    is an independent set of the verified match graph (no kept pair
    scores ≥ threshold through the same candidate generator), and
    compact() folds the epoch dirs without changing it."""
    import os
    import time

    from gomaxscale_spark.operators import similarity as S
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    src = str(tmp_path / "vec_stream")
    emb.repartition(3).write.mode("overwrite").parquet(src)
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_stream"), threshold=0.3)
    stream = (
        spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)
    time.sleep(0.2)
    kept = sink.read_kept(spark)
    n = kept.count()
    assert 0 < n <= emb.count()
    pairs = S.lsh_near_duplicates_adaptive(kept, threshold=0.3, dim=64)
    assert pairs.count() == 0, "kept set must be an independent set"

    before = sorted(r.vec_id for r in kept.select("vec_id").collect())
    sink.compact(spark, target_files=2)
    kept_dirs = [
        d
        for d in os.listdir(str(tmp_path / "eidx_stream" / "kept"))
        if d.startswith("epoch=")
    ]
    assert len(kept_dirs) == 1
    assert sorted(r.vec_id for r in sink.read_kept(spark).collect()) == before


@pytest.mark.parametrize("fail_stage", ["kept", "bands"])
def test_incremental_embedding_index_sink_crash_between_writes(
    spark, sf_dir, tmp_path, fail_stage
):
    """Crash between the kept and bands writes (or after bands, before
    the marker): the retry clears the partial epoch dirs and the final
    lake equals the crash-free run, band index covering every kept
    vector."""
    import os

    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    b1 = emb.filter(F.col("vec_id") <= cut)
    b2 = emb.filter(F.col("vec_id") > cut)

    path = str(tmp_path / f"eidx_crash_{fail_stage}")
    sink = IncrementalEmbeddingIndexSink(path, threshold=0.3)
    sink.apply_batch(b1, 0)
    sink._fail_after = fail_stage
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(b2, 1)
    assert os.path.isdir(f"{path}/kept/epoch=1")
    assert os.path.isdir(f"{path}/bands/epoch=1") == (fail_stage == "bands")
    assert not os.path.exists(f"{path}/_epoch_1")

    sink._fail_after = None
    sink.apply_batch(b2, 1)
    assert os.path.exists(f"{path}/_epoch_1")
    kept_ids = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    band_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/bands").select("vec_id").distinct().collect()
    }
    assert kept_ids == band_ids

    clean = IncrementalEmbeddingIndexSink(
        str(tmp_path / f"eidx_clean_{fail_stage}"), threshold=0.3
    )
    clean.apply_batch(b1, 0)
    clean.apply_batch(b2, 1)
    clean_ids = {r.vec_id for r in clean.read_kept(spark).select("vec_id").collect()}
    assert kept_ids == clean_ids, "crash+retry must equal the crash-free run"


def test_incremental_embedding_index_sink_topk_probe(spark, sf_dir, tmp_path):
    """The lake doubles as a continuously-maintained ANN index: topk()
    probes the band index with the query's masked signatures. A query
    equal to a kept vector's embedding shares every band bucket, so
    self-lookup returns it first with score 1.0; all results come from
    the kept set with correctly-recomputed descending cosines."""
    from gomaxscale_spark.operators import similarity as S
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    sink = IncrementalEmbeddingIndexSink(str(tmp_path / "eidx_probe"), threshold=0.3)
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    sink.apply_batch(emb.filter(F.col("vec_id") <= cut), 0)
    sink.apply_batch(emb.filter(F.col("vec_id") > cut), 1)

    kept_ids = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    probe_id = max(kept_ids)
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == probe_id).select("embedding").head()[0]
    ]
    res = sink.topk(spark, q, k=5).collect()
    assert res, "probe must return candidates"
    assert res[0].vec_id == probe_id and res[0].score == 1.0, "self-lookup must rank first"
    assert all(r.vec_id in kept_ids for r in res)
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)


def test_incremental_embedding_index_sink_capped_drain(spark, tmp_path):
    """The capped review-queue + drain, embedding side (transplanted
    from the text lake): a hot lake bucket (two sub-threshold vectors
    sharing a band bucket) defers — never silently drops — later
    arrivals into kept/ plus review rows; drain_review collapses the
    full-signature family (min-id representative), consumes review/,
    keeps bands ≡ kept; a key that is STILL hot after the drain
    re-defers the next arrival, so deferred work is never lost."""
    import os

    import numpy as np

    from gomaxscale_spark.operators import similarity as S
    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    dim, n_planes = 16, 16
    planes = np.array(S.hyperplanes(dim, n_planes, seed=42))

    def masked_sig(v, bits=8):
        sig = 0
        for i in range(bits):
            if float(np.dot(v, planes[i])) > 0:
                sig |= 1 << i
        return sig

    rng = np.random.default_rng(7)
    A = rng.normal(size=dim)
    A /= np.linalg.norm(A)
    target = masked_sig(A)
    C = None
    for _ in range(60_000):
        cand = rng.normal(size=dim)
        cand /= np.linalg.norm(cand)
        if masked_sig(cand) == target and abs(float(np.dot(A, cand))) < 0.25:
            C = cand
            break
    assert C is not None, "fixture search failed — widen the draw budget"

    fillers = []
    while len(fillers) < 3:
        f = rng.normal(size=dim)
        f /= np.linalg.norm(f)
        others = [A, C] + fillers
        if all(abs(float(np.dot(f, o))) < 0.25 for o in others):
            fillers.append(f)

    def df_of(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    path = str(tmp_path / "eidx_capped")
    sink = IncrementalEmbeddingIndexSink(
        path, threshold=0.3, dim=dim, planes_per_band=n_planes, n_bands=1,
        max_bucket_size=1,
    )
    sink.apply_batch(
        df_of([(0, A), (1, C), (10, fillers[0]), (11, fillers[1])]), 0
    )
    kept0 = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert {0, 1} <= kept0, "sub-threshold bucket-mates must both be kept"

    # the next batch's lake-side count pass surfaces the hot key
    sink.apply_batch(df_of([(12, fillers[2])]), 1)
    review = spark.read.parquet(f"{path}/review")
    assert review.count() > 0
    assert {"band", "bucket", "p2", "n_members"} <= set(review.columns)
    assert review.agg(F.min("n_members")).head()[0] > 1

    # an identical twin of A arrives: its key is hot -> DEFERRED-kept
    sink.apply_batch(df_of([(100, A)]), 2)
    kept = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert 100 in kept, "over-cap key must defer, not silently drop"

    # drain: A and its twin share the full signature -> collapse to id 0
    assert sink.drain_review(spark) == 1
    kept = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert 0 in kept and 100 not in kept and 1 in kept
    band_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/bands").select("vec_id").distinct().collect()
    }
    assert band_ids == kept
    assert not os.path.isdir(f"{path}/review"), "review queue must be consumed"

    # the key is legitimately STILL hot (A and C both remain) — the
    # next twin re-defers and resurfaces in review: deferred, not lost
    sink.apply_batch(df_of([(200, A)]), 3)
    kept = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert 200 in kept
    assert spark.read.parquet(f"{path}/review").count() > 0
    # and a second drain collapses the new twin too
    assert sink.drain_review(spark) == 1
    kept = {r.vec_id for r in sink.read_kept(spark).select("vec_id").collect()}
    assert 200 not in kept


def test_incremental_embedding_index_sink_empty_review_drain(spark, sf_dir, tmp_path):
    """A capped lake whose batches produced NO over-cap keys still
    writes (empty) review epoch dirs; drain_review must consume them
    as a clean no-op, not crash on the empty width set."""
    import os

    from gomaxscale_spark.streaming.embedding_index import IncrementalEmbeddingIndexSink

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "eidx_empty_review")
    sink = IncrementalEmbeddingIndexSink(path, threshold=0.3, max_bucket_size=10_000)
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    cut = ids[len(ids) // 2]
    sink.apply_batch(emb.filter(F.col("vec_id") <= cut), 0)
    sink.apply_batch(emb.filter(F.col("vec_id") > cut), 1)
    assert os.path.isdir(f"{path}/review"), "capped batches write review epochs"
    n = sink.read_kept(spark).count()
    assert sink.drain_review(spark) == 0
    assert not os.path.isdir(f"{path}/review")
    assert sink.read_kept(spark).count() == n


def test_cdc_history_sink_auto_scope_decision(spark, tmp_path):
    """VERDICT r8 item 5: rebuild_scope='auto' derives the mode per
    batch from the touched buckets' pruned-log row counts — 'bucket'
    under the crossover, 'keys' above it — and both decisions produce
    the identical history."""
    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    schema = "id int, event_type string, v double, seq long"
    b1 = spark.createDataFrame(
        [(i, "insert", float(i), 100 + i) for i in range(1, 9)], schema
    )
    b2 = spark.createDataFrame(
        [(1, "update_after", 11.0, 200), (2, "delete", 2.0, 210)], schema
    )

    # default threshold (10^7): every sandbox bucket is tiny → 'bucket'
    small = CDCHistorySink(
        str(tmp_path / "auto_small"), key_cols=["id"], order_cols=["seq"]
    )
    assert small.rebuild_scope == "auto"
    small.apply_batch(b1, 0)
    assert small.last_scope == "bucket"
    small.apply_batch(b2, 1)
    assert small.last_scope == "bucket"

    # threshold 0: any non-empty bucket log crosses it → 'keys'
    aged = CDCHistorySink(
        str(tmp_path / "auto_aged"),
        key_cols=["id"],
        order_cols=["seq"],
        auto_scope_rows=0,
    )
    aged.apply_batch(b1, 0)
    assert aged.last_scope == "keys"
    aged.apply_batch(b2, 1)
    assert aged.last_scope == "keys"

    h_small = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in small.read_history(spark).collect()
    }
    h_aged = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in aged.read_history(spark).collect()
    }
    assert h_small == h_aged and h_small

    with pytest.raises(ValueError, match="rebuild_scope"):
        CDCHistorySink(
            str(tmp_path / "bad"), key_cols=["id"], order_cols=["seq"],
            rebuild_scope="adaptive",
        )


@pytest.mark.parametrize("flavor", ["text", "embedding"])
def test_sink_auto_compaction_cadence(spark, sf_dir, tmp_path, flavor):
    """compact_every=N (r9): the sink self-compacts once N committed
    epoch dirs accumulate — the SCALING.md r9 probe-vs-epoch-count
    cadence as a first-class knob. Kept output must be identical to an
    uncompacted run (compaction is a pure file-layout fold), and the
    epoch-dir census must stay bounded by the cadence."""
    import os

    from gomaxscale_spark.streaming.embedding_index import (
        IncrementalEmbeddingIndexSink,
    )
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    def epoch_dirs(path, sub):
        root = f"{path}/{sub}"
        return [e for e in os.listdir(root) if e.startswith("epoch=")]

    if flavor == "text":
        src = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        id_col, make = "doc_id", lambda p, ce: IncrementalLSHDedupSink(
            p, threshold=0.8, compact_every=ce
        )
    else:
        src = load_table(spark, sf_dir, "embeddings")
        id_col, make = "vec_id", lambda p, ce: IncrementalEmbeddingIndexSink(
            p, threshold=0.3, compact_every=ce
        )

    ids = sorted(r[0] for r in src.select(id_col).collect())
    cuts = [ids[(i * len(ids)) // 5] for i in range(1, 5)] + [ids[-1]]
    auto = make(str(tmp_path / f"{flavor}_auto"), 3)
    plain = make(str(tmp_path / f"{flavor}_plain"), None)
    lo = None
    for epoch, hi in enumerate(cuts):
        b = src.filter(F.col(id_col) <= hi)
        if lo is not None:
            b = b.filter(F.col(id_col) > lo)
        lo = hi
        auto.apply_batch(b, epoch)
        plain.apply_batch(b, epoch)

    # cadence bound: compaction fired at ≥3 dirs, so the census never
    # exceeds compact_every at a batch boundary
    assert len(epoch_dirs(tmp_path / f"{flavor}_auto", "kept")) <= 3
    assert len(epoch_dirs(tmp_path / f"{flavor}_plain", "kept")) == 5
    a = sorted(r[0] for r in auto.read_kept(spark).select(id_col).collect())
    p = sorted(r[0] for r in plain.read_kept(spark).select(id_col).collect())
    assert a == p and a


def test_text_lake_read_kept_skips_partial_epochs(spark, sf_dir, tmp_path):
    """r9 symmetry with the embedding lake's serving-read fix: a
    fault-injected markerless epoch is invisible to the text lake's
    read_kept before retry; an empty lake yields an empty frame, not
    AnalysisException."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    empty = IncrementalLSHDedupSink(str(tmp_path / "tl_empty"), threshold=0.8)
    assert empty.read_kept(spark).count() == 0

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    sink = IncrementalLSHDedupSink(str(tmp_path / "tl_srv"), threshold=0.8)
    sink.apply_batch(docs.filter(F.col("doc_id") <= cut), 0)
    committed = {r.doc_id for r in sink.read_kept(spark).select("doc_id").collect()}

    sink._fail_after = "bands"  # kept/epoch=1 + bands/epoch=1, no marker
    with pytest.raises(RuntimeError, match="injected crash"):
        sink.apply_batch(docs.filter(F.col("doc_id") > cut), 1)
    sink._fail_after = None
    assert {
        r.doc_id for r in sink.read_kept(spark).select("doc_id").collect()
    } == committed, "markerless epoch rows must be invisible to read_kept"

    sink.apply_batch(docs.filter(F.col("doc_id") > cut), 1)  # retry
    assert {
        r.doc_id for r in sink.read_kept(spark).select("doc_id").collect()
    } > committed


def test_cdc_history_sink_log_compaction_cadence(spark, tmp_path):
    """compact_log_every=N: the history sink self-compacts its event
    log once N committed log epochs accumulate; the history output is
    identical to the uncompacted run and replays stay no-ops."""
    import os

    from gomaxscale_spark.streaming.sinks import CDCHistorySink

    schema = "id int, event_type string, v double, seq long"

    def batches():
        for e in range(6):
            yield spark.createDataFrame(
                [(i, "insert" if e == 0 else "update_after", float(e * 10 + i),
                  e * 100 + i) for i in range(1, 4)],
                schema,
            )

    auto = CDCHistorySink(
        str(tmp_path / "hl_auto"), key_cols=["id"], order_cols=["seq"],
        compact_log_every=3,
    )
    plain = CDCHistorySink(
        str(tmp_path / "hl_plain"), key_cols=["id"], order_cols=["seq"]
    )
    for e, b in enumerate(batches()):
        auto.apply_batch(b, e)
    for e, b in enumerate(batches()):
        plain.apply_batch(b, e)

    log_dirs = [
        d for d in os.listdir(tmp_path / "hl_auto" / "log") if d.startswith("epoch=")
    ]
    assert len(log_dirs) <= 3
    assert len(
        [d for d in os.listdir(tmp_path / "hl_plain" / "log") if d.startswith("epoch=")]
    ) == 6

    h_a = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in auto.read_history(spark).collect()
    }
    h_p = {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in plain.read_history(spark).collect()
    }
    assert h_a == h_p and h_a
    # replay of a compacted epoch is still a no-op
    auto.apply_batch(next(iter(batches())), 0)
    assert {
        (r.id, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in auto.read_history(spark).collect()
    } == h_a


def test_text_lake_probe_near_dups(spark, sf_dir, tmp_path):
    """probe_near_dups (r9): the online contamination check against
    the kept lake — an identical probe doc reports jaccard 1.0 against
    its kept twin, a novel doc reports nothing, colliding probe ids
    are rejected, and an empty lake yields an empty frame."""
    from gomaxscale_spark.streaming.sinks import IncrementalLSHDedupSink

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sink = IncrementalLSHDedupSink(str(tmp_path / "probe_lake"), threshold=0.8)

    probe_schema = "doc_id bigint, text string"
    empty_probe = spark.createDataFrame(
        [(10_000_000, "never seen")], probe_schema
    )
    assert sink.probe_near_dups(empty_probe).count() == 0  # empty lake

    sink.apply_batch(docs, 0)
    kept = sink.read_kept(spark)
    some = kept.orderBy("doc_id").limit(1).collect()[0]

    probes = spark.createDataFrame(
        [
            (10_000_000, some.text),  # exact copy of a kept doc
            (10_000_001, "zq xv qp wk jj totally novel gibberish tokens"),
        ],
        probe_schema,
    )
    hits = sink.probe_near_dups(probes).collect()
    assert any(
        r.probe_doc_id == 10_000_000 and r.doc_id == some.doc_id and r.jaccard == 1.0
        for r in hits
    ), hits
    assert not any(r.probe_doc_id == 10_000_001 for r in hits)

    with pytest.raises(ValueError, match="collides"):
        sink.probe_near_dups(
            spark.createDataFrame([(some.doc_id, "x")], probe_schema)
        )
