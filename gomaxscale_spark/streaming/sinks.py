"""Sinks: routed parquet writes and the incremental CDC/dedup sinks.

The reference's only sink is the user callback / stdout demo
(gomaxscale.go:173-191, cmd/gomaxscale/main.go); an analytics engine
needs the write path too:

- ``write_routed``: partitionBy(event_type) parquet — C1 routing as a
  storage layout, so downstream readers prune by change kind.
- ``CDCSnapshotSink``: a foreachBatch sink that folds each micro-batch
  of change events into a materialized snapshot table (C2 incrementally
  — the streaming twin of operators/snapshot.py materialize_snapshot).
- ``CDCHistorySink``: the SCD2 twin — validity-interval history
  maintained incrementally from a bucket-partitioned event log.
- ``IncrementalLSHDedupSink``: the streaming dedup LAKE (exact +
  MinHash-LSH near-dup against everything ever kept), with epoch
  compaction and a drainable review queue.

Scale: the snapshot sink's read-merge-rewrite is the lakehouse-less
emulation of MERGE INTO; at 100 TB you'd point the same foreachBatch at
Delta/Iceberg MERGE (jars not present here — see pyspark_guide "CDC /
SCD2"). The fold itself (union + window latest-wins) is identical; only
the storage commit changes. Rewrites are scoped per key-hash bucket:
the batch's keys hash to a bucket set, only those buckets' current
rows are read (partition-pruned scan) and folded, and only those
buckets' directories are republished — a micro-batch touching few
keys reads and rewrites few files, never the whole snapshot.
"""

from __future__ import annotations

import glob
import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..operators.bucketing import split_hot_keys
from ..operators.snapshot import materialize_snapshot
from .epoch import EpochCommit


def write_routed(df: DataFrame, path: str, route_col: str = "event_type", mode: str = "overwrite") -> None:
    """Event-type-routed parquet layout (C1): one directory per change
    kind; filters on the route column become partition pruning."""
    df.write.mode(mode).partitionBy(route_col).parquet(path)


class CDCSnapshotSink:
    """foreachBatch handler maintaining table state under ``path``.

    Usage::

        sink = CDCSnapshotSink(path, key_cols=["id"],
                               order_cols=["sequence", "event_number"])
        stream.writeStream.foreachBatch(sink).start()

    Storage commit is driver-local-filesystem rename (the lakehouse-less
    emulation); production points the same fold at a transactional
    MERGE. The per-bucket publish below is atomic per bucket, not
    across buckets — a mid-publish crash leaves some buckets new and
    some old, which the next (idempotent, latest-wins) replay of the
    epoch repairs.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        event_type_col: str = "event_type",
        n_buckets: int = 16,
    ) -> None:
        self.path = path
        self.key_cols = key_cols
        self.order_cols = order_cols
        self.event_type_col = event_type_col
        self.n_buckets = n_buckets
        self._commit = EpochCommit(path)
        # schema of the live buckets as last staged: the sink is the
        # directory's only writer, so reading them needs no inference
        # job; None until this instance publishes (e.g. after a restart)
        self._schema: StructType | None = None

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.apply_batch(batch_df)

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

    def apply_batch(self, batch_df: DataFrame) -> None:
        """Merge one micro-batch of change events into the snapshot —
        touching ONLY the key-hash buckets the batch's keys fall in.

        1. bucket set: distinct ``hash(key) % n_buckets`` of the batch
           (≤ n_buckets small ints — driver-safe collect);
        2. fold: (current rows OF THOSE BUCKETS ∪ batch) through the
           same latest-wins window as the batch operator — the
           partition filter prunes untouched buckets' files out of the
           scan, so per-batch read cost is O(touched buckets), not
           O(snapshot). The live buckets are read with the schema this
           instance last staged; only an instance's first batch over an
           existing snapshot (a restart) runs a schema-inference job;
        3. publish: stage the folded buckets, then swap each touched
           bucket's directory. A touched bucket with no surviving rows
           (every key deleted) is removed. Untouched buckets' files are
           never listed, read, or rewritten.

        Order-robust: existing snapshot rows keep their order columns, so
        folding (current ∪ batch) with the same latest-wins window makes
        the result independent of micro-batch arrival order. A delete
        wins over any older row; its tombstone is not retained past the
        merge (an insert older than an applied delete arriving *later*
        would resurrect the row — the classic tombstone-GC tradeoff,
        acceptable because the CDC source delivers per-key order)."""
        spark = batch_df.sparkSession
        batch = batch_df.withColumn("__bucket", self._bucket())
        touched = sorted(
            r[0] for r in batch.select("__bucket").distinct().collect()
        )
        if not touched:
            return  # empty micro-batch
        # "No snapshot yet" is decided by PATH EXISTENCE, never by
        # catching read errors: a blanket except here would turn a
        # transient listing/IO/schema failure into a batch-only fold
        # that then OVERWRITES the touched buckets — permanent row
        # loss. The sink is driver-local-path-only by documented
        # caveat, so os.path.isdir is the authoritative check; any
        # error from an existing snapshot's read now propagates and
        # foreachBatch retries the epoch.
        if os.path.isdir(self.path) and any(
            e.startswith("__bucket=") for e in os.listdir(self.path)
        ):
            reader = spark.read
            if self._schema is not None:
                reader = reader.schema(self._schema)
            current = reader.parquet(self.path)
            # partition filter → pruned scan: untouched buckets unread
            merged_input = current.filter(
                F.col("__bucket").isin(touched)
            ).drop("__bucket").unionByName(batch_df)
        else:
            merged_input = batch_df  # genuine first batch
        new_state = materialize_snapshot(
            merged_input, self.key_cols, self.order_cols, self.event_type_col
        )
        staged = self.path + "._staged"
        staged_df = new_state.withColumn("__bucket", self._bucket())
        staged_df.write.mode("overwrite").partitionBy("__bucket").parquet(staged)
        self._commit.swap_bucket_dirs(staged, self.path, touched)
        self._schema = staged_df.schema

    def read_snapshot(self, spark) -> DataFrame:
        return spark.read.parquet(self.path).drop("__bucket")


class CDCHistorySink:
    """foreachBatch handler maintaining an SCD2 HISTORY table under
    ``path`` — the streaming twin of ``materialize_history`` exactly as
    ``CDCSnapshotSink`` is of ``materialize_snapshot`` (C2's other
    standard fold, incrementally).

    Why this one needs a LOG where the snapshot sink doesn't:
    latest-wins is associative — fold(current ∪ batch) with the same
    window is correct. Validity intervals are NOT: a new event must
    CLOSE a previously-open version, and a correct rebuild needs each
    key's full accepted-event set. So the sink keeps two datasets:

      ``log/epoch=N/__bucket=B/`` — accepted change events
          (update_before images dropped), appended per epoch,
          partitioned by key-hash bucket;
      ``history/__bucket=B/``     — the materialized intervals,
          rebuilt per micro-batch ONLY for the buckets the batch's
          keys hash into: a partition-pruned read of those buckets'
          log events → ``materialize_history`` → per-bucket staged
          swap. Per-batch cost is O(touched buckets' log), never
          O(table); the bucket count is the knob that bounds it.

    Failure protocol (same pieces as the dedup lake): the ``_epoch_N``
    marker commits an epoch; a retry deletes ``log/epoch=N`` first
    (duplicated events would fabricate zero-length versions — unlike
    latest-wins, this fold is NOT duplicate-tolerant), then re-appends
    and re-materializes. A crash mid-history-swap leaves some buckets
    stale, which the retry's rebuild repairs — history/ is always a
    pure function of the committed log. Markers and swaps are
    driver-local-filesystem (the lakehouse-less emulation; production
    is a MERGE into a transactional table). log/ epochs accumulate one
    dir per batch — the same small-files shape the dedup lake's
    ``compact()`` handles — ``compact_log()`` folds committed epochs
    into one, markers kept.

    Design note — why the log can't be elided: one might refold
    history/ itself (each version row as a pseudo-event at its
    valid_from). That loses delete positions (a tombstone's order
    tuple survives only as a valid_to), so intermediate deletes would
    mis-close intervals under late events; keeping the accepted-event
    log — which is exactly update_before-filtered events, the minimal
    sufficient state for this fold — is both correct and the same
    asymptotic size. The one further storage optimization (store ONLY
    the log and derive interval columns at read) trades read cost for
    write cost; not taken here.
    """

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        event_type_col: str = "event_type",
        n_buckets: int = 16,
        rebuild_scope: str = "auto",
        auto_scope_rows: int = 10_000_000,
        compact_log_every: int | None = None,
    ) -> None:
        self.path = path
        self.key_cols = key_cols
        self.order_cols = order_cols
        self.event_type_col = event_type_col
        self.n_buckets = n_buckets
        #: what a touched bucket's rebuild re-windows (both modes are
        #: result-identical; measured head-to-head in SCALING.md r8):
        #: - "keys": semi-join the pruned log on the batch's
        #:   key set, re-window only those keys' events, carry untouched
        #:   keys' existing history rows verbatim into the staged
        #:   rewrite. Bounds the window-sort by the TOUCHED KEYS'
        #:   event count — the term that grows with stream lifetime in
        #:   the whole-bucket mode — at the price of two extra plan
        #:   arms (the key semi-join and the history anti-join read).
        #: - "bucket": re-window the touched buckets' entire log (the
        #:   r7 shape). Fewer plan arms; window-sort grows with the
        #:   bucket's accumulated log. Preferable only when batches
        #:   touch most keys of every bucket anyway.
        #: - "auto" (default, r9 — VERDICT r8 item 5): pick per BATCH
        #:   from the touched buckets' pruned-log row counts, read
        #:   from parquet FOOTERS on the driver (no Spark job — see
        #:   ``_max_touched_bucket_rows``; a count-agg job here
        #:   measured ~0.3 s/batch of pure decision overhead):
        #:   "bucket" while every touched bucket's log is under
        #:   ``auto_scope_rows``, "keys" once any crosses it. The
        #:   measured crossover (SCALING.md r8): "keys"'s two extra
        #:   plan arms cost ~0.45 s/batch of fixed job overhead, which
        #:   BEATS the bucket-log window sort only past ~10⁷
        #:   rows/bucket on this host — so young lakes get the cheap
        #:   refold and aged lakes the bounded exchange, with no
        #:   operator intervention. Both modes are result-identical
        #:   (the fold is a pure function of the log), so the switch
        #:   point is a pure cost decision.
        if rebuild_scope not in ("keys", "bucket", "auto"):
            raise ValueError(
                f"rebuild_scope must be 'keys', 'bucket', or 'auto', got {rebuild_scope!r}"
            )
        self.rebuild_scope = rebuild_scope
        self.auto_scope_rows = auto_scope_rows
        #: small-files cadence for the event log (r9, same loop as the
        #: dedup lakes' compact_every): when set, ``apply_batch`` runs
        #: ``compact_log()`` once ≥ N committed ``log/epoch=`` dirs
        #: accumulate. Every rebuild's pruned scan AND the auto-scope
        #: footer read pay the per-dir census tax (measured curve:
        #: SCALING.md r9 probe-vs-epoch-count), so long-running
        #: streams want this on (~25 is a good default cadence —
        #: the trigger path tolerates more dirs than a serving probe).
        self.compact_log_every = compact_log_every
        #: the last auto decision (introspection/tests): None until an
        #: auto-mode batch runs
        self.last_scope: str | None = None
        self._commit = EpochCommit(path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.apply_batch(batch_df, epoch_id)

    def _bucket(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        from ..operators.snapshot import UPDATE_BEFORE, materialize_history

        if self._commit.is_committed(epoch_id):
            return  # committed epoch — replay is a no-op
        with self._commit.trigger_guard():
            self._apply_batch_locked(batch_df, epoch_id, UPDATE_BEFORE, materialize_history)
        if (
            self.compact_log_every is not None
            and len(self._commit.committed_epoch_dirs("log")) >= self.compact_log_every
        ):
            # outside the trigger guard (compact_log takes the
            # maintenance guard); a crash here loses nothing — the
            # next batch re-triggers the compaction
            self.compact_log(batch_df.sparkSession)

    def _apply_batch_locked(
        self, batch_df: DataFrame, epoch_id: int, UPDATE_BEFORE, materialize_history
    ) -> None:
        self._commit.finish_swap(("log",))
        self._commit.clean_partial(("log",), epoch_id)
        spark = batch_df.sparkSession

        accepted = batch_df.filter(
            F.col(self.event_type_col) != UPDATE_BEFORE
        ).withColumn("__bucket", self._bucket())
        # ≤ n_buckets small ints — driver-safe collect
        touched = sorted(r[0] for r in accepted.select("__bucket").distinct().collect())
        if not touched:
            self._commit.commit(epoch_id)
            return
        accepted.write.mode("overwrite").partitionBy("__bucket").parquet(
            f"{self.path}/log/epoch={epoch_id}"
        )

        # rebuild ONLY the touched KEYS' history from the log: the
        # partition filter prunes untouched buckets' files out of the
        # scan, and the broadcast key semi-join bounds the expensive
        # part (the per-key window sort inside materialize_history) by
        # the batch's keys' event count — NOT by the whole touched
        # bucket's log, which grows with stream lifetime. Untouched
        # keys in a touched bucket keep their existing history rows
        # verbatim (unioned into the staged rewrite below); the bucket
        # REWRITE I/O itself is inherent on plain parquet (production
        # is a keyed MERGE into a transactional table).
        batch_keys = accepted.select(*self.key_cols).distinct()
        log = spark.read.parquet(f"{self.path}/log").filter(
            F.col("__bucket").isin(touched)  # partition-pruned scan
        )
        hist_root = f"{self.path}/history"
        scope = self.rebuild_scope
        if scope == "auto":
            # "bucket" while every touched bucket's log sorts cheaply,
            # "keys" once any crosses the measured ~10⁷-rows/bucket
            # overhead crossover. The counts come from parquet FOOTERS
            # on the driver (log/epoch=N/__bucket=B layout → glob +
            # metadata.num_rows), NOT a count-agg job: the job form
            # measured ~0.3 s/batch of fixed overhead (SCALING.md r9),
            # the footer read is ~ms. Driver work is O(#log files),
            # bounded by compact_log — the same footer tax the Spark
            # scan itself pays at planning time.
            scope = (
                "keys"
                if self._max_touched_bucket_rows(touched) > self.auto_scope_rows
                else "bucket"
            )
            self.last_scope = scope
        if scope == "keys":
            touched_log = log.join(F.broadcast(batch_keys), self.key_cols, "semi")
            hist = materialize_history(
                touched_log.drop("__bucket", "epoch"),
                self.key_cols,
                self.order_cols,
                self.event_type_col,
            )
            if os.path.isdir(hist_root) and any(
                e.startswith("__bucket=") for e in os.listdir(hist_root)
            ):
                untouched_keys_hist = (
                    spark.read.parquet(hist_root)
                    .filter(F.col("__bucket").isin(touched))  # pruned scan
                    .join(F.broadcast(batch_keys), self.key_cols, "anti")
                    .drop("__bucket")
                )
                hist = hist.unionByName(untouched_keys_hist)
        else:  # "bucket": re-window the touched buckets' whole log
            hist = materialize_history(
                log.drop("__bucket", "epoch"),
                self.key_cols,
                self.order_cols,
                self.event_type_col,
            )
        staged = self.path + "/history._staged"
        hist.withColumn("__bucket", self._bucket()).write.mode(
            "overwrite"
        ).partitionBy("__bucket").parquet(staged)
        self._commit.swap_bucket_dirs(staged, hist_root, touched)
        self._commit.commit(epoch_id)

    def _max_touched_bucket_rows(self, touched: list[int]) -> int:
        """Largest touched bucket's accumulated log row count, summed
        from parquet footer metadata on the driver — no Spark job. The
        trigger path calls this AFTER the current epoch's log append
        and its cleanup preamble, so the enumerated ``epoch=`` dirs are
        exactly what the rebuild scan will read. A corrupt footer
        raises (strict-read discipline: a wrong cheap answer here
        silently mis-picks the rebuild plan)."""
        import pyarrow.parquet as pq

        biggest = 0
        for b in touched:
            total = 0
            for f in glob.glob(f"{self.path}/log/epoch=*/__bucket={b}/*.parquet"):
                total += pq.ParquetFile(f).metadata.num_rows
            biggest = max(biggest, total)
        return biggest

    def read_history(self, spark) -> DataFrame:
        return spark.read.parquet(f"{self.path}/history").drop("__bucket")

    def compact_log(self, spark) -> None:
        """Fold the log's committed epoch directories into one base
        epoch (still bucket-partitioned) — the same small-files control
        as the dedup lake's ``compact()``: a year of 1-minute batches
        is ~500k ``log/epoch=N`` dirs whose listing/footer overhead
        every touched-bucket rebuild pays. Markerless (partial) epoch
        dirs are deleted; all ``_epoch_N`` markers survive so replays
        of compacted epochs stay no-ops; the swap is the same
        crash-recoverable two-rename (a crash leaves either the old or
        the new log, both complete — history rebuilds are a pure
        function of whichever is live). Racing an in-flight
        apply_batch raises (enforced by the shared exclusion guard)."""
        with self._commit.maintenance_guard():
            log_root = f"{self.path}/log"
            self._commit.finish_swap(("log",))
            if not os.path.isdir(log_root):
                return
            committed = self._commit.drop_partial_epochs(("log",))
            if len(committed) <= 1:
                return
            base = max(committed)

            def write_staged(staging: str) -> None:
                (
                    spark.read.parquet(log_root)
                    .drop("epoch")
                    .write.mode("overwrite")
                    .partitionBy("__bucket")
                    .parquet(f"{staging}/epoch={base}")
                )

            self._commit.swap_publish("log", write_staged)


class IncrementalLSHDedupSink:
    """foreachBatch handler maintaining a DEDUPLICATED document lake
    under ``path`` — the streaming form of the batch-vs-lake dedup
    (operators/dedup.py::incremental_dedup) extended with the MinHash-
    LSH near-dup layer: "dedupe today's crawl against everything ever
    kept", continuously.

    State layout (parquet, epoch-partitioned):
      ``kept/epoch=N/``   — documents that survived epoch N + digests
      ``bands/epoch=N/``  — (doc_id, band_id, band_hash) LSH band rows
                    of epoch N's kept docs: the lake-side index the next
                    batch joins against, so cross-batch candidate
                    generation costs a band-key equi-join — never a
                    scan of lake text
      ``review/epoch=N/`` — over-cap band keys deferred in epoch N
                    (capped mode only): the lake side's hot keys and the
                    batch's own, each (band_id, band_hash, n_members)
                    counted on its side — a key hot on both sides has
                    two rows. Keyed by epoch, so a persistent hot key
                    yields rows per epoch, not per retry

    Per micro-batch:
      1. exact layer: md5-digest anti-join vs kept digests + min-id
         within batch (transitive-free, so batch-split-invariant);
      2. cross-batch near-dup: batch band rows ⨝ lake band rows →
         candidate (lake_id, batch_id) pairs → exact-Jaccard verify
         (text pulled only for candidate-adjacent docs) → matched batch
         docs drop (greedy: the earlier-kept doc stays the
         representative);
      3. within-batch near-dup: the capped LSH pipeline + star-CC,
         keep the min-id representative per cluster (over-cap batch
         keys go to review/ in this same epoch);
      4. commit epoch N's survivors + band rows + review rows to their
         epoch directories, then write the ``_epoch_N`` marker.

    Semantics: greedy first-seen-kept. The kept set is always an
    independent set of the verified match graph (no two kept docs are
    verified near-dups); cross-batch it can differ from the all-at-once
    CC clustering on chain cases (a~b, b~c, a≁c split across batches) —
    the standard online/offline dedup divergence, documented rather
    than hidden.

    Failure atomicity (epoch-scoped commit protocol): foreachBatch
    replays a failed epoch with the same epoch_id, sequentially — no
    two epochs are ever in flight. The ``_epoch_N`` marker is the
    commit point; any ``*/epoch=N`` directory WITHOUT its marker is by
    construction a partial attempt of the epoch about to be retried, so
    ``apply_batch`` deletes those directories before reading any lake
    state. A crash at ANY point before the marker (mid-write, between
    the kept and bands writes, after review) therefore leaves nothing
    the retry can see: the retried epoch recomputes from exactly the
    committed prefix, and the band index always covers every kept doc.
    A crash after the marker makes the replay a no-op. Caveats, stated
    plainly: the marker and the recovery delete use driver-local
    filesystem paths — correct for local paths only (this sandbox);
    readers that race a crashed-but-not-yet-retried epoch can observe
    its partial directories. Production points the same logic at a
    transactional lake table (Delta/Iceberg) whose commit protocol
    subsumes all of this.

    Scale: all joins carry ids/digests/band keys; lake text is touched
    only for candidate-adjacent docs (semi-join pruned inside
    verify_candidates_jaccard); the bands/ index grows one row per
    (kept doc × band) and is the only lake-side input to candidate
    generation. The LAKE side is never shuffled: the exact layer probes
    lake digests with a broadcast of the (small) batch digest set, and
    the cross-batch band join broadcasts the batch's band rows — each
    micro-batch costs one pruned columnar scan per lake input, with no
    O(lake) exchange. Hot boilerplate band keys inherit the capped-LSH
    review-queue option of the underlying operators.

    Maintenance (run between triggers, like any OPTIMIZE):
    ``compact()`` folds the epoch-per-batch directories into one base
    generation (the small-files control — measured halving per-batch
    wall at 100 epochs, SCALING.md r7); ``drain_review()`` consumes
    the review queue by collapsing each hot family on full-signature
    equality and removing the non-representatives from the lake — the
    linear escalation that cools hot keys back under the cap so they
    ride the auto path again (end-to-end test:
    test_incremental_lsh_dedup_sink_drain_review).
    """

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        threshold: float = 0.8,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_n: int = 2,
        max_bucket_size: int | None = None,
        compact_every: int | None = None,
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n
        #: small-files control loop (r9, shared with the embedding
        #: lake): when set, ``apply_batch`` runs ``compact()`` once the
        #: lake holds ≥ compact_every committed epoch dirs. Cadence
        #: sizing: the r7 measurement (per-batch wall 2× at 100 epochs
        #: pre-compaction) and the r9 probe-vs-epoch-count curve
        #: (serving reads +20% over the compacted floor at 10 epoch
        #: dirs, +60% at 25, 2× at 100 — SCALING.md r9). Compaction is
        #: an O(lake) rewrite: serving-heavy lakes want a short
        #: cadence (~10), ingest-heavy lakes a longer one.
        self.compact_every = compact_every
        #: 100 TB control loop: cap the per-band-key join fan-out. The
        #: LAKE side of the cross-batch join accumulates every kept
        #: doc's band rows forever, so one boilerplate band key
        #: eventually matches millions of lake rows — the same hot-
        #: bucket quadratic the batch operators cap count-first.
        #: With a cap set, over-cap keys skip pair generation and
        #: surface as (band_id, band_hash, n_members) rows under
        #: ``review/epoch=N`` — the deferred-work channel. Both legs
        #: are capped through operators/bucketing.py split_hot_keys:
        #: the lake side of the cross-batch join and the within-batch
        #: buckets, whose hot keys land in the SAME epoch's review/
        #: (so ``drain_review`` can act on a lake whose last batch
        #: made a key hot).
        self.max_bucket_size = max_bucket_size
        #: fault-injection hook for the commit-protocol tests ONLY:
        #: "kept" raises after the kept/ write (before bands/), "bands"
        #: raises after bands/ (before the marker). Never set in
        #: production use.
        self._fail_after: str | None = None
        self._commit = EpochCommit(path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.apply_batch(batch_df, epoch_id)

    def _read_or_none(self, spark, sub: str) -> DataFrame | None:
        """Read one lake subdir, or None iff it genuinely DOESN'T EXIST
        yet. Existence is decided by the filesystem (the lake is
        driver-local-path-only by documented caveat), never by catching
        read errors: a blanket except would turn a transient
        listing/IO/schema failure into "no kept docs / no band index",
        silently skipping a dedup layer for the epoch and admitting
        duplicates permanently (the marker then commits the damage).
        A real read error on an existing dir now propagates and
        foreachBatch retries the epoch."""
        root = f"{self.path}/{sub}"
        if not os.path.isdir(root) or not any(
            e.startswith("epoch=") for e in os.listdir(root)
        ):
            return None
        return spark.read.parquet(root)

    def exact_layer_vs_lake(self, batch: DataFrame, kept: DataFrame) -> DataFrame:
        """Exact-digest layer, lake-probe direction: drop batch docs
        whose ``__digest`` already exists in the lake — WITHOUT ever
        shuffling the lake. The batch's (small) digest set broadcasts
        into a semi-join over the lake's digest column (one pruned
        columnar scan, no exchange on the lake side); the resulting
        hit set (≤ batch-sized by construction) broadcasts back as the
        anti-join build side. The only hash exchange in the whole plan
        is the batch-side distinct — plan-pinned in
        tests/test_plan_shapes.py."""
        batch_digests = batch.select("__digest").distinct()
        lake_hits = kept.select("__digest").join(
            F.broadcast(batch_digests), "__digest", "semi"
        ).distinct()
        return batch.join(F.broadcast(lake_hits), "__digest", "left_anti")

    def cross_batch_candidates(
        self, lake_bands: DataFrame, batch_bands: DataFrame
    ) -> DataFrame:
        """Cross-batch candidate pairs (lake doc, batch doc), lake-probe
        direction: the batch's band rows (batch docs × bands — small)
        broadcast against the ever-growing lake band index, so the lake
        is scanned but never shuffled; per-batch join cost follows the
        batch and candidate count, not lake size (SCALING.md r7 ramp
        study). Hash exchanges in the plan are batch-sized only (the
        band-row partial agg and the output distinct) — plan-pinned in
        tests/test_plan_shapes.py."""
        id_c = self.id_col
        return (
            lake_bands.withColumnRenamed(id_c, "id_a")
            .join(
                F.broadcast(batch_bands.withColumnRenamed(id_c, "id_b")),
                ["band_id", "band_hash"],
            )
            .select("id_a", "id_b")
            .distinct()
        )

    def probe_near_dups(
        self,
        probe_docs: DataFrame,
        threshold: float | None = None,
        check_ids: bool = True,
    ) -> DataFrame:
        """Serving probe: which KEPT lake docs are verified near-dups
        of each probe doc — the ONLINE contamination check ("is this
        eval/benchmark document already in my training corpus?"), the
        text twin of the embedding lake's ``topk``. Read-only,
        COMMITTED epochs only (markerless crashed epochs invisible;
        empty lake → empty frame).

        Same pipeline as the trigger's cross-batch layer, pointed the
        other way: the probe docs' band rows (same hash literals as
        the index) BROADCAST against the lake band
        index — the lake is scanned, never shuffled — then exact
        Jaccard verifies the candidates, so an identical doc reports
        jaccard 1.0 (identical text ⇒ identical band rows ⇒ always a
        candidate). Returns (probe_<id>, <id>, jaccard) for every
        verified pair at ≥ ``threshold`` (default: the sink's).

        Probe ids must be disjoint from lake ids (the verify stage
        keys shingle sets by id); ``check_ids`` enforces this with one
        broadcast semi-join over the lake's id column (a pruned
        columnar scan — skip only on a hot serving path that
        guarantees disjointness upstream)."""
        from ..operators import dedup as D

        spark = probe_docs.sparkSession
        id_c, txt = self.id_col, self.text_col
        kept_dirs = self._commit.committed_epoch_dirs("kept")
        band_dirs = self._commit.committed_epoch_dirs("bands")
        out_schema = f"probe_{id_c} bigint, {id_c} bigint, jaccard double"
        if not kept_dirs or not band_dirs:
            return spark.createDataFrame([], out_schema)
        kept = spark.read.parquet(*kept_dirs)
        if check_ids:
            clash = (
                kept.select(id_c)
                .join(F.broadcast(probe_docs.select(id_c)), id_c, "semi")
                .limit(1)
                .collect()
            )
            if clash:
                raise ValueError(
                    f"probe_near_dups: probe {id_c} {clash[0][0]} collides with "
                    "a kept lake id — probe ids must be disjoint (remap them)"
                )
        lake_bands = spark.read.parquet(*band_dirs).select(
            id_c, "band_id", "band_hash"
        )
        probe_bands = D._lsh_band_rows(
            probe_docs, id_c, txt, self.num_hashes, self.bands, self.shingle_n
        )
        cross = self.cross_batch_candidates(lake_bands, probe_bands)
        docs = kept.select(id_c, txt).unionByName(probe_docs.select(id_c, txt))
        pairs = D.verify_candidates_jaccard(
            docs, cross, id_c, txt,
            self.threshold if threshold is None else threshold,
            self.shingle_n,
        )
        return pairs.select(
            F.col("id_b").alias(f"probe_{id_c}"),
            F.col("id_a").alias(id_c),
            "jaccard",
        )

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        if self._commit.is_committed(epoch_id):
            return  # retried epoch — already committed
        with self._commit.trigger_guard():
            self._apply_batch_locked(batch_df, epoch_id)
        if (
            self.compact_every is not None
            and len(self._commit.committed_epoch_dirs("kept")) >= self.compact_every
        ):
            # OUTSIDE the trigger guard (compact takes the maintenance
            # guard); a crash before compaction loses nothing — the
            # next batch re-triggers it
            self.compact(batch_df.sparkSession)

    def _apply_batch_locked(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators import dedup as D
        from ..operators.materialize import materialize_once, release

        self._commit.finish_swap(("kept", "bands"))  # repair a crashed compact()
        # recovery: epoch dirs without their marker are a partial prior
        # attempt of THIS epoch (epochs are sequential) — drop them so
        # every read below sees only the committed prefix
        self._commit.clean_partial(("kept", "bands", "review"), epoch_id)
        spark = batch_df.sparkSession
        id_c, txt = self.id_col, self.text_col

        # 1. exact layer: lake digests then min-id within batch. Probe
        # direction keeps the lake un-shuffled: broadcast the batch's
        # digest set into a semi-join over the lake's digest column
        # (columnar scan, no exchange), then broadcast the (≤ batch-
        # sized) hit set back as the anti-join build side.
        batch = batch_df.withColumn("__digest", F.md5(F.col(txt)))
        kept = self._read_or_none(spark, "kept")
        if kept is not None:
            batch = self.exact_layer_vs_lake(batch, kept)
        first = batch.groupBy("__digest").agg(F.min(id_c).alias(id_c))
        batch = batch.join(first, ["__digest", id_c], "semi")

        # the batch's LSH band rows, computed ONCE: signatures are
        # per-doc, so every later stage's band rows (cross-batch probe,
        # within-batch buckets, the final band-index write) are row
        # subsets of this frame — an id semi-join each, instead of
        # three runs of the whole shingle→minhash pipeline per batch
        # (measured: 6.43 → 5.0 s/batch on a clean 500-doc stream,
        # 6.24 → 4.76 s/batch on the x10 dup-heavy K=30 study, same
        # kept/bands outputs — SCALING.md r7)
        band_rows_all = materialize_once(
            D._lsh_band_rows(
                batch, id_c, txt, self.num_hashes, self.bands, self.shingle_n
            )
        )
        # every materialize_once frame this batch creates is freed in
        # the commit finally — without this, the non-empty paths pin up
        # to two extra localCheckpoint RDDs PER MICRO-BATCH for the
        # session's lifetime (the exact accumulation release() exists
        # to bound)
        to_release: list[DataFrame] = [band_rows_all]
        band_key = ["band_id", "band_hash"]
        # over-cap (band_id, band_hash, n_members) keys, lake side and
        # batch side, written together to review/epoch=N
        hot: list[DataFrame] = []

        def rows_for(docs: DataFrame) -> DataFrame:
            ids = docs.select(id_c).distinct()
            return band_rows_all.join(F.broadcast(ids), id_c, "semi")

        # 2. cross-batch near-dup vs the lake band index
        lake_bands = self._read_or_none(spark, "bands")
        if lake_bands is not None and kept is not None:
            lake_bands = lake_bands.select(id_c, "band_id", "band_hash")
            if self.max_bucket_size is not None:
                # count-first cap on the LAKE side of the join: over-cap
                # keys go to review/ before any join fan-out exists
                lake_bands, lake_hot = split_hot_keys(
                    lake_bands, band_key, self.max_bucket_size
                )
                hot.append(lake_hot)
            batch_bands = band_rows_all  # batch is un-filtered at this point
            # empty-candidate fast path: cross is id pairs (tiny);
            # materialize it once so the emptiness probe AND the verify
            # share one computation, and skip the whole verify pipeline
            # (shingling + two joins ≈ several Spark jobs of per-batch
            # fixed cost) when no lake band key collided — the common
            # case for a clean steady-state stream
            cross = materialize_once(self.cross_batch_candidates(lake_bands, batch_bands))
            to_release.append(cross)
            if not cross.isEmpty():
                docs_for_verify = kept.select(id_c, txt).unionByName(
                    batch.select(id_c, txt)
                )
                matched = (
                    D.verify_candidates_jaccard(
                        docs_for_verify, cross, id_c, txt, self.threshold, self.shingle_n
                    )
                    .select(F.col("id_b").alias(id_c))
                    .distinct()
                )
                batch = batch.join(F.broadcast(matched), id_c, "left_anti")

        # 3. within-batch near-dup: bounded LSH + star-CC, min-id reps —
        # with the same empty-candidate fast path (no bucket collisions
        # → skip verify AND the star-CC fixpoint rounds entirely). The
        # batch's hot keys join the lake's in this epoch's review/.
        batch_rows = rows_for(batch)
        if self.max_bucket_size is not None:
            _, batch_hot = split_hot_keys(batch_rows, band_key, self.max_bucket_size)
            hot.append(batch_hot)
        cands = materialize_once(
            D.minhash_lsh_candidates(
                batch, id_c, txt, self.num_hashes, self.bands, self.shingle_n,
                max_bucket_size=self.max_bucket_size,
                band_rows=batch_rows,
            )
        )
        to_release.append(cands)
        if cands.isEmpty():
            survivors = batch
        else:
            pairs = D.verify_candidates_jaccard(
                batch, cands, id_c, txt, self.threshold, self.shingle_n
            )
            clusters = D.connected_components_star(pairs)
            drop = clusters.filter(F.col("cluster_id") != F.col("id")).select("id")
            survivors = batch.join(
                F.broadcast(drop), F.col(id_c) == F.col("id"), "left_anti"
            )

        # 4. commit: epoch-scoped review + kept + band-index dirs, then
        # the marker
        survivors = materialize_once(survivors)
        to_release.append(survivors)
        # survivors is eagerly materialized above, so after the review
        # write cross/cands/band_rows_all have no remaining consumers —
        # all safe to free
        try:
            if hot:
                reduce(DataFrame.unionByName, hot).write.mode("overwrite").parquet(
                    f"{self.path}/review/epoch={epoch_id}"
                )
            survivors.write.mode("overwrite").parquet(
                f"{self.path}/kept/epoch={epoch_id}"
            )
            if self._fail_after == "kept":
                raise RuntimeError("injected crash between kept and bands writes")
            rows_for(survivors).write.mode("overwrite").parquet(
                f"{self.path}/bands/epoch={epoch_id}"
            )
            if self._fail_after == "bands":
                raise RuntimeError("injected crash between bands write and marker")
        finally:
            for frame in to_release:
                release(frame)
        self._commit.commit(epoch_id)

    def read_kept(self, spark) -> DataFrame:
        """Serving read of the kept corpus: COMMITTED epochs only (the
        embedding lake's r9 fix, applied symmetrically): a crashed-but-
        not-yet-retried epoch's markerless partial rows are invisible,
        an interrupted compact() swap is followed to the staged copy,
        and an empty lake yields an empty frame (the two contractual
        columns) instead of AnalysisException. The trigger path keeps
        ``_read_or_none`` — it runs after the cleanup preamble, where
        markerless dirs are already gone."""
        dirs = self._commit.committed_epoch_dirs("kept")
        if not dirs:
            return spark.createDataFrame(
                [], f"{self.id_col} bigint, {self.text_col} string"
            )
        return spark.read.parquet(*dirs).drop("__digest", "epoch")

    # ------------------------------------------------------------------
    # maintenance: epoch compaction (the small-files control)
    # ------------------------------------------------------------------

    def compact(self, spark, target_files: int = 8) -> None:
        """Fold every committed epoch directory into ONE base epoch —
        the maintenance pass the epoch-per-micro-batch commit layout
        needs at scale. A year of 1-minute micro-batches is ~500k
        epoch directories of tiny files; every lake-side scan (kept
        digests, band index) then pays file-listing + footer overhead
        per epoch. Compaction rewrites kept/ and bands/ as
        ``target_files``-file datasets under ``epoch=<max committed>``
        and removes the older epoch dirs — the lakehouse OPTIMIZE
        analogue, expressed on plain parquet.

        Safety: partial (markerless) epoch dirs are deleted first
        (same rule as the retry path — they are garbage from a crashed
        attempt); all ``_epoch_N`` markers are KEPT so replays of
        compacted epochs stay no-ops; the per-subdir swap is two
        renames with a crash-recovery preamble
        (``EpochCommit.finish_swap``, also run before every
        apply_batch). kept/ and bands/ swap independently — a crash
        between them leaves one compacted and one not, which is
        consistent (the epoch value is bookkeeping, not a join key).
        Run it between triggers, as with any OPTIMIZE: racing an
        in-flight apply_batch raises (enforced by the shared exclusion
        guard). review/ is an append-only deferred-work log and is
        left as-is.
        """
        with self._commit.maintenance_guard():
            self._commit.finish_swap(("kept", "bands"))
            committed = self._commit.drop_partial_epochs(("kept", "bands", "review"))
            if len(committed) <= 1 or not os.path.isdir(f"{self.path}/kept"):
                return
            base = max(committed)
            for sub in ("kept", "bands"):
                self._publish_sub(
                    sub, spark.read.parquet(f"{self.path}/{sub}"), base, target_files
                )

    def _publish_sub(self, sub: str, df: DataFrame, base_epoch: int, target_files: int) -> None:
        """Rewrite one lake subdir as a single ``epoch=<base_epoch>``
        dataset at ``target_files`` files and swap it live via the
        crash-recoverable two-rename protocol (shared by ``compact``
        and ``drain_review``)."""
        self._commit.swap_publish(
            sub,
            lambda staging: (
                df.drop("epoch")
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(f"{staging}/epoch={base_epoch}")
            ),
        )

    def drain_review(self, spark, target_files: int = 8) -> int:
        """Maintenance pass that CONSUMES the review queue: collapse
        every hot lake band key's members by full-signature equality
        (operators/dedup.py collapse_signature_families — the linear
        escalation, no pair expansion) and remove the collapsed
        non-representatives from the lake. Returns how many docs were
        removed.

        Shape: hot keys are the distinct (band_id, band_hash) rows of
        ``review/`` (bounded by duplicate-family count — SCALING.md r6
        measured it flat at ~76k across a 10× corpus); member ids come
        from a broadcast probe of the band index; signatures are
        recomputed for those kept docs only (semi-join pruned before
        the shingle map — the lake's text is never scanned in full).
        kept/ and bands/ are republished through the same two-rename
        swap as ``compact()`` (so this also compacts), then review/ is
        deleted — consumed. A key that is STILL hot after the collapse
        reappears in the next micro-batch's review rows, so deferred
        work is never lost; a crash before the review/ delete makes
        re-draining a no-op (families already collapsed). Run between
        triggers, like ``compact``.

        Semantics: strictly narrower than the threshold verify — only
        64/64-min-hash-equal docs collapse (the repetition/boilerplate
        core of a hot family), min-id representative kept. Docs the
        uncapped pipeline would keep are never removed.

        Crash recovery, both directions: the preamble deletes every
        markerless (partial) epoch dir BEFORE reading lake state — a
        crashed-but-not-yet-retried epoch's uncommitted survivors must
        not be folded into the committed base (the stream's retry would
        then re-append them: duplicates). And a prior drain that
        crashed between its kept and bands publishes leaves band rows
        whose docs are gone from kept/ — those orphans are detected
        (bands ids ∖ kept ids) and pruned out of the bands republish
        even when no new family collapses, so stale index rows cannot
        survive a re-drain. (compact() rewrites bands verbatim, which
        is safe because that crash window always leaves review/ intact
        — a nonempty review/ means a drain is owed, and the drain
        heals.)
        """
        from ..operators import dedup as D
        from ..operators.materialize import materialize_once, release

        with self._commit.maintenance_guard():
            return self._drain_review_locked(spark, target_files, D, materialize_once, release)

    def _drain_review_locked(self, spark, target_files, D, materialize_once, release) -> int:
        self._commit.finish_swap(("kept", "bands"))
        committed = self._commit.drop_partial_epochs(("kept", "bands", "review"))
        review = self._read_or_none(spark, "review")
        kept = self._read_or_none(spark, "kept")
        bands = self._read_or_none(spark, "bands")
        if review is None or kept is None or bands is None or not committed:
            return 0
        id_c, txt = self.id_col, self.text_col
        hot_keys = review.select("band_id", "band_hash").distinct()
        hot_ids = (
            bands.select(id_c, "band_id", "band_hash")
            .join(F.broadcast(hot_keys), ["band_id", "band_hash"])
            .select(id_c)
            .distinct()
        )
        hot_docs = kept.select(id_c, txt).join(F.broadcast(hot_ids), id_c, "semi")
        sigs = D.portable_minhash_signatures(
            hot_docs, id_c, txt, self.num_hashes, self.shingle_n
        )
        fams = D.collapse_signature_families(sigs, id_c, self.num_hashes)

        # materialize BEFORE the swaps: the drop/orphan lists' lineage
        # reads the old kept/ and bands/ files, which the publishes
        # delete — a lazy re-evaluation would chase removed files
        drop = materialize_once(
            fams.filter(
                (F.col("family_size") >= 2) & (F.col(id_c) != F.col("keep_id"))
            ).select(id_c)
        )
        # band rows whose doc is gone from kept/: the residue of a drain
        # that crashed between its two publishes (small — crash-only)
        orphan_ids = materialize_once(
            bands.select(id_c).distinct().join(
                kept.select(id_c).distinct(), id_c, "left_anti"
            )
        )
        n_drop = drop.count()
        if n_drop or not orphan_ids.isEmpty():
            base = max(committed)
            if n_drop:
                self._publish_sub(
                    "kept", kept.join(F.broadcast(drop), id_c, "left_anti"),
                    base, target_files,
                )
            self._publish_sub(
                "bands",
                bands.join(F.broadcast(drop), id_c, "left_anti").join(
                    F.broadcast(orphan_ids), id_c, "left_anti"
                ),
                base, target_files,
            )
        release(drop)
        release(orphan_ids)
        shutil.rmtree(f"{self.path}/review", ignore_errors=True)
        return n_drop


class SubstringKeyLakeSink:
    """Streaming substring-window-key lake: the ingest-time half of
    span-level decontamination. Each micro-batch's distinct W-token
    window keys (operators/dedup.py substring_window_positions — the
    portable two-lane fold) land as a committed epoch under
    ``keys/epoch=N``; ``probe_coverage`` then answers the ONLINE
    question "how much of this eval/benchmark doc is verbatim training
    content?" without re-hashing the corpus — the positional twin of
    the text lake's ``probe_near_dups`` (jaccard-level), and the
    amortized form of operators/dedup.py incremental_substring_coverage
    (which pays a full historical window scan per call).

    Protocol: the repo-standard EpochCommit — markers are the commit
    point, a retried epoch's markerless partial dir is dropped before
    re-apply, serving reads see committed epochs only, and ``compact``
    folds the epoch dirs into one distinct ``target_files``-file
    dataset via the two-rename swap (keys are a SET, so compaction
    also dedups across epochs — the store stops growing once the
    corpus's window vocabulary saturates).

    Layout under ``path``:
      ``keys/epoch=N/``  — distinct window keys first seen in epoch N
      ``_epoch_N``       — commit marker

    Scale: the lake stores 8-byte keys only (no text, no positions —
    ~32 B/row parquet-encoded vs the corpus's ~500 B/doc); probes
    broadcast their key set into the lake scan (lake never shuffled,
    plan-pinned in tests) and only hits come back.
    """

    def __init__(
        self,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        window: int = 8,
        compact_every: int | None = None,
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.window = window
        #: auto-compaction cadence (committed epoch dirs); None = manual
        self.compact_every = compact_every
        self._commit = EpochCommit(path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.apply_batch(batch_df, epoch_id)

    def apply_batch(self, batch_df: DataFrame, epoch_id: int = 0) -> None:
        if self._commit.is_committed(epoch_id):
            return  # retried epoch — already committed
        with self._commit.trigger_guard():
            self._apply_batch_locked(batch_df, epoch_id)
        if (
            self.compact_every is not None
            and len(self._commit.committed_epoch_dirs("keys")) >= self.compact_every
        ):
            self.compact(batch_df.sparkSession)

    def _apply_batch_locked(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators import dedup as D

        self._commit.finish_swap(("keys",))
        self._commit.clean_partial(("keys",), epoch_id)
        keys = (
            D.substring_window_positions(
                batch_df, self.id_col, self.text_col, self.window
            )
            .select("wh")
            .distinct()
        )
        # only keys NOT already in the lake are stored — the lake is a
        # set, so epochs stay disjoint and compaction-free reads never
        # double-count. Probe direction (batch keys broadcast into the
        # lake scan) keeps the lake un-shuffled on the trigger path too.
        existing = self._commit.committed_epoch_dirs("keys")
        if existing:
            lake = batch_df.sparkSession.read.parquet(*existing)
            hits = lake.join(F.broadcast(keys), "wh", "semi").select("wh").distinct()
            keys = keys.join(F.broadcast(hits), "wh", "left_anti")
        keys.write.mode("overwrite").parquet(f"{self.path}/keys/epoch={epoch_id}")
        self._commit.commit(epoch_id)

    def read_keys(self, spark) -> DataFrame:
        """Serving read: committed epochs only; empty lake → empty
        frame with the contractual ``wh`` column."""
        dirs = self._commit.committed_epoch_dirs("keys")
        if not dirs:
            return spark.createDataFrame([], "wh bigint")
        return spark.read.parquet(*dirs)

    def probe_coverage(self, probe_docs: DataFrame) -> DataFrame:
        """Online span-contamination check: (id, total_tokens,
        lake_tokens, lake_coverage) for every probe doc against the
        committed lake — read-only, crash-consistent, identical math
        to the batch operator (pytested equality)."""
        from ..operators import dedup as D

        return D.substring_coverage_vs_keys(
            probe_docs,
            self.read_keys(probe_docs.sparkSession),
            self.id_col,
            self.text_col,
            self.window,
        )

    def compact(self, spark, target_files: int = 4) -> None:
        """Fold committed epoch dirs into one distinct dataset under
        ``epoch=<max committed>`` (two-rename swap; markers kept so
        replays stay no-ops; markerless partials dropped first)."""
        with self._commit.maintenance_guard():
            self._commit.finish_swap(("keys",))
            committed = self._commit.drop_partial_epochs(("keys",))
            if len(committed) <= 1 or not os.path.isdir(f"{self.path}/keys"):
                return
            base = max(committed)
            df = spark.read.parquet(f"{self.path}/keys").drop("epoch").distinct()
            self._commit.swap_publish(
                "keys",
                lambda staging: (
                    df.coalesce(target_files)
                    .write.mode("overwrite")
                    .parquet(f"{staging}/epoch={base}")
                ),
            )


def contamination_report_online(
    lsh_lake: IncrementalLSHDedupSink,
    key_lake: SubstringKeyLakeSink,
    probe_docs: DataFrame,
    check_ids: bool = True,
) -> DataFrame:
    """The ONLINE twin of the batch ``contamination_report`` catalog
    entry: score a probe set (an eval suite) against the two STREAMING
    contamination surfaces — max verified near-dup jaccard from the
    text LSH lake (``probe_near_dups``) and verbatim span coverage
    from the substring-key lake (``probe_coverage``) — as one
    (probe × method) artifact with zeros kept, without touching raw
    corpus text (both probes read committed-epoch index state only).

    The n-gram-overlap modality has no lake (its gram SETS are what
    the key lake already stores at window granularity), so the online
    report carries the two lake-backed signals; run the batch entry
    for the three-way audit. Scale: both probes are plan-pinned
    lake-never-shuffled; the report join is probe-sized.
    """
    id_c = key_lake.id_col
    jac = (
        lsh_lake.probe_near_dups(probe_docs, check_ids=check_ids)
        .groupBy(F.col(f"probe_{lsh_lake.id_col}").alias(id_c))
        .agg(F.round(F.max("jaccard"), 6).alias("evidence"))
        .select(id_c, F.lit("near_dup_jaccard").alias("method"), "evidence")
    )
    span = key_lake.probe_coverage(probe_docs).select(
        F.col(id_c),
        F.lit("span_coverage").alias("method"),
        F.col("lake_coverage").alias("evidence"),
    )
    signals = jac.unionByName(span)
    spark = probe_docs.sparkSession
    scaffold = probe_docs.select(id_c).crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("near_dup_jaccard",), ("span_coverage",)], "method string"
            )
        )
    )
    return scaffold.join(signals, [id_c, "method"], "left").select(
        id_c, "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )


def release_report_online(
    lsh_lake: IncrementalLSHDedupSink,
    key_lake: SubstringKeyLakeSink,
    lm_lake,
    probe_docs: DataFrame,
    check_ids: bool = True,
) -> DataFrame:
    """The full online RELEASE gate (VERDICT r10 item 6): the two
    contamination signals of ``contamination_report_online`` PLUS the
    quality/target-likeness signal from the streaming DSIR LM lake
    (``IncrementalLMSink.score``), as one (probe × method) artifact —
    a release decision reads one frame to answer both "is this doc
    leaked eval content?" (near_dup_jaccard, span_coverage) and "is
    it target-like?" (dsir_logweight_per_token).

    The LM evidence is the per-token DSIR log importance weight in
    NATS (weight_micro / 1e6 / n_tokens, 6dp) — length-normalized so
    probe docs of different sizes compare on one scale; positive ⇒
    more target-like than the lake's raw mix, 0 ⇒ neutral (and
    exactly 0 on an empty LM lake, the sink's documented smoothing).
    All three signals read COMMITTED epoch state only — the LSH lake's
    band index, the key lake's window-key store, and the LM lake's
    count deltas; no raw corpus text is ever re-read. Zero-token probe
    docs (which the score's token explode drops) re-enter through the
    scaffold with evidence 0.
    """
    id_c = key_lake.id_col
    base = contamination_report_online(
        lsh_lake, key_lake, probe_docs, check_ids=check_ids
    )
    method = "dsir_logweight_per_token"
    lm = lm_lake.score(probe_docs).select(
        F.col(lm_lake.id_col).alias(id_c),
        F.lit(method).alias("method"),
        F.round(
            F.col("weight_micro")
            / 1e6
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("evidence"),
    )
    scaffold = probe_docs.select(F.col(id_c), F.lit(method).alias("method"))
    lm_full = scaffold.join(lm, [id_c, "method"], "left").select(
        id_c, "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )
    return base.unionByName(lm_full)
