"""IncrementalEmbeddingIndexSink: the streaming embedding-near-dup
LAKE — the SemDeDup story as a continuous process.

Round 7 closed the CDC→analytics bridge for TEXT dedup (the
``IncrementalLSHDedupSink`` lake); embeddings were covered only in
batch (``dedup_embedding_keep_representatives``). This sink completes
the pair: "semantically dedupe today's vectors against everything ever
kept", per micro-batch, under the exact same epoch commit protocol
(``EpochCommit`` — markers, partial-dir cleanup, crash-recoverable
publishes).

State layout (parquet, epoch-partitioned):
  ``kept/epoch=N/``  — vector rows that survived epoch N (all columns)
  ``bands/epoch=N/`` — (vec_id, band, sig) rows of epoch N's kept
        vectors: each vector's FULL per-band sign-LSH signatures,
        stored UNMASKED. The adaptive bucket key is ``sig % 2^w`` with
        the width derived from the CURRENT corpus count at probe time
        (operators/similarity.py adaptive_pow2_case_sql), so an index
        built when the lake held 10k vectors probes correctly when it
        holds 10M — the mask tightens as the corpus grows, with no
        index rebuild (re-masking is a projection, not a recompute).
  ``review/epoch=N/`` — over-cap lake keys deferred in epoch N
        (capped mode only): (band, bucket, p2, n_members) rows keyed
        by epoch, carrying the mask width they were counted at;
        consumed by ``drain_review()``.

Per micro-batch:
  1. cross-batch semantic near-dup: the batch's band signatures
     (small) BROADCAST against the lake band index, equi-joined on
     (band, sig % 2^w) with w from the in-plan count — candidate
     (lake_id, batch_id) pairs → exact-cosine verify (lake vectors
     pulled only for candidate-adjacent ids via a pruned semi-join) →
     matched batch vectors drop (greedy: the earlier-kept vector stays
     the representative);
  2. within-batch near-dup: ``lsh_near_duplicates_adaptive`` (the
     exact batch-operator pipeline, so a one-batch stream equals
     ``dedup_embedding_keep_representatives`` bit-for-bit) → star-CC →
     keep the min-id representative per cluster;
  3. commit epoch N's survivors + their band rows, then the marker.

Failure semantics are inherited wholesale from ``EpochCommit``: the
marker is the commit point; markerless epoch dirs are a crashed
attempt's garbage, deleted before any lake read; a transient read
failure on EXISTING lake state aborts the epoch (never "empty lake" —
the silent-corruption class round 7 closed in the text sinks).
Maintenance (``compact``) must not race an in-flight batch — enforced
by the shared sentinel guards.

Scale: the lake side is never shuffled — candidate generation
broadcasts the batch's band rows against a columnar scan of bands/,
and verify reads lake vectors only for candidate-adjacent ids.
Per-batch cost follows the batch and candidate count, not lake size;
expected per-(band,bucket) fan-out stays ~target_bucket at any lake
size because the mask width tracks the count. Production points the
same fold at a transactional lake table (Delta/Iceberg).

Greedy-vs-CC caveat, stated plainly (same as the text lake):
cross-batch the kept set is an independent set of the verified match
graph but can differ from all-at-once CC on chain cases split across
batches — the standard online/offline dedup divergence.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, functions as F

from ..operators import vector_kernel as VK
from ..operators.bucketing import split_hot_keys
from .epoch import EpochCommit

#: the capped lake's bucket key: the mask width ``__p2`` is one value
#: per plan, carried so review rows record the width they were counted at
_LAKE_KEY = ["band", "bucket", "__p2"]


class IncrementalEmbeddingIndexSink:
    def __init__(
        self,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        threshold: float = 0.3,
        dim: int = 64,
        planes_per_band: int = 16,
        n_bands: int = 4,
        target_bucket: int = 64,
        max_bucket_size: int | None = None,
        compact_every: int | None = None,
    ) -> None:
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.dim = dim
        self.planes_per_band = planes_per_band
        self.n_bands = n_bands
        self.target_bucket = target_bucket
        #: 100 TB control loop (the text lake's cap, transplanted): the
        #: adaptive mask keeps EXPECTED bucket occupancy ~target_bucket,
        #: but a pathological sign region (near-zero vectors, constant
        #: embeddings from a broken upstream encoder) can concentrate
        #: far more. With a cap set (sensible values are several ×
        #: target_bucket), over-cap lake keys (operators/bucketing.py
        #: split_hot_keys) skip the auto cross-batch join and surface as
        #: (band, bucket, p2, n_members) rows under ``review/epoch=N`` —
        #: deferred, never silently dropped; ``drain_review()`` collapses
        #: their full-signature families. The cap covers the LAKE side
        #: only. The within-batch leg (``lsh_near_duplicates_adaptive``)
        #: is uncapped: a batch of b identical or zero vectors expands
        #: b(b-1)/2 pairs per band in one task, limited only by the
        #: trigger's batch size.
        self.max_bucket_size = max_bucket_size
        #: small-files control loop (r9): when set, ``apply_batch``
        #: runs ``compact()`` automatically once the lake holds ≥
        #: ``compact_every`` committed epoch dirs, folding them into
        #: one base epoch. The probe-vs-epoch-count curve (SCALING.md
        #: r9, x10 lake) sizes the cadence: ``topk()`` best-of-3 read
        #: 0.506 s compacted, 0.612 at 10 epoch dirs, 0.805 at 25,
        #: 1.036 at 100 — the per-dir listing/footer tax every serving
        #: read AND every trigger's lake scan pays. Cadence 10 holds
        #: the probe within ~20% of the compacted floor; 25 within
        #: ~60% at the cadence peak (~30% mean). Compaction itself is
        #: an O(lake) rewrite, so serving-heavy lakes want the short
        #: cadence and ingest-heavy lakes a longer one. None (default)
        #: leaves compaction to the operator/maintenance window — it
        #: takes the maintenance guard, so auto-compaction briefly
        #: excludes concurrent maintenance between triggers.
        self.compact_every = compact_every
        #: fault-injection hook for the commit-protocol tests ONLY
        #: ("kept" → raise between the kept and bands writes; "bands" →
        #: between bands and the marker). Never set in production.
        self._fail_after: str | None = None
        self._commit = EpochCommit(path)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        self.apply_batch(batch_df, epoch_id)

    def _sig_stamp_path(self) -> str:
        return f"{self.path}/sig_kernel.json"

    def _enforce_sig_kernel(self, write: bool) -> None:
        """One signature kernel per lake, forever. Band signatures are
        PERSISTED STATE: stored band sigs and probe-time query sigs
        must come from one kernel, or a divergence (however unlikely)
        would silently mis-bucket. Every lake is therefore stamped
        ``{"sig_kernel": "numpy"}`` (the Arrow matmul+pack kernel,
        sign_band_signatures) on first ingest, atomically (tmp +
        rename); probes only check. A lake stamped with anything else,
        or holding ``kept/`` state with no stamp (a pre-stamp lake,
        written by the retired interpreted sign folds), is refused —
        it needs a fresh lake or a full re-ingest."""
        import json as _json

        p = self._sig_stamp_path()
        if os.path.exists(p):
            with open(p) as f:
                stamped = _json.load(f)["sig_kernel"]
            if stamped != "numpy":
                raise ValueError(
                    f"embedding lake at {self.path} is stamped "
                    f"sig_kernel={stamped!r}; this sink writes and probes "
                    "'numpy' signatures — stored band signatures and "
                    "probe-time query signatures must come from ONE kernel "
                    "(mixing is the same contract violation as mixing "
                    "plane seeds)"
                )
            return
        if os.path.isdir(f"{self.path}/kept"):
            raise ValueError(
                f"embedding lake at {self.path} holds pre-stamp state "
                "(written by the retired 'hof' signature folds) — a kernel "
                "switch needs a fresh lake (or a full re-ingest)"
            )
        if write:
            os.makedirs(self.path, exist_ok=True)
            tmp = f"{p}.tmp"
            with open(tmp, "w") as f:
                _json.dump({"sig_kernel": "numpy"}, f)
            os.replace(tmp, p)

    def _read_or_none(self, spark, sub: str) -> DataFrame | None:
        """None iff the subdir genuinely doesn't exist yet; a read
        error on existing state propagates (epoch aborts and retries —
        treating it as 'empty lake' would re-admit duplicates
        permanently)."""
        root = f"{self.path}/{sub}"
        if not os.path.isdir(root) or not any(
            e.startswith("epoch=") for e in os.listdir(root)
        ):
            return None
        return spark.read.parquet(root)

    def _masked(self, bands_df: DataFrame, nn: DataFrame, id_alias: str) -> DataFrame:
        """Band rows with the CURRENT adaptive bucket key: the stored
        full signature masked by ``2^w`` derived in-plan from the 1-row
        count ``nn`` (columns: id_alias, band, s, __p2, bucket)."""
        from ..operators import similarity as S

        p2 = F.expr(
            S.adaptive_pow2_case_sql("__n", target_bucket=self.target_bucket)
        )
        return (
            bands_df.select(
                F.col(self.id_col).alias(id_alias), "band", F.col("sig").alias("s")
            )
            .crossJoin(F.broadcast(nn))
            .withColumn("__p2", p2)
            .withColumn("bucket", F.col("s") % F.col("__p2"))
        )

    def cross_batch_candidates(
        self, lake_bands: DataFrame, batch_bands: DataFrame, nn: DataFrame
    ) -> DataFrame:
        """Candidate (lake_id, batch_id) pairs via the adaptive-width
        bucket join, lake-probe direction: both sides mask their stored
        full signatures with the CURRENT width (``sig % 2^w``, w from
        the 1-row in-plan count ``nn``), then the batch's band rows
        BROADCAST against the lake index — the lake is scanned, never
        shuffled (plan-pinned in tests/test_plan_shapes.py). With a cap
        set, only lake keys within it enter the join."""
        lb = self._masked(lake_bands, nn, "id_a")
        if self.max_bucket_size is not None:
            lb, _ = split_hot_keys(lb, _LAKE_KEY, self.max_bucket_size)
        bb = self._masked(batch_bands, nn, "id_b")
        return (
            lb.join(F.broadcast(bb.drop("__p2")), ["band", "bucket"])
            .select("id_a", "id_b")
            .distinct()
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
            # OUTSIDE the trigger guard: compact() takes the
            # maintenance guard and the two are mutually exclusive by
            # protocol. A crash between the commit above and this
            # compaction loses nothing — the next batch re-triggers it.
            self.compact(batch_df.sparkSession)

    def _apply_batch_locked(self, batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators import dedup as D
        from ..operators import similarity as S
        from ..operators.materialize import materialize_once, release

        self._commit.finish_swap(("kept", "bands"))
        self._commit.clean_partial(("kept", "bands", "review"), epoch_id)
        self._enforce_sig_kernel(write=True)
        spark = batch_df.sparkSession
        id_c, vec = self.id_col, self.vec_col
        batch = batch_df

        # the batch's full band signatures, computed ONCE (wide form):
        # the cross-batch probe and the final index write consume its
        # exploded projection, and the within-batch pair generator
        # takes it directly — one run of the sign-bit pipeline per
        # batch instead of two (the same fix that cut the text lake's
        # per-batch cost in r7)
        wide_sigs = materialize_once(
            S.wide_band_signatures(
                batch, self.dim, id_c, vec, self.planes_per_band, self.n_bands
            )
        )
        batch_bands = S.band_signature_rows(
            batch, self.dim, id_c, vec, self.planes_per_band, self.n_bands,
            wide_sigs=wide_sigs,
        )
        to_release: list[DataFrame] = [wide_sigs]

        kept = self._read_or_none(spark, "kept")
        lake_bands = self._read_or_none(spark, "bands")
        try:
            # 1. cross-batch: adaptive-width bucket join, lake-probe
            # direction (lake scanned, never shuffled)
            if kept is not None and lake_bands is not None:
                nn = (
                    kept.select(id_c)
                    .unionByName(batch.select(id_c))
                    .agg(F.count(F.lit(1)).alias("__n"))
                )
                if self.max_bucket_size is not None:
                    # over-cap lake keys go to review/ with the mask
                    # width they were counted at (widths vary across
                    # epochs as the lake grows — the drain re-derives
                    # membership per stored width)
                    _, hot = split_hot_keys(
                        self._masked(lake_bands, nn, "id_a"),
                        _LAKE_KEY,
                        self.max_bucket_size,
                    )
                    hot.withColumnRenamed("__p2", "p2").write.mode(
                        "overwrite"
                    ).parquet(f"{self.path}/review/epoch={epoch_id}")
                cross = materialize_once(
                    self.cross_batch_candidates(lake_bands, batch_bands, nn)
                )
                to_release.append(cross)
                if not cross.isEmpty():
                    cand_lake = cross.select(F.col("id_a").alias(id_c)).distinct()
                    va = (
                        kept.select(id_c, vec)
                        .join(F.broadcast(cand_lake), id_c, "semi")
                        .select(F.col(id_c).alias("id_a"), F.col(vec).alias("vec_a"))
                    )
                    vb = batch.select(
                        F.col(id_c).alias("id_b"), F.col(vec).alias("vec_b")
                    )
                    verify = VK.cosine_pairs(F.col("vec_a"), F.col("vec_b"))
                    # 6dp-rounded threshold: the same kernel and predicate
                    # as the within-batch operator, so a zero-norm vector
                    # (NULL score) matches nothing on either leg
                    matched = (
                        cross.join(va, "id_a")
                        .join(F.broadcast(vb), "id_b")
                        .filter(F.round(verify, 6) >= self.threshold)
                        .select(F.col("id_b").alias(id_c))
                        .distinct()
                    )
                    batch = batch.join(F.broadcast(matched), id_c, "left_anti")

            # 2. within-batch: the exact batch-operator pipeline (so a
            # one-batch stream ≡ dedup_embedding_keep_representatives)
            pairs = materialize_once(
                S.lsh_near_duplicates_adaptive(
                    batch,
                    self.threshold,
                    self.dim,
                    planes_per_band=self.planes_per_band,
                    n_bands=self.n_bands,
                    id_col=id_c,
                    vec_col=vec,
                    target_bucket=self.target_bucket,
                    # superset of the filtered batch's ids is fine: the
                    # verify join is inner on the filtered vectors, so
                    # pairs touching cross-batch-dropped ids vanish
                    wide_sigs=wide_sigs,
                )
            )
            to_release.append(pairs)
            if pairs.isEmpty():
                survivors = batch
            else:
                clusters = D.connected_components_star(pairs)
                drop = clusters.filter(
                    F.col("cluster_id") != F.col("id")
                ).select("id")
                survivors = batch.join(
                    F.broadcast(drop), F.col(id_c) == F.col("id"), "left_anti"
                )

            # 3. commit: kept + band index, then the marker
            survivors = materialize_once(survivors)
            to_release.append(survivors)
            survivors.write.mode("overwrite").parquet(
                f"{self.path}/kept/epoch={epoch_id}"
            )
            if self._fail_after == "kept":
                raise RuntimeError("injected crash between kept and bands writes")
            batch_bands.join(
                F.broadcast(survivors.select(id_c).distinct()), id_c, "semi"
            ).write.mode("overwrite").parquet(f"{self.path}/bands/epoch={epoch_id}")
            if self._fail_after == "bands":
                raise RuntimeError("injected crash between bands write and marker")
        finally:
            for frame in to_release:
                release(frame)
        self._commit.commit(epoch_id)

    def _empty_kept(self, spark) -> DataFrame:
        """Empty frame with the two columns the sink contractually
        manages (callers' extra batch columns appear once data does)."""
        return spark.createDataFrame(
            [], f"{self.id_col} bigint, {self.vec_col} array<float>"
        )

    def read_kept(self, spark) -> DataFrame:
        """Serving read of the kept corpus: COMMITTED epochs only.

        Reads the explicit committed-epoch dir list (read-only twin of
        ``drop_partial_epochs`` — ``EpochCommit.committed_epoch_dirs``),
        so a crashed-but-not-yet-retried epoch's markerless partial
        rows are invisible, a swap interrupted between its two renames
        is followed to the staged copy, and an empty lake yields an
        empty frame instead of AnalysisException (r8 VERDICT item 4 /
        ADVICE). The trigger path keeps using ``_read_or_none`` — it
        runs under the guard AFTER the cleanup preamble, where
        markerless dirs are already gone and a read error must abort."""
        dirs = self._commit.committed_epoch_dirs("kept")
        if not dirs:
            return self._empty_kept(spark)
        return spark.read.parquet(*dirs)

    def topk(self, spark, query_vec, k: int = 10) -> DataFrame:
        """Serving probe: approximate top-k over the LAKE using the
        maintained band index — the continuously-updated ANN index the
        sink's name promises, queryable between triggers.

        The query's per-band signatures are the same driver-side fold
        over the same plane literals the index rows carry; both sides
        mask with the CURRENT width (in-plan count), so the probe
        automatically tightens as the lake grows. Candidates = kept
        vectors sharing ANY band bucket with the query (~n_bands ×
        target_bucket rows at any lake size); exact cosine re-ranks
        them. The lake is scanned, never shuffled — the only exchange
        is the (small) candidate-id distinct. A kept vector identical
        to the query shares every band bucket by construction, so
        self-lookup always returns it first (tested).
        """
        from ..operators import similarity as S

        # the driver-side query fold is kernel-agnostic (same bits as
        # the kernel, equality pytested) — the check here refuses a lake
        # stamped by another kernel before any probe
        self._enforce_sig_kernel(write=False)
        id_c, vec = self.id_col, self.vec_col
        all_planes = S.hyperplanes(
            self.dim, self.n_bands * self.planes_per_band, seed=42
        )
        qsigs = []
        for b in range(self.n_bands):
            sig = 0
            planes = all_planes[
                b * self.planes_per_band : (b + 1) * self.planes_per_band
            ]
            for i, plane in enumerate(planes):
                s = sum(float(a) * float(p) for a, p in zip(query_vec, plane))
                sig |= (1 if s > 0 else 0) << i
            qsigs.append(sig)

        kept = self.read_kept(spark)
        band_dirs = self._commit.committed_epoch_dirs("bands")
        if not band_dirs:
            # no committed index yet (empty lake, or a first epoch's
            # crashed attempt awaiting retry): empty result, not an
            # AnalysisException on the missing bands/ dir
            return spark.createDataFrame([], f"{id_c} bigint, score double")
        bands = spark.read.parquet(*band_dirs).select(id_c, "band", "sig")
        nn = kept.select(id_c).agg(F.count(F.lit(1)).alias("__n"))
        p2 = F.expr(
            S.adaptive_pow2_case_sql("__n", target_bucket=self.target_bucket)
        )
        qtbl = F.array(
            *[
                F.struct(F.lit(b).alias("band"), F.lit(qsigs[b]).alias("qsig"))
                for b in range(self.n_bands)
            ]
        )
        qdf = (
            spark.range(1)
            .select(F.explode(qtbl).alias("q"))
            .select("q.band", "q.qsig")
            .crossJoin(F.broadcast(nn))
            .withColumn("bucket", F.col("qsig") % p2)
            .select("band", "bucket")
        )
        cand_ids = (
            bands.crossJoin(F.broadcast(nn))
            .withColumn("bucket", F.col("sig") % p2)
            .join(F.broadcast(qdf), ["band", "bucket"])
            .select(id_c)
            .distinct()
        )
        score = VK.cosine_vs_query([float(x) for x in query_vec])(F.col(vec))
        return (
            kept.join(F.broadcast(cand_ids), id_c, "semi")
            .select(F.col(id_c), F.round(score, 6).alias("score"))
            .orderBy(F.desc("score"), F.col(id_c))
            .limit(k)
        )

    def topk_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
    ) -> DataFrame:
        """Batched serving probe: approximate top-k for EVERY row of
        ``queries`` in ONE pass over the lake — what a real serving
        tier does instead of Q sequential ``topk()`` calls (each of
        which pays a full probe's job overhead and lake scan; the
        batched form pays ONE lake scan for the whole query set).

        Same semantics per query as ``topk()``: the queries' per-band
        signatures come from the SAME plane family/seed the index rows
        carry (in-plan this time — ``wide_band_signatures`` — instead
        of the driver-side fold, same bits either way, equality
        pytested), both sides mask at the CURRENT adaptive width,
        candidates are lake vectors sharing any band bucket with the
        query, exact cosine re-ranks. Returns (query_id, vec_id,
        score, rank) with rank 1..≤k per query.

        Scale shape: the query side (signatures + buckets) BROADCASTS
        against the lake index — committed-epoch scans only, the lake
        is never shuffled (plan-pinned like the single probe). The
        per-query re-rank uses a row_number window whose partitions
        are the candidate sets — bounded at ~n_bands × target_bucket
        rows by the adaptive width (the knob that exists to bound
        exactly this), so no partition grows with the lake.
        """
        from ..operators import similarity as S

        # per-query ranking keys on query_id — duplicate ids would
        # interleave two queries' candidates into one ranked set
        # (VERDICT r10 item 5). The query frame is a serving batch
        # (small by contract), so the uniqueness probe is cheap.
        dupes = [
            r[0]
            for r in queries.groupBy(query_id_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .limit(5)
            .collect()
        ]
        if dupes:
            raise ValueError(
                f"topk_batch: duplicate query ids {dupes} — per-query "
                "ranking is keyed by id, so duplicates would interleave "
                "two queries' candidates into one top-k; make ids unique "
                "(or dropDuplicates upstream)"
            )

        id_c, vec = self.id_col, self.vec_col
        kept = self.read_kept(spark := queries.sparkSession)
        band_dirs = self._commit.committed_epoch_dirs("bands")
        if not band_dirs:
            return spark.createDataFrame(
                [], f"{query_id_col} bigint, {id_c} bigint, score double, rank int"
            )
        bands = spark.read.parquet(*band_dirs).select(id_c, "band", "sig")
        nn = kept.select(id_c).agg(F.count(F.lit(1)).alias("__n"))

        self._enforce_sig_kernel(write=False)
        wide = S.wide_band_signatures(
            queries,
            dim=self.dim,
            id_col=query_id_col,
            vec_col=query_vec_col,
            planes_per_band=self.planes_per_band,
            n_bands=self.n_bands,
        )
        qrows = wide.select(
            F.col(query_id_col),
            F.posexplode(
                F.array(*[F.col(f"s{b}") for b in range(self.n_bands)])
            ).alias("band", "qsig"),
        )
        p2 = F.expr(
            S.adaptive_pow2_case_sql("__n", target_bucket=self.target_bucket)
        )
        qbuckets = (
            qrows.crossJoin(F.broadcast(nn))
            .withColumn("bucket", F.col("qsig") % p2)
            .select(query_id_col, "band", "bucket")
        )
        cand = (
            self._masked(bands, nn, "cand_id")
            .join(F.broadcast(qbuckets), ["band", "bucket"])
            .select(query_id_col, "cand_id")
            .distinct()
        )
        qvecs = queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
        )
        # candidate set BROADCASTS onto the lake scan (Q × bounded
        # candidates rows — serving-batch sized), mirroring the single
        # probe's semi-join: the kept/ side must never shuffle
        scored = (
            kept.select(id_c, vec)
            .join(F.broadcast(cand), F.col(id_c) == F.col("cand_id"))
            .join(F.broadcast(qvecs), query_id_col)
        )
        score = VK.cosine_pairs(F.col(vec), F.col("__qvec"))
        from pyspark.sql import Window as W

        rnk = F.row_number().over(
            W.partitionBy(query_id_col).orderBy(F.desc("score"), F.col(id_c))
        )
        return (
            scored.select(
                F.col(query_id_col),
                F.col(id_c),
                F.round(score, 6).alias("score"),
            )
            .withColumn("rank", rnk)
            .filter(F.col("rank") <= k)
        )

    def _publish_sub(
        self, sub: str, df: DataFrame, base_epoch: int, target_files: int
    ) -> None:
        self._commit.swap_publish(
            sub,
            lambda staging: (
                df.drop("epoch")
                .coalesce(target_files)
                .write.mode("overwrite")
                .parquet(f"{staging}/epoch={base_epoch}")
            ),
        )

    def compact(self, spark, target_files: int = 8) -> None:
        """Fold the committed epoch-per-batch dirs into one base epoch
        (the same small-files control as the text lake's compact();
        all protocol pieces shared via EpochCommit). Racing an
        in-flight apply_batch raises. review/ is an append-only
        deferred-work log and is left as-is."""
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

    def drain_review(self, spark, target_files: int = 8) -> int:
        """Maintenance pass that CONSUMES the review queue: collapse
        every hot lake key's members on FULL-SIGNATURE equality and
        remove the collapsed non-representatives from the lake.
        Returns how many vectors were removed.

        The embedding twin of the text lake's drain, with one
        advantage: the index already stores each vector's full
        ``n_bands × planes_per_band`` sign signature, so families come
        from a plain groupBy over the band rows — no vector math, no
        pair expansion, LINEAR in hot-member count. Semantics are
        strictly narrower than the threshold verify in the same
        probabilistic sense as the text drain: at 64 total sign bits,
        a full-signature match at cosine 0.3 has probability
        (1 − acos(0.3)/π)⁶⁴ ≈ 5·10⁻¹⁵ — only the
        near-identical core of a hot region collapses (min-id
        representative kept); sub-threshold bucket-mates survive, so a
        pathological key can legitimately stay hot after a drain (its
        next batch re-defers — deferred work is never lost).

        Review rows carry the mask width they were counted at (the
        adaptive width grows with the lake), so membership is
        re-derived per stored width — one masked projection per
        distinct width present (a handful of small ints collected
        driver-side). Crash recovery mirrors the text drain: partial
        epoch dirs are dropped first; a crash between the kept and
        bands publishes leaves orphan band rows that the next drain
        detects (bands ids ∖ kept ids) and prunes."""
        from ..operators.materialize import materialize_once, release

        with self._commit.maintenance_guard():
            self._commit.finish_swap(("kept", "bands"))
            committed = self._commit.drop_partial_epochs(("kept", "bands", "review"))
            review = self._read_or_none(spark, "review")
            kept = self._read_or_none(spark, "kept")
            bands = self._read_or_none(spark, "bands")
            if review is None or kept is None or bands is None or not committed:
                return 0
            id_c = self.id_col
            hot = review.select("band", "bucket", "p2").distinct()
            widths = sorted(r[0] for r in hot.select("p2").distinct().collect())
            if not widths:
                # every capped batch writes its (possibly empty) review
                # epoch dir — an all-empty queue is a clean no-op
                shutil.rmtree(f"{self.path}/review", ignore_errors=True)
                return 0
            hot_ids = None
            for p2v in widths:
                m = (
                    bands.withColumn("bucket", F.col("sig") % F.lit(int(p2v)))
                    .join(
                        F.broadcast(
                            hot.filter(F.col("p2") == p2v).select("band", "bucket")
                        ),
                        ["band", "bucket"],
                    )
                    .select(id_c)
                )
                hot_ids = m if hot_ids is None else hot_ids.unionByName(m)
            hot_ids = hot_ids.distinct()

            # full-signature families straight from the stored index
            sigs = (
                bands.join(F.broadcast(hot_ids), id_c, "semi")
                .groupBy(id_c)
                .agg(
                    F.sort_array(F.collect_list(F.struct("band", "sig"))).alias(
                        "fullsig"
                    )
                )
            )
            fams = sigs.groupBy("fullsig").agg(
                F.min(id_c).alias("keep_id"),
                F.count(F.lit(1)).alias("family_size"),
            )
            # materialize BEFORE the swaps: lineage reads the files the
            # publishes delete
            drop = materialize_once(
                sigs.join(fams, "fullsig")
                .filter(
                    (F.col("family_size") >= 2) & (F.col(id_c) != F.col("keep_id"))
                )
                .select(id_c)
            )
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
                        "kept",
                        kept.join(F.broadcast(drop), id_c, "left_anti"),
                        base,
                        target_files,
                    )
                self._publish_sub(
                    "bands",
                    bands.join(F.broadcast(drop), id_c, "left_anti").join(
                        F.broadcast(orphan_ids), id_c, "left_anti"
                    ),
                    base,
                    target_files,
                )
            release(drop)
            release(orphan_ids)
            shutil.rmtree(f"{self.path}/review", ignore_errors=True)
            return n_drop
