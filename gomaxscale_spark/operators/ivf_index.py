"""Materialized IVF index: cluster-partitioned vector storage whose
probes are PARTITION-PRUNED reads.

`similarity.ivf_topk_adaptive` prices assignment into every query —
right for ad-hoc one-shots, wrong for a serving corpus probed many
times. This is the standard serving decomposition (IVF as in FAISS's
IVF-Flat, re-expressed as a Spark storage layout):

- ``build()`` pays assignment ONCE: k-means coarse quantizer (the
  Arrow-batched numpy kernel — 37× over the interpreted fold at x100,
  SCALING.md r9), then every vector written under its
  ``centroid_id=`` partition directory. The one shuffle in the build
  is the partitioned write itself — exactly the co-location future
  probes monetize.
- ``probe()`` reads the centroid table (O(√N·dim) — the standard
  driver-side quantizer artifact, cached on the instance), picks the
  ``n_probe`` nearest cells on the driver, and scans ONLY those
  cells' directories: Spark's partition discovery turns
  ``centroid_id IN (...)`` into file-level pruning (pinned by the
  scan RDD's split count in the tests), so a probe touches
  ~n_probe/k of the corpus regardless of corpus size. Exact cosine
  (numpy kernel) re-ranks inside the probed cells.

Insert/serve protocol (r10 — VERDICT r9 item 2): ``add()`` no longer
appends bare parquet into the live dataset. Each add is an epoch:
rows land under ``adds/epoch=N/centroid_id=.../`` and become visible
only when the ``_epoch_N`` marker (the ``EpochCommit`` commit point
shared with the streaming lakes) is written LAST — a crashed or
in-flight add is markerless and every probe skips it; the retry
preamble deletes it. ``compact_adds()`` folds committed add-epochs
into the base dataset with the crash-recoverable two-rename swap; the
staged dataset carries a ``_folded_epochs`` manifest INSIDE the
swapped directory, so "which add-epochs are already folded" flips
atomically with the data swap — a probe can never double-count an
epoch that is both folded and still on disk awaiting garbage
collection. Writers are single-process (``add``/``compact_adds`` take
the trigger/maintenance sentinels, so a racing pair raises instead of
corrupting); probes are read-only and safe against any crash point.

At 100 TB: the build is one assignment map + one shuffle-by-cell
write; probes are n_probe directory reads + a TakeOrdered — no
driver-side data motion beyond the quantizer table. Recall follows
the usual IVF trade (n_probe dials recall vs scan fraction); the
exact answer inside the probed cells is pytested against numpy.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from . import similarity as S
from . import vector_kernel as VK
from ..streaming.epoch import EpochCommit

_FOLDED = "_folded_epochs"


def require_unique_query_ids(qids) -> None:
    """Batched probes key per-query state (LUTs, probe tables) by the
    query id's STRING form — two batch rows with the same id but
    different vectors would silently collapse to one entry, scoring
    the other row's candidates against the wrong vector (last-wins).
    Raise loudly instead; the caller's contract is one row per id
    (``dropDuplicates(query_id)`` upstream if re-keying is intended).
    """
    seen, dupes = set(), set()
    for q in qids:
        key = str(q)
        if key in seen:
            dupes.add(key)
        seen.add(key)
    if dupes:
        raise ValueError(
            "batched probe: duplicate query ids "
            f"{sorted(dupes)[:5]} — per-query LUT/probe keying is by id, "
            "so duplicates would silently score against the last row's "
            "vector; make ids unique (or dropDuplicates upstream)"
        )


class IVFIndex:
    def __init__(
        self,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        codebooks=None,
        rotation=None,
    ) -> None:
        """``codebooks`` (optional, from ``pq.train_pq_codebooks`` /
        ``pq.pq_codebooks_lcg``) turns the index into IVF-PQ: build/add
        store an 8-byte ``pq_code`` next to each vector and
        ``probe_adc`` ranks probed cells reading ONLY (id, pq_code) —
        the column-pruned 32×-less-I/O scan — before an exact re-rank
        of the shortlist from the raw vectors.

        ``rotation`` (optional, with ``codebooks``; from
        ``pq.train_opq`` / ``pq.opq_rotation_lcg``) makes it IVF-OPQ:
        codes quantize the ROTATED vector (Arrow-batched kernel at
        build/add — ingest-time only) and ADC probes rotate the query
        driver-side through the bit-identical ``rotate_query`` mirror.
        The coarse quantizer stays in the original space — R is
        orthonormal, so cell geometry and the exact re-rank are
        unchanged; only the code layer moves to the rotated basis."""
        if rotation is not None and codebooks is None:
            raise ValueError("IVFIndex: rotation requires codebooks (IVF-OPQ)")
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.codebooks = codebooks
        self.rotation = rotation
        self._ec = EpochCommit(path)
        #: cached coarse quantizer (ids, matrix) — collected once per
        #: instance; probes/adds reuse it (re-collecting the parquet on
        #: every call was ~ms at sandbox scale but wrong for a serving
        #: tier). Invalidated by build(); call invalidate_cache() after
        #: an out-of-process rebuild.
        self._quantizer: tuple[list[int], object] | None = None

    # --------------------------------------------------------- quantizer

    def invalidate_cache(self) -> None:
        self._quantizer = None

    def _load_quantizer(self, spark):
        if self._quantizer is None:
            self._quantizer = VK.collect_matrix(
                spark.read.parquet(f"{self.path}/centroids"),
                "centroid_id",
                "centroid_vec",
            )
        return self._quantizer

    # ------------------------------------------------------------ layout

    def _live_vectors_dir(self) -> str:
        """Follow a swap interrupted between its two renames (same rule
        as ``EpochCommit.committed_epoch_dirs``): the staged ``__new``
        holds the same committed data the missing live dir did."""
        live = f"{self.path}/vectors"
        if not os.path.isdir(live) and os.path.isdir(live + "__new"):
            return live + "__new"
        return live

    def _folded_epochs(self) -> set[int]:
        try:
            with open(f"{self._live_vectors_dir()}/{_FOLDED}") as fh:
                return set(json.load(fh))
        except (OSError, ValueError):
            return set()

    def _committed_add_dirs(self) -> list[str]:
        """Committed, NOT-yet-folded add-epoch dirs — the read-only
        enumeration every probe uses. Markerless (crashed/in-flight)
        epochs are skipped, never deleted here."""
        folded = self._folded_epochs()
        return [
            d
            for d in self._ec.committed_epoch_dirs("adds")
            if int(d.rsplit("epoch=", 1)[1]) not in folded
        ]

    def _read_vectors(self, spark) -> DataFrame:
        """The probe-visible dataset: base ∪ committed unfolded adds.
        Each add-epoch dir is read with itself as the partition-
        discovery root, so ``centroid_id=`` pruning applies to every
        union branch exactly as it does to the base."""
        df = spark.read.parquet(self._live_vectors_dir())
        for d in self._committed_add_dirs():
            df = df.unionByName(spark.read.parquet(d))
        return df

    def _with_code(self, df: DataFrame) -> DataFrame:
        """Append the packed ``pq_code`` column (IVF-PQ mode) via the
        chained-projection encode layers; a no-op without codebooks.
        IVF-OPQ mode rotates first (vectorized kernel — the literal
        rotation exceeds the codegen method ceiling, see
        ``opq_rotate_kernel``) and quantizes the rotated components."""
        if self.codebooks is None:
            return df
        from . import pq as PQ

        out = df
        code_src = self.vec_col
        if self.rotation is not None:
            out = out.select(
                "*",
                PQ.opq_rotate_kernel(self.rotation)(F.col(self.vec_col)).alias(
                    "__rot"
                ),
            )
            code_src = "__rot"
        # r14: encode via the Arrow pq_code_kernel (bit-equal to the
        # literal chain, pytested) — the ~180 KB generated expression's
        # parse/compile cost no longer rides every index build
        enc = PQ.pq_code_kernel(self.codebooks)
        out = out.select("*", enc(F.col(code_src)).alias("__w"))
        out = PQ._project_code_words(out, len(self.codebooks))
        drop = ["__w"] if "__w" in out.columns else []
        if self.rotation is not None:
            drop.append("__rot")
        return out.drop(*drop) if drop else out

    def _query_in_code_space(self, query_vec):
        """The vector the ADC LUT must be built from: rotated through
        the bit-identical driver-side mirror in IVF-OPQ mode, the raw
        query otherwise."""
        q = [float(x) for x in query_vec]
        if self.rotation is None:
            return q
        from . import pq as PQ

        return PQ.rotate_query(self.rotation, q)

    # ------------------------------------------------------------ build

    def build(
        self,
        embeddings: DataFrame,
        n_centroids: int | None = None,
        n_iters: int = 2,
    ) -> dict:
        """Cluster + write the partitioned index. ``n_centroids``
        defaults to the adaptive √N power of two (same dial as the
        in-plan serving ops), so cell population ≈ √N at any corpus
        size. A rebuild supersedes any prior add-epochs (they were
        assigned against the OLD quantizer); their dirs and markers
        are cleared. Offline operation: not safe against concurrent
        probes (use the streaming lake for that). Returns build
        stats."""
        spark = embeddings.sparkSession
        n = embeddings.count()
        if n == 0:
            raise ValueError("IVFIndex.build: empty corpus")
        k = n_centroids or VK.adaptive_sqrt_pow2(n)
        cents = S.kmeans_centroid_vectors(
            embeddings,
            n_centroids=k,
            n_iters=n_iters,
            id_col=self.id_col,
            vec_col=self.vec_col,
        )
        cents.coalesce(1).write.mode("overwrite").parquet(f"{self.path}/centroids")
        self.invalidate_cache()
        ids, M = self._load_quantizer(spark)
        assign = VK.assign_nearest(ids, M)
        (
            self._with_code(embeddings.select(self.id_col, self.vec_col))
            .withColumn("__a", assign(F.col(self.vec_col)))
            .select(
                "*",
                F.col("__a.centroid_id").alias("centroid_id"),
            )
            .drop("__a")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{self.path}/vectors")
        )
        # prior adds target the superseded quantizer: clear dirs+markers
        shutil.rmtree(f"{self.path}/adds", ignore_errors=True)
        for f in os.listdir(self.path):
            if f.startswith("_epoch_"):
                os.remove(f"{self.path}/{f}")
        return {"n_vectors": n, "n_centroids": len(ids)}

    def add(self, new_vectors: DataFrame) -> dict:
        """Incremental insertion — the standard IVF insert path: assign
        new vectors to the EXISTING quantizer's cells (centroids stay
        fixed) and publish them as a COMMITTED epoch: the rows land in
        ``adds/epoch=N`` and the ``_epoch_N`` marker is written only
        after the write completes, so a probe planned mid-add or after
        a crashed add sees exactly the pre-add corpus (fault-injection
        pytested). The retry preamble deletes markerless (crashed)
        epochs — single add-writer at a time, enforced by the same
        sentinel pair the streaming sinks use (a concurrent
        ``compact_adds`` raises loudly). Quality note, stated plainly:
        a fixed quantizer degrades as the incoming distribution drifts
        from the built one (cells go hot / recall drops); ``build()``
        re-clusters — the rebuild cadence is the same maintenance
        trade as any IVF system's."""
        spark = new_vectors.sparkSession
        with self._ec.trigger_guard():
            self._ec.finish_swap(("vectors",))
            self._gc_folded()
            committed = self._ec.drop_partial_epochs(("adds",))
            n = new_vectors.count()
            if n == 0:
                return {"added": 0, "epoch": None}
            epoch = max(set(committed) | self._folded_epochs(), default=-1) + 1
            ids, M = self._load_quantizer(spark)
            assign = VK.assign_nearest(ids, M)
            (
                self._with_code(new_vectors.select(self.id_col, self.vec_col))
                .withColumn("__a", assign(F.col(self.vec_col)))
                .select(
                    "*",
                    F.col("__a.centroid_id").alias("centroid_id"),
                )
                .drop("__a")
                .write.mode("overwrite")
                .partitionBy("centroid_id")
                .parquet(f"{self.path}/adds/epoch={epoch}")
            )
            self._ec.commit(epoch)  # the commit point
            return {"added": n, "epoch": epoch}

    # ------------------------------------------------------- compaction

    def _gc_folded(self) -> None:
        """Garbage-collect add-epochs the live ``_folded_epochs``
        manifest already covers — their rows are IN the base dataset;
        probes ignore them via the manifest, so deletion here is pure
        cleanup (a crash mid-GC just leaves it for the next writer)."""
        for e in self._folded_epochs():
            shutil.rmtree(f"{self.path}/adds/epoch={e}", ignore_errors=True)
            try:
                os.remove(self._ec.marker(e))
            except OSError:
                pass

    def compact_adds(self) -> dict:
        """Fold committed add-epochs into the base dataset (the
        small-files maintenance pass, same motivation as the lakes'
        ``compact()``). Crash-safe for probes at every point: the
        staged replacement dataset carries the updated
        ``_folded_epochs`` manifest INSIDE the swapped directory, so
        data and fold-bookkeeping flip in the same rename — a probe
        either sees (old base + add dirs) or (new base, add dirs
        ignored), never both copies of an epoch. Requires a live
        SparkSession on the driver."""
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "IVFIndex.compact_adds: no active SparkSession on this "
                "driver (the fold rewrites the dataset with Spark)"
            )
        with self._ec.maintenance_guard():
            self._ec.finish_swap(("vectors",))
            self._gc_folded()
            add_dirs = self._committed_add_dirs()
            if not add_dirs:
                return {"folded_epochs": 0}
            epochs = [int(d.rsplit("epoch=", 1)[1]) for d in add_dirs]
            folded = self._folded_epochs() | set(epochs)
            full = self._read_vectors(spark)

            def _write(staged: str) -> None:
                full.write.partitionBy("centroid_id").parquet(staged)
                with open(f"{staged}/{_FOLDED}", "w") as fh:
                    json.dump(sorted(folded), fh)

            self._ec.swap_publish("vectors", _write)
            self._gc_folded()
            return {"folded_epochs": len(epochs)}

    # ------------------------------------------------------------ probe

    def _probe_cells(self, spark, query_vec, n_probe: int) -> list[int]:
        import numpy as np

        ids, M = self._load_quantizer(spark)
        q = np.asarray(list(query_vec), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = (M @ q) / (
                np.sqrt(np.einsum("ij,ij->i", M, M)) * np.sqrt((q * q).sum())
            )
        # (-score, id) sort = highest score first, ties to the lowest id
        order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
        return [ids[i] for i in order[:n_probe]]

    def probe(
        self, spark, query_vec, k: int = 10, n_probe: int = 4
    ) -> DataFrame:
        """Top-k within the ``n_probe`` nearest cells: a partition-
        pruned scan + exact numpy re-rank + TakeOrdered. Returns
        (id, score, centroid_id)."""
        cells = self._probe_cells(spark, query_vec, n_probe)
        score = VK.cosine_vs_query([float(x) for x in query_vec])(
            F.col(self.vec_col)
        )
        return (
            self._read_vectors(spark)
            .filter(F.col("centroid_id").isin(cells))
            .select(
                F.col(self.id_col),
                F.round(score, 6).alias("score"),
                "centroid_id",
            )
            .orderBy(F.desc("score"), F.col(self.id_col))
            .limit(k)
        )

    def probe_adc(
        self, spark, query_vec, k: int = 10, n_probe: int = 4,
        shortlist: int | None = None,
    ) -> DataFrame:
        """IVF-PQ probe: partition-prune to the ``n_probe`` cells, rank
        them by ADC distance reading ONLY (id, pq_code) — at 100 TB the
        column-pruned code scan reads 8 B/vector instead of the 256 B
        raw vector, the 32× I/O cut that makes billion-vector probes
        affordable — then exact-cosine re-rank the ``shortlist``
        (default 5k) from the raw vectors of those ids only. Unit-norm
        embeddings make L2² = 2−2·cos, so the ADC (L2) shortlist and
        the cosine re-rank agree on ordering up to quantization error —
        recall follows the PQ trade. Shortlist sizing, measured
        (SCALING.md r10): on corpora whose neighbor margin exceeds the
        quantization error a small constant suffices (0.9 recall@10
        at 50); on weak-margin corpora size it as a FRACTION of the
        probed rows (~5% measured 0.9-1.0 at x30/x100) — the ADC leg
        still pays 8 B/row on everything scanned and the re-rank
        256 B on only the shortlist, so the effective cost stays
        ~12× under a raw scan even at the 5% setting. Returns
        (id, score, adc_dist) ranked (score desc, id)."""
        if self.codebooks is None:
            raise ValueError("probe_adc: index built without codebooks (IVF-PQ mode)")
        from . import pq as PQ

        shortlist = shortlist or 5 * k
        cells = self._probe_cells(spark, query_vec, n_probe)
        score_sql = PQ.adc_score_sql(
            self._query_in_code_space(query_vec), self.codebooks
        )
        pruned = self._read_vectors(spark).filter(F.col("centroid_id").isin(cells))
        short = (
            pruned.select(self.id_col, F.expr(score_sql).alias("__adc"))
            .orderBy(F.asc("__adc"), F.col(self.id_col))
            .limit(shortlist)
        )
        rerank = VK.cosine_vs_query([float(x) for x in query_vec])(
            F.col(self.vec_col)
        )
        return (
            pruned.select(self.id_col, self.vec_col)
            .join(F.broadcast(short), self.id_col)
            .select(
                F.col(self.id_col),
                F.round(rerank, 6).alias("score"),
                F.round("__adc", 6).alias("adc_dist"),
            )
            .orderBy(F.desc("score"), F.col(self.id_col))
            .limit(k)
        )

    def probe_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
    ) -> DataFrame:
        """Batched probe: top-k for EVERY query row in ONE partition-
        pruned pass — the index twin of the lake's ``topk_batch``
        (which measured 7.2× over sequential probes at 16 queries).

        The query set collects driver-side ONCE (a serving batch —
        small by definition; the corpus never does) to (a) assign each
        query its ``n_probe`` cells against the quantizer matrix and
        (b) build the (query_id, cell) probe table. The scan then
        prunes to the UNION of all probed cells, each scanned row is
        scored only against the queries probing its cell (the probe
        table broadcasts into the join), and the per-query top-k is
        the salted two-phase selection — no per-query window over the
        scanned rows. Query ids pass through untouched with their own
        type (string ids probe fine — ADVICE r9); the empty-input
        schema is derived from the live datasets' actual field types,
        so the empty and non-empty paths agree. Returns
        (query_id, id, score) with per-query rows ≤ k, ranked
        (score desc, id)."""
        import numpy as np

        spark = queries.sparkSession
        qid_field = queries.schema[query_id_col]
        qrows = queries.select(query_id_col, query_vec_col).collect()
        if not qrows:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(query_id_col, qid_field.dataType),
                        self._read_vectors(spark).schema[self.id_col],
                        T.StructField("score", T.DoubleType()),
                    ]
                ),
            )
        require_unique_query_ids(r[0] for r in qrows)
        ids, M = self._load_quantizer(spark)
        Mn = np.sqrt(np.einsum("ij,ij->i", M, M))
        probe_pairs = []  # (query_id, cell) — query id kept verbatim
        for r in qrows:
            q = np.asarray(list(r[1]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = (M @ q) / (Mn * np.sqrt((q * q).sum()))
            order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
            probe_pairs += [(r[0], int(ids[i])) for i in order[:n_probe]]
        cells = sorted({c for _, c in probe_pairs})
        ptab = spark.createDataFrame(
            probe_pairs,
            T.StructType(
                [
                    T.StructField(query_id_col, qid_field.dataType),
                    T.StructField("centroid_id", T.LongType()),
                ]
            ),
        )
        qvecs = queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
        )
        scored = (
            self._read_vectors(spark)
            .filter(F.col("centroid_id").isin(cells))  # pruned union scan
            .join(F.broadcast(ptab), "centroid_id")
            .join(F.broadcast(qvecs), query_id_col)
            .select(
                query_id_col,
                self.id_col,
                F.round(
                    VK.cosine_pairs(F.col(self.vec_col), F.col("__qvec")), 6
                ).alias("score"),
            )
        )
        from .sampling import domain_cap_salted

        top = domain_cap_salted(
            scored,
            key_col=query_id_col,
            quality_col="score",
            id_col=self.id_col,
            k=k,
        )
        return top.select(query_id_col, self.id_col, "score")

    def probe_adc_batch(
        self,
        queries: DataFrame,
        k: int = 10,
        n_probe: int = 4,
        shortlist: int | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "embedding",
    ) -> DataFrame:
        """Batched IVF-PQ probe: ADC-rank + exact re-rank for EVERY
        query in one pruned pass — ``probe_adc``'s batch twin, with
        the same I/O profile (the ADC leg scans ONLY (id, pq_code,
        centroid_id); raw vectors are read for the per-query
        shortlists alone). Per-query LUTs ship inside one Arrow
        kernel (pq.adc_vs_luts) instead of Q plan-literal dispatches;
        both selections (ADC shortlist, final top-k) are the salted
        two-phase primitive — no per-query window over scanned rows.
        Shortlist sizing guidance is probe_adc's (constant 5k on
        strong-margin corpora, ~5% of probed rows on weak-margin —
        SCALING.md r10). Returns (query_id, id, score, adc_dist)
        ranked per query (score desc, id), ≤ k rows per query.
        """
        import numpy as np

        if self.codebooks is None:
            raise ValueError(
                "probe_adc_batch: index built without codebooks (IVF-PQ mode)"
            )
        from . import pq as PQ
        from .sampling import domain_cap_salted

        spark = queries.sparkSession
        shortlist = shortlist or 5 * k
        qid_field = queries.schema[query_id_col]
        qrows = queries.select(query_id_col, query_vec_col).collect()
        if not qrows:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField(query_id_col, qid_field.dataType),
                        self._read_vectors(spark).schema[self.id_col],
                        T.StructField("score", T.DoubleType()),
                        T.StructField("adc_dist", T.DoubleType()),
                    ]
                ),
            )
        require_unique_query_ids(r[0] for r in qrows)
        ids, M = self._load_quantizer(spark)
        Mn = np.sqrt(np.einsum("ij,ij->i", M, M))
        probe_pairs, luts = [], {}
        m_sub, k_sub = len(self.codebooks), len(self.codebooks[0])
        for r in qrows:
            q = np.asarray(list(r[1]), dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = (M @ q) / (Mn * np.sqrt((q * q).sum()))
            order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
            probe_pairs += [(r[0], int(ids[i])) for i in order[:n_probe]]
            luts[str(r[0])] = PQ.adc_lut(
                self._query_in_code_space(list(r[1])), self.codebooks
            )
        cells = sorted({c for _, c in probe_pairs})
        ptab = spark.createDataFrame(
            probe_pairs,
            T.StructType(
                [
                    T.StructField(query_id_col, qid_field.dataType),
                    T.StructField("centroid_id", T.LongType()),
                ]
            ),
        )
        adc = PQ.adc_vs_luts(luts, m_sub, k_sub)
        word_cols = PQ.pq_word_cols(m_sub)  # ["pq_code"] or pq_code_0/1
        pruned = self._read_vectors(spark).filter(F.col("centroid_id").isin(cells))
        scored = (
            pruned.select(self.id_col, *word_cols, "centroid_id")
            .join(F.broadcast(ptab), "centroid_id")
            .select(
                query_id_col,
                self.id_col,
                adc(
                    F.col(query_id_col).cast("string"),
                    *[F.col(c) for c in word_cols],
                ).alias("__adc"),
            )
        )
        # the salted selector returns (id, key, quality) only — recover
        # the ADC distance from the negated quality (float negation is
        # exact, so -(-adc) round-trips bit-identically)
        short = domain_cap_salted(
            scored.withColumn("__negadc", -F.col("__adc")).drop("__adc"),
            key_col=query_id_col,
            quality_col="__negadc",
            id_col=self.id_col,
            k=shortlist,
        ).select(
            query_id_col, self.id_col, (-F.col("__negadc")).alias("__adc")
        )
        qvecs = queries.select(
            F.col(query_id_col), F.col(query_vec_col).alias("__qvec")
        )
        from .materialize import materialize_once

        # materialized: the (Q × shortlist)-row frame feeds BOTH the
        # salted top-k and the adc_dist join-back — without this its
        # lineage (pruned scan + ADC kernel + re-rank kernel) executes
        # twice per call
        rerank = materialize_once(
            pruned.select(self.id_col, self.vec_col)
            .join(F.broadcast(short), self.id_col)
            .join(F.broadcast(qvecs), query_id_col)
            .select(
                query_id_col,
                self.id_col,
                F.round(
                    VK.cosine_pairs(F.col(self.vec_col), F.col("__qvec")), 6
                ).alias("score"),
                F.round("__adc", 6).alias("adc_dist"),
            )
        )
        top = domain_cap_salted(
            rerank.select(query_id_col, self.id_col, "score"),
            key_col=query_id_col,
            quality_col="score",
            id_col=self.id_col,
            k=k,
        )
        return top.join(
            F.broadcast(rerank.select(query_id_col, self.id_col, "adc_dist")),
            [query_id_col, self.id_col],
        ).select(query_id_col, self.id_col, "score", "adc_dist")


def auto_ivf_index(
    path: str,
    embeddings: DataFrame,
    dim: int = 64,
    m: int = 8,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    sample_cap: int = 4096,
) -> tuple["IVFIndex", dict]:
    """Build an IVF index with the MEASURED default codebook choice
    (r14, VERDICT r13 item 5): read the corpus's per-dimension
    variance card, apply the SCALING.md r13 trigger (top-8/64 share
    ≥ 15% → OPQ; balanced → plain PQ — the rotation is a wash there),
    train the chosen codebooks, build, and return ``(index, info)``
    where ``info`` carries the decision record plus build stats.

    This is the serving-tier default: IVF-PQ on balanced corpora,
    IVF-OPQ once the encoder's spectrum skews — the exact condition
    the anisotropic-replica study measured (+5 to +11 recall pts,
    growing with eigen-ratio; SCALING.md r13)."""
    from . import pq as PQ

    books, rotation, decision = PQ.train_codebooks_auto(
        embeddings, dim=dim, m=m, k=k,
        sample_cap=sample_cap, id_col=id_col, vec_col=vec_col,
    )
    idx = IVFIndex(
        path, id_col=id_col, vec_col=vec_col,
        codebooks=books, rotation=rotation,
    )
    stats = idx.build(embeddings, n_centroids=n_centroids)
    return idx, {"decision": decision, "build": stats}
