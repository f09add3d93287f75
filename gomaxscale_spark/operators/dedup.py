"""Deduplication family for large text corpora.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), SimHash (hamming-banded), and exact n-gram Jaccard (blocked
self-join). The CDC reference's dedup surface is only offset-based
exactly-once delivery; these are the corpus-level operators a
training-data pipeline needs on top (driver north star).

Scale notes per operator inline. Everything is built-in higher-order
functions + joins — no Python in any hot path; hashes are Spark's
xxhash64 (JVM, codegen'd, deterministic across runs/executors), except
MinHash, whose md5 + Carter-Wegman family the DuckDB oracle replays.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .bucketing import bucket_pairs, split_hot_keys
from .bucketing import parallelize_narrow_input  # noqa: F401  (shared utility, re-exported)
from .materialize import materialize_fixpoint, materialize_once, release

#: Edge-count ceiling for the connected-components small-graph fast
#: path (r16 optimization round). The duplicate graph's deduplicated
#: edge count is measured at runtime (the fixpoint loops count it for
#: convergence bookkeeping anyway); at or under this many edges the
#: component closure runs as ONE driver-side union-find over an Arrow
#: transfer (~2 MB at the default — the size class a broadcast hash
#: join routinely collects) instead of O(log² n) checkpointed star
#: rounds. Above it, the distributed loop runs unchanged. 0 disables
#: the fast path entirely.
CC_SMALL_EDGES_ENV = "SPARK_GRAFT_CC_SMALL_EDGES"
CC_SMALL_EDGES_DEFAULT = 1 << 17


def _cc_small_edge_cap() -> int:
    return int(os.environ.get(CC_SMALL_EDGES_ENV, CC_SMALL_EDGES_DEFAULT))


def _components_small(edges: DataFrame, u_col: str, v_col: str) -> DataFrame:
    """Driver-side union-find over a broadcast-class edge list — the
    small-graph closure shared by ``connected_components`` and
    ``connected_components_star`` (guide §8: decide with small rows).

    The caller has already MEASURED the edge count and found it at or
    under the ``SPARK_GRAFT_CC_SMALL_EDGES`` cap, so this collect is
    bounded the same way a broadcast join's build side is. One Arrow
    transfer + an O(E α(E)) union-find replaces the iterative rounds'
    per-round checkpoint/count barrier jobs (measured 5.6 → 1.8 s per
    embedding-CC cell at sf0.1, where the star loop runs 7 rounds).
    Labels are the component minimum (union by min root), identical to
    both distributed formulations' output by construction; node order
    and edge order cannot affect the result (min is commutative).
    """
    spark = edges.sparkSession
    pdf = edges.select(u_col, v_col).toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(pdf[u_col].tolist(), pdf[v_col].tolist()):
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id: the root IS the component minimum, the
            # same label every distributed round converges to
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    id_type = edges.schema[u_col].dataType.simpleString()
    rows = [(x, find(x)) for x in parent]
    return spark.createDataFrame(rows, f"id {id_type}, cluster_id {id_type}")


def tokenize(text: Column) -> Column:
    """Whitespace tokens, empties dropped (split on space runs)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def word_shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from an ALREADY-BOUND token array — a
    projected column (the shared tokenized-documents frame, r13) or a
    lambda variable. Callers holding raw text use ``word_shingles``,
    which binds the tokenize expression once and delegates here.

    Built with O(1) element_at indexing — n lookups per shingle. The
    obvious `slice(toks, i, n)` formulation copies an array per shingle
    (O(tokens²) work + allocations; measured ~5× slower at sf0.1).
    Documents shorter than n tokens produce no shingles.
    """

    def shingle_at(k: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(toks, k + i) for i in range(n)])

    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(toks) - n + 1), shingle_at)
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles as strings ("w1 w2 w3").

    The token array is BOUND ONCE per row as an outer lambda variable
    (transform over a one-element array): referencing ``tokenize(text)``
    directly from the inner ``element_at`` lookups re-inlines — and
    re-EVALUATES — the split+filter subtree per lookup (the r5
    chained-projection lesson at expression level; measured 302 → 8.7 s
    building the corpus 4-gram stream at the x30 replica, SCALING.md
    r10). The binding trick keeps this a pure Column function, so every
    caller gets the fix without projecting a token column first.
    """

    def build(toks: Column) -> Column:
        return word_shingles_from_tokens(toks, n)

    return F.element_at(F.transform(F.array(tokenize(text)), build), 1)


def shingle_hash_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle_hash) rows: hash each token ONCE, then combine the n
    adjacent token hashes with one more ``xxhash64(h₁..hₙ)``.

    Equivalent to hashing the "w1 w2 .. wn" shingle string (same
    distinct-cardinality per doc, collision odds ~2⁻⁶⁴) but ~3× faster
    measured at sf0.1 (0.86 s → 0.31 s warm): string building
    (concat_ws allocation + byte-wise hash over the doubled text) drops
    out; only 8-byte longs are combined. The token-hash array is
    materialized in its own projection so the per-shingle element_at
    lookups don't re-inline (and re-evaluate) the tokenizer.
    """
    base = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.transform(tokenize(F.col(text_col)), lambda t: F.xxhash64(t)).alias("__th"),
    )
    return _shingle_hash_rows_tail(base, id_col, n)


def shingle_hash_rows_from_tokens(
    src: DataFrame, id_col: str, toks_col: str, n: int
) -> DataFrame:
    """``shingle_hash_rows`` fed from a frame that already carries the
    token arrays (the shared tokenized-documents artifact — r16
    optimization round): xxhash64 over the SAME token strings yields
    byte-identical shingle hashes to the raw-text path, and when
    ``src`` is materialized the corpus is never re-scanned or
    re-tokenized for this stream."""
    base = src.select(
        F.col(id_col),
        F.transform(F.col(toks_col), lambda t: F.xxhash64(t)).alias("__th"),
    )
    return _shingle_hash_rows_tail(base, id_col, n)


def _shingle_hash_rows_tail(base: DataFrame, id_col: str, n: int) -> DataFrame:
    """Shared fold tail: combine each row's ``__th`` token-hash array
    into distinct n-gram shingle hashes and explode."""
    th = F.col("__th")
    sh = F.when(
        F.size(th) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(th) - n + 1),
                lambda k: F.xxhash64(*[F.element_at(th, k + i) for i in range(n)]),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(F.col(id_col), F.explode(sh).alias("__h"))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id representative per duplicate group.

    Scale: a single hash aggregation on the dedup key — map-side partial
    aggregation means only one row per (partition × key) shuffles. For
    very wide keys (full document text) dedup on ``xxhash64(text)``
    instead so the shuffle carries 8 bytes, not the document.
    """
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


#: Modulus of the portable minhash family — the Mersenne prime 2³¹−1.
#: (a·h + b) % P with a, h, b < 2³¹ peaks below 2⁶², so the arithmetic
#: is overflow-free (hence engine-identical) in both Spark's ANSI mode
#: and DuckDB.
MINHASH_P = 2_147_483_647

#: Fold multipliers for combining adjacent token hashes into a shingle
#: hash and band signature values into a band key — two independent
#: lanes so the band key gets ~62 effective bits. Primes < 2³¹ keep
#: every product below 2⁶².
MINHASH_R = 1_000_003
MINHASH_R2 = 2_000_039


def cw_fold_sql(values: list[str], mult: int) -> str:
    """Nested ``((v₁·R + v₂) % P …)`` fold as a SQL string.

    Pure integer arithmetic with every intermediate below 2⁶², so the
    SAME string parses and evaluates bit-identically in Spark and
    DuckDB — the oracle embeds the output of this function verbatim."""
    expr = values[0]
    for v in values[1:]:
        expr = f"(({expr}) * {mult} + {v}) % {MINHASH_P}"
    return expr


def band_key_sql(values: list[str]) -> str:
    """Engine-portable 62-bit band key: two independent 31-bit folds
    packed as ``k₁·P + k₂`` (< P·(P+1) ≈ 4.6e18, BIGINT-safe). 31-bit
    single-lane keys would start colliding across a 10⁹-doc corpus;
    two lanes keep false bucket-mates negligible at 100 TB."""
    k1 = cw_fold_sql(values, MINHASH_R)
    k2 = cw_fold_sql(values, MINHASH_R2)
    return f"({k1}) * {MINHASH_P} + ({k2})"


def full_signature_key_sql(
    value_fmt: str, n: int, chunk: int = 8
) -> tuple[list[tuple[str, str]], str]:
    """Two-LEVEL engine-portable fold of a full ``n``-slot signature
    into one 62-bit BIGINT — depth-bounded because DuckDB's binder
    rejects expression trees deeper than 128 frames (a flat 64-value
    ``cw_fold_sql`` fails to bind around slot 21).

    Level 1: each ``chunk`` of slots folds into two independent 31-bit
    lanes (columns ``__c{i}a`` / ``__c{i}b``, each < P). Level 2: the
    a-lanes fold into k₁, the b-lanes into k₂ (inputs < P, so the
    arithmetic stays below 2⁶²), packed as k₁·P + k₂. Both levels are
    ~7-wrap expressions — safely inside every engine's nesting limits.

    Returns ``(level1, final)``: level1 is [(alias, sql)] to emit as a
    first projection/CTE, final is the sql for the second, referencing
    those aliases. ``value_fmt`` is a format string for slot i (e.g.
    ``"minhash[{i}]"`` Spark-side, ``"m{i}"`` oracle-side).
    """
    level1: list[tuple[str, str]] = []
    n_chunks = (n + chunk - 1) // chunk
    for c in range(n_chunks):
        vals = [value_fmt.format(i=i) for i in range(c * chunk, min(n, (c + 1) * chunk))]
        level1.append((f"__c{c}a", cw_fold_sql(vals, MINHASH_R)))
        level1.append((f"__c{c}b", cw_fold_sql(vals, MINHASH_R2)))
    k1 = cw_fold_sql([f"__c{c}a" for c in range(n_chunks)], MINHASH_R)
    k2 = cw_fold_sql([f"__c{c}b" for c in range(n_chunks)], MINHASH_R2)
    return level1, f"({k1}) * {MINHASH_P} + ({k2})"


def cw_hash_coefficients(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Fixed-seed Carter-Wegman coefficients (aᵢ ∈ [1, P−1], bᵢ ∈
    [0, P−1]) for the portable minhash family hᵢ(x) = (aᵢ·x + bᵢ) % P.
    Deterministic LCG so the Spark plan and the DuckDB oracle embed the
    SAME literals."""
    state = seed & 0x7FFFFFFF
    out: list[tuple[int, int]] = []
    for _ in range(n):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = 1 + state % (MINHASH_P - 1)
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % MINHASH_P
        out.append((a, b))
    return out


def portable_minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 64, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures — the one signature family of the LSH dedup
    layer: sig[i] = min over shingles of (aᵢ·h + bᵢ) % P, where h is an
    arithmetic fold of the shingle's TOKEN hashes (each the 60-bit md5
    prefix of the token mod P — the PORTABLE_TOKEN_HASH base) and
    (aᵢ, bᵢ) are fixed-seed literals (cw_hash_coefficients).

    Every step — md5 of UTF-8 text, hex→int, modular arithmetic below
    2⁶² — evaluates bit-identically in Spark and DuckDB, so a SQL oracle
    can REPLAY the signatures and hence the banded candidate set exactly
    (the text analogue of dedup_embedding_lsh's plan-literal planes).

    Each token is md5'd ONCE and shingles are derived by combining
    adjacent token hashes — never by building "w1 w2" shingle strings.
    The string-building variant measured 2.2× slower at sf0.1 on the
    headline entry (1.9 → 4.1 s, SCALING.md; concat_ws allocation + md5
    over doubled bytes + string array_distinct); the fold is three
    integer ops per shingle.

    Scale: explode(docs × shingles) is the dominant row count, but raw
    shingles never shuffle — the 64 per-doc mins are agg columns with
    map-side partial min, so one (doc_id, 64 ints) row per (partition,
    doc) survives. The naive alternative (array_min over 64 transform()
    passes) re-evaluates the shingle pipeline 64× — measured 450 s vs
    seconds at sf0.1.
    """
    base = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.transform(
            tokenize(F.col(text_col)),
            lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
            % MINHASH_P,
        ).alias("__th"),
    )
    return _portable_minhash_sigs_from_th(base, id_col, num_hashes, shingle_n)


def portable_minhash_signatures_from_hashes(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """``portable_minhash_signatures`` fed from a frame that already
    carries the per-token portable 60-bit md5 hashes (``hash_col``, an
    array<long>) — the shared tokenized-documents artifact of the
    release-gate composites (r16 optimization round; the same entry
    point family as ``substring_window_positions_from_hashes``). The
    ``% MINHASH_P`` reduction is applied here, so one stored hash
    array serves the window folds, the DSIR buckets AND this signature
    family; signature values are IDENTICAL to the text path's by
    construction (same expression composition)."""
    base = df.select(
        F.col(id_col),
        F.transform(F.col(hash_col), lambda h: h % MINHASH_P).alias("__th"),
    )
    return _portable_minhash_sigs_from_th(base, id_col, num_hashes, shingle_n)


def _portable_minhash_sigs_from_th(
    base: DataFrame, id_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """Shingle-fold + CW-min body shared by the text and
    precomputed-hash signature entry points (expects ``__th``:
    array<long> of token hashes already reduced mod MINHASH_P)."""
    fold = cw_fold_sql(
        ["element_at(__th, k)"]
        + [f"element_at(__th, k + {i})" for i in range(1, shingle_n)],
        MINHASH_R,
    )
    sh = F.when(
        F.size(F.col("__th")) >= shingle_n,
        F.expr(
            f"array_distinct(transform(sequence(1, size(__th) - {shingle_n} + 1),"
            f" k -> {fold}))"
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    hs = base.select(F.col(id_col), F.explode(sh).alias("__hm"))
    coeffs = cw_hash_coefficients(num_hashes)
    aggs = [
        F.expr(f"min((({a} * __hm) + {b}) % {MINHASH_P}) AS __m{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sigs = hs.groupBy(id_col).agg(*aggs)
    arr = "array(" + ", ".join(f"__m{i}" for i in range(num_hashes)) + ")"
    return sigs.select(F.col(id_col), F.expr(arr).alias("minhash"))


def _band_rows_from_sigs(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band_id, band_hash) rows from a (id, minhash array) frame.

    Each band's rows-per-band signature values compress into one 8-byte
    BIGINT key with the two-lane arithmetic fold (band_key_sql), which
    evaluates identically in Spark and DuckDB.
    """
    rows_per_band = num_hashes // bands

    def band_key(b: int) -> str:
        return band_key_sql(
            [f"minhash[{b * rows_per_band + r}]" for r in range(rows_per_band)]
        )

    bands_col = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_id', {b}, 'band_hash', {band_key(b)})"
            for b in range(bands)
        )
        + ")"
    )
    return sigs.select(F.col(id_col), F.explode(bands_col).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def _lsh_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band_id, band_hash) rows — one per (doc, band) — the shared
    base of the candidate buckets and the hot-bucket review queue."""
    sigs = portable_minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return _band_rows_from_sigs(sigs, id_col, num_hashes, bands)


def drain_hot_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket_size: int,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """DRAIN the review queue: process the hot buckets the capped
    pipeline deferred, without ever expanding them into pairs.

    The escalation that stays linear: members of over-cap buckets are
    grouped by their FULL ``num_hashes``-value signature (folded to one
    8-byte key). Full-signature equality means every one of 64
    independent min-hashes agreed — in practice the boilerplate family
    (cookie banners, license headers, mirrored pages) that MADE the
    bucket hot, so the hot mass collapses to one representative per
    family via a plain aggregation: map-side combine, 8-byte shuffle
    key, no membership arrays, no n² expansion anywhere. Docs whose
    signature is unique within the hot set stay deferred (they shared
    one band with a big family but are not member of one) — the honest
    residue for template-stripping / tighter re-LSH.

    Output, one row per hot-bucket member:
      (id, kind, keep_id, family_size) where kind = 'collapsed'
      (family_size ≥ 2; keep_id = family min id; the representative
      itself included) or 'deferred' (keep_id/family_size NULL).

    Semantics note: full-signature equality is a STRICTER predicate
    than verified Jaccard ≥ t — the drain never drops a doc the
    uncapped pipeline would have kept, it only collapses the
    near-identical core of each hot family. The signature fold is the
    two-lane Carter-Wegman arithmetic (full_signature_key_sql over all
    64 slots), so a DuckDB oracle replays the families bit-for-bit
    (fold collisions, ~2⁻⁶², are identical in both engines by
    construction).

    Scale: signatures are computed once (materialize_once — band rows
    and the collapse both consume them); hot keys come from the
    skew-immune count pre-pass (``split_hot_keys``) and are broadcast
    (bounded by duplicate-family count — measured flat ~76k rows at the
    x100 replica, SCALING.md r6); the only shuffles are the count agg,
    the hot-member distinct, and the 8-byte family agg.
    """
    sigs = materialize_once(
        portable_minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    )
    band_rows = _band_rows_from_sigs(sigs, id_col, num_hashes, bands)
    _, hot = split_hot_keys(band_rows, ["band_id", "band_hash"], max_bucket_size)
    hot_keys = hot.select("band_id", "band_hash")
    hot_ids = (
        band_rows.join(F.broadcast(hot_keys), ["band_id", "band_hash"])
        .select(id_col)
        .distinct()
    )
    families = collapse_signature_families(
        sigs.join(hot_ids, id_col, "semi"), id_col, num_hashes
    )
    collapsed = F.col("family_size") >= 2
    return families.select(
        F.col(id_col),
        F.when(collapsed, F.lit("collapsed")).otherwise("deferred").alias("kind"),
        F.when(collapsed, F.col("keep_id")).alias("keep_id"),
        F.when(collapsed, F.col("family_size")).alias("family_size"),
    )


def collapse_signature_families(
    sigs: DataFrame, id_col: str, num_hashes: int = 64
) -> DataFrame:
    """Family collapse over a ``(id, minhash array)`` frame: one row per
    input doc — (id, keep_id = family min id, family_size) — keyed by
    the depth-bounded two-level Carter-Wegman fold of the full
    signature (full_signature_key_sql), identical in the DuckDB oracle.
    The aggregation half of ``drain_hot_buckets``, exposed for callers
    that already know WHICH docs are hot (the streaming dedup lake's
    review queue)."""
    level1, final = full_signature_key_sql("minhash[{i}]", num_hashes)
    keyed = sigs.select(
        F.col(id_col), *[F.expr(sql).alias(a) for a, sql in level1]
    ).select(F.col(id_col), F.expr(final).alias("__sig_key"))
    fam = keyed.groupBy("__sig_key").agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("family_size")
    )
    return keyed.join(fam, "__sig_key").select(id_col, "keep_id", "family_size")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    band_rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    bands=16 × rows=4 over 64 hashes → collision prob ≈ 1-(1-j⁴)¹⁶
    (j = true Jaccard): ~0.98 at j=0.7, ~0.04 at j=0.3.

    Signatures are the md5 + Carter-Wegman family
    (portable_minhash_signatures), so a DuckDB oracle can replay the
    candidate set bit-for-bit — parity is deterministic on any corpus,
    independent of banding recall.

    Scale: explode each doc into `bands` (band_id, band_hash) keys and
    expand every bucket into its pairs in place (``bucket_pairs``: one
    exchange on the band key carrying (doc_id, band key), never
    documents; no self-join, so the signature pipeline runs once).
    Hot buckets (boilerplate: cookie banners, license headers collapse
    millions of docs into one band hash) are the classic skew source —
    one bucket of n members is an O(n²) expansion in one task. Pass
    ``max_bucket_size`` to cap it count-first (``split_hot_keys``):
    over-cap keys never build a membership array; callers that keep
    the review queue take the hot keys from ``split_hot_keys``
    themselves. Candidate pairs then get exact verification (jaccard
    below).

    ``band_rows``: callers that already materialized this corpus's
    (id, band_id, band_hash) rows (the streaming sink and the fused
    pipelines compute them once and share them across stages) pass
    them in to skip a re-run of the whole signature pipeline.
    """
    if band_rows is None:
        # id + 2 longs per row; with a cap, the count pre-pass and the
        # join both read it
        band_rows = materialize_once(
            _lsh_band_rows(df, id_col, text_col, num_hashes, bands, shingle_n)
        )
    keys = ["band_id", "band_hash"]
    if max_bucket_size is not None:
        within, _ = split_hot_keys(band_rows, keys, max_bucket_size)
        # one-member keys make no pair; this filter lands on the counts,
        # so their rows never reach the collect
        band_rows = within.filter(F.col("n_members") >= 2)
    return bucket_pairs(band_rows, keys, id_col)


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
    positional: bool = True,
    rows: DataFrame | None = None,
) -> DataFrame:
    """EXACT-recall candidate pairs via prefix filtering (the AllPairs/
    PPJoin principle, Xiao et al., WWW 2008 — the standard exact set-
    similarity join).

    With every doc's shingle set sorted by one global total order, any
    pair with Jaccard ≥ t must share an element inside both docs'
    *prefixes* of length |x| − ⌈t·|x|⌉ + 1: J ≥ t forces
    |x∩y| ≥ t·max(|x|,|y|) ≥ ⌈t·|x|⌉, and at most ⌈t·|x|⌉ − 1 elements
    sit outside the prefix, so an intersection element lands in the
    lower prefix — and, being ≤ that prefix's last element, in the
    other prefix too. Recall is therefore EXACTLY 1 — deterministic,
    not probabilistic — which makes any downstream verify stage equal
    to the brute-force all-pairs scan on every corpus, not just ones
    whose above-threshold pairs clear an LSH banding bound.

    The global order is (document frequency asc, shingle hash): rare
    shingles fill prefixes, so a boilerplate shingle shared by millions
    of docs sorts to the suffixes and never becomes a join key — the
    candidate count tracks rare-token co-occurrence, not corpus size
    squared. Length filter t·|x| ≤ |y| ≤ |x|/t prunes cross-size pairs
    before the quadratic expansion (1e-9 slack keeps float rounding
    from dropping exact-boundary pairs; extra candidates are harmless,
    verify disposes).

    ``positional=True`` (default) adds two PAIR-LEVEL exact filters,
    computed by one aggregation over the join rows (replacing the
    ``distinct``):

    - **positional** (PPJoin): a shared token at 1-indexed sorted
      positions (i, j) certifies overlap ≤ 1 + min(|x|−i, |y|−j); the
      pair's best (first-common-token) bound must reach the
      α = t/(1+t)·(|x|+|y|) overlap requirement. Exact because every
      element before a true pair's first common token is non-common,
      so that token's bound ≥ O.
    - **boundary-suffix**: with m = |Px∩Py| (the exact shared-prefix-
      token count) and prefix boundaries compared under the global
      order, bnd_x ≤ bnd_y ⟹ Px∩Sy = ∅ ⟹ O ≤ m + |Sx| — so pairs
      whose prefix co-occurrence is spurious (small m) die no matter
      how common their shared tokens are.

    Recall stays EXACTLY 1 (both are upper-bound arguments; property-
    tested at 4 thresholds). This is the defense for low-entropy
    corpora where every shingle is common: the r6 measurement on the
    synthetic sf0.1 corpus (5k docs, ~10³ distinct shingles, t=0.7)
    cut candidates 2,754,412 → 49,676 (55×), wall 8.0 → 4.0 s.

    Honest bound: pruning power depends on the corpus having a rare
    tail. Real text obeys Zipf with an unbounded tail, so prefixes are
    discriminative; the synthetic test corpus has only ~10³ distinct
    shingles (every shingle is common), where the prefix filter alone —
    like any exact content-keyed blocker — degrades toward all-pairs
    (measured 1.5M candidates on 5k docs at sf0.1 before the positional
    filter). That is why this operator holds its own catalog entry at
    gate scale but the window's LSH compositions do NOT union it: their
    parity is made deterministic by the portable-hash oracle replay
    instead (portable_minhash_signatures).

    Scale: two shuffles of (id, 8-byte shingle hash) rows for the
    frequency join, one partial-agg count for frequencies, one
    id-and-two-longs shuffle for the prefix self-join. Documents never
    shuffle. The per-doc sorted set is bounded by doc length (same
    array the verify stage builds anyway).

    ``rows`` contract (r16 ADVICE): when given, it MUST be
    row-equivalent to ``shingle_hash_rows(df, id_col, text_col,
    shingle_n)`` over the SAME corpus and the SAME ``shingle_n`` —
    i.e. one (id, __h) row per distinct shingle per doc, hashed with
    the same xxhash64 shingle expression (``shingle_hash_rows_from_
    tokens`` over a ``tokenized_corpus_artifact`` of ``df`` satisfies
    this by construction, pinned by the r16 equivalence test). A
    mismatched injection silently changes the candidate set and voids
    the exact-recall guarantee — ``df``/``text_col`` are NOT read when
    ``rows`` is given (they stay in the signature so the uninjected
    path and the call sites' shapes stay identical).
    """
    # Materialize the (id, shingle-hash) stream once (r16 optimization
    # round, guide §2.4): it feeds the frequency aggregation AND the
    # sets join — two different exchange shapes, so ReusedExchange
    # never applies; and because the prefix frame below feeds BOTH
    # sides of the __ph self-join, the tokenize+md5 shingle pipeline
    # executed FOUR times end-to-end. Measured trade: at sf0.1 the
    # extra barrier costs ~0.5 s (3.5 → 4.0 s — tiny scans recompute
    # ~free in parallel stages), but at the x30 replica the entry
    # drops 32.1 → 24.6 s (−23%) because three of the four corpus
    # shingle passes disappear — the r10 materialize-strategy study's
    # conclusion, reproduced here. Rows are (id, 8-byte hash), the
    # same size class the docstring already budgets for shuffles.
    # (Materializing `prefix` as well was also tried: it regressed
    # BOTH scales — its exploded rows are bulkier and its recompute
    # off cached `rows` is cheap — so only `rows` is pinned.)
    # ``rows``: callers already holding a materialized (id, __h)
    # shingle-hash stream (derived from the shared tokenized artifact
    # — second r16 pass) inject it and skip this pass entirely.
    if rows is None:
        rows = materialize_once(shingle_hash_rows(df, id_col, text_col, shingle_n))
    freq = rows.groupBy("__h").agg(F.count(F.lit(1)).alias("__f"))
    sets = (
        rows.join(freq, "__h")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("__f", "__h"))).alias("__ord"))
    )
    # prefix length |x| − ⌈t·|x|⌉ + 1; the −1e-9 keeps ceil() from
    # rounding an exactly-integer t·|x| UP on float error (which would
    # shorten the prefix below the recall bound)
    prefix = (
        sets.select(
            F.col(id_col),
            F.size("__ord").alias("__sz"),
            F.expr(
                f"slice(__ord, 1, size(__ord) - CAST(ceil({threshold!r} * size(__ord) - 1e-9) AS INT) + 1)"
            ).alias("__pre"),
            F.col("__ord"),
        )
        .select(
            F.col(id_col),
            F.col("__sz"),
            F.size("__pre").alias("__plen"),
            # boundary = last prefix element under the global (freq, hash)
            # order; drives the suffix-disjointness bound below
            F.element_at(F.col("__ord"), F.size("__pre")).alias("__bnd"),
            F.posexplode("__pre").alias("__i", "__p"),
        )
        .select(
            F.col(id_col),
            F.col("__sz"),
            F.col("__plen"),
            F.col("__bnd"),
            (F.col("__i") + 1).alias("__pos"),  # 1-indexed sorted position
            F.col("__p.__h").alias("__ph"),
        )
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        F.col("__sz").alias("sz_a"),
        F.col("__plen").alias("plen_a"),
        F.col("__bnd").alias("bnd_a"),
        F.col("__pos").alias("pos_a"),
        F.col("__ph"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        F.col("__sz").alias("sz_b"),
        F.col("__plen").alias("plen_b"),
        F.col("__bnd").alias("bnd_b"),
        F.col("__pos").alias("pos_b"),
        F.col("__ph"),
    )
    joined = (
        a.join(b, "__ph")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("sz_b") >= F.lit(threshold) * F.col("sz_a") - F.lit(1e-9))
        .filter(F.col("sz_a") >= F.lit(threshold) * F.col("sz_b") - F.lit(1e-9))
    )
    if not positional:
        return joined.select("id_a", "id_b").distinct()
    # pair-level exact filters (one aggregation replaces the distinct):
    #   m        = |Px ∩ Py|, the exact count of shared prefix tokens
    #   best_rem = max over shared tokens of min(|x|−i, |y|−j)
    stats = joined.groupBy(
        "id_a", "id_b", "sz_a", "sz_b", "plen_a", "plen_b", "bnd_a", "bnd_b"
    ).agg(
        F.count(F.lit(1)).alias("__m"),
        F.max(F.least(F.col("sz_a") - F.col("pos_a"), F.col("sz_b") - F.col("pos_b"))).alias(
            "__best_rem"
        ),
    )
    alpha = F.lit(threshold / (1.0 + threshold)) * (F.col("sz_a") + F.col("sz_b")) - F.lit(
        1e-9
    )
    # PPJoin positional filter: the pair's FIRST common token (min
    # positions → max remaining) certifies overlap ≤ 1 + best_rem,
    # which must reach the α = t/(1+t)·(|x|+|y|) overlap requirement
    positional_ok = (F.lit(1) + F.col("__best_rem")) >= alpha
    # boundary-suffix filter: prefix tokens sort ≤ the prefix boundary
    # and suffix tokens sort strictly after it, so if bnd_a ≤ bnd_b
    # then Px ∩ Sy = ∅ and every common token is either one of the m
    # shared prefix tokens or in x's suffix: O ≤ m + (|x| − plen_x)
    # (symmetrically for bnd_b < bnd_a). Spurious low-m co-occurrence
    # dies here — the low-entropy-corpus defense.
    suffix_bound = F.col("__m") + F.when(
        F.col("bnd_a") <= F.col("bnd_b"), F.col("sz_a") - F.col("plen_a")
    ).otherwise(F.col("sz_b") - F.col("plen_b"))
    return stats.filter(positional_ok & (suffix_bound >= alpha)).select("id_a", "id_b")


def verify_candidates_jaccard(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact-Jaccard verify stage over LSH candidate pairs.

    The second half of the canonical near-dup pipeline: LSH proposes,
    exact Jaccard disposes. Joining the candidate pair list back to the
    per-doc hashed-shingle sets keeps the quadratic work bounded by the
    candidate count, and makes the final output *deterministic and
    oracle-expressible* — the surviving pairs equal the brute-force
    ≥-threshold pair set whenever LSH recall is 1 at the threshold
    (16 bands × 4 rows: miss prob ≈ (1−j⁴)¹⁶ ≈ 1.5e-7 at j = 0.89,
    the lowest above-threshold pair in the test corpus).

    Scale: the candidate pair list is materialized once
    (``materialize_once`` — it is id-pairs, tiny relative to the
    corpus; without this the whole LSH candidate pipeline would
    re-execute for every plan arm that touches it; on a cluster set
    SPARK_GRAFT_MATERIALIZE=persist_disk — localCheckpoint blocks are
    executor-local and non-replicated), then a broadcast semi-join prunes
    the corpus to candidate-adjacent docs BEFORE the (expensive)
    shingling map — verify cost scales with the candidate set, not the
    corpus. The two equi-joins ship shingle arrays only for those docs;
    the jaccard itself is a hash-probe map. For pathological candidate
    sets too large to broadcast, drop the broadcast hint — the semi-
    join degrades to a shuffle and everything else holds.
    The output emits the RAW quotient (inter/union of exact ints is a
    correctly-rounded double in every engine — bit-identical), never a
    rounded value: x/2ᵃ5ᵇ unions make exactly-(d+1)-decimal quotients
    where round(…, d) disagrees across engines.
    """
    candidates = materialize_once(candidates)
    needed = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # repartition BEFORE the shingling map (the semi-join output
    # inherits the scan's partitioning — a single-row-group file would
    # shingle on one core), and checkpoint the result: both join arms
    # (a and b) consume it, and without materialization each arm would
    # re-run the shingling
    withsh = materialize_once(
        parallelize_narrow_input(df.join(F.broadcast(needed), id_col, "semi")).select(
            F.col(id_col),
            F.transform(
                word_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)
            ).alias("__sh"),
        )
    )
    return _verify_jaccard_tail(candidates, withsh, id_col, threshold)


def verify_candidates_jaccard_from_tokens(
    toksrc: DataFrame,
    candidates: DataFrame,
    id_col: str,
    toks_col: str,
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """``verify_candidates_jaccard`` fed from a frame that already
    carries the token arrays (the shared tokenized-documents artifact
    — r16 optimization round): shingle strings are rebuilt from the
    bound arrays via ``word_shingles_from_tokens``, which yields
    byte-identical shingles (and hence identical xxhash64 values and
    jaccards) to ``word_shingles`` over the raw text — candidate-
    adjacent docs are never re-tokenized, and when ``toksrc`` is
    materialized, never re-scanned from parquet either. No repartition
    fan-out here: a materialized token artifact already carries the
    fan-out its producer applied."""
    candidates = materialize_once(candidates)
    needed = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    withsh = materialize_once(
        toksrc.join(F.broadcast(needed), id_col, "semi").select(
            F.col(id_col),
            F.transform(
                word_shingles_from_tokens(F.col(toks_col), shingle_n),
                lambda s: F.xxhash64(s),
            ).alias("__sh"),
        )
    )
    return _verify_jaccard_tail(candidates, withsh, id_col, threshold)


def _verify_jaccard_tail(
    candidates: DataFrame, withsh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared verify tail: join the (id, shingle-hash set) frame onto
    both pair sides and keep exact Jaccard ≥ threshold."""
    a = withsh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = withsh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def tokenized_corpus_artifact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks, __th60) materialized once — the candidates→verify
    compositions' shared corpus artifact (r16 optimization round,
    guide §2.3/§6; the operator-level twin of the release-gate
    composites' ``_tokenized_documents``). ``__th60`` is the per-token
    portable 60-bit md5 hash the signature family reduces mod
    MINHASH_P (``portable_minhash_signatures_from_hashes``); ``__toks``
    feeds the verify stage's byte-identical shingle rebuild
    (``verify_candidates_jaccard_from_tokens``). One tokenize + one
    md5 pass over one corpus scan serves both stages — the raw-text
    composition paid each twice. Scale: the artifact is ~corpus-sized;
    on a cluster materialize with ``persist_disk``/``reliable`` (the
    standard SPARK_GRAFT_MATERIALIZE knob). Consumers that need only
    the token arrays (the xxhash64-based prefix-filter family) carry
    ``__th60`` along unread."""
    base = parallelize_narrow_input(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    return materialize_once(
        base.select(
            F.col(id_col),
            F.col("__toks"),
            F.transform(
                F.col("__toks"),
                lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast(
                    "long"
                ),
            ).alias("__th60"),
        )
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    tokd: DataFrame | None = None,
) -> DataFrame:
    """The canonical portable near-dup pipeline END-TO-END — banded
    MinHash-LSH candidates then exact-Jaccard verify — built over ONE
    shared tokenized artifact (r16 optimization round, guide §2.3/§6).

    The split composition (``minhash_lsh_candidates`` +
    ``verify_candidates_jaccard``, both from raw text) tokenized and
    md5-hashed the corpus once per stage: the signature pipeline paid
    a full pass, then the verify stage re-scanned parquet and
    re-tokenized every candidate-adjacent doc. Here both stages read
    ``tokenized_corpus_artifact`` — signatures via the ``% MINHASH_P``
    reduction of the stored hashes (identical values by construction),
    verify via the byte-identical token-array shingle rebuild — so the
    corpus is scanned and tokenized exactly once however many stages
    consume it. Output rows are IDENTICAL to the split composition's
    (same signature expressions, same shingle strings, same jaccard).

    ``tokd``: callers already holding the artifact (an entry that also
    feeds other legs from it) pass it in; ``max_bucket_size`` routes
    the pair stage through the count-first cap exactly as in
    ``minhash_lsh_candidates``.
    """
    if tokd is None:
        tokd = tokenized_corpus_artifact(df, id_col, text_col)
    else:
        # r16 ADVICE: an injected frame missing the columns this
        # pipeline binds used to fail much later with an opaque
        # unresolved-column AnalysisException deep inside the signature
        # subtree.
        missing = {"__toks", "__th60"} - set(tokd.columns)
        if missing:
            raise ValueError(
                "minhash_verified_pairs: injected tokd is missing "
                f"{sorted(missing)} — build it with "
                "tokenized_corpus_artifact(df, id_col, text_col)"
            )
    sigs = portable_minhash_signatures_from_hashes(
        tokd, id_col, "__th60", num_hashes, shingle_n
    )
    band_rows = materialize_once(
        _band_rows_from_sigs(sigs, id_col, num_hashes, bands)
    )
    cands = minhash_lsh_candidates(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        band_rows=band_rows,
    )
    return verify_candidates_jaccard_from_tokens(
        tokd, cands, id_col, "__toks", threshold, shingle_n
    )


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 30
) -> DataFrame:
    """Duplicate clusters from pairwise matches: connected components by
    iterative min-label propagation (label = smallest id reachable).

    The missing last stage of every dedup pipeline — pairwise candidates
    (MinHash-LSH / Jaccard / SimHash) say "a~b, b~c"; keeping one
    representative requires the {a,b,c} cluster, i.e. connected
    components of the match graph.

    Each iteration: label'(v) = min(label(v), min over neighbors u of
    label(u)); stop when no label changes (exact fixpoint, so the result
    is deterministic and oracle-comparable). Convergence in O(diameter)
    rounds — near-dup graphs are dense clique-ish clusters, so the
    diameter is tiny in practice.

    Scale: each round is one shuffle join on the edge list (ids only —
    documents never move) plus a min-aggregate; `materialize_fixpoint`
    truncates the growing PLAN each round — fixpoint state must
    checkpoint, not persist: a step referencing its state twice
    doubles the analyzed tree per round (measured driver OOM;
    materialize.py docstring), which is why persist_disk upgrades to a
    truncating strategy here. Superseded generations are `release`d so
    block storage holds one generation, not one per round. For
    web-scale graphs swap the propagation loop for the large-star/
    small-star algorithm (Kiveris et al., same DataFrame shape, fewer
    rounds on high-degree graphs).
    """
    edges = materialize_fixpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    # small-graph fast path (r16 optimization round): the count is one
    # cheap job on the just-checkpointed frame; both orientations are
    # stored here, so the cap doubles. See _components_small.
    if edges.count() <= 2 * _cc_small_edge_cap():
        result = _components_small(edges, "src", "dst")
        release(edges)
        return result
    labels = materialize_fixpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = materialize_fixpoint(
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left").select(
                labels["id"],
                F.least(labels["label"], F.coalesce("nbr_label", labels["label"])).alias(
                    "label"
                ),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # the superseded generation's blocks are dead once the change
        # count has consumed it — unpersist so persist_disk mode holds
        # ONE generation of blocks, not one per round
        release(labels)
        labels = new_labels
        if changed == 0:
            break
    release(edges)  # the returned plan references only `labels`
    return labels.select(F.col("id"), F.col("label").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iters: int = 50
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the high-degree-graph upgrade promised in
    ``connected_components``'s docstring.

    Each round:
    - **large-star**: every node points its LARGER neighbors at its
      minimum neighborhood label — long chains collapse by doubling;
    - **small-star**: every node re-points its smaller neighbors (and
      itself) at that minimum — stars flatten to one level.
    Both steps are expressed as groupBy(min) + an equi-join back to the
    edge list (never a collect_list of neighborhoods, so a 10⁸-degree
    boilerplate hub costs a shuffle, not executor memory). Rounds are
    O(log² n) vs min-label propagation's O(diameter); on dense clique-
    ish near-dup graphs both are small, on chain-y graphs star wins.

    Output matches ``connected_components``: (id, cluster_id) with
    cluster_id = the component's minimum id (equivalence
    property-tested against the min-label implementation).

    Scale: per round, two hash aggregations + two joins on ids only;
    ``materialize_fixpoint`` truncates the plan each round (fixpoint
    state must checkpoint, not persist — see materialize.py) and
    superseded generations are ``release``d; the converged state is a
    one-level star per component. The convergence check is an
    edge-set-equality count — same driver-side `.count()` class as the
    min-label loop (inherent to fixpoint detection).
    """

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )

    edges = materialize_fixpoint(
        canon(pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    )
    edges_count = edges.count()
    # small-graph fast path (r16 optimization round): edges_count was
    # already being measured for the convergence bookkeeping — when the
    # duplicate graph is broadcast-class, ONE union-find replaces the
    # ~7 star rounds' checkpoint+count barrier jobs (measured 5.6 →
    # 1.8 s per embedding-CC cell at sf0.1; the distributed loop below
    # is unchanged for graphs over the cap). See _components_small.
    if edges_count <= _cc_small_edge_cap():
        result = _components_small(edges, "u", "v")
        release(edges)
        return result

    for _ in range(max_iters):
        # large-star: for every directed (u, v): min over u's closed
        # neighborhood m(u); emit (v, m(u)) for neighbors v > u
        both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = both.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        large = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        after_large = canon(large)
        # small-star: on (u > v) edges, point the smaller neighbors and
        # u itself at the minimum
        mins2 = after_large.groupBy("u").agg(F.min("v").alias("mn"))
        mins2 = mins2.select("u", F.least("u", "mn").alias("m"))
        small = (
            after_large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
        )
        new_edges = materialize_fixpoint(canon(small))
        # carry the previous round's count forward — one count job per
        # round, not two (the checkpointed edge set never changes size
        # underneath us)
        new_count = new_edges.count()
        converged = (
            new_count == edges_count and new_edges.exceptAll(edges).count() == 0
        )
        # the superseded round's blocks are dead once the convergence
        # check has consumed them — unpersist so persist_disk mode
        # holds ONE generation of blocks, not one per round
        release(edges)
        edges, edges_count = new_edges, new_count
        if converged:
            break

    # converged: every edge is (member, component-min); roots label themselves
    members = edges.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("id"), "cluster_id"
    )
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("cluster_id")).distinct()
    return members.unionByName(roots).distinct()


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (assumed distinct elements).

    Union size is derived as |a|+|b|−|a∩b| rather than materializing
    array_union — one hash-probe pass per pair instead of two plus an
    array allocation (~2× on the blocked self-join at sf0.1)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs within blocking keys.

    Scale: the block key (e.g. language + length band) bounds the
    quadratic self-join; shuffle carries shingle arrays once per side.
    Used standalone for small blocks, or as the verify stage after
    MinHash-LSH candidate generation.
    """
    # intersect 8-byte shingle hashes, not shingle strings: |a∩b| and
    # sizes are unchanged (collision prob ~2⁻⁶⁴ per pair), so the
    # Jaccard VALUE is identical, but the per-pair set probe works on
    # longs — measured ~2× on the sf0.1 self-join
    withsh = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        F.transform(word_shingles(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias(
            "__sh"
        ),
    )
    a = withsh.select(
        *[F.col(c).alias(f"bk_{c}") for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("sh_a"),
    )
    b = withsh.select(
        *[F.col(c).alias(f"bk_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("sh_b"),
    )
    return (
        a.join(b, [f"bk_{c}" for c in block_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Portable 60-bit token hash: identical in Spark and DuckDB
#: (`('0x' || substr(md5(tok),1,15))::BIGINT` on the oracle side), so
#: simhash built on it is fully oracle-checkable. ~2× slower than
#: xxhash64 — use for verification twins, not the production default.
PORTABLE_TOKEN_HASH = "cast(conv(substring(md5({tok}), 1, 15), 16, 10) AS LONG)"


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    token_hash_sql: str | None = None,
) -> DataFrame:
    """`bits`-wide SimHash of whitespace tokens → (id, simhash BIGINT).

    Each token is hashed ONCE (explode + xxhash64, or the SQL template
    ``token_hash_sql`` with ``{tok}`` as the placeholder — e.g.
    PORTABLE_TOKEN_HASH for an engine-portable signature); per bit
    position i the sign contribution (+1/−1 from bit i of the token
    hash) is a cheap long expression, aggregated as `bits` partial-agg
    sum columns; the signature recombines the sign bits. Same
    single-string-hash + explode/partial-agg shape as
    portable_minhash_signatures — one shuffle of (doc_id, `bits` longs), token
    strings never move.
    """
    toks = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("__tok")
    )
    h = (
        F.xxhash64("__tok")
        if token_hash_sql is None
        else F.expr(token_hash_sql.format(tok="__tok"))
    )
    hs = toks.select(F.col(id_col), h.alias("__h"))
    # sum the raw bit (2 bitwise ops/row) instead of sum(when ±1): the
    # sign test becomes 2·ones > n with one extra count column. Same
    # signatures bit-for-bit; measured ~equal warm but 3× faster on
    # first execution (the when-free agg codegen is much smaller).
    # Both 64-column batteries are built as F.expr strings: the Column
    # builder API costs ~4 Py4J round-trips per op (~1.2 s of DRIVER
    # time per query build at 64 columns); one parser call is ~30 ms.
    aggs = [
        F.expr(f"sum(shiftright(__h, {i}) & 1) AS __b{i}") for i in range(bits)
    ] + [F.count(F.lit(1)).alias("__n")]
    grouped = hs.groupBy(id_col).agg(*aggs)
    sig = F.expr(
        " + ".join(f"shiftleft(cast(__b{i} * 2 > __n AS LONG), {i})" for i in range(bits))
    )
    return grouped.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    token_hash_sql: str | None = None,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ max_hamming.

    Banding: split the `bits`-wide hash into 4 equal chunks; any pair
    at hamming ≤ 3 agrees exactly on ≥1 chunk (pigeonhole — recall is
    EXACTLY 1, not probabilistic) → in-bucket pair expansion per chunk
    (``bucket_pairs``), then exact hamming verify via bit_count(xor).

    Scale: shuffle key is (chunk_id, chunk value) — 4 rows per doc;
    the verify is a map. Chunk buckets are NOT capped: expected size
    is N/2^(bits/4) per chunk, boilerplate concentrates more, and each
    bucket expands quadratically in one task.
    """
    chunk_bits = bits // 4
    mask = (1 << chunk_bits) - 1
    hashed = simhash_signatures(
        df, id_col, text_col, bits=bits, token_hash_sql=token_hash_sql
    ).withColumnRenamed("simhash", "__sh")
    chunks = hashed.select(
        id_col,
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("__sh", c * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "__sh", "ck.chunk_id", "ck.chunk")
    # the signature rides along as a carry column, so the hamming
    # verify needs no re-join; a chunk-keyed self-join would run the
    # 64-column signature agg twice
    pairs = bucket_pairs(chunks, ["chunk_id", "chunk"], id_col, carry=("__sh",))
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def incremental_dedup(
    new_batch: DataFrame, historical: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental exact dedup: keep only new-batch docs whose content
    digest (md5) neither appears in the historical corpus nor earlier
    (min id) within the batch itself — the standard "dedupe today's
    crawl against the lake" shape.

    Scale: both join arms carry (id, 32-hex digest), never document
    text; the historical side is digests-only and pre-distinct, so the
    anti-join shuffles one row per unique historical document. With a
    digest-bucketed historical table the anti-join becomes exchange-free
    (operators/bucketing.py); the within-batch min-id pass is one
    partial-agg shuffle of the (much smaller) surviving batch.
    """
    hist = historical.select(F.md5(F.col(text_col)).alias("__digest")).distinct()
    fresh = (
        new_batch.withColumn("__digest", F.md5(F.col(text_col)))
        .join(hist, "__digest", "left_anti")
    )
    first = fresh.groupBy("__digest").agg(F.min(id_col).alias(id_col))
    return (
        fresh.join(first, ["__digest", id_col], "semi")
        .drop("__digest")
    )


# ------------------- exact-substring (duplicated-span) dedup ----------
#
# The token-position analogue of suffix-array substring dedup
# (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better"): mark every W-token window whose content occurs at more than
# one (doc, position) in the corpus, merge marked windows into spans at
# token granularity, and either REPORT per-document duplicated-span
# coverage or STRIP every occurrence except one canonical copy. The
# reference CDC consumer has no corpus operators at all; this fills the
# one dedup modality the battery lacked — position-aware exact
# substring overlap (MinHash/SimHash are bag-of-shingles and blind to
# WHERE the overlap sits; exact dedup is whole-document).
#
# Spark-first shape: per-token portable hash ONCE (md5-60-bit mod P,
# the PORTABLE_TOKEN_HASH base), W adjacent token hashes folded into a
# 62-bit two-lane window key with the SAME band_key_sql emitter the
# LSH oracle replays — so a DuckDB oracle reproduces every window key,
# count, and canonical choice bit-for-bit. The one corpus-sized shuffle
# partitions (id, pos, wh) rows by wh — the same N_tokens-row cost the
# published suffix-array pipelines pay to sort the corpus, with 8-byte
# keys and NO text in the exchange (plan-pinned).

#: Packed (doc, position) canonical key: doc_id * CAP + pos. Bounds
#: token positions per document to 2²⁰ (~1M tokens, far beyond any
#: pre-chunked training document; chunk longer docs upstream). Packing
#: keeps the canonical min a single BIGINT both engines order
#: identically — no struct-comparison parity risk.
SUBSTRING_POS_CAP = 1 << 20


def substring_window_positions(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """(id, pos, wh): one row per token position 0 ≤ pos ≤ n_toks − W.

    wh is the two-lane 62-bit fold (band_key_sql) of the W consecutive
    portable token hashes — collision odds across N windows are
    ~N²/2⁶³ (≈10⁻⁷ at the 500k-window gate corpus; at a 10¹³-token
    corpus use window-text verification or a wider fold — the same
    dial the LSH band keys document). Documents shorter than W tokens
    produce no rows. Token hashes are computed once per token; each
    window key is 2·W integer ops via element_at — never a slice copy
    or a window-string md5 (the shingle_hash_rows lesson).
    """
    base = parallelize_narrow_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.transform(
            tokenize(F.col(text_col)),
            lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
            % MINHASH_P,
        ).alias("__th"),
    )
    return _window_key_rows(base, id_col, window)


def substring_window_positions_from_hashes(
    df: DataFrame, id_col: str, hash_col: str, window: int = 8
) -> DataFrame:
    """``substring_window_positions`` fed from a frame that already
    carries the per-token portable 60-bit md5 hashes (``hash_col``, an
    array<long>) — the shared tokenized-documents artifact of the
    release-gate composites (r13, VERDICT r12 item 4). The modulus is
    applied here, so one stored hash array serves both this window
    fold (mod MINHASH_P) and the DSIR buckets (mod n_buckets).
    Key values are identical to the text path's."""
    base = df.select(
        F.col(id_col),
        F.transform(F.col(hash_col), lambda h: h % MINHASH_P).alias("__th"),
    )
    return _window_key_rows(base, id_col, window)


def _wins_col(window: int) -> Column:
    """array<struct<pos,wh>> of all W-token window keys over a bound
    ``__th`` token-hash column — the shared fold of every substring
    entry point (exploded rows and the per-doc artifact alike)."""
    key = band_key_sql(
        ["element_at(__th, k)"]
        + [f"element_at(__th, k + {i})" for i in range(1, window)]
    )
    return F.when(
        F.size(F.col("__th")) >= window,
        F.expr(
            f"transform(sequence(1, size(__th) - {window} + 1),"
            f" k -> named_struct('pos', k - 1, 'wh', {key}))"
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wh:bigint>>"))


def _window_key_rows(base: DataFrame, id_col: str, window: int) -> DataFrame:
    """(id, pos, wh) from a (id, __th) frame — the shared fold of the
    text and precomputed-hash entry points."""
    return base.select(
        F.col(id_col), F.explode(_wins_col(window)).alias("__w")
    ).select(
        F.col(id_col), F.col("__w.pos").alias("pos"), F.col("__w.wh").alias("wh")
    )


def _substring_doc_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int,
    with_tokens: bool = False,
) -> DataFrame:
    """The substring family's MATERIALIZED per-document artifact — one
    row per doc: (id, __n_toks, [__toks,] __wins array<struct<pos,wh>>)
    (r16 optimization round, guide §2.3/§1.2: one tokenize+md5 corpus
    pass instead of one per consumer leg).

    Why per-doc instead of the exploded (id, pos, wh) rows the old
    annotate checkpointed: the report/rewrite entries also need per-doc
    token TOTALS (and the strip rewrite the token ARRAYS) — off an
    exploded frame those forced one (or two) more full tokenize passes
    over the raw corpus per entry. Here totals are a projection of the
    artifact, the rewrite's posexplode reads the bound arrays, and the
    window-position explode re-runs per consumer arm as a cheap
    array-walk over checkpointed data (no md5, no regex re-tokenize).
    ``with_tokens`` bounds the artifact's size honestly: only the strip
    rewrite (whose OUTPUT is the text) carries the token arrays; the
    report entries' artifact is (long, int, ~12 B/window) rows.
    """
    base = parallelize_narrow_input(
        df.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
    keep = [F.col("__toks")] if with_tokens else []
    hashed = base.select(
        F.col(id_col),
        F.size("__toks").alias("__n_toks"),
        *keep,
        F.transform(
            F.col("__toks"),
            lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
            % MINHASH_P,
        ).alias("__th"),
    )
    return materialize_once(
        hashed.select(
            F.col(id_col),
            "__n_toks",
            *(["__toks"] if with_tokens else []),
            _wins_col(window).alias("__wins"),
        )
    )


def _packed_positions_from_doc_frame(docf: DataFrame, id_col: str) -> DataFrame:
    """(id, pos, wh, __pk) exploded from the per-doc artifact, with the
    packed-occurrence-key guard of ``_substring_packed_positions``
    (documents past SUBSTRING_POS_CAP abort, never corrupt the key)."""
    pos = docf.select(
        F.col(id_col), F.explode("__wins").alias("__w")
    ).select(
        F.col(id_col), F.col("__w.pos").alias("pos"), F.col("__w.wh").alias("wh")
    )
    packed = F.when(
        F.col("pos") < SUBSTRING_POS_CAP,
        F.col(id_col) * SUBSTRING_POS_CAP + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "substring_annotate: document exceeds SUBSTRING_POS_CAP "
                f"({SUBSTRING_POS_CAP}) token positions — chunk it upstream"
            )
        ).cast("long")
    )
    return pos.withColumn("__pk", packed)


def _annotate_from_doc_frame(docf: DataFrame, id_col: str) -> DataFrame:
    """The skew-safe annotate (groupBy stats + equi-join back) over an
    already-materialized per-doc artifact — both arms re-explode the
    checkpointed window arrays instead of re-running tokenize+md5."""
    ann0 = _packed_positions_from_doc_frame(docf, id_col)
    stats = ann0.groupBy("wh").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("__pk").alias("canon")
    )
    return ann0.join(stats, "wh").select(
        F.col(id_col), "pos", "wh", "__pk", "cnt", "canon"
    )


def _substring_packed_positions(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """(id, pos, wh, __pk) — window positions with the packed
    occurrence key. Shared by the skew-safe annotate and its
    equality-test window twin."""
    pos = substring_window_positions(df, id_col, text_col, window)
    # enforce the documented bound instead of silently corrupting the
    # packed key: a ≥ 2²⁰-token document aborts the job (chunk upstream)
    packed = F.when(
        F.col("pos") < SUBSTRING_POS_CAP,
        F.col(id_col) * SUBSTRING_POS_CAP + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "substring_annotate: document exceeds SUBSTRING_POS_CAP "
                f"({SUBSTRING_POS_CAP}) token positions — chunk it upstream"
            )
        ).cast("long")
    )
    return pos.withColumn("__pk", packed)


def substring_annotate(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """Window occurrences annotated with their global duplication state:
    (id, pos, wh, __pk, cnt, canon) where cnt is the corpus-wide
    occurrence count of the window's content and canon the packed
    (doc, pos) of its first occurrence (min doc_id, then min pos).

    Scale — the skew-safe form (r11; the r10 `Window.partitionBy(wh)`
    form put every occurrence of one window key into ONE WindowExec
    partition, which AQE cannot split — a licence-header window
    repeated 10⁹-10¹⁰ times at 100 TB serializes tens of GB onto one
    task). Here the per-key stats come from `groupBy(wh)`: map-side
    partial aggregation collapses a hot key to one row PER INPUT
    PARTITION before the exchange, so the skewed reduce side sees
    n_partitions rows per key, not n_occurrences. The join-back is an
    equi-join against a 1-row-per-key stats frame — AQE skew-join
    splitting handles any residual big-side skew (split occurrence
    blocks each join their replicated stats row). Text never enters
    any exchange; rows are (long, int, long, long). The position
    stream feeds both the stats agg and the join probe, so the per-doc
    window artifact is materialized once (`_substring_doc_frame` — r16
    optimization round) rather than re-running the tokenize+md5
    lineage per arm.
    """
    docf = _substring_doc_frame(df, id_col, text_col, window)
    return _annotate_from_doc_frame(docf, id_col)


def _substring_annotate_window_form(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """The r10 whole-partition-Window form of `substring_annotate`,
    kept ONLY as the equality oracle for the skew-safe rewrite
    (tests/test_substring_dedup.py) — a corpus-wide hot window key
    lands in one unsplittable WindowExec task at scale. Do not ship
    plans through this."""
    ann0 = _substring_packed_positions(df, id_col, text_col, window)
    wspec = W.partitionBy("wh")
    return ann0.select(
        F.col(id_col),
        "pos",
        "wh",
        "__pk",
        F.count(F.lit(1)).over(wspec).alias("cnt"),
        F.min("__pk").over(wspec).alias("canon"),
    )


def substring_duplicate_coverage(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """Per-document duplicated-span coverage report: (id, total_tokens,
    dup_tokens, dup_coverage) — a token is duplicated iff SOME W-token
    window containing it occurs elsewhere in the corpus (another doc or
    another position). All documents appear; clean docs report 0.

    The quality-filter shape: drop or down-weight documents whose
    dup_coverage exceeds a budget (boilerplate, mirrored pages, licence
    headers). Scale: the ×W covered-position fan-out runs over
    DUPLICATED windows only (cnt ≥ 2 — the rare side after the
    annotate), and countDistinct keeps the merge token-granular without
    materializing span structs. Token totals read the annotate's own
    per-doc artifact (r16 optimization round) — the report no longer
    pays a second full tokenize pass over the raw corpus.
    """
    docf = _substring_doc_frame(df, id_col, text_col, window)
    ann = _annotate_from_doc_frame(docf, id_col)
    dup = ann.filter(F.col("cnt") >= 2)
    cov = (
        dup.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("tpos"),
        )
        .groupBy(id_col)
        .agg(F.countDistinct("tpos").alias("dup_tokens"))
    )
    totals = docf.select(
        F.col(id_col), F.col("__n_toks").alias("total_tokens")
    )
    return totals.join(cov, [id_col], "left").select(
        F.col(id_col),
        "total_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias("dup_tokens"),
        F.round(
            F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("total_tokens"), 6
        ).alias("dup_coverage"),
    )


def substring_strip(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """Rewrite the corpus with duplicated spans removed, keeping one
    canonical occurrence: (id, kept_text, n_kept, n_removed).

    Semantics are token-granular: a token survives iff NO removable
    window covers it, where a window occurrence is removable iff its
    content occurs elsewhere AND this occurrence is not the canonical
    (first) one. The canonical occurrence therefore keeps its tokens
    except where a DIFFERENT duplicated window overlaps them from a
    non-canonical occurrence — the same all-but-one approximation the
    suffix-array pipelines make when merging overlapping duplicate
    ranges. kept_text is the space-join of surviving tokens (documents
    here are whitespace-tokenized; a byte-faithful rewrite would carry
    char offsets instead of token positions — same plan shape).

    Scale: the removable set (non-canonical duplicated windows) is the
    only ×W fan-out; the rebuild anti-joins the (id, tpos, token) rows
    against it and re-aggregates per doc — this is the one stage where
    token text enters an exchange, inherent to rewriting the corpus
    (the output IS the text). Each doc's collect_list is bounded by its
    own token count (docs are pre-chunked ≤ SUBSTRING_POS_CAP tokens).
    The annotate, the rebuild's posexplode, and the totals all read ONE
    materialized per-doc artifact carrying the token arrays (r16
    optimization round): the rewrite used to pay THREE full tokenize
    passes over the raw corpus — now exactly one.
    """
    docf = _substring_doc_frame(df, id_col, text_col, window, with_tokens=True)
    ann = _annotate_from_doc_frame(docf, id_col)
    removable = ann.filter(
        (F.col("cnt") >= 2) & (F.col("__pk") != F.col("canon"))
    )
    covered = removable.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
        ).alias("tpos"),
    ).distinct()
    toks = docf.select(
        F.col(id_col), F.posexplode(F.col("__toks")).alias("tpos", "tok")
    )
    kept = toks.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("kept_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = docf.select(
        F.col(id_col), F.col("__n_toks").alias("n_tokens")
    )
    return totals.join(rebuilt, [id_col], "left").select(
        F.col(id_col),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
    )


def substring_span_histogram(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> DataFrame:
    """Corpus-wide histogram of MAXIMAL duplicated-span lengths:
    (span_len tokens, n_spans) — the "how long are my repeated
    substrings" report that decides the window/threshold dials
    (suffix-array pipelines read the same distribution off the LCP
    array). A maximal span is a run of consecutive duplicated window
    positions within one doc: a run of r windows covers r + W − 1
    tokens.

    Scale: runs are found with the gaps-and-islands pattern (pos −
    row_number is constant within a run) — one extra exchange on
    doc_id over the DUPLICATED minority, then two partial-agg
    reductions; the histogram is at most max_doc_tokens rows.
    """
    ann = substring_annotate(df, id_col, text_col, window)
    dup = ann.filter(F.col("cnt") >= 2).select(F.col(id_col), "pos")
    wspec = W.partitionBy(id_col).orderBy("pos")
    runs = dup.withColumn(
        "__grp", F.col("pos") - F.row_number().over(wspec)
    )
    spans = runs.groupBy(F.col(id_col), F.col("__grp")).agg(
        (F.count(F.lit(1)) + F.lit(window - 1)).alias("span_len")
    )
    return (
        spans.groupBy("span_len")
        .agg(F.count(F.lit(1)).alias("n_spans"))
        .orderBy("span_len")
    )


def incremental_substring_coverage(
    new_batch: DataFrame,
    historical: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Span-level decontamination / train-test overlap: for every doc
    in ``new_batch``, the fraction of its tokens covered by W-token
    windows that ALSO occur anywhere in ``historical`` — (id,
    total_tokens, lake_tokens, lake_coverage). The positional twin of
    benchmark_contamination (gram-SET overlap): this one tells you
    WHERE and HOW MUCH of each candidate doc is verbatim lake content
    (Lee et al. 2021 measure exactly this between train and eval).

    Scale: probe-direction joins — the probe batch's distinct key set
    BROADCASTS into a semi join over the historical window stream
    (the big side is scanned, never shuffled), and the (≤ probe-sized)
    hit set broadcasts back; no text and no fan-out crosses any
    exchange. The historical window computation itself is the
    inherent cost of probing raw docs — SubstringKeyLakeSink
    (streaming/sinks.py) amortizes it by maintaining the distinct key
    store at ingest, and ``substring_coverage_vs_keys`` probes such a
    precomputed store directly. A bloom/cuckoo filter on the lake
    keys is the probe short-circuit at 100 TB — same plan shape.
    """
    hist_pos = substring_window_positions(historical, id_col, text_col, window)
    return substring_coverage_vs_keys(
        new_batch, hist_pos.select("wh"), id_col, text_col, window
    )


def substring_coverage_vs_keys(
    probe_docs: DataFrame,
    key_rows: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Core of the span-level contamination probe: coverage of each
    probe doc by windows present in ``key_rows`` (a ``wh`` column —
    need not be distinct; a lake's key store or any window stream).

    The probe side is assumed eval-set-sized (broadcastable): its
    distinct keys broadcast into the key stream's scan and only the
    hits come back. For probe batches too large to broadcast, run the
    shuffle-join form instead (swap the broadcast for a plain semi
    join — result-identical).

    The probe side reads ONE materialized per-doc artifact (r16
    optimization round): its window stream feeds the distinct-key
    probe AND the match-back join, and the totals are a projection —
    the raw probe batch used to be tokenized three times per report.
    """
    docf = _substring_doc_frame(probe_docs, id_col, text_col, window)
    new_pos = docf.select(
        F.col(id_col), F.explode("__wins").alias("__w")
    ).select(
        F.col(id_col), F.col("__w.pos").alias("pos"), F.col("__w.wh").alias("wh")
    )
    totals = docf.select(
        F.col(id_col), F.col("__n_toks").alias("total_tokens")
    )
    return substring_coverage_from_positions(
        new_pos, totals, key_rows, id_col, window
    )


def substring_coverage_from_positions(
    new_pos: DataFrame,
    totals: DataFrame,
    key_rows: DataFrame,
    id_col: str,
    window: int = 8,
) -> DataFrame:
    """Coverage core shared by the raw-text probe
    (``substring_coverage_vs_keys``) and callers that already hold the
    probe's window positions and token totals (the release-gate
    composites' shared tokenized frame, r13). ``new_pos`` is (id, pos,
    wh); ``totals`` is (id, total_tokens)."""
    probe_keys = new_pos.select("wh").distinct()
    hits = (
        key_rows.join(F.broadcast(probe_keys), "wh", "semi")
        .select("wh")
        .distinct()
    )
    matched = new_pos.join(F.broadcast(hits), "wh", "semi")
    cov = (
        matched.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(window - 1))
            ).alias("tpos"),
        )
        .groupBy(id_col)
        .agg(F.countDistinct("tpos").alias("lake_tokens"))
    )
    return totals.join(cov, [id_col], "left").select(
        F.col(id_col),
        "total_tokens",
        F.coalesce(F.col("lake_tokens"), F.lit(0).cast("long")).alias("lake_tokens"),
        F.round(
            F.coalesce(F.col("lake_tokens"), F.lit(0)) / F.col("total_tokens"), 6
        ).alias("lake_coverage"),
    )


def soft_dedup_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Soft deduplication: DOWN-WEIGHT duplicated content instead of
    dropping it (cf. He et al., ACL 2024 "SoftDedup" — reweighting by
    sample commonness preserves distribution coverage that hard dedup
    destroys). Commonness here is chunk-level: the fraction of a
    document's 64/48 token windows (text.chunk_windows — the same
    chunk axis dedup_chunk_hash audits) whose digest appears in more
    than one document. weight = 1 / (1 + dup_frac): a fully-unique doc
    trains at weight 1.0, a doc made entirely of shared boilerplate at
    0.5.

    Returns (id, n_chunks, n_shared, dup_frac, weight), all ratios
    6dp-rounded. Scale: zero-exchange chunking → ONE hash agg on the
    32-byte digest (vocabulary-sized output) → digest-keyed join back
    (AQE broadcasts the small side when it fits) → per-doc re-agg.
    Chunks travel as digests; window text never rides an exchange.
    """
    from .text import chunk_windows

    # materialize the (id, chunk_hash) stream once (r17 optimization
    # round, guide §2.4): the commonness agg and the join-back both
    # consumed the chunk pipeline, so the tokenize + window expansion +
    # per-chunk md5 ran twice per invocation; the artifact rows are
    # (id, 32-hex digest) — the same size class the docstring already
    # budgets for the exchange.
    ch = materialize_once(
        chunk_windows(
            df, id_col, text_col, chunk_size=chunk_size, stride=stride
        ).select(id_col, "chunk_hash")
    )
    g = ch.groupBy("chunk_hash").agg(
        F.count_distinct(F.col(id_col)).alias("__nd")
    )
    per_doc = (
        ch.select(id_col, "chunk_hash")
        .join(g, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("__nd") > 1).cast("long")).alias("n_shared"),
        )
    )
    return (
        per_doc.select(
            id_col,
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_frac"),
        )
        .withColumn(
            "weight",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.col("dup_frac")), 6),
        )
    )


def split_leakage_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    train_pct: int = 80,
    val_pct: int = 10,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Train/eval LEAKAGE matrix: near-duplicate pairs (the portable
    MinHash-LSH candidates + exact-Jaccard verify pipeline) broken
    down by which hash-split each side landed in — the audit that
    catches evaluation contamination the split itself cannot prevent
    (hash splitting assigns near-duplicates independently, so ~20% of
    a duplicated document's copies leak into val/test). The
    complement of sampling_leakage_safe_split: that entry PREVENTS
    leakage by splitting on the dedup family; this one MEASURES what
    a naive id-hash split leaks.

    Output: one row per unordered split pair (least/greatest
    canonicalization) with the pair count and the worst (max) jaccard
    — max, not avg, because max is order-independent and therefore
    engine-stable. Off-diagonal rows are the leaks.

    Scale: the pair pipeline is the audited capped-LSH shape (band
    keys are the only corpus-sized shuffle); the split is a PURE
    FUNCTION of the id (Knuth multiplicative hash → bucket), so the
    audit adds zero joins and zero exchanges on top of the pairs —
    the matrix agg runs on the pair set, which is output-sized.
    ``max_bucket_size`` routes the pair stage through the count-first
    cap (the dedup_minhash_lsh_capped discipline): at corpus scale a
    hot boilerplate bucket would otherwise expand quadratically
    INSIDE the audit — SCALING.md's r14 addendum measured the uncapped
    form superlinear on the replicas; the capped composition keeps the
    audit bounded and the over-cap buckets flow to the usual review
    queue, not this matrix.
    """
    from .sampling import hash_bucket

    # fused candidates→verify off ONE tokenized artifact (r16
    # optimization round): the split composition tokenized + md5'd the
    # corpus once per stage — see minhash_verified_pairs
    pairs = minhash_verified_pairs(
        df, id_col, text_col, threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_n=shingle_n, max_bucket_size=max_bucket_size,
    )

    def split_of(c: Column) -> Column:
        b = hash_bucket(c)
        return (
            F.when(b < train_pct, F.lit("train"))
            .when(b < train_pct + val_pct, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    sa, sb = split_of(F.col("id_a")), split_of(F.col("id_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
            F.col("jaccard"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )
