"""Focused equivalence tests for the r16 optimization round's internal
rewrites — each pins that a shared/restructured plan computes the SAME
rows as the pre-optimization shape it replaced (the oracle parity suite
already gates the end-to-end entries; these isolate the operator-level
contracts so a future refactor can't silently trade results for speed).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gomaxscale_spark.operators import dedup as D
from gomaxscale_spark.operators import similarity as S
from gomaxscale_spark.operators.materialize import materialize_once


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_split_hot_keys_band_rows_source_equivalent(spark, sf_dir):
    """The capped catalog entry's hot set: band rows derived from the
    shared tokenized artifact must surface exactly the same review-queue
    rows (``split_hot_keys``) as band rows re-derived from the text."""
    from gomaxscale_spark.operators.bucketing import split_hot_keys

    d = _docs(spark, sf_dir).limit(400)
    key = ["band_id", "band_hash"]
    _, from_text = split_hot_keys(
        D._lsh_band_rows(d, "doc_id", "text", 64, 16, 2), key, 2
    )
    tokd = D.tokenized_corpus_artifact(d, "doc_id", "text")
    shared_rows = materialize_once(
        D._band_rows_from_sigs(
            D.portable_minhash_signatures_from_hashes(
                tokd, "doc_id", "__th60", num_hashes=64, shingle_n=2
            ),
            "doc_id", 64, 16,
        )
    )
    _, shared = split_hot_keys(shared_rows, key, 2)
    a = sorted(map(tuple, from_text.collect()))
    b = sorted(map(tuple, shared.collect()))
    assert a == b and len(a) > 0


def test_adaptive_lsh_bucket_expansion_matches_reference(spark, sf_dir):
    """The within-bucket combination expansion (r16) must yield exactly
    the pairs an independent Python replay of the banding produces:
    sign-bit band signatures from the same plane family, adaptive
    width from the corpus count, candidates = pairs sharing ≥1
    (band, bucket), verified at 6dp-rounded cosine ≥ threshold."""
    import numpy as np

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300)
    threshold, dim, ppb, nb, target = 0.3, 64, 16, 4, 64

    got = sorted(
        map(
            tuple,
            S.lsh_near_duplicates_adaptive(
                e, threshold=threshold, dim=dim,
                planes_per_band=ppb, n_bands=nb, target_bucket=target,
            )
            .select("id_a", "id_b")
            .collect(),
        )
    )

    rows = e.select("vec_id", "embedding").collect()
    ids = [r[0] for r in rows]
    V = np.asarray([r[1] for r in rows], dtype=np.float64)
    planes = np.asarray(S.hyperplanes(dim, nb * ppb), dtype=np.float64)
    signs = (V @ planes.T > 0).astype(np.int64)
    n = len(ids)
    # adaptive width: exact replay of adaptive_pow2_case_sql — first
    # arm scanning w = 16 down to 9 with n > target·2^(w−1), else 2^8
    p2 = 1 << 8
    for w in range(16, 8, -1):
        if n > target * (1 << (w - 1)):
            p2 = 1 << w
            break
    buckets: dict[tuple[int, int], list[int]] = {}
    for vi in range(n):
        for b in range(nb):
            sig = 0
            for j in range(ppb):
                sig |= int(signs[vi, b * ppb + j]) << j
            buckets.setdefault((b, sig % p2), []).append(vi)
    cand = set()
    for members in buckets.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                ia, ib = ids[members[x]], ids[members[y]]
                cand.add((min(ia, ib), max(ia, ib)))
    norms = np.sqrt((V * V).sum(axis=1))
    idx = {v: i for i, v in enumerate(ids)}
    expected = sorted(
        (a, b)
        for a, b in cand
        if round(
            float(V[idx[a]] @ V[idx[b]] / (norms[idx[a]] * norms[idx[b]])), 6
        )
        >= threshold
    )
    assert got == expected and len(expected) > 0


def test_cc_small_graph_fast_path_matches_distributed_loops(spark, monkeypatch):
    """The r16 small-graph union-find must label components exactly like
    the distributed loops it short-circuits — both operators, on a graph
    mixing cliques, chains (the star loop's slow-percolation case) and
    singleton-free isolates, exercised FORCED down each path via the
    SPARK_GRAFT_CC_SMALL_EDGES cap."""
    import random

    rng = random.Random(7)
    edges = set()
    # three cliques
    for base in (0, 50, 100):
        ids = [base + i for i in range(6)]
        edges |= {(a, b) for a in ids for b in ids if a < b}
    # one long chain (diameter stress; ≤ 25 hops so the min-label
    # loop's max_iters=30 still reaches its exact fixpoint)
    edges |= {(200 + i, 201 + i) for i in range(25)}
    # random noise pairs
    for _ in range(60):
        a, b = rng.randrange(300, 400), rng.randrange(300, 400)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(edges)], "id_a long, id_b long"
    )

    monkeypatch.setenv(D.CC_SMALL_EDGES_ENV, "0")  # force the loops
    loop_star = {(r.id, r.cluster_id) for r in D.connected_components_star(pairs).collect()}
    loop_minlabel = {(r.id, r.cluster_id) for r in D.connected_components(pairs).collect()}

    monkeypatch.setenv(D.CC_SMALL_EDGES_ENV, str(D.CC_SMALL_EDGES_DEFAULT))
    fast_star = {(r.id, r.cluster_id) for r in D.connected_components_star(pairs).collect()}
    fast_minlabel = {(r.id, r.cluster_id) for r in D.connected_components(pairs).collect()}

    assert loop_star == fast_star == loop_minlabel == fast_minlabel
    # spot-check the chain collapsed to its minimum
    assert (225, 200) in fast_star


def test_single_tokenize_pass_steady_state_scan_counts(spark, sf_dir):
    """The r16 tokenize-once rewrites (substring family, DSIR, bigram
    perplexity): every consumer leg must read the materialized
    token-derived artifact, so the FINAL job's plan contains exactly
    the expected number of raw parquet scans — 0 where the artifact
    covers everything, 1 where an inherently separate corpus side
    remains (decontaminate's historical window stream). A regression
    that re-tokenizes from parquet shows up as an extra scan here."""
    from gomaxscale_spark.plans import all_queries

    q = all_queries()
    expected = {
        "dedup_substring_coverage": 0,   # totals off the artifact
        "dedup_substring_strip": 0,      # annotate+rebuild+totals off it
        "dedup_substring_span_histogram": 0,
        "decontaminate_substring_overlap": 1,  # historical side only
        "sampling_dsir_weights": 0,      # score pass off the bucket rows
        "sampling_dsir_select": 0,
        "text_bigram_perplexity": 0,     # score pass off the pair rows
    }
    for name, n_scans in expected.items():
        plan = (
            q[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        got = plan.count("Scan parquet")
        assert got == n_scans, (name, got, n_scans, plan[:1500])


def test_minhash_verified_pairs_matches_split_composition(spark, sf_dir):
    """The fused candidates→verify pipeline (one shared tokenized
    artifact) must emit exactly the rows of the split raw-text
    composition it replaced — signatures via the %P reduction of the
    stored md5 hashes and shingles rebuilt from the token arrays are
    identical by construction; this pins the composition end-to-end,
    capped and uncapped."""
    d = _docs(spark, sf_dir).limit(600)
    for cap in (None, 2):
        cands = D.minhash_lsh_candidates(
            d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
            max_bucket_size=cap,
        )
        ref = D.verify_candidates_jaccard(
            d, cands, "doc_id", "text", threshold=0.8, shingle_n=2
        )
        fused = D.minhash_verified_pairs(
            d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16,
            shingle_n=2, max_bucket_size=cap,
        )
        a = sorted(map(tuple, ref.collect()))
        b = sorted(map(tuple, fused.collect()))
        assert a == b and len(a) > 0, (cap, len(a), len(b))


def test_prefix_filter_shared_artifact_matches_raw_path(spark, sf_dir):
    """The prefix-filter entry's shared-artifact form (token arrays →
    xxhash64 shingle stream + from-tokens verify) must reproduce the
    raw-text composition's verified pairs exactly: xxhash64 over the
    same token strings and the same rebuilt shingle strings."""
    d = _docs(spark, sf_dir).limit(600)
    cands_ref = D.prefix_filter_candidates(
        d, "doc_id", "text", threshold=0.7, shingle_n=2
    )
    ref = D.verify_candidates_jaccard(
        d, cands_ref, "doc_id", "text", threshold=0.7, shingle_n=2
    )
    tokd = D.tokenized_corpus_artifact(d, "doc_id", "text")
    rows = materialize_once(
        D.shingle_hash_rows_from_tokens(tokd, "doc_id", "__toks", 2)
    )
    cands = D.prefix_filter_candidates(
        d, "doc_id", "text", threshold=0.7, shingle_n=2, rows=rows
    )
    fused = D.verify_candidates_jaccard_from_tokens(
        tokd, cands, "doc_id", "__toks", threshold=0.7, shingle_n=2
    )
    a = sorted(map(tuple, ref.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b and len(a) > 0
