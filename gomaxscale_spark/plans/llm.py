"""LLM-data-pipeline operator catalog (SURVEY.md §2 B15-B18 + north
star): dedup family, similarity search, text analysis, multimodal
plumbing, and the three Python-UDF shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as D
from ..operators.bucketing import split_hot_keys
from ..operators.materialize import materialize_once
from ..operators import multimodal as M
from ..operators import sampling as SA
from ..operators import search as SE
from ..operators import similarity as S
from ..operators import text as TX
from ..operators import udfs as U
from .base import query, t


# ---------------------------------------------------- oracle SQL builders
#
# The ANN and language-ID oracles are generated from the SAME literal
# constants the Spark plans use (hyperplanes from the fixed-seed LCG,
# LANG_PROFILES) so both engines evaluate identical math — the whole
# point of plan-literal parameters is that the oracle can replicate
# bucket membership exactly.

def _dot_sql(a: str, b: str) -> str:
    """Σ aᵢ·bᵢ in DuckDB via positional parallel unnest (same pairing as
    Spark's zip_with; identical doubles → identical signs/rounds)."""
    return (
        f"(SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE)) "
        f"FROM (SELECT unnest({a}) u, unnest({b}) v) x)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.u AS DOUBLE)) "
        f"FROM (SELECT unnest({a}) u) x))"
    )


def _cos_sql(a: str, b: str) -> str:
    return f"({_dot_sql(a, b)} / ({_norm_sql(a)} * {_norm_sql(b)}))"


def _plane_lit(plane: list[float]) -> str:
    """Plane vector as a SQL list literal. The LCG emits exact binary
    fractions (≤30 mantissa bits), so repr() round-trips bit-exactly
    through DuckDB's double parser."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _lsh_sig_sql(vec: str, planes: list[list[float]]) -> str:
    """Packed sign-bit signature: Σ (dot(vec, planeᵢ) > 0) << i."""
    bits = [
        f"{1 << i} * (CASE WHEN {_dot_sql(vec, _plane_lit(p))} > 0 THEN 1 ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _lsh_bucketed_oracle(n_planes: int = 4, dim: int = 64, k: int = 10) -> str:
    planes = S.hyperplanes(dim, n_planes, seed=42)
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sig AS (SELECT e.vec_id, e.embedding,
                   {_lsh_sig_sql("e.embedding", planes)} AS sig
            FROM embeddings e),
    qs AS (SELECT {_lsh_sig_sql("q.qv", planes)} AS qsig FROM q)
    SELECT s.vec_id, round({_cos_sql("s.embedding", "q.qv")}, 6) AS score
    FROM sig s, q, qs
    WHERE s.sig = qs.qsig
    ORDER BY score DESC, s.vec_id
    LIMIT {k}
    """


def _lsh_bucketed_adaptive_oracle(
    max_planes: int = 16, dim: int = 64, k: int = 10,
    min_bits: int = 4, target_bucket: int = 128,
) -> str:
    planes = S.hyperplanes(dim, max_planes, seed=42)
    pow2 = S.adaptive_pow2_case_sql(
        "nn.n", min_bits=min_bits, target_bucket=target_bucket
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    nn AS (SELECT count(*) AS n FROM embeddings),
    p2 AS (SELECT {pow2} AS p2 FROM nn),
    sig AS (SELECT e.vec_id, e.embedding,
                   {_lsh_sig_sql("e.embedding", planes)} AS sig
            FROM embeddings e),
    qs AS (SELECT {_lsh_sig_sql("q.qv", planes)} AS qsig FROM q)
    SELECT s.vec_id, round({_cos_sql("s.embedding", "q.qv")}, 6) AS score
    FROM sig s, q, qs, p2
    WHERE s.sig % p2.p2 = qs.qsig % p2.p2
    ORDER BY score DESC, s.vec_id
    LIMIT {k}
    """


def _ivf_adaptive_oracle(
    n_probe: int = 4, k: int = 10, min_bits: int = 2, max_bits: int = 16
) -> str:
    stride = S.adaptive_sqrt_pow2_case_sql("nn.n", min_bits, max_bits)
    return f"""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    st AS (SELECT {stride} AS stride FROM nn),
    c AS (SELECT e.vec_id AS centroid_id, e.embedding AS cvec
          FROM embeddings e, st WHERE e.vec_id % st.stride = 0),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe_scored AS (
      SELECT c.centroid_id, round({_cos_sql("c.cvec", "q.qv")}, 6) AS s FROM c, q
    ),
    probe AS (
      SELECT centroid_id FROM probe_scored
      ORDER BY s DESC, centroid_id LIMIT {n_probe}
    ),
    assign_scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, embedding, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, centroid_id) AS rn
      FROM assign_scored
    )
    SELECT a.vec_id, round({_cos_sql("a.embedding", "q.qv")}, 6) AS score
    FROM assign a, q
    WHERE a.rn = 1 AND a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id
    LIMIT {k}
    """


def _ivf_oracle(n_centroids: int = 16, n_probe: int = 4, k: int = 10) -> str:
    return f"""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT {n_centroids}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe_scored AS (
      SELECT c.centroid_id, {_cos_sql("c.cvec", "q.qv")} AS s FROM c, q
    ),
    probe AS (
      SELECT centroid_id FROM probe_scored
      ORDER BY s DESC, centroid_id LIMIT {n_probe}
    ),
    assign_scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, embedding, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, centroid_id) AS rn
      FROM assign_scored
    )
    SELECT a.vec_id, round({_cos_sql("a.embedding", "q.qv")}, 6) AS score
    FROM assign a, q
    WHERE a.rn = 1 AND a.centroid_id IN (SELECT centroid_id FROM probe)
    ORDER BY score DESC, a.vec_id
    LIMIT {k}
    """


def _language_id_oracle() -> str:
    """argmax-earliest over LANG_PROFILES scores, generated from the same
    literal profiles the Spark expression uses (operators/text.py)."""
    langs = list(TX.LANG_PROFILES)
    score_cols = []
    for lang, profile in TX.LANG_PROFILES.items():
        terms = " + ".join(
            f"(CASE WHEN contains(lower(text), '{bg}') THEN 1 ELSE 0 END)" for bg in profile
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    # winner = earliest lang attaining the max score — identical to the
    # Spark fold (strictly-greater replaces, so first occurrence wins)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = [f"s_{lang} > s_{langs[j]}" for j in range(i)] + [
            f"s_{lang} >= s_{langs[j]}" for j in range(i + 1, len(langs))
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"""
    WITH s AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM documents)
    SELECT doc_id, lang, {case} AS lang_guess FROM s
    """


# ------------------------------------------------------------- B15 dedup

def _portable_lsh_pairs_ctes(
    threshold: float, num_hashes: int = 64, bands: int = 16, shingle_n: int = 2
) -> str:
    """CTE chain ``toks → sh → hm → sig → bk → cand → pairs`` that
    REPLAYS the Spark portable-minhash LSH pipeline in DuckDB: the same
    md5-60-bit base hash, the same Carter-Wegman (a·h+b) % P family
    from the same fixed-seed literals (operators/dedup.py
    cw_hash_coefficients), the same banding, then exact-Jaccard verify
    at ``threshold``. Because every arithmetic step is engine-portable,
    the oracle's candidate set equals Spark's bit-for-bit — parity does
    not depend on banding recall (the text analogue of
    _embedding_lsh_dedup_oracle's plan-literal plane replay).

    The oracle joins bands with a 16-way OR (fine at gate scale); Spark
    uses the count-first bucket expansion — same pair set.
    """
    ors = " OR ".join(f"a.k{b} = b.k{b}" for b in range(bands))
    jac = _JACCARD_SQL
    return _portable_lsh_base_ctes(num_hashes, bands, shingle_n) + f""", cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bk a JOIN bk b ON a.doc_id < b.doc_id AND ({ors})
    ), pairs AS (
      SELECT c.id_a, c.id_b, {jac} AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
      WHERE {jac} >= {threshold}
    )"""


_JACCARD_INTER_SQL = "len(list_filter(x.sh, e -> list_contains(y.sh, e)))"
_JACCARD_SQL = (
    f"CAST({_JACCARD_INTER_SQL} AS DOUBLE)"
    f" / (len(x.sh) + len(y.sh) - {_JACCARD_INTER_SQL})"
)


def _portable_lsh_base_ctes(
    num_hashes: int = 64, bands: int = 16, shingle_n: int = 2
) -> str:
    """The shared ``toks → sh/th → hm → sig → bk`` replay of the
    portable minhash signatures + band keys (see
    _portable_lsh_pairs_ctes). The shingle-hash fold and the band-key
    fold are emitted by the SAME helpers the Spark plan uses
    (operators/dedup.py cw_fold_sql / band_key_sql), so the two engines
    evaluate literally identical arithmetic. ``shingle_n`` must match
    the Spark side's (portable_minhash_signatures) — the fold, the
    shingle strings, and the ≥-n-tokens guard are all emitted for the
    same n (ADVICE r5: previously hardcoded to bigrams)."""
    coeffs = D.cw_hash_coefficients(num_hashes)
    p = D.MINHASH_P
    rpb = num_hashes // bands
    mins = ",\n             ".join(
        f"min(({a} * hm + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    keys = ",\n             ".join(
        D.band_key_sql([f"m{b * rpb + r}" for r in range(rpb)]) + f" AS k{b}"
        for b in range(bands)
    )
    shingle_fold = D.cw_fold_sql(
        ["th[i]"] + [f"th[i+{k}]" for k in range(1, shingle_n)], D.MINHASH_R
    )
    # DuckDB lists are 1-indexed and range() excludes the end, so the
    # last n-shingle starts at len - n + 1 → range(1, len - n + 2)
    rng_end = f"- {shingle_n - 2}" if shingle_n > 2 else ""
    shingle_str = " || ' ' || ".join(
        ["toks[i]"] + [f"toks[i+{k}]" for k in range(1, shingle_n)]
    )
    return f"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) {rng_end}),
                                          i -> {shingle_str})) AS sh
      FROM toks WHERE len(toks) >= {shingle_n}
    ), th AS (
      SELECT doc_id,
             list_transform(toks,
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {p}) AS th
      FROM toks WHERE len(toks) >= {shingle_n}
    ), hm AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(th) {rng_end}),
                                                 i -> {shingle_fold}))) AS hm
      FROM th
    ), sig AS (
      SELECT doc_id,
             {mins}
      FROM hm GROUP BY doc_id
    ), bk AS (
      SELECT doc_id,
             {keys}
      FROM sig
    )"""


def _portable_lsh_capped_pairs_ctes(
    threshold: float, cap: int, num_hashes: int = 64, bands: int = 16, shingle_n: int = 2
) -> str:
    """CTE chain ending in the count-first CAPPED ``pairs`` (and the
    ``cnt`` bucket counts): bucket sizes from a pure count; pairs
    expand only inside buckets with 2 ≤ n ≤ cap. Shared by the capped
    dedup entry and the capped leakage audit."""
    br_arms = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, k{b} AS band_key FROM bk" for b in range(bands)
    )
    jac = _JACCARD_SQL
    return _portable_lsh_base_ctes(num_hashes, bands, shingle_n) + f""", br AS (
      {br_arms}
    ), cnt AS (
      SELECT band_id, band_key, count(*) AS n_members
      FROM br GROUP BY band_id, band_key
    ), ok AS (
      SELECT band_id, band_key FROM cnt
      WHERE n_members BETWEEN 2 AND {cap}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM br a
      JOIN br b ON a.band_id = b.band_id AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
      JOIN ok o ON o.band_id = a.band_id AND o.band_key = a.band_key
    ), pairs AS (
      SELECT c.id_a, c.id_b, {jac} AS jaccard
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b
      WHERE {jac} >= {threshold}
    )"""


def _portable_lsh_capped_oracle(
    threshold: float, cap: int, num_hashes: int = 64, bands: int = 16, shingle_n: int = 2
) -> str:
    """Replay of the count-first capped pipeline: capped pairs plus
    over-cap buckets surfaced as 'hot_bucket' review rows."""
    return _portable_lsh_capped_pairs_ctes(
        threshold, cap, num_hashes, bands, shingle_n
    ) + f"""
    SELECT 'pair' AS kind, id_a, id_b, jaccard,
           NULL::BIGINT AS band_id, NULL::BIGINT AS band_key,
           NULL::BIGINT AS n_members
    FROM pairs
    UNION ALL
    SELECT 'hot_bucket' AS kind, NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE,
           band_id::BIGINT, band_key, n_members
    FROM cnt WHERE n_members > {cap}"""


@query(
    "dedup_exact_documents",
    oracle="""
    SELECT text, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY text
    """,
    doc="B15 exact dedup: one representative per distinct text. Scale: "
    "at 100 TB group on xxhash64(text) so the shuffle key is 8 bytes "
    "(exposed as dedup_exact_hashed below); shown here on the raw text "
    "for oracle comparability.",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.exact_dedup(d, ["text"], "doc_id")


@query(
    "dedup_exact_dropduplicates",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    doc="B15 exact dedup via dropDuplicates (hash agg under the hood).",
)
def dedup_exact_dropduplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@query(
    "dedup_minhash_lsh",
    oracle="WITH " + _portable_lsh_pairs_ctes(threshold=0.8)
    + "\n    SELECT id_a, id_b, jaccard FROM pairs",
    doc="B15 MinHash+LSH near-dup pipeline END-TO-END: shingle→minhash→"
    "band→bucket candidates, then the exact-Jaccard verify stage. The "
    "signature family is the PORTABLE one (md5 base + Carter-Wegman "
    "mod 2³¹−1, operators/dedup.py portable_minhash_signatures), so "
    "the oracle REPLAYS the banded candidate set bit-for-bit and "
    "parity is deterministic on every regenerated corpus — it no "
    "longer rides a banding-recall probability ((1−j⁴)¹⁶ ≈ 2.2e-4 "
    "miss at j = 0.8, the round-4 advisor's fragility finding; the "
    "brute-force-equality claim is now a pytest recall check, not the "
    "gate contract). Scale: the candidate stage's only shuffle carries "
    "(doc_id, 16 band keys); the verify joins ship shingle sets for "
    "candidate-adjacent docs only — the all-pairs scan the oracle's "
    "OR-join does is what this pipeline exists to avoid. Raw "
    "(unrounded) jaccard: int/int division is correctly rounded in "
    "every engine.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # fused candidates→verify off ONE tokenized artifact (r16
    # optimization round, guide §2.3/§6): the split composition
    # tokenized + md5'd the corpus once per stage
    return D.minhash_verified_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=2
    )


@query(
    "dedup_minhash_lsh_capped",
    oracle="WITH " + _portable_lsh_capped_oracle(threshold=0.8, cap=2),
    doc="The 100 TB control loop of the LSH pipeline END-TO-END "
    "(VERDICT r4: the count-first cap machinery deserved a catalog "
    "entry, not just tests): bucket sizes come from a skew-immune "
    "count aggregation; only buckets with 2 ≤ n ≤ cap expand into "
    "candidate pairs (so the per-bucket quadratic work is bounded "
    "BEFORE any membership array exists); over-cap buckets are not "
    "silently dropped — they surface as 'hot_bucket' review rows "
    "(band, key, size) in the same output, the queue a production "
    "corpus routes to template-stripping or per-bucket re-LSH. The "
    "cap (2 at gate scale) is deliberately low so BOTH arms are "
    "non-empty in the gated corpus. Portable signature family → the "
    "oracle replays counts, cap split, pair expansion, and verify "
    "identically. Union schema: pair rows carry (id_a, id_b, "
    "jaccard); hot rows carry (band_id, band_key, n_members).",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cap = 2
    # ONE materialized (id, band_id, band_hash) frame feeds BOTH arms
    # (r16 optimization round, guide §2.4): the pair arm and the
    # hot-bucket review arm each used to re-derive band rows from the
    # raw text — the entire shingle→minhash signature pipeline ran
    # twice per invocation (measured 3.40 → 2.12 s at sf0.1; at corpus
    # scale this halves the entry's corpus scans). Band rows and the
    # verify stage both read the shared tokenized artifact (second
    # r16 pass, guide §2.3/§6): the signature pipeline and the verify
    # re-tokenize each paid their own tokenize+md5 corpus pass.
    tokd = D.tokenized_corpus_artifact(d, "doc_id", "text")
    band_rows = materialize_once(
        D._band_rows_from_sigs(
            D.portable_minhash_signatures_from_hashes(
                tokd, "doc_id", "__th60", num_hashes=64, shingle_n=2
            ),
            "doc_id", 64, 16,
        )
    )
    cands = D.minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
        max_bucket_size=cap, band_rows=band_rows,
    )
    pairs = D.verify_candidates_jaccard_from_tokens(
        tokd, cands, "doc_id", "__toks", threshold=0.8, shingle_n=2
    ).select(
        F.lit("pair").alias("kind"),
        "id_a",
        "id_b",
        "jaccard",
        F.lit(None).cast("long").alias("band_id"),
        F.lit(None).cast("long").alias("band_key"),
        F.lit(None).cast("long").alias("n_members"),
    )
    _, hot = split_hot_keys(band_rows, ["band_id", "band_hash"], cap)
    hot = hot.select(
        F.lit("hot_bucket").alias("kind"),
        F.lit(None).cast("long").alias("id_a"),
        F.lit(None).cast("long").alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("band_id").cast("long"),
        F.col("band_hash").alias("band_key"),
        "n_members",
    )
    return pairs.unionByName(hot)


def _portable_lsh_drain_oracle(
    cap: int, num_hashes: int = 64, bands: int = 16, shingle_n: int = 2
) -> str:
    """Replay of the hot-bucket DRAIN: hot keys from the count
    pre-pass; members grouped by the full-signature two-lane fold
    (band_key_sql over all 64 slots — the identical arithmetic the
    Spark plan evaluates, collisions and all)."""
    br_arms = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, k{b} AS band_key FROM bk" for b in range(bands)
    )
    level1, final = D.full_signature_key_sql("m{i}", num_hashes)
    l1_cols = ",\n             ".join(f"{sql} AS {a}" for a, sql in level1)
    return _portable_lsh_base_ctes(num_hashes, bands, shingle_n) + f""", br AS (
      {br_arms}
    ), cnt AS (
      SELECT band_id, band_key, count(*) AS n_members
      FROM br GROUP BY band_id, band_key
    ), hot AS (
      SELECT band_id, band_key FROM cnt WHERE n_members > {cap}
    ), hot_docs AS (
      SELECT DISTINCT br.doc_id FROM br JOIN hot USING (band_id, band_key)
    ), keyed1 AS (
      SELECT s.doc_id,
             {l1_cols}
      FROM sig s JOIN hot_docs h ON h.doc_id = s.doc_id
    ), keyed AS (
      SELECT doc_id, {final} AS sig_key FROM keyed1
    ), fam AS (
      SELECT sig_key, min(doc_id) AS keep_id, count(*) AS family_size
      FROM keyed GROUP BY sig_key
    )
    SELECT k.doc_id,
           CASE WHEN f.family_size >= 2 THEN 'collapsed'
                ELSE 'deferred' END AS kind,
           CASE WHEN f.family_size >= 2 THEN f.keep_id END AS keep_id,
           CASE WHEN f.family_size >= 2 THEN f.family_size END AS family_size
    FROM keyed k JOIN fam f USING (sig_key)"""


@query(
    "dedup_minhash_lsh_hot_drain",
    oracle="WITH " + _portable_lsh_drain_oracle(cap=2),
    doc="The DRAIN of the capped-LSH review queue — what actually "
    "happens to deferred hot buckets (closing the control loop the "
    "capped entry opens): members of over-cap buckets collapse by "
    "FULL-signature equality (all 64 portable min-hashes, folded to "
    "one 8-byte key), which is exactly the boilerplate-family shape "
    "that made the bucket hot. A plain aggregation — map-side "
    "combine, 8-byte shuffle key, no pair expansion, so the drain "
    "stays LINEAR in hot-member count where the deferred pair join "
    "would be quadratic. Signature-unique members emit as 'deferred' "
    "residue (template-stripping / re-LSH territory), never silently "
    "dropped. Stricter-than-threshold by construction: a collapse "
    "implies 64/64 min-hash agreement, so no doc the uncapped "
    "pipeline keeps is lost. operators/dedup.py drain_hot_buckets; "
    "oracle replays fold, families, and residue bit-for-bit.",
)
def dedup_minhash_lsh_hot_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.drain_hot_buckets(
        d, "doc_id", "text", max_bucket_size=2, num_hashes=64, bands=16,
        shingle_n=2,
    )


@query(
    "dedup_prefix_filter_join",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i+1])) AS sh
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
            FROM documents)
      WHERE len(toks) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
           / (len(a.sh) + len(b.sh)
              - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
          / (len(a.sh) + len(b.sh)
             - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) >= 0.7
    """,
    doc="B15 EXACT set-similarity join via prefix filtering alone "
    "(AllPairs/PPJoin, Xiao et al. WWW 2008): docs' shingle sets "
    "sorted by (global document frequency asc, hash); any J ≥ t pair "
    "must share an element of both ⌊(1−t)·|x|⌋+1 prefixes — recall is "
    "exactly 1 by construction, no banding probability anywhere. The "
    "deterministic counterpart to MinHash-LSH at a looser threshold "
    "(0.7) than the LSH pipeline's 0.8, so this also certifies the "
    "[0.7, 0.8) band the banded pipeline never emits. Scale: "
    "frequency-ascending ordering keeps boilerplate shingles out of "
    "prefixes (join keys are rare tokens); shuffles carry (id, 8-byte "
    "hash) rows only; verify cost ∝ candidates. r6 hardened the "
    "low-entropy-corpus case with two exact pair-level bounds (PPJoin "
    "positional + boundary-suffix): candidates on this synthetic "
    "corpus fell 2.75M → 50k (55×) at sf0.1 with recall still exactly "
    "1 — output (and oracle) unchanged.",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # ONE tokenized artifact feeds the candidate stage's shingle-hash
    # stream AND the verify stage's shingle rebuild (second r16 pass,
    # guide §2.3/§6): the raw-text composition tokenized the corpus
    # once per stage — the verify leg's parquet re-scan + re-tokenize
    # was the entry's last redundant corpus pass.
    tokd = D.tokenized_corpus_artifact(d, "doc_id", "text")
    rows = materialize_once(
        D.shingle_hash_rows_from_tokens(tokd, "doc_id", "__toks", 2)
    )
    cands = D.prefix_filter_candidates(
        d, "doc_id", "text", threshold=0.7, shingle_n=2, rows=rows
    )
    return D.verify_candidates_jaccard_from_tokens(
        tokd, cands, "doc_id", "__toks", threshold=0.7, shingle_n=2
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang, n_chars // 50 AS len_band,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
                 / (len(a.toks) + len(b.toks)
                    - len(list_filter(a.toks, x -> list_contains(b.toks, x)))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.lang = b.lang AND a.len_band = b.len_band
                        AND a.doc_id < b.doc_id
    WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
          / (len(a.toks) + len(b.toks)
             - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) >= 0.5
    """,
    doc="B15 exact unigram-Jaccard near-dup within (lang, length-band) "
    "blocks — the deterministic verify stage of the dedup pipeline. "
    "Scale: block keys bound the quadratic self-join; at 100 TB the "
    "block is the LSH bucket instead.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / 50).cast("long")
    )
    return D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "len_band"], threshold=0.5, shingle_n=1
    )


@query(
    "dedup_simhash",
    # NO ORACLE — written justification (judge contract): the output is
    # pairs at hamming ≤ 3 over 64-bit SimHash signatures built from
    # Spark's xxhash64 token hashes. DuckDB has no xxhash64, so no SQL
    # can reproduce the signatures; and unlike MinHash-LSH there is no
    # engine-neutral verify stage — the hamming predicate IS the
    # operator's semantics (a jaccard re-verify would silently test a
    # different operator). Semantics are pytest-verified instead:
    # banding recall vs brute-force hamming on the full corpus
    # (tests/test_dedup.py) — exact, not probabilistic, because the
    # 4×16-bit pigeonhole guarantee is deterministic.
    oracle=None,
    doc="B15 SimHash near-dup (4×16-bit chunk banding, pigeonhole "
    "guarantee for hamming ≤ 3). All JVM bit-ops; shuffle carries 4 "
    "(chunk, 16-bit) keys per doc.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(d, "doc_id", "text", max_hamming=3)


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                  FROM (SELECT unnest(a.embedding) u, unnest(b.embedding) v) x)
                 / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                          FROM (SELECT unnest(a.embedding) u) x))
                    * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                            FROM (SELECT unnest(b.embedding) v) x))), 6) AS score
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE (SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
           FROM (SELECT unnest(a.embedding) u, unnest(b.embedding) v) x)
          / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                   FROM (SELECT unnest(a.embedding) u) x))
             * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                     FROM (SELECT unnest(b.embedding) v) x))) >= 0.3
    """,
    doc="B15 embedding-cosine near-dup within label blocks. Scale: "
    "blocking bounds the O(n²); for unlabeled corpora the LSH bucket "
    "(similarity.lsh_signature) is the blocker. Dot/norm folds are "
    "sequential doubles → bit-identical across engines.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.pairwise_near_duplicates(e, threshold=0.3, block_col="label")


def _embedding_lsh_dedup_oracle(
    threshold: float, dim: int = 64, planes_per_band: int = 8, n_bands: int = 4
) -> str:
    all_planes = S.hyperplanes(dim, n_bands * planes_per_band, seed=42)
    sig_cols = ",\n           ".join(
        f"{_lsh_sig_sql('e.embedding', all_planes[b * planes_per_band:(b + 1) * planes_per_band])} AS s{b}"
        for b in range(n_bands)
    )
    or_cond = " OR ".join(f"a.s{b} = b.s{b}" for b in range(n_bands))
    return f"""
    WITH sig AS (SELECT e.vec_id,
           {sig_cols}
           FROM embeddings e),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({or_cond})
    )
    SELECT c.id_a, c.id_b,
           round({_cos_sql("x.embedding", "y.embedding")}, 6) AS score
    FROM cand c
    JOIN embeddings x ON x.vec_id = c.id_a
    JOIN embeddings y ON y.vec_id = c.id_b
    WHERE {_cos_sql("x.embedding", "y.embedding")} >= {threshold}
    """


@query(
    "dedup_embedding_lsh",
    oracle=_embedding_lsh_dedup_oracle(threshold=0.3),
    doc="B15 embedding near-dup at corpus scale: banded sign-LSH "
    "blocking (4 bands × 8 sign bits, fixed-seed plan-literal planes) "
    "+ exact-cosine verify on the deduped candidate set. The blocked-"
    "exact twin above goes quadratic per label as the corpus grows "
    "(its label cardinality is fixed — measured 22× wall at 10× rows, "
    "SCALING.md); here expected bucket size is N/2^8 per band, so "
    "pair expansion scales with the signature width instead. The "
    "oracle replays the identical banded-candidate semantics from the "
    "same plane literals.",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.lsh_near_duplicates(e, threshold=0.3, dim=64)


def _embedding_lsh_adaptive_pairs_ctes(
    threshold: float,
    dim: int = 64,
    planes_per_band: int = 16,
    n_bands: int = 4,
    target_bucket: int = 64,
) -> str:
    """CTE chain ``nn → p2 → sig → cand → epairs`` replaying the
    ADAPTIVE-width banded sign-LSH + exact-cosine verify (the embedding
    analogue of _portable_lsh_pairs_ctes) — shared by the pair entry
    and the embedding CC composition."""
    all_planes = S.hyperplanes(dim, n_bands * planes_per_band, seed=42)
    sig_cols = ",\n           ".join(
        f"{_lsh_sig_sql('e.embedding', all_planes[b * planes_per_band:(b + 1) * planes_per_band])} AS s{b}"
        for b in range(n_bands)
    )
    pow2 = S.adaptive_pow2_case_sql("nn.n", target_bucket=target_bucket)
    or_cond = " OR ".join(f"(a.s{b} % p2.p2) = (b.s{b} % p2.p2)" for b in range(n_bands))
    return f"""
    nn AS (SELECT count(*) AS n FROM embeddings),
    p2 AS (SELECT {pow2} AS p2 FROM nn),
    sig AS (SELECT e.vec_id,
           {sig_cols}
           FROM embeddings e),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id CROSS JOIN p2
      WHERE ({or_cond})
    ),
    epairs AS (
      SELECT c.id_a, c.id_b,
             round({_cos_sql("x.embedding", "y.embedding")}, 6) AS score
      FROM cand c
      JOIN embeddings x ON x.vec_id = c.id_a
      JOIN embeddings y ON y.vec_id = c.id_b
      WHERE round({_cos_sql("x.embedding", "y.embedding")}, 6) >= {threshold}
    )"""


def _embedding_lsh_adaptive_oracle(threshold: float) -> str:
    return (
        "WITH "
        + _embedding_lsh_adaptive_pairs_ctes(threshold)
        + "\n    SELECT id_a, id_b, score FROM epairs"
    )


@query(
    "dedup_embedding_lsh_scaled",
    oracle=_embedding_lsh_adaptive_oracle(threshold=0.3),
    doc="B15 embedding near-dup with an ADAPTIVE signature width — the "
    "fix for the fourth fixed-blocker finding (r5's 30× study): the "
    "8-bit form has only 2⁸ buckets per band, so candidates grow "
    "N²/256 — 13.6 s at 10× data, DNF-class (>15 min) at 30×. Here "
    "each band carries 16 sign bits and the bucket key is sig % 2^w "
    "with 2^w derived in-plan from count(*) (integer CASE, 1-row "
    "broadcast — engine-portable, boundary-exact), pinning expected "
    "bucket size at ~64 vectors at ANY corpus size. At gate scale "
    "w = 8, so semantics line up with the classic width; the oracle "
    "replays count → width → mask → verify from the same plane "
    "literals. Measured 37 s at the 30× replica the fixed-width twin "
    "could not finish in 15 minutes (SCALING.md r5); r12 moved the "
    "signature stage to the Arrow matmul+pack kernel (packed values "
    "identical to the SQL sign fold at every scale tried) — 15.8 s at "
    "30×, 16.2 s at 100× (SCALING.md r12).",
)
def dedup_embedding_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.lsh_near_duplicates_adaptive(e, threshold=0.3, dim=64)


@query(
    "dedup_embedding_cc",
    oracle="WITH RECURSIVE "
    + _embedding_lsh_adaptive_pairs_ctes(threshold=0.3)
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM epairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM epairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    """,
    doc="SEMANTIC dedup clustering: the embedding-side analogue of "
    "dedup_connected_components_lsh — adaptive-width sign-LSH pairs "
    "(the scale-safe generator that holds the driver window row) + "
    "exact-cosine verify, closed into duplicate clusters with "
    "large-star/small-star CC. This is the modern semantic-dedup "
    "pipeline (SemDeDup-shaped: cluster by embedding similarity, keep "
    "one representative per cluster) expressed with the same bounded "
    "machinery as the text pipeline: candidate exchange carries "
    "(band, bucket, id) only, verify cost ∝ candidates, star rounds "
    "are O(log² n) id-only joins. The oracle unrolls the identical "
    "banded candidates (plan-literal planes + in-plan width) and a "
    "recursive-CTE min-label closure.",
)
def dedup_embedding_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_duplicates_adaptive(e, threshold=0.3, dim=64)
    return D.connected_components_star(pairs).select(
        F.col("id").alias("vec_id"), "cluster_id"
    )


@query(
    "dedup_embedding_keep_representatives",
    oracle="WITH RECURSIVE "
    + _embedding_lsh_adaptive_pairs_ctes(threshold=0.3)
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM epairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM epairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
      SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT e.vec_id, e.label
    FROM embeddings e LEFT JOIN clusters c ON c.vec_id = e.vec_id
    WHERE c.vec_id IS NULL OR c.cluster_id = e.vec_id
    """,
    doc="The SemDeDup kept-corpus: semantic clusters from "
    "dedup_embedding_cc, keep the min-id representative per cluster "
    "(broadcast anti-join of the non-representative id set — vectors "
    "shuffle zero times end-to-end, the id list is bounded by the "
    "duplicate count). With the text keep-reps capstone this gives "
    "both halves of a production dedup: near-identical TEXT dies "
    "there, near-identical MEANING dies here.",
)
def dedup_embedding_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    pairs = S.lsh_near_duplicates_adaptive(e, threshold=0.3, dim=64)
    clusters = D.connected_components_star(pairs)
    drop = clusters.filter(F.col("cluster_id") != F.col("id")).select("id")
    return (
        t(spark, sf_dir, "embeddings")
        .join(F.broadcast(drop), F.col("vec_id") == F.col("id"), "left_anti")
        .select("vec_id", "label")
    )


# -------------------------------------------------------- B16 similarity

def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    """The search vector (vec_id 0) — a one-row lookup, the 'user input'."""
    row = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select("embedding")
        .head()
    )
    return [float(x) for x in row[0]]


@query(
    "similarity_cosine_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                  FROM (SELECT unnest(e.embedding) u, unnest(q.qv) v) x)
                 / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                          FROM (SELECT unnest(e.embedding) u) x))
                    * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                            FROM (SELECT unnest(q.qv) v) x))), 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id
    LIMIT 10
    """,
    doc="B16 brute-force cosine top-k: the exact ANN baseline. Scale: "
    "query vector ships as a plan literal (no join); one scan + "
    "TakeOrderedAndProject. 100 TB path = lsh variant below.",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.cosine_topk(e, _query_vector(spark, sf_dir), k=10)


@query(
    "similarity_cosine_topk_batch",
    oracle="""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             round((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                    FROM (SELECT unnest(e.embedding) u, unnest(q.qv) v) x)
                   / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                            FROM (SELECT unnest(e.embedding) u) x))
                      * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                              FROM (SELECT unnest(q.qv) v) x))), 6) AS score
      FROM embeddings e, q
    ), ranked AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT vec_id, query_id, score FROM ranked WHERE rnk <= 10
    ORDER BY query_id, score DESC, vec_id
    """,
    doc="B16 BATCHED brute-force cosine top-k (r9): exact top-10 for "
    "FIVE query vectors in ONE pass over the corpus — what a serving "
    "tier does instead of Q sequential scans (the lake probe twin, "
    "topk_batch, measured 7.2× for 16 queries; this is its exact "
    "oracle-checked baseline). The query set broadcasts into the "
    "scan; scoring is the Arrow-batched numpy kernel (parity-gated, "
    "SCALING.md r9); per-query top-k is the SALTED two-phase "
    "selection (domain_cap_salted reused with query_id as the key) — "
    "no per-query window over all N scored rows, per-key merge state "
    "capped at n_salts·k structs, so one hot query set cannot "
    "serialize the rank through one task.",
)
def similarity_cosine_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import vector_kernel as VK

    e = t(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(VK.cosine_pairs(F.col("embedding"), F.col("qvec")), 6).alias("score"),
    )
    top = SA.domain_cap_salted(
        scored, key_col="query_id", quality_col="score", id_col="vec_id", k=10
    )
    return top.orderBy("query_id", F.desc("score"), "vec_id")


@query(
    "similarity_lsh_bucketed",
    oracle=_lsh_bucketed_oracle(n_planes=4, dim=64, k=10),
    doc="B16 LSH-bucketed ANN: random-hyperplane signatures prune the "
    "scan to the query's bucket (~N/2^planes rows). Signatures are "
    "ingest-time computable → usable as a clustering/partition key. "
    "The hyperplanes are fixed-seed plan literals, so the oracle "
    "replicates bucket membership exactly (same planes injected into "
    "the SQL; sign flips would need |dot| < ~1e-13 — checked absent).",
)
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.lsh_bucket_topk(e, _query_vector(spark, sf_dir), k=10, n_planes=4)


@query(
    "similarity_lsh_bucketed_scaled",
    oracle=_lsh_bucketed_adaptive_oracle(max_planes=16, dim=64, k=10),
    doc="B16 LSH-bucketed ANN with an ADAPTIVE probe width — the "
    "serving twin of dedup_embedding_lsh_scaled's fix: the fixed form "
    "probes one of 2^n_planes buckets forever, so per-query scan cost "
    "is N/2^fixed and grows linearly with the corpus. Here rows carry "
    "a 16-bit signature and the bucket key is sig % 2^w with 2^w "
    "derived in-plan from count(*) (integer CASE, 1-row broadcast), "
    "pinning the probed bucket at ~128 vectors at ANY corpus size. "
    "The oracle replays count → width → mask → scan from the same "
    "plane literals and CASE.",
)
def similarity_lsh_bucketed_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.lsh_bucket_topk_adaptive(e, _query_vector(spark, sf_dir), k=10)


# -------------------------------------------------------------- B17 text

@query(
    "text_language_breakdown",
    oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY lang
    """,
    doc="B17 corpus breakdown per language.",
)
def text_language_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


@query(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS INTEGER)
               AS n_distinct_tokens,
           round(CAST(len(replace(text, ' ', '')) AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), x -> x <> '')), 4) AS avg_token_len
    FROM documents
    """,
    doc="B17 per-document token statistics (token counting for context-"
    "length budgeting). Row-local → map-only at any scale.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = D.tokenize(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.length(F.regexp_replace("text", " ", "")).cast("double") / F.size(toks), 4
        ).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_toks,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio
      FROM documents
    )
    SELECT doc_id,
           round(0.4 * least(n_toks / 200.0, 1.0)
                 + 0.3 * least((CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0 END) * 4.0, 1.0)
                 + 0.3 * (1.0 - least(punct_ratio * 4.0, 1.0)), 6) AS quality
    FROM s
    """,
    doc="B17 composite quality heuristic (length/stopword/punct) — the "
    "standard pre-training filter signals, all codegen expressions.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


@query(
    "text_language_id",
    oracle=_language_id_oracle(),
    doc="B17 n-gram language-ID heuristic (Cavnar-Trenkle-style profile "
    "presence scoring, literal profiles → pure map). The profiles are "
    "plan literals, so the oracle is generated from the SAME profile "
    "table — integer scores, argmax-earliest tie-break on both sides.",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TX.language_id(F.col("text")).alias("lang_guess"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
                              x -> CAST(length(x) + ascii(x) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 2147483647) AS fp
    FROM documents
    """,
    doc="B17 polynomial rolling-hash document fingerprint (order-"
    "sensitive, unlike MinHash). Pure fold → codegen map.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------- B18 UDF shapes

@query(
    "udf_pandas_scalar_log1p",
    oracle="""
    SELECT event_id, round(ln(1 + value), 6) AS log_value FROM events
    """,
    doc="B18 scalar pandas_udf (Arrow-vectorized numpy): the sanctioned "
    "slow path. Here only to prove the surface — ln(1+x) would be "
    "built-in in production.",
)
def udf_pandas_scalar_log1p(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return e.select("event_id", F.round(U.log1p_value(F.col("value")), 6).alias("log_value"))


@query(
    "udf_grouped_zscore",
    oracle="""
    WITH g AS (SELECT user_id FROM events GROUP BY user_id HAVING count(*) >= 2)
    SELECT e.user_id, e.event_id,
           round((e.value - avg(e.value) OVER (PARTITION BY e.user_id))
                 / stddev_samp(e.value) OVER (PARTITION BY e.user_id), 6) AS zscore
    FROM events e JOIN g ON g.user_id = e.user_id
    """,
    doc="B18 applyInPandas (grouped-map UDAF shape): per-user z-score. "
    "Scale: one shuffle on user_id; groups are small and numerous — "
    "the right applyInPandas usage pattern.",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return U.zscore_per_group(e, "user_id", "value")


@query(
    "udf_mapinpandas_doc_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS INTEGER)
               AS n_tokens,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INTEGER) AS n_upper,
           CAST(length(text) AS INTEGER) AS recomputed_chars
    FROM documents
    """,
    doc="B18 mapInPandas (UDTF shape): per-partition Arrow batches in/out.",
)
def udf_mapinpandas_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return U.doc_stats_mapinpandas(d)


# ------------------------------------------------------------- multimodal

@query(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id, 'image/fake' AS mime,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height
    FROM documents
    """,
    doc="Multimodal plumbing: binary media column + mapInPandas decode/"
    "feature-extract stage (codec stubbed — deterministic fake; see "
    "operators/multimodal.py). Schema, Arrow batching and partition "
    "behavior are the real, tested surface.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    decoded = M.decode_media(M.attach_media(d))
    return decoded.select("doc_id", "mime", "byte_len", "width", "height")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(f.frame_no AS INTEGER) AS frame_no,
           CAST(f.frame_no * 640 AS INTEGER) AS frame_offset_bytes
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0,
                  CAST(floor(octet_length(encode(text)) / 640.0) AS INTEGER))) AS frame_no) f
    """,
    doc="Multimodal frame-sampling stub: explode-style fan-out of "
    "(doc, frame) pairs — the video-frame extraction shape.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    media = M.attach_media(d)
    frames = media.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.floor(F.length("media") / 640.0).cast("int"))
        ).alias("frame_no"),
    )
    return frames.withColumn("frame_offset_bytes", F.col("frame_no") * 640)


@query(
    "multimodal_resize_fit",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) % 640 AS INTEGER) AS in_w,
             CAST((octet_length(encode(text)) * 7) % 480 AS INTEGER) AS in_h
      FROM documents
    ), fit AS (
      SELECT doc_id, in_w, in_h,
             CASE WHEN greatest(in_w, in_h) = 0 THEN 0
                  WHEN greatest(in_w, in_h) <= 64 THEN in_w
                  ELSE greatest(1, (in_w * 64) // greatest(in_w, in_h)) END AS out_w,
             CASE WHEN greatest(in_w, in_h) = 0 THEN 0
                  WHEN greatest(in_w, in_h) <= 64 THEN in_h
                  ELSE greatest(1, (in_h * 64) // greatest(in_w, in_h)) END AS out_h
      FROM dims
    )
    SELECT doc_id, in_w, in_h,
           CAST(out_w AS INTEGER) AS out_w, CAST(out_h AS INTEGER) AS out_h,
           CAST(out_w * out_h * 3 AS INTEGER) AS out_payload_bytes
    FROM fit
    """,
    doc="Multimodal RESIZE stage (the third plumbing leg beside decode "
    "and frame-sample): mapInPandas nearest-neighbor resize fitting "
    "each image into a 64px box. With use_real_codec=True, PPM/BMP "
    "payloads get a REAL resize re-encoded as P6 "
    "(operators/multimodal.py resize_image_real — pixel-level "
    "correctness pytested on crafted rasters in "
    "tests/test_multimodal_codec.py); the catalog entry rides the "
    "default deterministic path (same gate as every multimodal stage, "
    "so a text payload that parses as netpbm can't diverge from the "
    "oracle), which is the SAME integer fit program. "
    "Scale: zero shuffle, blobs never leave the executor; Arrow batch "
    "size is the memory knob (module docstring).",
)
def multimodal_resize_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return M.resize_media(M.attach_media(d), max_dim=64).select(
        "doc_id", "in_w", "in_h", "out_w", "out_h", "out_payload_bytes"
    )


@query(
    "multimodal_frame_extract",
    oracle="""
    SELECT doc_id, CAST(k.k * 5 AS INTEGER) AS frame_no,
           CAST(0 AS INTEGER) AS frame_w, CAST(0 AS INTEGER) AS frame_h
    FROM documents,
         LATERAL (SELECT unnest(generate_series(0,
                  CAST(octet_length(encode(text)) // (64 * 5) AS INTEGER))) AS k) k
    """,
    doc="Multimodal frame EXTRACTION stage (the real-codec successor "
    "of multimodal_frame_sample's offset arithmetic): sample_frames "
    "explodes every-nth frame into rows INSIDE the Arrow batch — for "
    "uncompressed AVI payloads with actual P6 frame bytes "
    "(operators/multimodal.py extract_frames_real, pixel-exact "
    "pytests); the synthetic corpus media ride the pseudo-frame "
    "fallback whose integer arithmetic the oracle replays. Scale: the "
    "per-doc frame fan-out happens in the map stage, zero shuffle, so "
    "a 2-hour video becomes rows without its bytes ever riding an "
    "exchange.",
)
def multimodal_frame_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return M.sample_frames(M.attach_media(d), every_n=5).select(
        "doc_id", "frame_no", "frame_w", "frame_h"
    )


@query(
    "multimodal_audio_features",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
           CAST(8000 + (octet_length(encode(text)) % 3) * 4000 AS INTEGER) AS sample_rate,
           CAST(1 + (octet_length(encode(text)) % 2) AS INTEGER) AS channels,
           CAST(octet_length(encode(text)) // (2 * (1 + (octet_length(encode(text)) % 2))) AS INTEGER) AS n_frames,
           CAST((octet_length(encode(text)) // (2 * (1 + (octet_length(encode(text)) % 2)))) * 1000
                // (8000 + (octet_length(encode(text)) % 3) * 4000) AS INTEGER) AS duration_ms,
           round((octet_length(encode(text)) % 1000) / 1000.0, 4) AS rms
    FROM documents
    """,
    doc="Multimodal AUDIO plumbing: binary media column + mapInPandas "
    "feature-extract (sample rate / channels / frames / duration / "
    "RMS). Real RIFF/PCM WAV payloads decode for real "
    "(operators/multimodal.py decode_audio_real — dependency-free "
    "chunk-walking parser, pytested on crafted 8- and 16-bit fixtures "
    "incl. metadata chunks); the synthetic corpus media ride the "
    "deterministic integer fallback the oracle replays. Same zero-"
    "shuffle Arrow-batch scale shape as the image stages.",
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return M.audio_features(M.attach_media(d)).select(
        "doc_id", "byte_len", "sample_rate", "channels", "n_frames",
        "duration_ms", "rms",
    )


@query(
    "dedup_exact_hashed",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY md5(text)
    """,
    doc="B15 exact dedup, scale form: group on a digest of the content "
    "so the shuffle key is 32 bytes instead of the whole document — "
    "the 100 TB variant of dedup_exact_documents (md5 here because both "
    "engines implement it identically; xxhash64 in production).",
)
def dedup_exact_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.groupBy(F.md5(F.encode("text", "utf-8")).alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


@query(
    "similarity_ivf_topk",
    oracle=_ivf_oracle(n_centroids=16, n_probe=4, k=10),
    doc="B16 IVF-flat ANN: coarse-quantize to centroids, probe the "
    "nearest n_probe inverted lists. The 100 TB path when signatures "
    "cluster the table — a probe reads ~n_probe/n_centroids of it. "
    "Centroids are a deterministic id-ordered sample, so the oracle "
    "replays the full quantize→assign→probe pipeline in SQL (argmin "
    "assignment tie-broken by centroid_id on both sides).",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, _query_vector(spark, sf_dir), k=10, n_centroids=16, n_probe=4)


@query(
    "similarity_ivf_topk_scaled",
    oracle=_ivf_adaptive_oracle(n_probe=4, k=10),
    doc="B16 IVF-flat ANN with an ADAPTIVE centroid count — the other "
    "fixed-width serving op the r7 scale audit named: n_centroids=16 "
    "means each inverted list holds N/16 vectors, so per-probe scan "
    "grows linearly (measured 2.5→11.6 s at x10 on the kmeans twin). "
    "Centroids are the id % stride == 0 rows with stride = smallest "
    "2^w where (2^w)² ≥ count(*) — i.e. ~√N centroids, the balanced "
    "IVF sizing (ranking ~√N dots; probed lists ~√N vectors) — "
    "no global sort. What runs: an eager count() plus a collect of "
    "the ~√N sampled centroids, then ONE Arrow assign_nearest map "
    "that assigns every vector and scores it against the query — no "
    "N×n_centroids fan-out, no assignment exchange (2.74 s against "
    "63.1 s for the broadcast-join form at x100, SCALING.md r10). The "
    "oracle replays count → stride → sample → assign → probe with "
    "the same integer boundaries and tie-breaks.",
)
def similarity_ivf_topk_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # the Arrow-batched matmul assignment was row-identical to the
    # interpreted fold at x10/x30/x100 and 24× faster at x100 (58.9 →
    # 2.47 s, SCALING.md r9; parity gate in
    # `git show b8116fd:tools/scale_vector_kernel.py`)
    return S.ivf_topk_adaptive(e, _query_vector(spark, sf_dir), k=10, n_probe=4)


@query(
    "text_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY word
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT tf.doc_id, tf.word, tf.tf,
           round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf JOIN df USING (word), n
    WHERE tf.tf >= 2
    """,
    doc="B17 TF-IDF: term frequency × inverse document frequency per "
    "(doc, term). Scale: one explode + two hash aggs; the df table is "
    "vocabulary-sized → broadcast into the final join. No ranking in "
    "the output (rank ties on mathematically-equal tfidf values are "
    "engine-dependent at the last ulp).",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.filter(F.split(F.lower("text"), " "), lambda x: x != "")).alias("word"),
    )
    # tf materialized once, df off the TF frame (r17 optimization
    # round, guide §2.3/§2.4): countDistinct(doc_id) per word over the
    # tokens is EXACTLY the number of (doc_id, word) groups per word,
    # which tf already is — so the document-frequency leg reads the
    # aggregated frame instead of re-tokenizing the corpus. The
    # checkpoint is needed because tf feeds both the df agg and the
    # scoring join and neither plan-time nor AQE runtime exchange
    # reuse fired on the shared agg subtree (checked on the executed
    # plan: 3 scans, 0 ReusedExchange). Tokenize passes 2 → 1; the
    # remaining extra documents scan is the 1-row corpus count,
    # column-pruned.
    tf = materialize_once(
        toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("df"))
    # corpus size stays IN the plan (1-row agg, broadcast cross join) —
    # a driver-side d.count() here would force an extra full scan of
    # documents per invocation at 100 TB
    n = d.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    return (
        tf.join(F.broadcast(df_), "word")
        .crossJoin(F.broadcast(n))
        .filter(F.col("tf") >= 2)
        .select(
            "doc_id",
            "word",
            "tf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6).alias("tfidf"),
        )
    )


@query(
    "udf_grouped_agg_mad",
    oracle="""
    WITH m AS (SELECT user_id, avg(value) AS am FROM events GROUP BY user_id)
    SELECT e.user_id, round(avg(abs(e.value - m.am)), 4) AS mad
    FROM events e JOIN m USING (user_id)
    GROUP BY e.user_id
    """,
    doc="B18 grouped-aggregate pandas UDF (Series → scalar UDAF shape): "
    "per-user mean absolute deviation.",
)
def udf_grouped_agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    return U.mean_abs_deviation(e, "user_id", "value")


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER)
               AS n_bpe_tokens,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER)
               AS n_ws_tokens
    FROM documents
    """,
    doc="B17 token counting, BPE-ish: a GPT-2-style pre-tokenizer regex "
    "(letter runs | digit runs | single punctuation) as the context-"
    "length budget estimator, next to the whitespace count. Row-local "
    "regexp — map-only at any scale.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != "")).alias("n_ws_tokens"),
    )


@query(
    "fuzzy_match_part_names",
    oracle="""
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    doc="B15-adjacent fuzzy matching: near-identical part names by edit "
    "distance within brand blocks. Scale (r4): the join key is "
    "(brand, length-bucket) with the probe side exploded to adjacent "
    "buckets — levenshtein(a,b) >= |len(a)-len(b)|, so edit_dist <= 3 "
    "implies |Δlen| <= 3 implies same-or-adjacent width-4 bucket; the "
    "tightened join provably returns the IDENTICAL pair set (the "
    "oracle keeps the plain brand join) while block size now scales "
    "with name-length diversity instead of being quadratic per brand. "
    "Levenshtein is implemented identically in both engines → "
    "oracle-checkable.",
)
def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_name",
        (F.length("p_name") / 4).cast("int").alias("lb"),
    )
    a = p.select(
        F.col("p_brand").alias("bk"),
        F.col("p_partkey").alias("id_a"),
        F.col("p_name").alias("name_a"),
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("lbk"),
    )
    b = p.select(
        F.col("p_brand").alias("bk"),
        F.col("p_partkey").alias("id_b"),
        F.col("p_name").alias("name_b"),
        F.col("lb").alias("lbk"),
    )
    return (
        a.join(b, ["bk", "lbk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 3)
        .select("id_a", "id_b", "edit_dist")
    )


@query(
    "text_chunk_documents",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id, CAST(s.start AS INTEGER) AS chunk_start,
           array_to_string(toks[s.start:s.start+63], ' ') AS chunk_text,
           CAST(least(64, len(toks) - s.start + 1) AS INTEGER) AS n_chunk_tokens
    FROM d, LATERAL (SELECT unnest(range(1, len(toks) + 1, 48)) AS start) s
    WHERE len(toks) >= 1
    """,
    doc="Training-data chunking: split each document into 64-token "
    "chunks with stride 48 (16-token overlap) — the context-window "
    "prep step before tokenization. Scale: explode fans out ~tokens/48 "
    "chunks per doc, map-only (no shuffle); chunk ids are (doc_id, "
    "start) so downstream dedup/packing can shuffle on them.",
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    with_toks = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 1)
    chunks = with_toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(48))).alias("chunk_start"),
    )
    return chunks.select(
        "doc_id",
        "chunk_start",
        F.concat_ws(" ", F.slice(F.col("toks"), F.col("chunk_start"), 64)).alias("chunk_text"),
        F.least(F.lit(64), F.size("toks") - F.col("chunk_start") + 1).alias("n_chunk_tokens"),
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), chunks AS (
      SELECT doc_id, CAST(s.start AS INTEGER) AS chunk_start,
             CAST(least(64, len(toks) - s.start + 1) AS INTEGER) AS n_tokens,
             doc_id % 8 AS pack_bucket
      FROM d, LATERAL (SELECT unnest(range(1, len(toks) + 1, 48)) AS start) s
      WHERE len(toks) >= 1
    )
    SELECT doc_id, chunk_start, pack_bucket,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY pack_bucket
                 ORDER BY doc_id, chunk_start
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                / 512.0) AS BIGINT) AS sequence_id
    FROM chunks
    """,
    doc="Training-data sequence packing: chunks fill 512-token training "
    "sequences in deterministic order within hash buckets — running "
    "token cumsum over a window, sequence_id = floor(offset/512). "
    "Scale: one shuffle on the pack bucket (cardinality = parallelism "
    "knob); the greedy fill is streaming within each sorted partition. "
    "The bucket count trades packing efficiency for parallelism — the "
    "standard distributed-packing compromise.",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    chunks = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks"), F.lit(48))).alias("chunk_start"),
            F.size("toks").alias("__n_toks"),
        )
        .select(
            "doc_id",
            "chunk_start",
            F.least(F.lit(64), F.col("__n_toks") - F.col("chunk_start") + 1).alias("n_tokens"),
            (F.col("doc_id") % 8).alias("pack_bucket"),
        )
    )
    w = (
        W.partitionBy("pack_bucket")
        .orderBy("doc_id", "chunk_start")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return chunks.select(
        "doc_id",
        "chunk_start",
        "pack_bucket",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512.0).alias("sequence_id"),
    )


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang, n_chars // 50 AS len_band,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.len_band = b.len_band
                          AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    """,
    doc="B15 duplicate clustering: connected components over the exact-"
    "Jaccard match graph (the last dedup stage — pairs say a~b, b~c; "
    "keeping one representative needs the {a,b,c} cluster). Spark side "
    "is iterative min-label propagation to exact fixpoint "
    "(operators/dedup.py connected_components); oracle is the same "
    "graph closed with a recursive CTE. cluster_id = min doc_id in the "
    "component, so representatives are deterministic.",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / 50).cast("long")
    )
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "len_band"], threshold=0.5, shingle_n=1
    )
    return D.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@query(
    "dedup_connected_components_lsh",
    oracle="WITH RECURSIVE " + _portable_lsh_pairs_ctes(threshold=0.8)
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    """,
    doc="B15 duplicate clustering at corpus scale: the match graph comes "
    "from the bounded MinHash-LSH candidate→exact-Jaccard-verify "
    "pipeline (portable signature family — the oracle replays the "
    "candidates bit-for-bit, see dedup_minhash_lsh, so parity is "
    "deterministic on every regenerated corpus), closed with large-"
    "star/small-star alternation. The (lang, len_band)-blocked twin "
    "is oracle-exact but quadratic per block — its blocker has FIXED "
    "cardinality, and at 10× rows it did not finish inside 10 minutes "
    "(SCALING.md r4); this composition is the one that survives the "
    "corpus growing: a hot-bucket cap + review queue is available on "
    "the candidate stage at corpus scale (disabled here — capping "
    "would drop true candidates and change the gated semantics), "
    "verify cost ∝ candidates, and star-CC rounds are O(log² n) joins "
    "on ids only.",
)
def dedup_connected_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # fused candidates→verify off ONE tokenized artifact (r16, §2.3/§6)
    pairs = D.minhash_verified_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=2
    )
    return D.connected_components_star(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


@query(
    "text_repetition_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok
      FROM documents
    ), cnt AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS dup_token_ratio,
           round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
               AS top_token_ratio
    FROM cnt GROUP BY doc_id
    """,
    doc="B17 Gopher-style repetition filters (Rae et al. 2021 §A1.1): "
    "duplicate-token ratio and most-frequent-token share per document — "
    "the standard boilerplate/degenerate-text signals. Scale: map-side "
    "combined (doc, token) agg; token strings shuffle once as distinct "
    "counts, never as raw streams.",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.repetition_stats(d, "doc_id", "text")


@query(
    "text_ngram_char_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents
    ), g AS (
      SELECT doc_id, ns.n,
             unnest(list_transform(range(1, len(tk) - ns.n + 2),
                    k -> array_to_string(tk[k:k+ns.n-1], ' '))) AS gram
      FROM toks CROSS JOIN (VALUES (2),(3),(5),(8)) ns(n)
      WHERE len(tk) >= ns.n
    ), cnt AS (
      SELECT doc_id, n, gram, count(*) AS c,
             length(gram) - (n - 1) AS clen
      FROM g GROUP BY doc_id, n, gram
    )
    SELECT doc_id, n,
           CAST(sum(c) AS BIGINT) AS n_grams,
           round(CAST(max(c * clen) AS DOUBLE)
                 / CAST(sum(c * clen) AS DOUBLE), 6) AS top_gram_char_frac,
           round(CAST(sum(CASE WHEN c >= 2 THEN c * clen ELSE 0 END) AS DOUBLE)
                 / CAST(sum(c * clen) AS DOUBLE), 6) AS dup_gram_char_frac
    FROM cnt GROUP BY doc_id, n
    """,
    doc="B17 Gopher char-mass n-gram repetition (Rae et al. 2021 "
    "§A1.1, the character-level half — text_repetition_stats is the "
    "token-level half): per (doc, n∈{2,3,5,8}) the top single-gram "
    "char-mass fraction and the duplicated-gram char-mass fraction. "
    "Scale: tokens hashed once; all four n values come off ONE "
    "projected (hash,len) array via O(1) element_at; the exploded "
    "stream carries (doc_id, n, 8-byte gram hash, int len) — gram "
    "strings never exist — through two partial-agged aggregations "
    "(the oracle groups the literal gram strings; counts agree).",
)
def text_ngram_char_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.ngram_char_repetition(d, "doc_id", "text")


@query(
    "text_gopher_rules",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / len(tk), 4) AS mean_word_len,
             round(CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
                        AS DOUBLE) / len(tk), 6) AS alpha_word_frac,
             CAST(len(list_filter(tk, t -> lower(t) IN
                  ('the','a','of','to','and','in','is'))) AS BIGINT) AS stop_hits
      FROM s
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
           n_words BETWEEN 50 AND 100000 AS rule_word_count,
           mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_len,
           alpha_word_frac >= 0.8 AS rule_alpha_frac,
           stop_hits >= 2 AS rule_stopwords,
           (n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
             AND alpha_word_frac >= 0.8 AND stop_hits >= 2 AS passes
    FROM m
    """,
    doc="B17 Gopher quality-rule battery (Rae et al. 2021 §A1.1, "
    "thresholds as plan literals): word count, mean word length, "
    "alphabetic-word fraction, stopword hits — measured signals + "
    "per-rule booleans + the conjunction. Pure map, one projection, "
    "zero shuffle at any corpus size.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.gopher_rules(d, "doc_id", "text")


@query(
    "sampling_hash_split",
    oracle="""
    SELECT doc_id,
           CAST(((doc_id % 100) * (2654435761 % 100)) % 100 AS BIGINT) AS bucket,
           CASE WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Deterministic train/val/test split by multiplicative id hash — "
    "stable under re-runs, backfills and repartitioning, unlike "
    "rand()-based splits. Pure map, no shuffle at any scale.",
)
def sampling_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.hash_split(d, "doc_id", train_pct=80, val_pct=10).select(
        "doc_id", "bucket", "split"
    )


@query(
    "sampling_stratified_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY ((doc_id % 997) * (2654435761 % 997)) % 997, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn
    FROM r WHERE rn <= ceil(0.1 * n)
    """,
    doc="Deterministic stratified sampling: exactly ceil(10%·|stratum|) "
    "docs per language, members chosen by hash order (reproducible, "
    "unlike sampleBy's Bernoulli draw). Scale: one shuffle on the "
    "stratum key — the minimum for any per-group quota.",
)
def sampling_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.stratified_sample(d, "lang", "doc_id", 0.1).select("doc_id", "lang", "rn")


@query(
    "embedding_centroids",
    oracle="""
    WITH x AS (
      SELECT label,
             unnest(range(0, len(embedding))) AS dim_idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT label, CAST(dim_idx AS INTEGER) AS dim_idx,
           round(avg(val), 6) AS centroid, count(*) AS n_vectors
    FROM x GROUP BY label, dim_idx
    """,
    doc="B16-adjacent: per-label per-dimension centroid (the k-means "
    "update / class-prototype step) via posexplode + hash agg. Scale: "
    "map-side combine leaves labels×dims partial sums per partition — "
    "shuffle size independent of corpus size. Summands are exact "
    "float32-in-double values with bounded exponent spread → sums are "
    "order-independent, oracle-stable.",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.label_centroids(e, "label", "embedding")


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
      SELECT vec_id, embedding,
             127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim_idx,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * scale) AS INTEGER) AS q
    FROM s
    """,
    doc="B16-adjacent: symmetric int8 vector quantization (4× smaller "
    "index — the difference between in-memory and spilled ANN at "
    "100 TB). Row-local fold for the scale + map — no shuffle; both "
    "engines compute the identical double product before round.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.quantize_int8(e, "vec_id", "embedding")


@query(
    "embedding_kmeans_refine",
    oracle=f"""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assign AS (
      SELECT vec_id, embedding, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, centroid_id) AS rn
      FROM scored
    ),
    x AS (
      SELECT centroid_id,
             unnest(range(0, len(embedding))) AS dim_idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM assign WHERE rn = 1
    )
    SELECT centroid_id, CAST(dim_idx AS INTEGER) AS dim_idx,
           round(avg(val), 6) AS centroid
    FROM x GROUP BY centroid_id, dim_idx
    """,
    doc="B16: one Lloyd iteration refining the IVF coarse quantizer "
    "(the production upgrade ivf_topk's docstring promises): assign "
    "every vector to its nearest seed centroid (argmax cosine, ties → "
    "lowest id), emit per-dimension means. Deterministic seed + fixed "
    "iteration count → the oracle unrolls the same round in SQL. "
    "Scale: centroids broadcast, assignment is a map, the update "
    "shuffle carries k×dim partial sums per partition — corpus-size-"
    "independent. Iterate by calling kmeans_refine(n_iters=N).",
)
def embedding_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    # per-iteration assignment via the batched matmul kernel — row-
    # identical at x10/x30/x100, 37× at x100 (38.9 → 1.05 s, SCALING.md r9)
    refined = S.kmeans_refine(e, n_centroids=16, n_iters=1)
    return refined.select(
        "centroid_id", "dim_idx", F.round(F.col("centroid"), 6).alias("centroid")
    )


@query(
    "udtf_json_key_values",
    oracle="""
    SELECT event_id, 'k' AS key,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS value
    FROM events
    """,
    doc="B18 Python UDTF surface: a table function expanding each "
    "event's JSON payload into (key, value) rows via SQL LATERAL "
    "correlation — the schema-on-read shape for payloads whose keys "
    "aren't known at plan time (from_json needs a fixed schema). The "
    "synthetic props carry exactly one key, so the flat-SQL oracle "
    "states the same expansion.",
)
def udtf_json_key_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    U.register_json_kv_udtf(spark)
    return spark.sql(
        "SELECT e.event_id, j.key, j.value FROM events e, LATERAL json_kv(e.props) j"
    )


@query(
    "json_variant_projection",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS missing
    FROM events
    """,
    doc="B12 with Spark 4 VARIANT: parse_json once into the binary "
    "variant encoding, then typed variant_get extraction — at scale "
    "this parses each JSON document once instead of per-path "
    "re-parsing (get_json_object), the semi-structured analog of "
    "columnar shredding. try_variant_get returns NULL for absent "
    "paths, matching SQL json_extract semantics.",
)
def json_variant_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing"),
    )


@query(
    "dedup_keep_representatives",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang, n_chars // 50 AS len_band,
             list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.lang = b.lang AND a.len_band = b.len_band
                          AND a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x))) AS DOUBLE)
            / (len(a.toks) + len(b.toks)
               - len(list_filter(a.toks, x -> list_contains(b.toks, x)))) >= 0.5
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
      SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    doc="The dedup pipeline capstone — its actual OUTPUT: the kept "
    "corpus. pairs (exact Jaccard in blocks) → connected components → "
    "drop every cluster member except the min-id representative; "
    "singletons (no near-dup) pass through via the anti-join side. At "
    "100 TB the pair stage is MinHash-LSH + verify, and the final join "
    "is a broadcast of the (small) non-representative id set against "
    "the corpus scan — documents shuffle zero times end-to-end.",
)
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "len_band", F.floor(F.col("n_chars") / 50).cast("long")
    )
    pairs = D.ngram_jaccard_pairs(
        d, "doc_id", "text", ["lang", "len_band"], threshold=0.5, shingle_n=1
    )
    clusters = D.connected_components(pairs)
    drop = clusters.filter(F.col("cluster_id") != F.col("id")).select("id")
    return (
        t(spark, sf_dir, "documents")
        .join(F.broadcast(drop), F.col("doc_id") == F.col("id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "dedup_keep_representatives_lsh",
    oracle="WITH RECURSIVE " + _portable_lsh_pairs_ctes(threshold=0.8)
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ), clusters AS (
      SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    """,
    doc="The kept-corpus capstone in its 100 TB form — the composition "
    "the blocked-exact twin's docstring promises: MinHash-LSH ∪ "
    "prefix-filter candidates → exact-Jaccard verify → star-CC → "
    "broadcast anti-join of the non-representative id set. Every stage "
    "bounded (hot-bucket cap available on the candidate stage at "
    "corpus scale — disabled here to keep the gated semantics stable — "
    "candidate-proportional verify, id-only star rounds); documents "
    "shuffle zero times end-to-end. Parity is DETERMINISTIC: the "
    "portable signature family lets the oracle replay the banded "
    "candidate set bit-for-bit (see dedup_minhash_lsh), not ride a "
    "banding-recall probability.",
)
def dedup_keep_representatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # fused candidates→verify off ONE tokenized artifact (r16, §2.3/§6)
    pairs = D.minhash_verified_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=2
    )
    clusters = D.connected_components_star(pairs)
    drop = clusters.filter(F.col("cluster_id") != F.col("id")).select("id")
    return (
        t(spark, sf_dir, "documents")
        .join(F.broadcast(drop), F.col("doc_id") == F.col("id"), "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "text_contamination_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, ((doc_id % 100) * (2654435761 % 100)) % 100 AS bucket,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS ng
      FROM toks WHERE len(toks) >= 4
    ), bench AS (
      SELECT DISTINCT unnest(ng) AS g FROM sh WHERE bucket < 5
    ), expl AS (
      SELECT doc_id, unnest(ng) AS g FROM sh WHERE bucket >= 5
    ), scored AS (
      SELECT e.doc_id, count(b.g) AS hits, count(*) AS total_ngrams
      FROM expl e LEFT JOIN bench b ON e.g = b.g
      GROUP BY e.doc_id
    )
    SELECT doc_id, hits, total_ngrams,
           round(CAST(hits AS DOUBLE) / total_ngrams, 6) AS contamination
    FROM scored WHERE hits > 0
    """,
    doc="Benchmark decontamination (north star): fraction of each corpus "
    "doc's distinct word 4-grams that appear anywhere in the held-out "
    "benchmark split (hash bucket < 5% of docs) — the eval-leakage "
    "check every pre-training pipeline runs (GPT-3 appendix-C style "
    "n-gram overlap). Scale: the benchmark n-gram set is broadcast "
    "(eval suites are small by construction); corpus docs explode to "
    "(doc_id, gram) and join map-side — raw documents never shuffle; "
    "the one shuffle is the per-doc hit-count partial agg. Same-int "
    "division on both engines → stable rounding.",
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "bucket", SA.hash_bucket(F.col("doc_id"))
    )
    bench = d.filter(F.col("bucket") < 5)
    corpus = d.filter(F.col("bucket") >= 5)
    scored = TX.benchmark_contamination(corpus, bench, "doc_id", "text", n=4)
    return scored.filter(F.col("hits") > 0)


@query(
    "text_pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com, call '
                  || '555-123-4567 or ping 10.0.0.' || (doc_id % 256) AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(t, '\\d{3}-\\d{3}-\\d{4}')) AS n_phone,
           len(regexp_extract_all(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\d{3}-\\d{3}-\\d{4}', '[PHONE]', 'g'),
             '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '[IPV4]', 'g') AS redacted
    FROM aug
    """,
    doc="PII scrubbing (north star): count and redact emails / phone "
    "numbers / IPv4s with placeholder tokens. The synthetic corpus "
    "carries no PII, so a deterministic PII suffix derived from doc_id "
    "is appended first ON BOTH SIDES — the redaction path is exercised "
    "with nonzero counts and exact string parity. Patterns stay in the "
    "regex subset Java (Spark) and RE2 (DuckDB) agree on. Scale: pure "
    "per-row codegen maps — one scan, zero shuffles, text column only. "
    "Email redaction precedes IP counting so host parts never "
    "half-match.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com, call 555-123-4567 or ping 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("t"),
    )
    email_pat = TX.PII_PATTERNS[0][1]
    after_email = F.regexp_replace(F.col("t"), email_pat, "[EMAIL]")
    counts = TX.pii_counts(F.col("t"))
    return aug.select(
        "doc_id",
        counts[0],
        counts[1],
        F.size(F.regexp_extract_all(after_email, F.lit(TX.PII_PATTERNS[2][1]), F.lit(0))).alias(
            "n_ipv4"
        ),
        TX.redact_pii(F.col("t")).alias("redacted"),
    )


@query(
    "dedup_incremental_batch",
    oracle="""
    WITH b AS (
      SELECT doc_id, text, lang, n_chars,
             ((doc_id % 100) * (2654435761 % 100)) % 100 AS bucket, md5(text) AS digest
      FROM documents
    ), fresh AS (
      SELECT * FROM b WHERE bucket >= 80
        AND digest NOT IN (SELECT digest FROM b WHERE bucket < 80)
    ), keep AS (
      SELECT digest, min(doc_id) AS doc_id FROM fresh GROUP BY digest
    )
    SELECT f.doc_id, f.lang, f.n_chars
    FROM fresh f JOIN keep k ON f.digest = k.digest AND f.doc_id = k.doc_id
    """,
    doc="Incremental dedup (north star): dedupe 'today's batch' (hash "
    "bucket ≥ 80) against the historical lake (bucket < 80) on an md5 "
    "content digest, then keep the min-id first occurrence within the "
    "batch. Scale: both anti-join arms carry (id, 32-hex digest) — "
    "documents never shuffle; with a digest-bucketed historical table "
    "the anti-join is exchange-free. md5 is identical across engines, "
    "so the oracle checks the digest path end-to-end.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "bucket", SA.hash_bucket(F.col("doc_id"))
    )
    hist = d.filter(F.col("bucket") < 80)
    new_batch = d.filter(F.col("bucket") >= 80)
    return D.incremental_dedup(new_batch, hist, "doc_id", "text").select(
        "doc_id", "lang", "n_chars"
    )


@query(
    "sampling_mixture_rebalance",
    oracle="""
    WITH q AS (
      SELECT ceil(min(n) * 0.5) AS quota
      FROM (SELECT count(*) AS n FROM documents GROUP BY lang)
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY ((doc_id % 997) * (2654435761 % 997)) % 997, doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, lang, rn FROM r, q WHERE rn <= q.quota
    """,
    doc="Mixture rebalancing (north star): cap every language at "
    "ceil(0.5 · smallest-language-count) so no stratum dominates the "
    "training mix; members picked by deterministic hash rank, so "
    "re-runs/backfills keep identical corpora. Scale: one window "
    "shuffle on the stratum key (the minimum any per-group quota "
    "needs) + a 1-row broadcast quota that stays IN the plan — no "
    "driver-side collect.",
)
def sampling_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.mixture_rebalance(d, "lang", "doc_id", share=0.5).select(
        "doc_id", "lang", "rn"
    )


@query(
    "dedup_simhash_portable",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
      FROM documents
    ), h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ), bits AS (
      SELECT doc_id, r.i, sum((h >> r.i) & 1) AS ones, count(*) AS n
      FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS i) r
      GROUP BY doc_id, r.i
    ), sig AS (
      SELECT doc_id,
             sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << i) ELSE 0 END) AS sh
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """,
    doc="B15 SimHash with a fully oracle-checkable hash family: tokens "
    "hashed with the engine-portable 60-bit md5 prefix "
    "(conv(substr(md5,1,15),16,10) == DuckDB's ('0x'||...)::BIGINT, "
    "verified identical), signature = per-bit majority, 4×15-bit "
    "pigeonhole banding, bit_count(xor) verify. Unlike MinHash-LSH "
    "recall arguments, pigeonhole recall at hamming ≤ 3 is EXACTLY 1, "
    "so the banded Spark output equals the oracle's brute-force "
    "all-pairs scan deterministically. The xxhash64 variant "
    "(dedup_simhash) remains the throughput path — md5 is ~2× slower "
    "— and this twin is the semantic proof the driver can hash-check. "
    "Scale: identical plan shape to dedup_simhash (4 chunk rows per "
    "doc, one partial-agg shuffle, map-side verify).",
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(
        d, "doc_id", "text", max_hamming=3, bits=60,
        token_hash_sql=D.PORTABLE_TOKEN_HASH,
    )


@query(
    "timeseries_topk_similar",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM daily
    ), grid AS (
      SELECT u.user_id, g.day
      FROM (SELECT DISTINCT user_id FROM daily) u,
           (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) g
    ), series AS (
      SELECT g.user_id, list(coalesce(d.v, 0.0) ORDER BY g.day) AS vec
      FROM grid g LEFT JOIN daily d
        ON d.user_id = g.user_id AND d.day = g.day
      GROUP BY g.user_id
    )
    SELECT a.user_id AS id_a, b.user_id AS id_b,
           round({_cos_sql('a.vec', 'b.vec')}, 6) AS score
    FROM series a JOIN series b
      ON a.user_id % 8 = b.user_id % 8 AND a.user_id < b.user_id
    WHERE {_norm_sql('a.vec')} > 0 AND {_norm_sql('b.vec')} > 0
    ORDER BY score DESC, id_a, id_b LIMIT 20
    """,
    doc="Distributed time-series similarity search (EDBT'19 streaming "
    "TS similarity / REPOSE ICDE'21 local-pruning style): per-user "
    "daily activity vectors on the dense day grid (gap days = 0), "
    "cosine-scored within hash blocks, global top-k most-similar "
    "pairs. Scale: series vectors are (user, ~30 doubles) — corpus-"
    "size-independent per user; the block key bounds the quadratic "
    "pair stage exactly like REPOSE's local reference tries, and the "
    "global top-k is TakeOrderedAndProject (per-partition heaps, no "
    "full sort). Deterministic: rounded scores tie-broken by ids.",
)
def timeseries_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts_ns div 1000) div 86400000000").alias("day"),
        "value",
    )
    daily = e.groupBy("user_id", "day").agg(F.round(F.sum("value"), 2).alias("v"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    series = (
        grid.join(daily, ["user_id", "day"], "left")
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("day", F.coalesce("v", F.lit(0.0)).alias("v"))
                )
            ).alias("pairs")
        )
        .select("user_id", F.expr("transform(pairs, p -> p.v)").alias("vec"))
    )
    a = series.select(
        F.col("user_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        (F.col("user_id") % 8).alias("blk"),
    )
    b = series.select(
        F.col("user_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        (F.col("user_id") % 8).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((S.norm(F.col("vec_a")) > 0) & (S.norm(F.col("vec_b")) > 0))
        .select(
            "id_a",
            "id_b",
            F.round(S.cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "id_a", "id_b")
        .limit(20)
    )


@query(
    "timeseries_topk_similar_scaled",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             round(sum(value), 2) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(day) AS d0, max(day) AS d1 FROM daily
    ), kk AS (
      SELECT greatest(8, CAST(ceil(count(DISTINCT user_id) / 64.0) AS BIGINT)) AS k
      FROM daily
    ), grid AS (
      SELECT u.user_id, g.day
      FROM (SELECT DISTINCT user_id FROM daily) u,
           (SELECT unnest(generate_series(d0, d1)) AS day FROM bounds) g
    ), series AS (
      SELECT g.user_id, list(coalesce(d.v, 0.0) ORDER BY g.day) AS vec
      FROM grid g LEFT JOIN daily d
        ON d.user_id = g.user_id AND d.day = g.day
      GROUP BY g.user_id
    )
    SELECT a.user_id AS id_a, b.user_id AS id_b,
           round({_cos_sql('a.vec', 'b.vec')}, 6) AS score
    FROM series a JOIN series b
      ON a.user_id % (SELECT k FROM kk) = b.user_id % (SELECT k FROM kk)
     AND a.user_id < b.user_id
    WHERE {_norm_sql('a.vec')} > 0 AND {_norm_sql('b.vec')} > 0
    ORDER BY score DESC, id_a, id_b LIMIT 20
    """,
    doc="timeseries_topk_similar with an ADAPTIVE block count: "
    "K = max(8, ceil(n_users/64)) computed in-plan (1-row broadcast on "
    "Spark, scalar subquery in the oracle), so expected block size "
    "stays ~64 users and the pair stage is ~32·N — linear — instead "
    "of quadratic-per-block with a fixed K (the fixed-K twin measured "
    "11× wall at 10× rows, SCALING.md r4; same failure class as the "
    "fixed-label embedding blocker). Same hash-blocked candidate "
    "semantics, deterministically replayed at any scale.",
)
def timeseries_topk_similar_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("(ts_ns div 1000) div 86400000000").alias("day"),
        "value",
    )
    daily = e.groupBy("user_id", "day").agg(F.round(F.sum("value"), 2).alias("v"))
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    kk = (
        daily.select("user_id")
        .distinct()
        .agg(
            F.greatest(
                F.lit(8).cast("long"),
                F.ceil(F.count(F.lit(1)) / F.lit(64.0)).cast("long"),
            ).alias("k")
        )
    )
    grid = (
        daily.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    series = (
        grid.join(daily, ["user_id", "day"], "left")
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("day", F.coalesce("v", F.lit(0.0)).alias("v"))
                )
            ).alias("pairs")
        )
        .select("user_id", F.expr("transform(pairs, p -> p.v)").alias("vec"))
        .crossJoin(F.broadcast(kk))
    )
    a = series.select(
        F.col("user_id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        (F.col("user_id") % F.col("k")).alias("blk"),
    )
    b = series.select(
        F.col("user_id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        (F.col("user_id") % F.col("k")).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter((S.norm(F.col("vec_a")) > 0) & (S.norm(F.col("vec_b")) > 0))
        .select(
            "id_a",
            "id_b",
            F.round(S.cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "id_a", "id_b")
        .limit(20)
    )


@query(
    "pipeline_training_corpus",
    oracle="""
    WITH b AS (
      SELECT *, ((doc_id % 100) * (2654435761 % 100)) % 100 AS bucket FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE) AS n_toks,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE) AS n_stop,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n]', '', 'g')) AS DOUBLE)
                 / length(text) AS punct_ratio
      FROM b WHERE bucket >= 5
    ), q AS (
      SELECT b.* FROM b JOIN s USING (doc_id)
      WHERE b.bucket >= 5
        AND round(0.4 * least(s.n_toks / 200.0, 1.0)
              + 0.3 * least((CASE WHEN s.n_toks > 0 THEN s.n_stop / s.n_toks ELSE 0 END) * 4.0, 1.0)
              + 0.3 * (1.0 - least(s.punct_ratio * 4.0, 1.0)), 6) >= 0.45
    ), k AS (
      SELECT md5(text) AS dg, min(doc_id) AS doc_id FROM q GROUP BY 1
    ), d AS (
      SELECT q.* FROM q JOIN k ON md5(q.text) = k.dg AND q.doc_id = k.doc_id
    ), toks AS (
      SELECT doc_id, bucket,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM b
    ), sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS ng
      FROM toks WHERE len(toks) >= 4
    ), bench AS (
      SELECT DISTINCT unnest(ng) AS g FROM sh WHERE bucket < 5
    ), expl AS (
      SELECT e.doc_id, unnest(e.ng) AS g
      FROM sh e JOIN d ON d.doc_id = e.doc_id
    ), cont AS (
      SELECT e.doc_id, count(bg.g) AS hits, count(*) AS total
      FROM expl e LEFT JOIN bench bg ON e.g = bg.g
      GROUP BY e.doc_id
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM d LEFT JOIN cont ON cont.doc_id = d.doc_id
    WHERE cont.doc_id IS NULL OR CAST(cont.hits AS DOUBLE) / cont.total < 0.3
    """,
    doc="The training-data pipeline CAPSTONE — the composed kept corpus: "
    "quality filter (composite heuristic ≥ 0.45) → exact dedup (md5 "
    "digest, min-id representative) → benchmark decontamination "
    "(4-gram overlap < 0.3 vs the held-out bucket<5 split) in ONE "
    "oracle-checked query, proving the operators compose. Scale: each "
    "stage keeps its own scale shape — quality is a pure map, dedup "
    "shuffles (id, digest), contamination broadcasts the benchmark "
    "gram set; documents never ride a shuffle end-to-end. Short docs "
    "(< 4 tokens, no shingles) pass decontamination by definition on "
    "both sides.",
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d0 = t(spark, sf_dir, "documents").withColumn(
        "bucket", SA.hash_bucket(F.col("doc_id"))
    )
    bench = d0.filter(F.col("bucket") < 5)
    corpus = d0.filter(F.col("bucket") >= 5)
    q = corpus.filter(TX.quality_score(F.col("text")) >= 0.45)
    keep = q.groupBy(F.md5("text").alias("__dg")).agg(F.min("doc_id").alias("doc_id"))
    d = q.withColumn("__dg", F.md5("text")).join(keep, ["__dg", "doc_id"], "semi")
    # d feeds BOTH the contamination branch and the final join —
    # materialize it once (same discipline as verify_candidates_jaccard)
    # or the quality-score scan + dedup shuffle execute twice. r6 A/B
    # (git show 094fce9:tools/ab_capstone.py, sf0.1, 5 interleaved runs/mode): the
    # executed no-materialization plan has NO ReusedExchange over the
    # shared subtree, and measured localCheckpoint 2.38 s / persist_disk
    # 2.58 s / none 2.80 s (min) — materializing saves ~15% of capstone
    # wall, confirming the r5 commit's claim (the r5 bench halving was
    # host noise).
    d = materialize_once(d)
    cont = TX.benchmark_contamination(d, bench, "doc_id", "text", n=4)
    return (
        d.join(F.broadcast(cont), "doc_id", "left")
        .filter(
            F.col("contamination").isNull() | (F.col("hits") / F.col("total_ngrams") < 0.3)
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "graph_pagerank_dedup",
    oracle="WITH " + _portable_lsh_pairs_ctes(threshold=0.8)
    + """, edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), nn AS (
      SELECT count(*) AS n FROM nodes
    ), deg AS (
      SELECT src, count(*) AS d FROM edges GROUP BY src
    ), r0 AS (
      SELECT id, 1.0 / (SELECT n FROM nn) AS r FROM nodes
    ), r1 AS (
      SELECT e.dst AS id,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r0.r / deg.d) AS r
      FROM edges e JOIN r0 ON r0.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ), r2 AS (
      SELECT e.dst AS id,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r1.r / deg.d) AS r
      FROM edges e JOIN r1 ON r1.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ), r3 AS (
      SELECT e.dst AS id,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(r2.r / deg.d) AS r
      FROM edges e JOIN r2 ON r2.id = e.src JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    )
    SELECT id AS doc_id, round(r, 8) AS pagerank FROM r3
    """,
    doc="Iterative numeric graph fixpoint beyond connected components: "
    "3 PageRank iterations (d=0.85) over the near-dup graph — ranks "
    "the most central document of each duplicate cluster, the "
    "authority-based alternative to min-id representatives. Fixed "
    "iteration count → the oracle unrolls the same three rounds as "
    "CTEs. Edges come from the bounded MinHash-LSH candidate→verify "
    "pipeline (portable signature family — deterministic oracle replay "
    "as in dedup_minhash_lsh; r4 replaced the original (lang, "
    "len_band)-blocked unigram pair source, whose fixed-cardinality "
    "blocker measured 25× wall at 10× rows — SCALING.md). The edge "
    "list is "
    "localCheckpoint'ed once — without it every plan arm would re-run "
    "pair generation — then each round is one id-keyed shuffle join + "
    "partial-agg sum; node count and degrees stay in-plan (1-row "
    "broadcast). Undirected dedup graphs have no dangling nodes, so "
    "the classic sink correction is unnecessary.",
)
def graph_pagerank_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # fused candidates→verify off ONE tokenized artifact (r16, §2.3/§6)
    pairs = materialize_once(
        D.minhash_verified_pairs(
            d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16,
            shingle_n=2,
        ).select("id_a", "id_b")
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    nodes = edges.select(F.col("src").alias("id")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    e2 = edges.join(deg, "src")
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "id", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        r = (
            e2.join(r.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("d")).alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                F.col("dst").alias("id"),
                (F.lit(0.15) / F.col("n") + F.lit(0.85) * F.col("s")).alias("r"),
            )
        )
    return r.select(F.col("id").alias("doc_id"), F.round("r", 8).alias("pagerank"))


@query(
    "sampling_temperature_mix",
    oracle="""
    WITH c AS (
      SELECT lang, count(*) AS ns FROM documents GROUP BY lang
    ), tot AS (
      SELECT ceil(sum(ns) * 0.5) AS t, sum(sqrt(ns)) AS z FROM c
    ), q AS (
      SELECT c.lang, least(c.ns, ceil(tot.t * sqrt(c.ns) / tot.z)) AS quota
      FROM c, tot
    ), r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY ((doc_id % 997) * (2654435761 % 997)) % 997, doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.rn
    FROM r JOIN q ON q.lang = r.lang
    WHERE r.rn <= q.quota
    """,
    doc="Temperature-based mixture sampling (α = 0.5, the multilingual "
    "pre-training standard): per-language quotas ∝ √(language size), "
    "upweighting low-resource languages vs proportional sampling; "
    "members by deterministic hash rank. α fixed at 0.5 because √x is "
    "correctly rounded on every engine while pow(x, α) is not — the "
    "quota arithmetic is bit-identical to the oracle. Scale: counts "
    "partial-agg, T and Σ√n ride a 1-row broadcast, one window per "
    "stratum — no driver-side collect anywhere.",
)
def sampling_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.temperature_mix(d, "lang", "doc_id", target_share=0.5).select(
        "doc_id", "lang", "rn"
    )


@query(
    "text_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS gram
      FROM toks WHERE len(toks) >= 4
    )
    SELECT gram, count(*) AS n_docs
    FROM sh GROUP BY gram HAVING count(*) >= 3
    """,
    doc="Boilerplate detector: word 4-grams whose document frequency "
    "crosses a threshold — cookie banners, license headers, templated "
    "chrome. This is the upstream producer for the LSH hot-bucket "
    "strip stage (operators/bucketing.py split_hot_keys): stripping "
    "high-DF grams before shingling is what keeps near-dup bucket "
    "sizes bounded at corpus scale. Scale: one explode + one "
    "partial-agg'd count keyed by gram — each (doc, gram) pair "
    "shuffles once; the HAVING threshold prunes the long unique tail "
    "at the reducer.",
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import parallelize_narrow_input
    from ..operators.dedup import word_shingles

    d = parallelize_narrow_input(
        t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    grams = d.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 4)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
    )


@query(
    "similarity_ivf_kmeans_topk",
    oracle=f"""
    WITH c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS centroid_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ), scored0 AS (
      SELECT e.vec_id, e.embedding, c.centroid_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c0 c
    ), assign0 AS (
      SELECT vec_id, embedding, centroid_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, centroid_id) AS rn
      FROM scored0
    ), means AS (
      SELECT centroid_id,
             unnest(range(0, len(embedding))) AS dim_idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM assign0 WHERE rn = 1
    ), refined AS (
      SELECT centroid_id,
             list(round(avg_val, 6) ORDER BY dim_idx) AS cvec
      FROM (SELECT centroid_id, dim_idx, avg(val) AS avg_val
            FROM means GROUP BY centroid_id, dim_idx)
      GROUP BY centroid_id
    ), q AS (
      SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
    ), probe AS (
      SELECT r.centroid_id
      FROM refined r, q
      ORDER BY {_cos_sql("r.cvec", "q.qvec")} DESC, r.centroid_id
      LIMIT 4
    ), assign1 AS (
      SELECT e.vec_id, e.embedding, r.centroid_id,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY {_cos_sql("e.embedding", "r.cvec")} DESC, r.centroid_id) AS rn
      FROM embeddings e, refined r
    )
    SELECT a.vec_id,
           round({_cos_sql("a.embedding", "q.qvec")}, 6) AS score
    FROM assign1 a JOIN probe p ON p.centroid_id = a.centroid_id, q
    WHERE a.rn = 1
    ORDER BY score DESC, a.vec_id
    LIMIT 10
    """,
    doc="IVF-flat ANN over the k-means-REFINED coarse quantizer — "
    "closing ivf_topk's documented production TODO end-to-end: seed "
    "(first 16 by id) → one Lloyd iteration (argmax-cosine assign, "
    "per-dim means rounded at 6 as the cross-engine determinism "
    "barrier) → re-assign the corpus to refined centroids → probe the "
    "4 cells nearest the query → exact top-10 inside the probed "
    "cells. Everything stays IN the plan: the query vector is a 1-row "
    "broadcast (vec_id 0), the probe set a 4-row broadcast — no "
    "driver-side collect anywhere (improves on ivf_topk's documented "
    "constant-size lookup). Scale: centroids/probe sets are O(k·dim) "
    "broadcasts; assignment is a map; at ingest the refined "
    "centroid_id becomes the partition key so a probe reads "
    "~n_probe/k of the data.",
)
def similarity_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    # assignment kernel A/B: SCALING.md r9 (parity-gated, measured with
    # `git show b8116fd:tools/scale_vector_kernel.py`)
    cents = S.kmeans_centroid_vectors(e, n_centroids=16, n_iters=1)
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "centroid_id",
            S.cosine(F.col("centroid_vec"), F.col("qvec")).alias("cs"),
        )
        .orderBy(F.desc("cs"), "centroid_id")
        .limit(4)
        .select("centroid_id")
    )
    assigned = (
        e.join(F.broadcast(cents))
        .withColumn("s", S.cosine(F.col("embedding"), F.col("centroid_vec")))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.desc("s"), F.col("centroid_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "centroid_id")
    )
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(S.cosine(F.col("embedding"), F.col("qvec")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------- B16 PQ / ADC (r10)

def _pq_books():
    from ..operators import pq as PQ

    return PQ.pq_codebooks_lcg(dim=64, m=8, k=16, seed=99)


def _pq_books16():
    from ..operators import pq as PQ

    return PQ.pq_codebooks_lcg(dim=64, m=16, k=16, seed=99)


_OPQ_ROT_CACHE: list | None = None


def _opq_rot():
    """Fixed-seed orthonormal rotation literals (built once — the pure-
    Python Gram-Schmidt is ~50 ms and both the oracle string and the
    Spark fn need the same object)."""
    global _OPQ_ROT_CACHE
    if _OPQ_ROT_CACHE is None:
        from ..operators import pq as PQ

        _OPQ_ROT_CACHE = PQ.opq_rotation_lcg(dim=64, seed=77)
    return _OPQ_ROT_CACHE


def _opq_adc_oracle(topk: int = 10, books=None) -> str:
    """OPQ ADC oracle: rotate corpus AND query in SQL with the identical
    grouped left-assoc literal inner products ``rot_sql`` emits, then
    replay the unchanged encode/LUT/rank pipeline over the rotated
    components."""
    from ..operators import pq as PQ

    R = _opq_rot()
    books = books or _pq_books()
    m, k = len(books), len(books[0])
    d8 = len(books[0][0])
    dim = len(R)
    words = PQ.pq_word_cols(m)

    def ridx(i: int) -> str:
        return f"__r{i}"

    rot_corpus = ", ".join(
        f"{PQ.rot_sql(PQ._duck_idx('e.embedding'), R[i])} AS __r{i + 1}"
        for i in range(dim)
    )
    rot_query = ", ".join(
        f"{PQ.rot_sql(PQ._duck_idx('q.qv'), R[i])} AS __r{i + 1}"
        for i in range(dim)
    )
    l1, l2, l3, l4 = PQ.pq_code_layers(ridx, books)
    lut_cols = ", ".join(
        f"{PQ._subdist_sql(ridx, books[j][c], j * d8)} AS __l{j}_{c}"
        for j in range(m)
        for c in range(k)
    )
    lookups = " + ".join(
        f"list_value({', '.join(f'__l{j}_{c}' for c in range(k))})"
        f"[CAST({PQ.pq_unpack_sql('c.' + words[j // PQ.PQ_WORD], j % PQ.PQ_WORD, k)}"
        f" AS INT) + 1]"
        for j in range(m)
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    rq AS (SELECT {rot_query} FROM q),
    rot AS (SELECT e.vec_id, {rot_corpus} FROM embeddings e),
    pq1 AS (SELECT vec_id, {", ".join(f'{sql} AS {a}' for a, sql in l1)} FROM rot),
    pq2 AS (SELECT *, {", ".join(f'{sql} AS {a}' for a, sql in l2)} FROM pq1),
    pq3 AS (SELECT *, {", ".join(f'{sql} AS {a}' for a, sql in l3)} FROM pq2),
    pqc AS (SELECT vec_id, {", ".join(f'{sql} AS {a}' for a, sql in l4)} FROM pq3),
    lut AS (SELECT {lut_cols} FROM rq),
    scored AS (
      SELECT c.vec_id, ({lookups}) AS __adc FROM pqc c CROSS JOIN lut
    )
    SELECT vec_id, round(__adc, 6) AS adc_dist FROM scored
    ORDER BY __adc, vec_id LIMIT {topk}
    """


def _pq_codes_ctes(vec_ref: str = "e.embedding", books=None) -> str:
    """The encode pipeline's four chained projection layers as CTEs —
    the same (alias, sql) layers the Spark plan projects, rendered over
    DuckDB's 1-based list indexing. Chained CTEs keep every distance
    evaluated once (the r5 lesson: a CASE arm referencing an inline
    least() re-evaluates all 16 distance subtrees per arm). ``books``
    defaults to the m=8 single-word layout; the m=16 books render the
    two-word (pq_code_0, pq_code_1) layer the same way."""
    from ..operators import pq as PQ

    layers = PQ.pq_code_layers(PQ._duck_idx(vec_ref), books or _pq_books())
    l1, l2, l3, l4 = layers
    return f"""
    pq1 AS (SELECT e.vec_id, {", ".join(f'{sql} AS {a}' for a, sql in l1)}
            FROM embeddings e),
    pq2 AS (SELECT *, {", ".join(f'{sql} AS {a}' for a, sql in l2)} FROM pq1),
    pq3 AS (SELECT *, {", ".join(f'{sql} AS {a}' for a, sql in l3)} FROM pq2),
    pqc AS (SELECT vec_id, {", ".join(f'{sql} AS {a}' for a, sql in l4)} FROM pq3)"""


def _pq_adc_oracle(topk: int = 10, books=None) -> str:
    from ..operators import pq as PQ

    books = books or _pq_books()
    m, k = len(books), len(books[0])
    d8 = len(books[0][0])
    words = PQ.pq_word_cols(m)
    lut_cols = ", ".join(
        f"{PQ._subdist_sql(PQ._duck_idx('q.qv'), books[j][c], j * d8)} AS __l{j}_{c}"
        for j in range(m)
        for c in range(k)
    )
    lookups = " + ".join(
        f"list_value({', '.join(f'__l{j}_{c}' for c in range(k))})"
        f"[CAST({PQ.pq_unpack_sql('c.' + words[j // PQ.PQ_WORD], j % PQ.PQ_WORD, k)}"
        f" AS INT) + 1]"
        for j in range(m)
    )
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    {_pq_codes_ctes(books=books)},
    lut AS (SELECT {lut_cols} FROM q),
    scored AS (
      SELECT c.vec_id, ({lookups}) AS __adc FROM pqc c CROSS JOIN lut
    )
    SELECT vec_id, round(__adc, 6) AS adc_dist FROM scored
    ORDER BY __adc, vec_id LIMIT {topk}
    """


@query(
    "similarity_pq_codes",
    oracle="WITH " + _pq_codes_ctes()
    + "\n    SELECT vec_id, pq_code FROM pqc",
    doc="B16 Product Quantization ENCODE (Jégou et al. 2011 — the "
    "compression half of the FAISS IVF-PQ serving layout): each "
    "64-dim vector → 8 subspace codes (argmin-L2 against a 16-entry "
    "per-subspace codebook, ties to the lowest code) packed into ONE "
    "BIGINT — 8 bytes/vector, a 32× scan reduction for probes that "
    "rank on codes (ADC below). Codebooks here are fixed-seed plan "
    "LITERALS (the hyperplane pattern) so the oracle replays every "
    "argmin bit-for-bit — identical left-assoc float arithmetic both "
    "engines, no rounding contract; train_pq_codebooks is the "
    "production (sampled-Lloyd) path, pytested for quantization-error "
    "and recall lift. Scale: ingest-time map, no shuffle; distances/"
    "argmins emitted as CHAINED projections (r5 lesson).",
)
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    e = t(spark, sf_dir, "embeddings")
    return PQ.pq_encode(e, _pq_books())


@query(
    "similarity_pq_adc_topk",
    oracle=_pq_adc_oracle(topk=10),
    doc="B16 PQ Asymmetric Distance Computation top-k: rank the WHOLE "
    "corpus against a query reading only the 8-byte code column — "
    "score = Σⱼ LUT[j][codeⱼ], the m×k LUT being driver-side "
    "(query-subvector ↔ centroid) distances shipped as plan literals "
    "(Python computes them with the same left-assoc order the "
    "oracle's SQL derivation uses → bit-equal). The scan side is "
    "(id, pq_code): at 100 TB this is the 32×-less-I/O rank stage of "
    "IVF-PQ — partition-prune cells (IVFIndex), ADC-rank inside them, "
    "exact-re-rank the short list from raw vectors. Ascending "
    "distance, ties to the lowest id; TakeOrdered, never a global "
    "sort.",
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    e = t(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    return PQ.pq_adc_topk(e, q, _pq_books(), topk=10)


@query(
    "similarity_pq16_adc_topk",
    oracle=_pq_adc_oracle(topk=10, books=_pq_books16()),
    doc="B16 PQ ADC top-k at m=16 — the TWO-WORD code layout "
    "(pq_code_0, pq_code_1; 16 B/vector, still a 16× scan cut): "
    "twice the subspaces halves each quantization cell's "
    "dimensionality (4-d subvectors), the finer-cells recall "
    "escalation SCALING.md r10 recorded as the m=8 weak-margin fix. "
    "Same exactness contract as the m=8 entry: literal codebooks, "
    "CAST-disciplined left-assoc distance arithmetic, DuckDB replays "
    "codes AND ranks bit-for-bit. Scale shape unchanged: encode is "
    "one narrow projection chain (ingest-time in prod), the rank "
    "scan reads (id, 2×8-byte words), TakeOrdered, never a sort.",
)
def similarity_pq16_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    e = t(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    return PQ.pq_adc_topk(e, q, _pq_books16(), topk=10)


@query(
    "similarity_opq_adc_topk",
    oracle=_opq_adc_oracle(topk=10),
    doc="B16 OPQ ADC top-k (Ge et al. CVPR 2013 — the rotation "
    "escalation SCALING.md r10/r11 recorded as not-yet-built): an "
    "orthonormal rotation R rides as plan LITERALS in one projection "
    "layer BEFORE the subspace split (grouped left-assoc inner "
    "products, rot_sql's CAST discipline — the same exactness contract "
    "as pq_code_layers), then the unchanged encode/ADC pipeline ranks "
    "the rotated codes; the query rotates driver-side through the "
    "bit-identical rotate_query mirror. The oracle replays rotation, "
    "codes AND ranks bit-for-bit. Rotation here is the fixed-seed "
    "orthonormal literal (opq_rotation_lcg — the PQ+RR baseline "
    "shape); train_opq (alternating k-means ↔ orthogonal Procrustes) "
    "is the production path, pytested for reconstruction-error and "
    "recall lift vs plain trained PQ (git show 094fce9:tools/ab_opq.py measures the "
    "replica curves). Scale: the rotation is ingest-time (once per "
    "vector, fused into the narrow encode projection chain — no "
    "shuffle); probes read only (id, 8-byte code) exactly as PQ — "
    "rotation adds ZERO probe-time scan cost; R orthonormal keeps ADC "
    "an original-space L2 estimate.",
)
def similarity_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pq as PQ

    e = t(spark, sf_dir, "embeddings")
    q = [float(x) for x in e.filter(F.col("vec_id") == 0).head().embedding]
    return PQ.opq_adc_topk(e, q, _opq_rot(), _pq_books(), topk=10)


@query(
    "sampling_domain_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM ranked WHERE rnk <= 15
    """,
    doc="LLM-pipeline domain-quota sampling: cap each source at K docs, "
    "keeping the longest first (quality-ranked quota, tie-broken by "
    "doc_id) — the standard guard against one crawl domain dominating "
    "the training mix. Scale: one hash exchange on source + a window; "
    "a pathologically hot domain serializes its own partition only, "
    "and AQE skew-split or a count-first pre-filter (top-K per key via "
    "partial agg) is the known escalation. Oracle replays the "
    "identical rank.",
)
def sampling_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    rnk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("n_chars"), F.col("doc_id"))
    )
    return (
        d.select("doc_id", "source", "n_chars", rnk.alias("rnk"))
        .filter(F.col("rnk") <= 15)
        .drop("rnk")
    )


def _emb_profile_oracle(dim: int = 64) -> str:
    qs = ", ".join(
        f"CAST(round(CAST(embedding[{i}] AS DOUBLE) * 1000000) AS BIGINT) AS q{i}"
        for i in range(1, dim + 1)
    )
    sums = ", ".join(f"sum(q{i}) AS s{i}" for i in range(1, dim + 1))
    ssqs = ", ".join(f"sum(q{i} * q{i}) AS ss{i}" for i in range(1, dim + 1))
    s_list = ", ".join(f"s{i}" for i in range(1, dim + 1))
    ss_list = ", ".join(f"ss{i}" for i in range(1, dim + 1))
    return f"""
    WITH q AS (SELECT {qs} FROM embeddings),
    a AS (SELECT count(*) AS n, {sums}, {ssqs} FROM q),
    z AS (SELECT n,
                 unnest(generate_series(1, {dim})) AS dim,
                 unnest(list_value({s_list})) AS s,
                 unnest(list_value({ss_list})) AS ss
          FROM a)
    SELECT CAST(dim AS INT) AS dim,
           round(CAST(s AS DOUBLE) / n / 1000000.0, 6) AS mean_val,
           round((CAST(ss AS DOUBLE) / n
                  - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
                 / 1000000000000.0, 8) AS var_val
    FROM z ORDER BY dim
    """


@query(
    "dq_embedding_profile",
    oracle=_emb_profile_oracle(),
    doc="Embedding data card: per-dimension mean and population "
    "variance over the corpus — the variance-imbalance profile that "
    "decides whether OPQ's rotation can pay (SCALING.md r12: this "
    "corpus profiles balanced, so the rotation is a wash; a "
    "production text encoder's skewed profile is where OPQ earns its "
    "keep) and the standard drift check for an embedding pipeline "
    "(a dead dimension or a NaN burst moves it immediately). "
    "Exactness contract: components quantize to µ-scale BIGINTs and "
    "the engines aggregate INTEGERS (order-free, the DSIR trick), so "
    "no float-summation-order divergence exists by construction; the "
    "float finishing (two divisions per row over 64 rows) is a fixed "
    "deterministic sequence mirrored in the oracle. r15: the integer "
    "moments come from the Arrow moment_partials kernel (one np.sum "
    "per moment per batch, bit-equal µ-quantizer pinned in "
    "test_vector_kernel.py) — the expression form was correct but "
    "codegen-bound (64 extracts + 129 agg buffers per row; the cell "
    "oscillated 1.5-3.8 s with host JIT state, r13/r14 watch item), "
    "the same parse/codegen disease the ADC family had. Scale: zero "
    "row fan-out — per-partition integer partials (64 rows each) "
    "collapse the corpus map-side; cross-partition Σq² rides "
    "DECIMAL(38,0) (int64 dies at ~5e8 vectors).",
)
def dq_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import vector_kernel as VK

    # NO parallelize_narrow_input here (unlike the shingling family):
    # the kernel's per-row cost is one amortized np.sum, so fanning a
    # small frame to 32 Python workers costs more than it buys; at
    # lake scale the scan's own partitioning (maxPartitionBytes)
    # already gives the pure map full parallelism.
    m = VK.moment_partials(t(spark, sf_dir, "embeddings"), "embedding", dim=64)
    return m.select(
        F.col("dim").cast("int").alias("dim"),
        F.expr("round(CAST(s AS DOUBLE) / n / 1000000.0, 6)").alias("mean_val"),
        F.expr(
            "round((CAST(ss AS DOUBLE) / n"
            " - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
            " / 1000000000000.0, 8)"
        ).alias("var_val"),
    ).orderBy("dim")


@query(
    "sampling_cluster_balanced",
    oracle=f"""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    scored AS (
      SELECT e.vec_id, c.cluster_id, {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assigned AS (
      SELECT vec_id, cluster_id, s,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cluster_id) AS rn
      FROM scored
    ),
    quota AS (
      SELECT vec_id, cluster_id, round(s, 6) AS ps,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY round(s, 6) DESC, vec_id) AS rnk
      FROM assigned WHERE rn = 1
    )
    SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           ps AS proto_score
    FROM quota WHERE rnk <= 20
    """,
    doc="LLM-pipeline diversity/data-selection: CLUSTER-BALANCED "
    "subsampling over the embedding space — assign every vector to "
    "its nearest of 16 deterministic centroids (id-ordered sample, "
    "argmax cosine, ties to the lowest cluster), keep the 20 most "
    "PROTOTYPICAL members per cluster (highest centroid similarity, "
    "ties to the lowest id). The embedding-space analogue of "
    "sampling_domain_cap: a quota per semantic region instead of per "
    "crawl domain, so one dominant content cluster cannot monopolize "
    "the training mix (SemDeDup-adjacent prototype selection). Scale: "
    "an eager collect of the 16 seed centroids, then ONE Arrow-batched "
    "assign_nearest map that assigns and scores every vector (no "
    "N×16 fan-out rows, no per-vector window); "
    "the quota window shuffles (id, cluster, rounded score) only — "
    "vectors ride no exchange (plan-pinned) — and a pathologically "
    "hot cluster follows the domain_cap_salted two-phase escalation. "
    "Quota ranks on the 6dp-ROUNDED score (the output contract's own "
    "granularity, tie→vec_id) so a last-ulp divergence from the "
    "oracle's fold cannot flip membership — the ivf_topk_scaled "
    "rounding contract. Output "
    "≤ 16×20 rows at any corpus size. Oracle replays sample → assign "
    "→ rank with identical tie-breaks.",
)
def sampling_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql import Window as W

    from ..operators import vector_kernel as VK
    from ..operators.bucketing import parallelize_narrow_input

    e = t(spark, sf_dir, "embeddings")
    crows = e.orderBy("vec_id").limit(16).select("embedding").collect()
    M = np.array([list(r.embedding) for r in crows], dtype=np.float64)
    assign = VK.assign_nearest(list(range(1, len(M) + 1)), M, with_score=True)
    assigned = (
        parallelize_narrow_input(e.select("vec_id", "embedding"))
        .select("vec_id", assign(F.col("embedding")).alias("__a"))
        .select(
            "vec_id",
            F.col("__a.centroid_id").alias("cluster_id"),
            F.round(F.col("__a.score"), 6).alias("ps"),
        )
    )
    return (
        assigned.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("cluster_id").orderBy(F.desc("ps"), "vec_id")
            ),
        )
        .filter(F.col("rnk") <= 20)
        .select(
            "vec_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("ps").alias("proto_score"),
        )
    )


@query(
    "sampling_domain_cap_salted",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM ranked WHERE rnk <= 15
    """,
    doc="sampling_domain_cap's SALTED twin (VERDICT r8 item 3) — the "
    "hot-domain escalation the plain form's docstring names: the "
    "per-source row_number window is exactly the skew shape the "
    "operator exists to guard against (one crawl domain with 10⁸ docs "
    "serializes through a single task's sort). Here phase 1 ranks "
    "within (source, salt) so a hot domain spreads over n_salts "
    "tasks, and phase 2 merges the ≤ n_salts×15 partial winners with "
    "a BOUNDED collect→sort→slice agg — no per-source window node in "
    "the plan (asserted), per-key merge state capped regardless of "
    "skew. Exact: the rank order is total, so the result is "
    "row-identical to the window form (same oracle; equality under a "
    "30%-hot-key transform pytested). Tier-2 placement: the window "
    "holds the plain form (the common no-skew plan — one exchange + "
    "one window, strictly cheaper at uniform key spread); this twin "
    "is the documented escalation, same slot policy as "
    "cdc_snapshot_latest_state_salted.",
)
def sampling_domain_cap_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import domain_cap_salted

    d = t(spark, sf_dir, "documents")
    return domain_cap_salted(
        d, key_col="source", quality_col="n_chars", id_col="doc_id", k=15
    )


@query(
    "dedup_family_histogram",
    oracle="""
    WITH fams AS (
      SELECT md5(text) AS digest, count(*) AS family_size
      FROM documents GROUP BY md5(text)
    )
    SELECT family_size, count(*) AS n_families,
           family_size * count(*) AS n_docs
    FROM fams GROUP BY family_size
    """,
    doc="Dedup diagnostics: the histogram of exact-duplicate family "
    "sizes (how much of the corpus is singletons vs boilerplate "
    "families) — the number a pipeline owner reads before choosing "
    "caps/thresholds. Scale: two partial-aggregable groupBys on "
    "digest then size; shuffle keys are 32-byte digests and small "
    "ints, text never moves.",
)
def dedup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    fams = d.groupBy(F.md5(F.encode("text", "utf-8")).alias("digest")).agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return fams.groupBy("family_size").agg(
        F.count(F.lit(1)).alias("n_families"),
        (F.col("family_size") * F.count(F.lit(1))).alias("n_docs"),
    )


_SPLIT_CASE_SQL = """CASE WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                WHEN ((doc_id % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                ELSE 'test' END"""


@query(
    "sampling_leakage_safe_split",
    oracle="WITH "
    + _portable_lsh_pairs_ctes(threshold=0.8)
    + f""", sp AS (
      SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ), leaky AS (
      SELECT DISTINCT e.u AS doc_id
      FROM edges e
      JOIN sp a ON a.doc_id = e.u AND a.split = 'train'
      JOIN sp b ON b.doc_id = e.v AND b.split <> 'train'
    )
    SELECT sp.doc_id, sp.split,
           CASE WHEN sp.split = 'train'
                     AND sp.doc_id IN (SELECT doc_id FROM leaky)
                THEN 'quarantined' ELSE sp.split END AS final_split
    FROM sp
    """,
    doc="Leakage-safe train/eval split (decontamination-by-split): after "
    "the deterministic hash split, any TRAIN doc that is a verified "
    "near-dup (portable MinHash-LSH candidates → exact-Jaccard ≥ 0.8) "
    "of a val/test doc is QUARANTINED out of train — the split-level "
    "twin of benchmark decontamination, preventing eval answers from "
    "leaking into training through duplicated pages. Scale: the pair "
    "generation is the bounded LSH pipeline (never all-pairs); the "
    "leak join keys are ids; the eval side of the membership join is "
    "small by construction (eval fractions). The oracle replays split "
    "→ candidates → verify → quarantine from the same hash literals.",
)
def sampling_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    sp = SA.hash_split(d, "doc_id").select("doc_id", "split")
    # fused candidates→verify off ONE tokenized artifact (r16, §2.3/§6)
    pairs = D.minhash_verified_pairs(
        d, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_n=2
    )
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    nontrain = sp.filter(F.col("split") != "train").select(F.col("doc_id").alias("v"))
    leaky = (
        edges.join(nontrain, "v")
        .select(F.col("u").alias("doc_id"))
        .distinct()
        .join(sp.filter(F.col("split") == "train"), "doc_id", "semi")
        .withColumn("__leak", F.lit(True))
    )
    return sp.join(F.broadcast(leaky), "doc_id", "left").select(
        "doc_id",
        "split",
        F.when(
            (F.col("split") == "train") & F.col("__leak").isNotNull(),
            F.lit("quarantined"),
        )
        .otherwise(F.col("split"))
        .alias("final_split"),
    )


# ------------------- exact-substring (duplicated-span) dedup ----------

def _substring_base_ctes(window: int = 8) -> str:
    """CTE chain ``toks → th → wpos → win → ann`` that REPLAYS the
    Spark substring-dedup pipeline (operators/dedup.py
    substring_annotate) in DuckDB: the same md5-60-bit portable token
    hashes, the same two-lane 62-bit window fold emitted by the SAME
    band_key_sql helper the Spark plan embeds, the same packed
    (doc_id · 2²⁰ + pos) canonical key — every window key, occurrence
    count, and canonical choice is bit-identical, so parity is
    deterministic on any regenerated corpus (the substring analogue of
    _portable_lsh_pairs_ctes)."""
    key = D.band_key_sql(["th[i]"] + [f"th[i+{k}]" for k in range(1, window)])
    return f"""
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents
    ), th AS (
      SELECT doc_id,
             list_transform(toks,
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {D.MINHASH_P}) AS th
      FROM toks
    ), wpos AS (
      SELECT doc_id, unnest(range(1, len(th) - {window} + 2)) AS i, th
      FROM th WHERE len(th) >= {window}
    ), win AS (
      SELECT doc_id, i - 1 AS pos, {key} AS wh FROM wpos
    ), ann AS (
      SELECT doc_id, pos,
             count(*) OVER (PARTITION BY wh) AS cnt,
             min(doc_id * {D.SUBSTRING_POS_CAP} + pos) OVER (PARTITION BY wh) AS canon
      FROM win
    )"""


@query(
    "dedup_substring_coverage",
    oracle="WITH " + _substring_base_ctes(window=8) + """, covt AS (
      SELECT doc_id, pos + u AS tpos
      FROM (SELECT doc_id, pos, unnest(range(8)) AS u FROM ann WHERE cnt >= 2)
    ), cov AS (
      SELECT doc_id, count(DISTINCT tpos) AS dup_tokens FROM covt GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS INTEGER) AS total_tokens,
           coalesce(c.dup_tokens, 0) AS dup_tokens,
           round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(t.toks), 6)
             AS dup_coverage
    FROM toks t LEFT JOIN cov c USING (doc_id)
    """,
    doc="B15 exact-substring dedup, REPORT side (the token-position "
    "analogue of suffix-array substring dedup, Lee et al. 2021): a "
    "token is duplicated iff some 8-token window containing it occurs "
    "at another (doc, position) in the corpus; per-doc coverage is the "
    "quality-filter signal (drop pages past a boilerplate budget). "
    "Positional — MinHash/SimHash are bag-of-shingles and blind to "
    "WHERE overlap sits; exact dedup is whole-document. Portable "
    "md5+two-lane window keys → the oracle replays every key, count, "
    "and coverage bit-for-bit. Scale: ONE corpus-sized exchange "
    "partitioned by the 8-byte window key (the suffix-array sort cost, "
    "Spark-shaped), no text in any exchange before the final report "
    "join, ×W fan-out only over the cnt ≥ 2 minority.",
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.substring_duplicate_coverage(d, "doc_id", "text", window=8)


@query(
    "dedup_substring_strip",
    oracle="WITH " + _substring_base_ctes(window=8) + """, remv AS (
      SELECT doc_id, pos FROM ann
      WHERE cnt >= 2 AND doc_id * """ + str(D.SUBSTRING_POS_CAP) + """ + pos <> canon
    ), rcov AS (
      SELECT DISTINCT doc_id, pos + u AS tpos
      FROM (SELECT doc_id, pos, unnest(range(8)) AS u FROM remv)
    ), tok AS (
      SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
      FROM (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM toks)
    ), kept AS (
      SELECT k.doc_id, k.tpos, k.tok
      FROM tok k LEFT JOIN rcov r ON k.doc_id = r.doc_id AND k.tpos = r.tpos
      WHERE r.doc_id IS NULL
    ), reb AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS kept_text,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, coalesce(r.kept_text, '') AS kept_text,
           coalesce(r.n_kept, 0) AS n_kept,
           CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN reb r USING (doc_id)
    """,
    doc="B15 exact-substring dedup, REWRITE side: every duplicated "
    "8-token span is stripped except its canonical (first) occurrence "
    "— the corpus rewrite Lee et al. 2021 apply before training, "
    "token-granular (a token survives iff no removable window covers "
    "it; overlapping spans resolve with the same all-but-one "
    "approximation the suffix-array pipelines make). Exact-duplicate "
    "documents collapse to one surviving copy (kept_text = '' on the "
    "others). Oracle replays keys, canonical choice, and the rebuilt "
    "text bit-for-bit. Scale: the rebuild is the one stage where token "
    "text enters an exchange — inherent, the output IS the text; the "
    "removable set is the only ×W fan-out.",
)
def dedup_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.substring_strip(d, "doc_id", "text", window=8)


# ---------------- DSIR: data selection via importance resampling ------

_DSIR_WEIGHTS_CTES = """
    rws AS (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096)) AS bucket,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t
      FROM documents
    ), bstats AS (
      SELECT bucket, count(*) AS rc, sum(t) AS tc FROM rws GROUP BY bucket
    ), totals AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM bstats),
    llr AS (
      SELECT bucket,
             CAST(round((ln(tc + 1) - ln(tt + 4096)
                         - ln(rc + 1) + ln(rt + 4096)) * 1e6) AS BIGINT)
               AS llr_micro
      FROM bstats, totals
    ), w AS (
      SELECT r.doc_id, count(*) AS n_tokens,
             CAST(sum(l.llr_micro) AS BIGINT) AS weight_micro
      FROM rws r JOIN llr l USING (bucket) GROUP BY r.doc_id
    )"""


@query(
    "sampling_dsir_weights",
    oracle="WITH " + _DSIR_WEIGHTS_CTES + "\n    SELECT doc_id, n_tokens, weight_micro FROM w",
    doc="LLM-pipeline: DSIR log importance weights (Xie et al. 2023) — "
    "hashed bag-of-words unigram LMs of the target slice (lang='en', "
    "the trusted-corpus stand-in) vs the raw corpus; per-doc weight "
    "Σ ln p̂_t(b)/p̂_r(b), add-1 smoothed over 4096 md5-portable "
    "buckets. The per-bucket LLR is quantized to integer MICRO-NATS "
    "before the corpus-sized sum, so the aggregation is pure BIGINT "
    "arithmetic — order-independent, no float-summation parity risk "
    "(the ln calls are same-expression/same-input, the tf-idf-proven "
    "class). Scale: token rows carry (id, 2-byte bucket); the "
    "4096-row LM broadcasts back; two corpus reads total — the DSIR "
    "paper's own two-pass shape.",
)
def sampling_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.dsir_log_weights(d, "doc_id", "text", F.col("lang") == "en", n_buckets=4096)


@query(
    "sampling_dsir_select",
    oracle="WITH " + _DSIR_WEIGHTS_CTES + """
    SELECT doc_id,
           round(weight_micro / 1000000.0
                 + -ln(-ln((((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                              % 1048576)) + 0.5) / 1048576.0)), 6) AS score
    FROM w ORDER BY score DESC, doc_id LIMIT 100
    """,
    doc="LLM-pipeline: DSIR Gumbel-top-k resampling — the "
    "without-replacement sample ∝ exp(weight) that DSIR draws from "
    "the raw corpus, with the Gumbel noise a deterministic md5 "
    "function of doc_id (re-runs/backfills select identical docs; no "
    "rand()). Scale: pure map over the weights table + "
    "TakeOrderedAndProject — no shuffle beyond the top-k tree.",
)
def sampling_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = SA.dsir_log_weights(d, "doc_id", "text", F.col("lang") == "en", n_buckets=4096)
    return SA.dsir_resample(w, "doc_id", k=100)


# ---------- hashed bigram-LM perplexity scoring (CCNet-style) ---------

@query(
    "text_bigram_perplexity",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_transform(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 256) AS b,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ref
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(b)),
                                   k -> b[k] * 256 + b[k+1])) AS key,
             ref
      FROM base WHERE len(b) >= 2
    ), c2 AS (
      SELECT key, count(*) AS c2 FROM pairs WHERE ref = 1 GROUP BY key
    ), c1 AS (
      SELECT CAST(floor(key / 256) AS BIGINT) AS b1, count(*) AS c1
      FROM pairs WHERE ref = 1 GROUP BY 1
    ), scored AS (
      SELECT p.doc_id,
             CAST(round((ln(coalesce(c2.c2, 0) + 1)
                         - ln(coalesce(c1.c1, 0) + 256)) * 1e6) AS BIGINT)
               AS lp_micro
      FROM pairs p
      LEFT JOIN c2 ON p.key = c2.key
      LEFT JOIN c1 ON CAST(floor(p.key / 256) AS BIGINT) = c1.b1
    ), agg AS (
      SELECT doc_id, count(*) AS n_bigrams,
             CAST(sum(lp_micro) AS BIGINT) AS lp_micro
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams, lp_micro,
           round(lp_micro / 1e6 / n_bigrams, 6) AS avg_logprob
    FROM agg
    """,
    doc="LLM-pipeline: CCNet-style perplexity quality scoring (Wenzek "
    "et al. 2020) — every document scored by the average log-prob a "
    "reference-slice (lang='en') hashed BIGRAM LM assigns it, add-1 "
    "smoothed over 256 md5-portable buckets per side (the "
    "Spark-expressible stand-in for KenLM: same pipeline role, "
    "engine-portable math). Per-bigram log-probs are quantized to "
    "integer micro-nats (the DSIR discipline) so the per-doc sum is "
    "order-independent BIGINT arithmetic. Scale: the conditional LM "
    "is ≤ 256² rows and the context table 256 — broadcastable at ANY "
    "corpus size by construction (table size is a function of the "
    "hash space, not the corpus); the score pass is one scan + two "
    "broadcast joins + one partial-agg groupBy.",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bigram_logprob_micro(d, "doc_id", "text", F.col("lang") == "en")


@query(
    "dedup_substring_span_histogram",
    oracle="WITH " + _substring_base_ctes(window=8) + """, dup AS (
      SELECT doc_id, pos FROM ann WHERE cnt >= 2
    ), runs AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM dup
    ), spans AS (
      SELECT doc_id, grp, count(*) + 7 AS span_len
      FROM runs GROUP BY doc_id, grp
    )
    SELECT span_len, count(*) AS n_spans FROM spans GROUP BY span_len
    """,
    doc="B15 exact-substring dedup, DIAGNOSTIC side: histogram of "
    "maximal duplicated-span lengths (a run of r consecutive "
    "duplicated window positions covers r+W−1 tokens) — the "
    "distribution suffix-array pipelines read off the LCP array to "
    "pick window/threshold dials. Gaps-and-islands over the "
    "duplicated minority (pos − row_number constant within a run); "
    "pure integer arithmetic, oracle replays exactly. Scale: one "
    "doc_id exchange over cnt ≥ 2 positions only; output ≤ "
    "max_doc_tokens rows.",
)
def dedup_substring_span_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.substring_span_histogram(d, "doc_id", "text", window=8)


def _substring_win_ctes(window: int, src_filter: str, prefix: str) -> str:
    """toks→th→wpos→win replay for a FILTERED slice of documents
    (shared by the incremental/span-decontamination oracle)."""
    key = D.band_key_sql([f"{prefix}th[i]"] + [f"{prefix}th[i+{k}]" for k in range(1, window)])
    return f"""
    {prefix}toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents WHERE {src_filter}
    ), {prefix}th AS (
      SELECT doc_id,
             list_transform(toks,
                            t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % {D.MINHASH_P})
               AS {prefix}th
      FROM {prefix}toks
    ), {prefix}wpos AS (
      SELECT doc_id, unnest(range(1, len({prefix}th) - {window} + 2)) AS i, {prefix}th
      FROM {prefix}th WHERE len({prefix}th) >= {window}
    ), {prefix}win AS (
      SELECT doc_id, i - 1 AS pos, {key} AS wh FROM {prefix}wpos
    )"""


@query(
    "decontaminate_substring_overlap",
    oracle="WITH "
    + _substring_win_ctes(8, "doc_id % 10 = 0", "n")
    + ", "
    + _substring_win_ctes(8, "doc_id % 10 <> 0", "h")
    + """, hk AS (
      SELECT DISTINCT wh FROM hwin
    ), matched AS (
      SELECT n.doc_id, n.pos FROM nwin n WHERE n.wh IN (SELECT wh FROM hk)
    ), covt AS (
      SELECT doc_id, pos + u AS tpos
      FROM (SELECT doc_id, pos, unnest(range(8)) AS u FROM matched)
    ), cov AS (
      SELECT doc_id, count(DISTINCT tpos) AS lake_tokens FROM covt GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.toks) AS INTEGER) AS total_tokens,
           coalesce(c.lake_tokens, 0) AS lake_tokens,
           round(CAST(coalesce(c.lake_tokens, 0) AS DOUBLE) / len(t.toks), 6)
             AS lake_coverage
    FROM ntoks t LEFT JOIN cov c USING (doc_id)
    """,
    doc="B15/decontamination: span-level train-test overlap — for each "
    "doc of a NEW batch (doc_id % 10 = 0), the fraction of its tokens "
    "covered by 8-token windows that occur anywhere in the historical "
    "corpus (the other 90%) — the positional twin of "
    "decontaminate_benchmark's gram-set overlap (Lee et al. 2021 "
    "measure exactly this between train and eval). Scale: both sides "
    "reduce to 8-byte window keys before the semi join (historical "
    "side distinct — boilerplate collapses to one key row); no text "
    "or fan-out in any exchange; bucket the lake keys for a "
    "co-located join, bloom-filter them for a probe short-circuit.",
)
def decontaminate_substring_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    hist = d.filter(F.col("doc_id") % 10 != 0)
    return D.incremental_substring_coverage(new, hist, "doc_id", "text", window=8)


@query(
    "profile_documents_by_source",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           round(avg(len(list_filter(string_split_regex(text, '\\s+'),
                                     t -> t <> ''))), 4) AS avg_tokens,
           quantile_cont(n_chars, 0.5) AS median_chars,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source
    """,
    doc="LLM-pipeline: one-pass corpus profile by source — doc counts, "
    "token means, char-length median/min/max, language cardinality — "
    "the dataset-card stats every ingest emits before mixing "
    "decisions. Exact median via interpolated percentile (frac is 0 "
    "or ½ on integer inputs → bit-identical in both engines; avg of "
    "ints is an exact-in-double integer sum). Scale: a single "
    "partial-agg groupBy over ~20 sources; at 100 TB swap the exact "
    "median for approx_percentile in the same plan (the sketch is the "
    "scale dial, the plan shape is the product).",
)
def profile_documents_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.size(toks)), 4).alias("avg_tokens"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("lang").alias("n_langs"),
    )


# ---------------- composite contamination report (three modalities) --


def _tokenized_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release-gate composites' SHARED corpus artifact (r13,
    VERDICT r12 item 4): (doc_id, lang, toks, th60), tokenized and
    hashed in ONE documents pass and materialized once. ``th60`` is
    the per-token portable 60-bit md5 hash that the substring window
    fold (mod MINHASH_P) and the DSIR buckets (mod n_buckets) both
    reduce — so the 4-gram, span-coverage, and DSIR legs all read this
    frame instead of re-tokenizing the raw corpus per leg (the r12
    verdict measured release_report re-deriving tokenization 7× from
    the parquet scan). Scale: the artifact is ~corpus-sized (tokens +
    8-byte hashes); on a 100 TB cluster materialize it with
    ``persist_disk``/``reliable`` (the standard strategy knob) or spill
    it to scratch parquet — the plan shape is unchanged either way."""
    from ..operators.bucketing import parallelize_narrow_input

    d = t(spark, sf_dir, "documents")
    base = parallelize_narrow_input(d.select("doc_id", "lang", "text")).select(
        "doc_id", "lang", D.tokenize(F.col("text")).alias("toks")
    )
    return materialize_once(
        base.select(
            "doc_id",
            "lang",
            "toks",
            F.transform(
                F.col("toks"),
                lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast(
                    "long"
                ),
            ).alias("th60"),
        )
    )


def _contamination_base(
    spark: SparkSession, sf_dir: str, tokd: DataFrame
) -> DataFrame:
    """The three-modality contamination report built over the shared
    tokenized frame — the body of ``contamination_report`` and the
    first three legs of ``release_report``."""
    d = t(spark, sf_dir, "documents")
    probes_t = tokd.filter(F.col("doc_id") % 10 == 0)
    corpus_t = tokd.filter(F.col("doc_id") % 10 != 0)

    # --- n-gram overlap (probe-direction: corpus grams scanned, the
    # probe gram set broadcast; hits broadcast back) — 4-grams built
    # from the shared token arrays, never a re-tokenize
    pg = probes_t.select(
        F.col("doc_id"),
        F.explode(D.word_shingles_from_tokens(F.col("toks"), 4)).alias("g"),
    )
    probe_gram_set = pg.select("g").distinct()
    hits_set = (
        corpus_t.select(
            F.explode(D.word_shingles_from_tokens(F.col("toks"), 4)).alias("g")
        )
        .join(F.broadcast(probe_gram_set), "g", "semi")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ngram_sig = (
        pg.join(F.broadcast(hits_set), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("evidence")
        )
        .select("doc_id", F.lit("ngram_overlap").alias("method"), "evidence")
    )

    # --- span coverage (the decontaminate_substring_overlap leg) —
    # window folds over the shared th60 hashes on BOTH sides
    probe_pos = D.substring_window_positions_from_hashes(
        probes_t, "doc_id", "th60", window=8
    )
    hist_pos = D.substring_window_positions_from_hashes(
        corpus_t, "doc_id", "th60", window=8
    )
    totals = probes_t.select("doc_id", F.size("toks").alias("total_tokens"))
    span_sig = D.substring_coverage_from_positions(
        probe_pos, totals, hist_pos.select("wh"), "doc_id", window=8
    ).select(
        "doc_id",
        F.lit("span_coverage").alias("method"),
        F.col("lake_coverage").alias("evidence"),
    )

    # --- max verified near-dup jaccard across the split — same audited
    # LSH shape, but BOTH stages now read the shared tokenized frame
    # (r16 optimization round, guide §2.3/§6): the portable signature
    # family's token hash IS th60 % P, and the verify stage's shingle
    # strings rebuild byte-identically from the bound token arrays, so
    # this leg no longer re-tokenizes + re-md5s the raw corpus (one
    # full tokenize+md5 pass was the leg's own scan cost per report)
    sigs = D.portable_minhash_signatures_from_hashes(
        tokd, "doc_id", "th60", num_hashes=64, shingle_n=2
    )
    band_rows = D._band_rows_from_sigs(sigs, "doc_id", 64, 16)
    cands = D.minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=2,
        band_rows=materialize_once(band_rows),
    )
    pairs = D.verify_candidates_jaccard_from_tokens(
        tokd, cands, "doc_id", "toks", threshold=0.8, shingle_n=2
    )
    cross = pairs.filter(
        (F.col("id_a") % 10 == 0) != (F.col("id_b") % 10 == 0)
    ).select(
        F.when(F.col("id_a") % 10 == 0, F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("doc_id"),
        "jaccard",
    )
    jac_sig = (
        cross.groupBy("doc_id")
        .agg(F.round(F.max("jaccard"), 6).alias("evidence"))
        .select("doc_id", F.lit("near_dup_jaccard").alias("method"), "evidence")
    )

    signals = ngram_sig.unionByName(span_sig).unionByName(jac_sig)
    scaffold = probes_t.select("doc_id").crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [("ngram_overlap",), ("span_coverage",), ("near_dup_jaccard",)],
                "method string",
            )
        )
    )
    return scaffold.join(signals, ["doc_id", "method"], "left").select(
        "doc_id", "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )


@query(
    "contamination_report",
    oracle="WITH "
    + _portable_lsh_pairs_ctes(threshold=0.8)
    + ", "
    + _substring_win_ctes(8, "doc_id % 10 = 0", "n")
    + ", "
    + _substring_win_ctes(8, "doc_id % 10 <> 0", "h")
    + """, hk AS (
      SELECT DISTINCT wh FROM hwin
    ), smat AS (
      SELECT n.doc_id, n.pos FROM nwin n WHERE n.wh IN (SELECT wh FROM hk)
    ), scov AS (
      SELECT doc_id, count(DISTINCT tpos) AS cov FROM (
        SELECT doc_id, pos + u AS tpos
        FROM (SELECT doc_id, pos, unnest(range(8)) AS u FROM smat)
      ) GROUP BY doc_id
    ), span_sig AS (
      SELECT t.doc_id, 'span_coverage' AS method,
             round(CAST(coalesce(c.cov, 0) AS DOUBLE) / len(t.toks), 6) AS evidence
      FROM ntoks t LEFT JOIN scov c USING (doc_id)
    ), ngt AS (
      SELECT doc_id, doc_id % 10 = 0 AS is_probe,
             list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS ng
      FROM toks WHERE len(toks) >= 4
    ), pgr AS (
      SELECT doc_id, unnest(ng) AS g FROM ngt WHERE is_probe
    ), cgr AS (
      SELECT DISTINCT unnest(ng) AS g FROM ngt WHERE NOT is_probe
    ), ngram_sig AS (
      SELECT p.doc_id, 'ngram_overlap' AS method,
             round(CAST(count(c.g) AS DOUBLE) / count(*), 6) AS evidence
      FROM pgr p LEFT JOIN cgr c ON p.g = c.g
      GROUP BY p.doc_id
    ), cross_pairs AS (
      SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS doc_id, jaccard
      FROM pairs
      WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
    ), jac_sig AS (
      SELECT doc_id, 'near_dup_jaccard' AS method,
             round(max(jaccard), 6) AS evidence
      FROM cross_pairs GROUP BY doc_id
    ), signals AS (
      SELECT * FROM span_sig WHERE evidence IS NOT NULL
      UNION ALL SELECT * FROM ngram_sig
      UNION ALL SELECT * FROM jac_sig
    ), scaffold AS (
      SELECT d.doc_id, m.method
      FROM documents d,
           (VALUES ('ngram_overlap'), ('span_coverage'), ('near_dup_jaccard'))
             AS m(method)
      WHERE d.doc_id % 10 = 0
    )
    SELECT s.doc_id, s.method, coalesce(g.evidence, 0.0) AS evidence
    FROM scaffold s LEFT JOIN signals g
      ON g.doc_id = s.doc_id AND g.method = s.method
    """,
    doc="Composite contamination REPORT: every probe doc (doc_id % 10 "
    "= 0, the eval stand-in) scored by ALL THREE leakage modalities "
    "against the remaining corpus — distinct-4-gram overlap fraction "
    "(GPT-3 appendix-C style; set-intersection math is direction-"
    "free), verbatim span coverage (8-token windows, the Lee et al. "
    "positional signal), and max verified near-dup jaccard at the "
    "0.8 serving threshold (pairs below it report 0 — the LSH "
    "contract). One (probe × method) row each, zeros kept: the "
    "release-gate artifact a training pipeline publishes per eval "
    "suite. Scale: each leg keeps its own audited shape (broadcast "
    "gram/key sets, banded candidates — nothing all-pairs); the "
    "scaffold join is probe-sized. r13: the 4-gram and span legs read "
    "ONE shared tokenized+hashed frame (materialized once) instead of "
    "re-tokenizing the corpus per leg — zero parquet scans in the "
    "final plan, pinned at tests/test_plan_shapes.py.",
)
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _contamination_base(spark, sf_dir, _tokenized_documents(spark, sf_dir))


@query(
    "release_report",
    oracle="WITH "
    + _portable_lsh_pairs_ctes(threshold=0.8)
    + ", "
    + _substring_win_ctes(8, "doc_id % 10 = 0", "n")
    + ", "
    + _substring_win_ctes(8, "doc_id % 10 <> 0", "h")
    + """, hk AS (
      SELECT DISTINCT wh FROM hwin
    ), smat AS (
      SELECT n.doc_id, n.pos FROM nwin n WHERE n.wh IN (SELECT wh FROM hk)
    ), scov AS (
      SELECT doc_id, count(DISTINCT tpos) AS cov FROM (
        SELECT doc_id, pos + u AS tpos
        FROM (SELECT doc_id, pos, unnest(range(8)) AS u FROM smat)
      ) GROUP BY doc_id
    ), span_sig AS (
      SELECT t.doc_id, 'span_coverage' AS method,
             round(CAST(coalesce(c.cov, 0) AS DOUBLE) / len(t.toks), 6) AS evidence
      FROM ntoks t LEFT JOIN scov c USING (doc_id)
    ), ngt AS (
      SELECT doc_id, doc_id % 10 = 0 AS is_probe,
             list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS ng
      FROM toks WHERE len(toks) >= 4
    ), pgr AS (
      SELECT doc_id, unnest(ng) AS g FROM ngt WHERE is_probe
    ), cgr AS (
      SELECT DISTINCT unnest(ng) AS g FROM ngt WHERE NOT is_probe
    ), ngram_sig AS (
      SELECT p.doc_id, 'ngram_overlap' AS method,
             round(CAST(count(c.g) AS DOUBLE) / count(*), 6) AS evidence
      FROM pgr p LEFT JOIN cgr c ON p.g = c.g
      GROUP BY p.doc_id
    ), cross_pairs AS (
      SELECT CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS doc_id, jaccard
      FROM pairs
      WHERE (id_a % 10 = 0) <> (id_b % 10 = 0)
    ), jac_sig AS (
      SELECT doc_id, 'near_dup_jaccard' AS method,
             round(max(jaccard), 6) AS evidence
      FROM cross_pairs GROUP BY doc_id
    ), rrws AS (
      SELECT doc_id, doc_id % 10 = 0 AS is_probe,
             unnest(list_transform(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> ''),
               t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % 4096)) AS bucket,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t
      FROM documents
    ), rbst AS (
      SELECT bucket, count(*) AS rc, sum(t) AS tc
      FROM rrws WHERE NOT is_probe GROUP BY bucket
    ), rtot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM rbst),
    rllr AS (
      SELECT bucket,
             CAST(round((ln(tc + 1) - ln(tt + 4096)
                         - ln(rc + 1) + ln(rt + 4096)) * 1e6) AS BIGINT)
               AS llr_micro
      FROM rbst, rtot
    ), lm_sig AS (
      SELECT r.doc_id, 'dsir_logweight_per_token' AS method,
             round(CAST(sum(coalesce(l.llr_micro,
                    CAST(round((ln(rt + 4096) - ln(tt + 4096)) * 1e6) AS BIGINT)))
                  AS DOUBLE) / 1e6 / greatest(count(*), 1), 6) AS evidence
      FROM rrws r LEFT JOIN rllr l USING (bucket), rtot
      WHERE r.is_probe
      GROUP BY r.doc_id
    ), signals AS (
      SELECT * FROM span_sig WHERE evidence IS NOT NULL
      UNION ALL SELECT * FROM ngram_sig
      UNION ALL SELECT * FROM jac_sig
      UNION ALL SELECT * FROM lm_sig
    ), scaffold AS (
      SELECT d.doc_id, m.method
      FROM documents d,
           (VALUES ('ngram_overlap'), ('span_coverage'), ('near_dup_jaccard'),
                   ('dsir_logweight_per_token')) AS m(method)
      WHERE d.doc_id % 10 = 0
    )
    SELECT s.doc_id, s.method, coalesce(g.evidence, 0.0) AS evidence
    FROM scaffold s LEFT JOIN signals g
      ON g.doc_id = s.doc_id AND g.method = s.method
    """,
    doc="The full batch RELEASE gate (the batch twin of the streaming "
    "release_report_online, VERDICT r10 item 6 closed both ways): the "
    "three contamination modalities of contamination_report PLUS the "
    "DSIR target-likeness signal — per-token log importance weight in "
    "nats against a hashed-unigram LM built from the HISTORICAL slice "
    "(doc_id % 10 <> 0, target lang='en'), exactly what the online "
    "twin reads from the LM lake. One (probe × 4 methods) artifact, "
    "zeros kept. Scale: each contamination leg keeps its audited "
    "shape; the LM leg adds one corpus-slice stats pass (4096-row LM, "
    "materialized once, broadcast back) + one probe-sized scan — the "
    "DSIR paper's own two-pass shape. r13 (VERDICT r12 item 4): the "
    "4-gram, span, and DSIR legs all read ONE shared tokenized+hashed "
    "frame — the corpus is tokenized once per release run, not per "
    "leg (zero parquet scans in the final plan, pinned).",
)
def release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import (
        dsir_score_against_lm,
        dsir_token_buckets_from_hashes,
    )

    # ONE tokenize+hash pass feeds the 4-gram, span, and DSIR legs
    # (r13, VERDICT r12 item 4) — the contamination base and the LM leg
    # below share the same materialized artifact.
    tokd = _tokenized_documents(spark, sf_dir)
    probes_t = tokd.filter(F.col("doc_id") % 10 == 0)
    corpus_t = tokd.filter(F.col("doc_id") % 10 != 0)
    rows = dsir_token_buckets_from_hashes(
        corpus_t.withColumn("__t", (F.col("lang") == "en").cast("long")),
        "doc_id",
        "th60",
        4096,
        carry=("__t",),
    )
    # OVERLAP the two independent checkpoint chains (r17 optimization
    # round, guide §2.6 "overlap independent jobs"): the DSIR LM-stats
    # materialization and the contamination base's LSH-leg chain
    # (band rows → candidates → shingle sets) both depend only on the
    # already-materialized tokd, so the LM agg runs on a driver thread
    # while the LSH chain's barriers execute — sequential job walls
    # become max() instead of sum(). InheritableThread propagates the
    # JVM-side job-group/description thread-locals per the Spark docs;
    # the exception (if any) is re-raised on join so failures keep the
    # entry's synchronous contract.
    from pyspark import InheritableThread

    _bstats_box: dict = {}

    def _materialize_bstats() -> None:
        try:
            _bstats_box["frame"] = materialize_once(
                rows.groupBy("bucket").agg(
                    F.count(F.lit(1)).alias("rc"), F.sum("__t").alias("tc")
                )
            )
        except BaseException as exc:  # re-raised on the caller thread
            _bstats_box["error"] = exc

    _th = InheritableThread(target=_materialize_bstats)
    _th.start()
    try:
        base = _contamination_base(spark, sf_dir, tokd)
    finally:
        # join unconditionally: a base-construction failure must not
        # leave the stats job running past this frame's lifetime
        _th.join()
    if "error" in _bstats_box:
        raise _bstats_box["error"]
    bstats = _bstats_box["frame"]
    method = "dsir_logweight_per_token"
    lm_sig = dsir_score_against_lm(
        probes_t,
        bstats,
        "doc_id",
        "text",
        4096,
        bucket_rows=dsir_token_buckets_from_hashes(
            probes_t, "doc_id", "th60", 4096
        ),
    ).select(
        "doc_id",
        F.lit(method).alias("method"),
        F.round(
            F.col("weight_micro") / 1e6 / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("evidence"),
    )
    scaffold = probes_t.select("doc_id").withColumn("method", F.lit(method))
    lm_full = scaffold.join(lm_sig, ["doc_id", "method"], "left").select(
        "doc_id", "method", F.coalesce("evidence", F.lit(0.0)).alias("evidence")
    )
    return base.unionByName(lm_full)


@query(
    "text_vocab_top_tokens",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ), cnt AS (
      SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ), tot AS (SELECT sum(c) AS n FROM cnt),
    ranked AS (
      SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rank
      FROM cnt
    )
    SELECT CAST(rank AS INT) AS rank, tok, CAST(c AS BIGINT) AS c,
           round(CAST(c AS DOUBLE) / n, 6) AS frac,
           round(CAST(sum(c) OVER (ORDER BY rank) AS DOUBLE) / n, 6) AS cum_frac
    FROM ranked, tot WHERE rank <= 100
    """,
    doc="LLM-pipeline dataset card: corpus vocabulary heavy hitters — "
    "the top-100 tokens with corpus frequency and cumulative coverage "
    "(the Zipf head a tokenizer/stopword decision reads). Scale: ONE "
    "tokenize+count pass over the corpus (partial-agged, so the shuffle "
    "carries ≤ n_partitions rows per distinct token — a skewed token "
    "never concentrates raw rows), materialized once because two "
    "consumers need it (top-100 and the grand total — without the "
    "materialization the 100 TB corpus is tokenized twice); then a "
    "1-row total broadcast, a top-100 TakeOrdered, and the cumulative "
    "window runs over 100 rows on one task (bounded by the limit). "
    "Lowercased whitespace tokens, ties broken on the token. Plan "
    "pinned at tests/test_plan_shapes.py::test_vocab_top_tokens_plan.",
)
def text_vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators.materialize import materialize_once

    d = t(spark, sf_dir, "documents")
    cnt = materialize_once(
        d.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != ""
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnt.agg(F.sum("c").alias("n"))
    top = (
        cnt.orderBy(F.desc("c"), "tok")
        .limit(100)
        .withColumn("rank", F.row_number().over(W.orderBy(F.desc("c"), "tok")))
    )
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("rank").cast("int").alias("rank"),
        "tok",
        F.col("c").cast("long").alias("c"),
        F.round(F.col("c").cast("double") / F.col("n"), 6).alias("frac"),
        F.round(
            F.sum("c").over(W.orderBy("rank")).cast("double") / F.col("n"), 6
        ).alias("cum_frac"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH h AS (
      SELECT DISTINCT md5(text) AS th, source FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS shared_texts
    FROM h a JOIN h b ON a.th = b.th AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc="LLM-pipeline corpus forensics: the cross-source duplication "
    "matrix — for every source pair, how many distinct document texts "
    "appear verbatim in BOTH (which mirrors/scrapes feed each other). "
    "Scale: the self-join runs on DISTINCT (16-byte text digest, "
    "source) rows — raw text never joins — so a duplicated family "
    "contributes ≤ n_sources rows per side and the pair fan-out is "
    "bounded by n_sources² per digest, never document-count²; the "
    "report is ≤ n_sources² rows. Plan pinned at "
    "tests/test_plan_shapes.py::test_cross_source_matrix_digest_only_join.",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    # materialize the (digest, source) set once (r17 optimization
    # round, guide §2.4): both sides of the th self-join consumed it,
    # so the scan + md5 + distinct ran twice; the artifact is one
    # 40-byte row per distinct (text, source).
    h = materialize_once(
        d.select(F.md5(F.col("text")).alias("th"), "source").distinct()
    )
    a = h.select(F.col("th"), F.col("source").alias("source_a"))
    b = h.select(F.col("th"), F.col("source").alias("source_b"))
    return (
        a.join(b, "th")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_texts"))
    )


# ------------------------------------------------ retrieval (r13): BM25,
# hybrid RRF fusion, deterministic corpus shuffle — the curation-side
# search primitives (contamination candidate mining, exemplar retrieval,
# reproducible training order). operators/search.py holds the scale notes.

#: Fixed query terms for the retrieval entries — mid-frequency words of
#: the synthetic vocabulary, so df spreads (idf actually differentiates).
_BM25_TERMS = ("spark", "window", "hash")


def _bm25_sql(terms=_BM25_TERMS, k: int = 15) -> str:
    """DuckDB twin of operators/search.py::bm25_scores — the SAME
    fixed-order sum of per-term contributions (0.0 + t0 + t1 + ...),
    the same Lucene idf, the same 1.2/0.75 constants, so both engines
    evaluate identical doubles."""
    dfs = ",\n             ".join(
        f"count(DISTINCT CASE WHEN w = '{t}' THEN doc_id END) AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    in_list = ", ".join(f"'{t}'" for t in terms)
    contribs = "\n       + ".join(
        f"ln(1.0 + (a.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * tf.tf{i} / (tf.tf{i} + 1.2 * (0.25 + 0.75 * l.dl / a.avgdl))"
        for i in range(len(terms))
    )
    # N = count(*) over documents (ALL rows, incl. empty docs) — the
    # same definition as corpus_term_stats.n_docs, so the exact and
    # hashed-df twins stay bit-equal on collision-free vocabularies
    # even when the corpus contains empty documents (r13 ADVICE).
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents
    ), lens AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                  AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT {dfs}
      FROM toks
    ), avgl AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(len(list_filter(string_split(lower(text), ' '), x -> x <> '')))
             AS avgdl
      FROM documents
    ), tf AS (
      SELECT doc_id,
             {tfs}
      FROM toks WHERE w IN ({in_list})
      GROUP BY doc_id
    )
    SELECT tf.doc_id,
           round(0.0
       + {contribs}, 6) AS score
    FROM tf JOIN lens l USING (doc_id), stats s, avgl a
    ORDER BY score DESC, tf.doc_id
    LIMIT {k}
    """


@query(
    "search_bm25_topk",
    oracle=_bm25_sql(),
    doc="Retrieval: Okapi BM25 top-15 for a fixed 3-term query over the "
    "documents corpus — the lexical scorer a curation pipeline uses to "
    "mine contamination candidates and quality exemplars. Scale: one "
    "tokenize pass feeds BOTH the per-doc conditional tf sums (hash agg, "
    "map-side fold) and the 1-row corpus stats (N, avgdl, per-term df) "
    "that broadcast into the scoring projection; query terms are plan "
    "literals; selection is TakeOrderedAndProject — no vocabulary-sized "
    "shuffle, no global window, no driver round-trip. The per-term sum "
    "is a fixed-order addition chain so the oracle's doubles are "
    "bit-identical (operators/search.py).",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SE.bm25_topk(d, list(_BM25_TERMS), k=15)


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH kw_top AS (
      {_bm25_sql(k=50)}
    ), kw_rank AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank_0
      FROM kw_top
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec_top AS (
      SELECT e.vec_id AS doc_id,
             round((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                    FROM (SELECT unnest(e.embedding) u, unnest(q.qv) v) x)
                   / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                            FROM (SELECT unnest(e.embedding) u) x))
                      * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                              FROM (SELECT unnest(q.qv) v) x))), 6) AS score
      FROM embeddings e, q
      ORDER BY score DESC, e.vec_id
      LIMIT 50
    ), vec_rank AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank_1
      FROM vec_top
    )
    SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rank_0, v.rank_1,
           round(0.0 + COALESCE(1.0 / (60.0 + k.rank_0), 0.0)
                     + COALESCE(1.0 / (60.0 + v.rank_1), 0.0), 6) AS rrf_score
    FROM kw_rank k FULL OUTER JOIN vec_rank v ON k.doc_id = v.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT 15
    """,
    doc="Retrieval: hybrid search via reciprocal-rank fusion (Cormack "
    "et al., SIGIR 2009) — BM25 top-50 (lexical leg) fused with "
    "brute-force cosine top-50 against the vec_id-0 query embedding "
    "(vector leg, doc_id ≍ vec_id in the testdata), "
    "rrf = Σ 1/(60 + rank). Rank-only fusion: the legs' score scales "
    "never mix, which is why RRF is the production default for "
    "keyword+vector candidate mining. Scale: each leg truncates to 50 "
    "rows BEFORE ranking (TakeOrdered), so the row_number windows and "
    "the full-outer fuse join touch 50-row frames — corpus-sized data "
    "appears only inside the two legs, each already scale-audited "
    "(text_tfidf's tokenize-agg shape; similarity_cosine_topk's "
    "literal-vector scan).",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    kw = SE.bm25_topk(d, list(_BM25_TERMS), k=50)
    vec = S.cosine_topk(e, _query_vector(spark, sf_dir), k=50).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    return SE.rrf_fuse([kw, vec]).orderBy(
        F.desc("rrf_score"), F.col("doc_id")
    ).limit(15)


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'seed13'),
                                  1, 15)) AS BIGINT) AS hh
      FROM documents
    )
    SELECT doc_id, hh % 8 AS shard,
           CAST(row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id)
                AS BIGINT) AS position
    FROM h
    """,
    doc="Reproducible global corpus shuffle for training data loaders: "
    "shard + in-shard position from the portable 60-bit md5 prefix of "
    "doc_id:seed (PORTABLE_TOKEN_HASH discipline — no rand(), no engine "
    "hash, so a checkpoint's data order is auditable and identical on "
    "re-runs and across engines). Scale: ONE exchange keyed by shard — "
    "the same partitioning the shard write needs — and the rank window "
    "is per-shard, never global; epoch reshuffle = new seed literal, "
    "reader rebalance = new shard count (operators/sampling.py).",
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.deterministic_shuffle(d, "doc_id", n_shards=8, seed="seed13")


def _bm25_hashed_sql(terms=_BM25_TERMS, k: int = 15) -> str:
    """DuckDB twin of operators/search.py::bm25_against_stats fed by
    corpus_term_stats — hashed-vocabulary df (portable 60-bit md5
    bucket, same literals via SE.term_bucket), integer (n_docs,
    n_tokens) meta with avgdl = n_tokens/n_docs, and the identical
    fixed-order score chain. This batch form IS the streaming
    TermStatsLakeSink's serving semantics (batch ≡ lake pytested), so
    the lake's scoring path is oracle-checked here."""
    n_buckets = SE.N_TERM_BUCKETS
    buckets = [SE.term_bucket(t, n_buckets) for t in terms]
    dfs = ",\n           ".join(
        f"COALESCE((SELECT df FROM dfs WHERE bucket = {bk}), 0) AS df{i}"
        for i, bk in enumerate(buckets)
    )
    tfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    in_list = ", ".join(f"'{t}'" for t in terms)
    contribs = "\n       + ".join(
        f"ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * tf.tf{i} / (tf.tf{i} + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))"
        for i in range(len(terms))
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents
    ), dfs AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS df
      FROM (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {n_buckets}
                   AS bucket
        FROM toks
      )
      GROUP BY bucket
    ), meta AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents
    ), stats AS (
      SELECT CAST(n_docs AS DOUBLE) AS n,
             CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           {dfs}
      FROM meta
    ), lens AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                  AS DOUBLE) AS dl
      FROM documents
    ), tf AS (
      SELECT doc_id,
             {tfs}
      FROM toks WHERE w IN ({in_list})
      GROUP BY doc_id
    )
    SELECT tf.doc_id,
           round(0.0
       + {contribs}, 6) AS score
    FROM tf JOIN lens l USING (doc_id), stats s
    ORDER BY score DESC, tf.doc_id
    LIMIT {k}
    """


@query(
    "search_bm25_hashed_topk",
    oracle=_bm25_hashed_sql(),
    doc="Retrieval: BM25 with HASHED-vocabulary df — the serving/"
    "streaming form. Exact per-term df needs a vocabulary-sized table; "
    "hashing terms into a fixed 64k-bucket space (portable 60-bit md5, "
    "PORTABLE_TOKEN_HASH discipline) makes the corpus statistics a "
    "bounded additive artifact: ≤ n_buckets (bucket, df) rows + one "
    "integer (n_docs, n_tokens) meta row — KBs at any corpus size, and "
    "the SUM of per-batch deltas (each doc lives in one batch), which "
    "is exactly what the streaming TermStatsLakeSink maintains under "
    "EpochCommit; its score() runs THIS code path (batch ≡ lake "
    "pytested, tests/test_term_stats_lake.py). Collisions inflate df "
    "slightly (bucket df ≥ term df — equality on collision-free "
    "vocabularies pytested); tf stays exact. Scale: stats legs "
    "collapse to one broadcast row; scoring is one tokenize pass; "
    "TakeOrderedAndProject.",
)
def search_bm25_hashed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared tokenized frame (release_report lesson): the one-shot form
    # reads the corpus through four tokenize legs (df/meta/tf/lengths) —
    # binding the token array once pays split/lower/filter once instead
    # of four times: ×0.86 at x30, ×0.83 at x100, outputs identical
    # (git show 094fce9:tools/ab_bm25_tokenized.py, SCALING.md r13).
    d = t(spark, sf_dir, "documents")
    tokd = materialize_once(SE.tokenized_docs(d))
    ts, meta = SE.corpus_term_stats_tokenized(tokd)
    return (
        SE.bm25_against_stats_tokenized(tokd, list(_BM25_TERMS), ts, meta)
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(15)
    )


#: Fixed query battery for the batched BM25 entry — three 3-term
#: queries over the synthetic vocabulary, overlapping df ranges.
_BM25_BATCH_QUERIES = (
    ("spark", "window", "hash"),
    ("data", "query", "table"),
    ("join", "agg", "scan"),
)


def _bm25_batch_sql(queries=_BM25_BATCH_QUERIES, k: int = 10) -> str:
    """DuckDB twin of operators/search.py::bm25_topk_batch — one shared
    tf/df frame over the term UNION, one fixed-order chain per query,
    integer-tf membership predicate, per-query rank."""
    all_terms: list[str] = []
    for q in queries:
        for t_ in q:
            if t_ not in all_terms:
                all_terms.append(t_)
    idx = {t_: i for i, t_ in enumerate(all_terms)}
    dfs = ",\n             ".join(
        f"count(DISTINCT CASE WHEN w = '{t_}' THEN doc_id END) AS df{i}"
        for i, t_ in enumerate(all_terms)
    )
    tfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN w = '{t_}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf{i}"
        for i, t_ in enumerate(all_terms)
    )
    in_list = ", ".join(f"'{t_}'" for t_ in all_terms)
    legs = []
    for qid, q in enumerate(queries):
        chain = "\n       + ".join(
            f"ln(1.0 + (a.n - s.df{idx[t_]} + 0.5) / (s.df{idx[t_]} + 0.5))"
            f" * tf.tf{idx[t_]} / (tf.tf{idx[t_]}"
            f" + 1.2 * (0.25 + 0.75 * l.dl / a.avgdl))"
            for t_ in q
        )
        hit = " + ".join(f"tf.tf{idx[t_]}" for t_ in q)
        legs.append(
            f"""
      SELECT {qid} AS query_id, tf.doc_id,
             round(0.0
         + {chain}, 6) AS score
      FROM tf JOIN lens l USING (doc_id), stats s, avgl a
      WHERE 0.0 + {hit} > 0"""
        )
    union = "\n      UNION ALL".join(legs)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents
    ), lens AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                  AS DOUBLE) AS dl
      FROM documents
    ), stats AS (
      SELECT {dfs}
      FROM toks
    ), avgl AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             avg(len(list_filter(string_split(lower(text), ' '), x -> x <> '')))
             AS avgdl
      FROM documents
    ), tf AS (
      SELECT doc_id,
             {tfs}
      FROM toks WHERE w IN ({in_list})
      GROUP BY doc_id
    ), scored AS ({union}
    )
    SELECT query_id, doc_id, score FROM (
      SELECT scored.*,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    ORDER BY query_id, score DESC, doc_id
    """


@query(
    "search_bm25_batch_topk",
    oracle=_bm25_batch_sql(),
    doc="Retrieval: BATCHED exact BM25 — top-10 for THREE queries in "
    "ONE corpus pass (the lexical twin of similarity_cosine_topk_batch: "
    "what a serving tier does instead of Q sequential scans). The term "
    "UNION across queries drives a single tokenize → tf/df pass; each "
    "query's score is its own fixed-order chain picking its terms' "
    "columns out of the shared broadcast frame; membership per query "
    "is the integer tf predicate; per-query top-k is the SALTED "
    "two-phase selection (domain_cap_salted with query_id as the key — "
    "per-key merge state capped at n_salts·k structs, no per-query "
    "window over all scored rows, one hot query cannot serialize the "
    "rank through one task). The oracle replays the shared frame, the "
    "per-query chains, and the rank.",
)
def search_bm25_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SE.bm25_topk_batch(
        d, [list(q) for q in _BM25_BATCH_QUERIES], k=10
    ).select("query_id", "doc_id", "score")


def _bm25_batch_hashed_sql(queries=_BM25_BATCH_QUERIES, k: int = 10) -> str:
    """DuckDB twin of operators/search.py::
    bm25_topk_batch_against_stats — the batch-union pattern of
    ``_bm25_batch_sql`` with the hashed-vocabulary df / integer-meta
    legs of ``_bm25_hashed_sql``: per-term df looked up by its md5
    bucket literal (SE.term_bucket), N and avgdl from the all-rows
    (n_docs, n_tokens) meta, identical fixed-order chains."""
    n_buckets = SE.N_TERM_BUCKETS
    all_terms: list[str] = []
    for q in queries:
        for t_ in q:
            if t_ not in all_terms:
                all_terms.append(t_)
    idx = {t_: i for i, t_ in enumerate(all_terms)}
    buckets = [SE.term_bucket(t_, n_buckets) for t_ in all_terms]
    dfcols = ",\n           ".join(
        f"COALESCE((SELECT df FROM dfs WHERE bucket = {bk}), 0) AS df{i}"
        for i, bk in enumerate(buckets)
    )
    tfs = ",\n             ".join(
        f"CAST(sum(CASE WHEN w = '{t_}' THEN 1 ELSE 0 END) AS DOUBLE) AS tf{i}"
        for i, t_ in enumerate(all_terms)
    )
    in_list = ", ".join(f"'{t_}'" for t_ in all_terms)
    legs = []
    for qid, q in enumerate(queries):
        chain = "\n       + ".join(
            f"ln(1.0 + (s.n - s.df{idx[t_]} + 0.5) / (s.df{idx[t_]} + 0.5))"
            f" * tf.tf{idx[t_]} / (tf.tf{idx[t_]}"
            f" + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))"
            for t_ in q
        )
        hit = " + ".join(f"tf.tf{idx[t_]}" for t_ in q)
        legs.append(
            f"""
      SELECT {qid} AS query_id, tf.doc_id,
             round(0.0
         + {chain}, 6) AS score
      FROM tf JOIN lens l USING (doc_id), stats s
      WHERE 0.0 + {hit} > 0"""
        )
    union = "\n      UNION ALL".join(legs)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
      FROM documents
    ), dfs AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS df
      FROM (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {n_buckets}
                   AS bucket
        FROM toks
      )
      GROUP BY bucket
    ), meta AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM documents
    ), stats AS (
      SELECT CAST(n_docs AS DOUBLE) AS n,
             CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           {dfcols}
      FROM meta
    ), lens AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                  AS DOUBLE) AS dl
      FROM documents
    ), tf AS (
      SELECT doc_id,
             {tfs}
      FROM toks WHERE w IN ({in_list})
      GROUP BY doc_id
    ), scored AS ({union}
    )
    SELECT query_id, doc_id, score FROM (
      SELECT scored.*,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    ) WHERE rnk <= {k}
    ORDER BY query_id, score DESC, doc_id
    """


@query(
    "search_bm25_batch_hashed_topk",
    oracle=_bm25_batch_hashed_sql(),
    doc="Retrieval: the BM25 SERVING HOT PATH (r14, VERDICT r13 item "
    "6) — Q queries answered in ONE pass over the docs being scored, "
    "with df/avgdl taken from the bounded hashed-vocabulary stats "
    "artifact rather than recomputed: the composition of the batched "
    "one-pass form (term-union shared tf frame, per-query fixed-order "
    "chains, salted two-phase top-k) with the hashed-df form (stats "
    "legs collapse to ONE broadcast row of conditional sums over the "
    "≤64k-row artifact). This entry feeds the artifact from "
    "corpus_term_stats; TermStatsLakeSink.topk_batch runs the SAME "
    "operator off the lake's committed epoch sum (additive-delta "
    "invariant ⇒ identical counts ⇒ bit-equal scores, pytested) — so "
    "at 100 TB corpus statistics cost is amortized into streaming "
    "ingest and each request batch pays one tokenize pass over its "
    "own rows only. Scale: no vocabulary-sized shuffle, no per-query "
    "corpus scan, no global window (domain_cap_salted caps per-key "
    "merge state at n_salts·k structs).",
)
def search_bm25_batch_hashed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ts, meta = SE.corpus_term_stats(d)
    return SE.bm25_topk_batch_against_stats(
        d, [list(q) for q in _BM25_BATCH_QUERIES], ts, meta, k=10
    ).select("query_id", "doc_id", "score")


@query(
    "search_hybrid_rrf_batch",
    oracle=f"""
    WITH kw_top AS (
      {_bm25_batch_sql(k=50)}
    ), kw_rank AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank_0
      FROM kw_top
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3
    ), vec_scored AS (
      SELECT q.query_id, e.vec_id AS doc_id,
             round((SELECT sum(CAST(x.u AS DOUBLE) * CAST(x.v AS DOUBLE))
                    FROM (SELECT unnest(e.embedding) u, unnest(q.qv) v) x)
                   / (sqrt((SELECT sum(CAST(x.u AS DOUBLE)*CAST(x.u AS DOUBLE))
                            FROM (SELECT unnest(e.embedding) u) x))
                      * sqrt((SELECT sum(CAST(x.v AS DOUBLE)*CAST(x.v AS DOUBLE))
                              FROM (SELECT unnest(q.qv) v) x))), 6) AS score
      FROM embeddings e, q
    ), vec_rank AS (
      SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS rank_1
      FROM (
        SELECT query_id, doc_id, score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS rnk
        FROM vec_scored
      ) WHERE rnk <= 50
    ), fused AS (
      SELECT COALESCE(k.query_id, v.query_id) AS query_id,
             COALESCE(k.doc_id, v.doc_id) AS doc_id, k.rank_0, v.rank_1,
             round(0.0 + COALESCE(1.0 / (60.0 + k.rank_0), 0.0)
                       + COALESCE(1.0 / (60.0 + v.rank_1), 0.0), 6) AS rrf_score
      FROM kw_rank k FULL OUTER JOIN vec_rank v
        ON k.query_id = v.query_id AND k.doc_id = v.doc_id
    )
    SELECT query_id, doc_id, rank_0, rank_1, rrf_score FROM (
      SELECT fused.*, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rrf_score DESC, doc_id) AS rr
      FROM fused
    ) WHERE rr <= 15
    ORDER BY query_id, rrf_score DESC, doc_id
    """,
    doc="Retrieval: BATCHED hybrid search (r14) — the serving-tier "
    "composition: THREE hybrid requests answered with one lexical "
    "corpus pass (batched BM25, term-union shared frame, salted "
    "two-phase top-50) + one vector corpus pass (batched cosine, "
    "broadcast query set, same salted selection), fused per query by "
    "reciprocal-rank (Σ 1/(60+rank), absent leg = 0), top-15 each. "
    "doc_id ≍ vec_id in the testdata; query_id pairs BM25 query i "
    "with embedding vec_id=i. Scale: corpus cost lives ONLY in the "
    "two batched legs (each already scale-audited); every window "
    "after them partitions by query over ≤ Q·50 rows and the fuse is "
    "a full-outer join of Q·50-row frames — at 100 TB the legs "
    "amortize Q requests into two passes (or the lake/IVF serving "
    "tiers replace them) while fusion stays request-sized.",
)
def search_hybrid_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..operators import vector_kernel as VK

    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    kw = SE.bm25_topk_batch(
        d, [list(q) for q in _BM25_BATCH_QUERIES], k=50
    ).select("query_id", "doc_id", "score")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = e.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.round(VK.cosine_pairs(F.col("embedding"), F.col("qvec")), 6).alias(
            "score"
        ),
    )
    vec = SA.domain_cap_salted(
        scored, key_col="query_id", quality_col="score", id_col="doc_id", k=50
    ).select("query_id", "doc_id", "score")
    fused = SE.rrf_fuse_batch([kw, vec])
    w = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.col("doc_id"))
    )
    return (
        fused.withColumn("__rr", w)
        .filter(F.col("__rr") <= 15)
        .drop("__rr")
        .orderBy("query_id", F.desc("rrf_score"), "doc_id")
    )


def _bloom_decontaminate_sql() -> str:
    """DuckDB twin of operators/text.py::bloom_decontaminate — same
    portable gram hash (60-bit md5 mod P), same Carter-Wegman probe
    positions (literal coefficients from the shared fixed-seed LCG),
    same 60-bit word packing and bit_or fold, so bit membership — and
    hence the exact false-positive set — replays bit-for-bit."""
    from ..operators.dedup import MINHASH_P, cw_hash_coefficients
    from ..operators.text import BLOOM_K, BLOOM_M, BLOOM_SEED, BLOOM_WORD_BITS

    coeffs = cw_hash_coefficients(BLOOM_K, seed=BLOOM_SEED)
    cvals = ", ".join(f"({a}, {b})" for a, b in coeffs)
    p, m, w = MINHASH_P, BLOOM_M, BLOOM_WORD_BITS
    return f"""
    WITH toks AS (
      SELECT doc_id, ((doc_id % 100) * (2654435761 % 100)) % 100 AS bucket,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id, bucket,
             list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS ng
      FROM toks WHERE len(toks) >= 4
    ), cw(a, b) AS (VALUES {cvals}),
    bg AS (
      SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT % {p} AS gh
      FROM (SELECT unnest(ng) AS g FROM sh WHERE bucket < 5)
    ), bloom AS (
      SELECT pos // {w} AS word,
             bit_or(1::BIGINT << CAST(pos % {w} AS INT)) AS bits
      FROM (SELECT ((a * gh + b) % {p}) % {m} AS pos FROM bg, cw)
      GROUP BY pos // {w}
    ), dg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(g), 1, 15))::BIGINT % {p} AS gh
      FROM (SELECT doc_id, unnest(ng) AS g FROM sh WHERE bucket >= 5)
    ), gram_hit AS (
      SELECT p2.doc_id, p2.gh,
             bool_and(COALESCE(
               (bl.bits & (1::BIGINT << CAST(p2.pos % {w} AS INT))) <> 0,
               FALSE)) AS bloom_hit
      FROM (SELECT doc_id, gh, ((a * gh + b) % {p}) % {m} AS pos
            FROM dg, cw) p2
      LEFT JOIN bloom bl ON bl.word = p2.pos // {w}
      GROUP BY p2.doc_id, p2.gh
    ), per_gram AS (
      SELECT g.doc_id, g.bloom_hit, (b.gh IS NOT NULL) AS exact_hit
      FROM gram_hit g LEFT JOIN bg b ON b.gh = g.gh
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS total_ngrams,
           CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_hits,
           CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS bloom_hits
    FROM per_gram
    GROUP BY doc_id
    HAVING CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) > 0
    """


@query(
    "decontaminate_bloom_prefilter",
    oracle=_bloom_decontaminate_sql(),
    doc="Benchmark decontamination, Bloom-prefilter form — THE 100 TB "
    "topology: at scale the exact benchmark n-gram set is GBs of "
    "strings per broadcast, so production pipelines ship a fixed-size "
    "Bloom filter instead (2^20 positions packed in 60-bit words ≈ "
    "140 KB whatever the benchmark size; k=3 Carter-Wegman probes off "
    "the portable 60-bit md5 gram hash) and run exact verification "
    "only on the Bloom-positive slice. This entry runs BOTH corpus-"
    "wide on the text_contamination_ngram bench/corpus split so the "
    "false-positive cost is measurable (bloom_hits ≥ exact_hits) and "
    "the oracle replays bit membership — including the exact FP set — "
    "from the same literal coefficients. Scale: gram strings hash "
    "once; (doc, gh, pos) LONG rows join the broadcast bloom; "
    "bool_and folds k probe rows; one partial-agged groupBy(doc).",
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").withColumn(
        "bucket", SA.hash_bucket(F.col("doc_id"))
    )
    bench = d.filter(F.col("bucket") < 5)
    corpus = d.filter(F.col("bucket") >= 5)
    return TX.bloom_decontaminate(corpus, bench, "doc_id", "text", n=4)


@query(
    "timeseries_downsample_ohlc",
    oracle="""
    WITH b AS (
      SELECT epoch_us(ts) // 3600000000 AS hour_id, event_id, value,
             epoch_us(ts) AS us
      FROM events
    ), r AS (
      SELECT hour_id, value,
             row_number() OVER (PARTITION BY hour_id
                                ORDER BY us, event_id) AS rn_first,
             row_number() OVER (PARTITION BY hour_id
                                ORDER BY us DESC, event_id DESC) AS rn_last
      FROM b
    )
    SELECT hour_id,
           max(CASE WHEN rn_first = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_last = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS volume
    FROM r GROUP BY hour_id
    """,
    doc="Time-series OHLC downsampling: per hour bucket — open (first "
    "value by event time), high, low, close (last), event count, summed "
    "volume. The standard resample every metrics/market pipeline runs "
    "before charting or modeling. First/last are defined by the TOTAL "
    "order (µs, event_id) — two row_number windows over the SAME "
    "partition key, so both engines pick identical rows even with "
    "equal timestamps. Scale: one exchange on hour_id; the windows and "
    "the final agg share its partitioning (no second shuffle); at "
    "100 TB the bucket key is ingest-derivable → a partition column, "
    "and the whole plan becomes partition-local.",
)
def timeseries_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    # FLOOR division, not `div` (which truncates toward zero): DuckDB's
    # `//` floors, so a bare `div` would assign pre-1970 (negative-epoch)
    # timestamps to a different bucket than the oracle. pmod is always
    # non-negative, so (a - pmod(a, b)) div b == floor(a / b) exactly,
    # in pure integer arithmetic (r13 ADVICE).
    base = e.select(
        F.expr(
            "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
            " div 3600000000"
        ).alias("hour_id"),
        F.expr("unix_micros(ts)").alias("__us"),
        "event_id",
        "value",
    )
    w_first = W.partitionBy("hour_id").orderBy("__us", "event_id")
    w_last = W.partitionBy("hour_id").orderBy(
        F.desc("__us"), F.desc("event_id")
    )
    r = base.select(
        "hour_id",
        "value",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
    )
    return r.groupBy("hour_id").agg(
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("volume"),
    )


@query(
    "text_quality_deciles",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_toks,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS n_toks_d,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
                 AS n_stop,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
      FROM documents
    ), q AS (
      SELECT doc_id, lang, n_toks,
             round(0.4 * least(n_toks_d / 200.0, 1.0)
                   + 0.3 * least((CASE WHEN n_toks_d > 0
                                  THEN n_stop / n_toks_d ELSE 0 END) * 4.0, 1.0)
                   + 0.3 * (1.0 - least(punct_ratio * 4.0, 1.0)), 6) AS quality
      FROM s
    ), dec AS (
      SELECT lang, n_toks, quality,
             ntile(10) OVER (PARTITION BY lang
                             ORDER BY quality, doc_id) AS decile
      FROM q
    )
    SELECT lang, decile, CAST(count(*) AS BIGINT) AS n_docs,
           min(quality) AS min_q, max(quality) AS max_q,
           round(CAST(sum(n_toks) AS DOUBLE) / count(*), 4) AS avg_tokens
    FROM dec GROUP BY lang, decile
    """,
    doc="Curation-side quality stratification: per-language quality "
    "DECILES (ntile over the 6dp-rounded composite score, doc_id "
    "tie-break → identical bucket boundaries on both engines) with "
    "per-decile doc count, score range, and avg token length — the "
    "table a mixture designer reads before setting per-quality-band "
    "sampling rates (filter-by-threshold throws away signal; "
    "stratified mixtures keep low bands at reduced weight). Scale: "
    "the quality score is a pure codegen map; one exchange on lang "
    "for the ntile window; the final agg shares its partitioning. "
    "avg_tokens divides an exact integer sum — no float-order "
    "divergence is possible.",
)
def text_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "lang",
        TX.quality_score(F.col("text")).alias("quality"),
        TX.token_count(F.col("text")).cast("long").alias("n_toks"),
    )
    w = W.partitionBy("lang").orderBy("quality", "doc_id")
    dec = q.withColumn("decile", F.ntile(10).over(w))
    return dec.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("quality").alias("min_q"),
        F.max("quality").alias("max_q"),
        F.round(
            F.sum("n_toks").cast("double") / F.count(F.lit(1)), 4
        ).alias("avg_tokens"),
    )


@query(
    "sampling_quality_gumbel",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS DOUBLE) AS n_toks,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  x -> x IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
                 AS n_stop,
             CAST(length(regexp_replace(text, '[A-Za-z0-9 \\t\\n]', '', 'g'))
                  AS DOUBLE) / length(text) AS punct_ratio
      FROM documents
    ), w AS (
      SELECT doc_id,
             CAST(round(
               round(0.4 * least(n_toks / 200.0, 1.0)
                     + 0.3 * least((CASE WHEN n_toks > 0
                                    THEN n_stop / n_toks ELSE 0 END) * 4.0, 1.0)
                     + 0.3 * (1.0 - least(punct_ratio * 4.0, 1.0)), 6)
               * 10000000.0) AS BIGINT) AS weight_micro
      FROM s
    )
    SELECT doc_id,
           round(weight_micro / 1000000.0
                 + -ln(-ln((((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                              % 1048576)) + 0.5) / 1048576.0)), 6) AS score
    FROM w ORDER BY score DESC, doc_id LIMIT 150
    """,
    doc="Curation sampling: QUALITY-WEIGHTED Gumbel top-k — a "
    "without-replacement sample ∝ exp(10·quality) (inverse temperature "
    "β=10 over the composite quality score), the soft alternative to a "
    "hard quality threshold: low-quality bands stay sampleable at "
    "exponentially reduced rate, which preserves distributional "
    "coverage the way mixture designers want (the deciles entry is the "
    "table; this is the draw). Same deterministic-Gumbel machinery as "
    "DSIR resampling (noise = md5 of doc_id — re-runs and backfills "
    "select identical docs, no rand()). Scale: pure map + "
    "TakeOrderedAndProject; no shuffle beyond the top-k tree.",
)
def sampling_quality_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.round(TX.quality_score(F.col("text")) * F.lit(1e7), 0)
        .cast("long")
        .alias("weight_micro"),
    )
    return SA.dsir_resample(w, "doc_id", k=150)


@query(
    "events_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
                 AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY n DESC, from_type, to_type
    LIMIT 20
    """,
    doc="Event-sequence analytics: the per-user TRANSITION MATRIX — "
    "top-20 (from_event, to_event) pairs by frequency, consecutive "
    "events ordered by the total (µs, event_id) key so ties are "
    "engine-stable. The Markov-path summary product analytics reads "
    "next to funnels/sessionization (which events actually follow "
    "which). Scale: one exchange on user_id for the lead window "
    "(partition-local), then a tiny (|event_types|²-bounded) hash agg "
    "and TakeOrdered — the pair cardinality is schema-bounded, never "
    "row-bounded.",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(
        F.expr("unix_micros(ts)"), F.col("event_id")
    )
    o = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "from_type", "to_type")
        .limit(20)
    )


# ------------------------------------------- sequence assembly (r14):
# the last mile between a curated corpus and a training / RAG consumer
# — context-window chunking, fixed-budget sequence packing, and the
# first step of tokenizer induction. operators/text.py and
# operators/sampling.py hold the scale notes.


@query(
    "text_chunk_windows",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
    ), s AS (
      SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS st FROM b
    )
    SELECT doc_id,
           CAST(st // 48 AS BIGINT) AS chunk_id,
           CAST(st AS BIGINT) AS start_tok,
           CAST(least(64, n - st) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(toks, st + 1, st + 64), ' '))
               AS chunk_hash
    FROM s
    """,
    doc="Sequence assembly: overlapping token-window chunking — the "
    "RAG / context-window splitter (chunk_size=64, stride=48, so "
    "consecutive chunks share 16 tokens and every token is covered). "
    "chunk_id is start/stride — pure arithmetic, no window function — "
    "and chunk identity travels as the md5 of the space-joined window "
    "(32 bytes whatever the window text size). Scale: a per-row map + "
    "one lateral explode, ZERO exchanges; fan-out ≈ n_tokens/stride "
    "rows per doc, each carrying a fixed-width hash, never window "
    "text (operators/text.py).",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.chunk_windows(d, "doc_id", "text", chunk_size=64, stride=48)


@query(
    "corpus_pack_sequences",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'seed13'),
                                  1, 15)) AS BIGINT) AS hh,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), r AS (
      SELECT doc_id, hh % 8 AS shard, n_tokens,
             CAST(row_number() OVER (PARTITION BY hh % 8
                                     ORDER BY hh, doc_id) AS BIGINT)
                 AS position,
             COALESCE(sum(n_tokens) OVER (PARTITION BY hh % 8
                                          ORDER BY hh, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS tok_before
      FROM h
    )
    SELECT doc_id, shard, position, n_tokens,
           CAST(tok_before // 256 AS BIGINT) AS pack_id,
           CAST(tok_before % 256 AS BIGINT) AS pack_offset
    FROM r
    """,
    doc="Sequence assembly: training-sequence PACKING — each document's "
    "slot in the fixed-256-token-budget sequence stream a pretraining "
    "loader feeds the model (GPT-style concatenate-in-shuffle-order, "
    "cut every budget tokens), as a deterministic provenance map: "
    "pack_id = tokens_before div budget on the reproducible "
    "deterministic_shuffle order (portable md5, id tie-break), "
    "pack_offset the doc's offset inside its first sequence. Answers "
    "'which checkpoint step saw which doc' exactly — the auditability "
    "a data loader owes. All-BIGINT outputs (the pack_id div is "
    "integer arithmetic — a double division loses exactness past 2^53 "
    "total tokens, which 100 TB reaches). Scale: ONE exchange keyed "
    "by shard (the same partitioning the shard write needs); the "
    "cumsum window is partition-local; new seed re-packs an epoch, "
    "new budget re-cuts without reshuffling (operators/sampling.py).",
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.pack_sequences(
        d, "doc_id", "text", budget=256, n_shards=8, seed="seed13"
    )


@query(
    "dedup_chunk_hash",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
    ), s AS (
      SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS st FROM b
    ), ch AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, st + 1, st + 64), ' '))
                 AS chunk_hash
      FROM s
    )
    SELECT chunk_hash,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM ch
    GROUP BY chunk_hash
    HAVING count(DISTINCT doc_id) > 1
    """,
    doc="Sequence assembly × dedup: CHUNK-level duplication — the "
    "dedup check a RAG chunk store runs before indexing (document-"
    "level dedup misses chunks shared by otherwise-distinct docs: "
    "boilerplate headers, quoted passages, template bodies). Chunks "
    "come from the same 64/48 windows as text_chunk_windows; identity "
    "is the chunk md5, so the group-by shuffles 32-byte digests, "
    "never window text; rows = chunks appearing in >1 document, with "
    "occurrence count and min-doc representative. Scale: zero-"
    "exchange chunking + ONE hash agg keyed by digest — the exact-"
    "dedup shape (dedup_exact_hashed) applied to the chunk axis.",
)
def dedup_chunk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    ch = TX.chunk_windows(d, "doc_id", "text", chunk_size=64, stride=48)
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct(F.col("doc_id")).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_bpe_pair_counts",
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
    doc="Sequence assembly / tokenizer induction: adjacent character-"
    "pair frequencies within words, weighted by corpus word frequency "
    "— the statistic whose argmax is BPE's first merge (Sennrich et "
    "al., ACL 2016; top-20 candidates returned). Scale: the two-stage "
    "shape is the point — stage 1 collapses the corpus to its "
    "VOCABULARY (word → count, one map-side-folding hash agg), stage "
    "2 explodes pairs over DISTINCT words only, so the pair fan-out "
    "is vocabulary-sized and independent of corpus row count "
    "(operators/text.py).",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bpe_pair_counts(d, "text", k=20)


def _bpe_round_ctes(n_rounds: int, apply_last: bool) -> tuple[list, list]:
    """Shared CTE chain for the iterated-BPE oracles: vocabulary v1,
    then per round r a pair-count cnt{r}, argmax top{r}, and (when the
    next round — or a fertility readout — needs it) the merge
    APPLICATION pos/isl/tkn/v{r+1} using the run-parity rule
    (gaps-and-islands over candidate adjacencies: within a maximal run
    of overlapping candidates, even offsets are taken) — provably
    identical to the Spark side's greedy-leftmost fold, and pytested
    against a pure-Python BPE reference in test_sequence_assembly.py.
    Every CTE is AS MATERIALIZED: pos{r} is referenced three times per
    application and DuckDB re-inlines plain CTEs per reference, which
    compounds ~3^K across the unrolled rounds (measured 143 s -> 0.2 s
    at sf0.001 for the K=4 fertility chain; results bit-identical).
    Fixed-point carry (r16 ADVICE): when a round's top{r} is EMPTY
    (corpus supports fewer than K merges), v{r+1} falls back to v{r}
    via the NOT EXISTS union arm — matching the engine's fixed-point
    padding, instead of collapsing to an empty CTE whose readout arm
    would emit a NULL-aggregate row while the engine emitted none.
    Returns (ctes, top_selects)."""
    ctes = ["""v1 AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS wc, string_split(w, '') AS toks
      FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    )"""]
    tops = []
    for r in range(1, n_rounds + 1):
        ctes.append(f"""cnt{r} AS MATERIALIZED (
      SELECT toks[i] AS l, toks[i+1] AS r, SUM(wc) AS cnt
      FROM (SELECT wc, toks, unnest(range(1, len(toks))) AS i FROM v{r})
      GROUP BY 1, 2
    )""")
        ctes.append(
            f"top{r} AS MATERIALIZED (SELECT l, r, cnt FROM cnt{r} "
            "ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        tops.append(
            f"SELECT {r} AS merge_idx, l AS left_tok, r AS right_tok, "
            f"l || r AS merged, CAST(cnt AS BIGINT) AS n_occurrences FROM top{r}"
        )
        if r < n_rounds or apply_last:
            ctes.append(f"""pos{r} AS MATERIALIZED (
      SELECT x.w, x.wc, CAST(x.i AS BIGINT) AS i, x.toks[x.i] AS tok,
             (x.toks[x.i] = t.l AND coalesce(x.toks[x.i+1] = t.r, FALSE)) AS cand
      FROM (SELECT w, wc, toks, unnest(range(1, len(toks)+1)) AS i
            FROM v{r}) x, top{r} t
    )""")
            ctes.append(f"""isl{r} AS MATERIALIZED (
      SELECT w, i, i - row_number() OVER (PARTITION BY w ORDER BY i) AS grp
      FROM pos{r} WHERE cand
    )""")
            ctes.append(f"""tkn{r} AS MATERIALIZED (
      SELECT w, i, ((i - min(i) OVER (PARTITION BY w, grp)) % 2 = 0) AS taken
      FROM isl{r}
    )""")
            ctes.append(f"""v{r + 1} AS MATERIALIZED (
      SELECT p.w, any_value(p.wc) AS wc,
             list(CASE WHEN coalesce(t1.taken, FALSE) THEN t.l || t.r
                       ELSE p.tok END ORDER BY p.i)
               FILTER (WHERE coalesce(t1.taken, FALSE)
                          OR NOT coalesce(t0.taken, FALSE)) AS toks
      FROM pos{r} p
      CROSS JOIN top{r} t
      LEFT JOIN tkn{r} t1 ON t1.w = p.w AND t1.i = p.i
      LEFT JOIN tkn{r} t0 ON t0.w = p.w AND t0.i = p.i - 1
      GROUP BY p.w
      UNION ALL
      SELECT w, wc, toks FROM v{r}
      WHERE NOT EXISTS (SELECT 1 FROM top{r})
    )""")
    return ctes, tops


def _bpe_merges_oracle(n_merges: int) -> str:
    """Replay of ``bpe_merges``: K unrolled rounds (see
    ``_bpe_round_ctes`` for the merge-application equivalence)."""
    ctes, tops = _bpe_round_ctes(n_merges, apply_last=False)
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(tops)
    )


def _bpe_fertility_oracle(n_merges: int) -> str:
    """Replay of ``bpe_fertility``: the v{r} vocab states of the merge
    chain read out as the corpus compression curve — after r merges,
    total tokens, tokens/word and chars/token (round 0 = raw chars)."""
    ctes, _ = _bpe_round_ctes(n_merges, apply_last=True)
    arms = [
        f"""SELECT {r - 1} AS n_merges,
           CAST(SUM(wc * len(toks)) AS BIGINT) AS total_tokens,
           round(CAST(SUM(wc * len(toks)) AS DOUBLE) / SUM(wc), 6)
             AS tokens_per_word,
           round(CAST(SUM(wc * length(w)) AS DOUBLE)
                 / SUM(wc * len(toks)), 6) AS chars_per_token
    FROM v{r}"""
        for r in range(1, n_merges + 2)
    ]
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(arms)
    )


@query(
    "text_bpe_merges",
    oracle=_bpe_merges_oracle(4),
    doc="Tokenizer TRAINING capstone (VERDICT r14 item 6): the first "
    "FOUR iterated BPE merges (Sennrich et al., ACL 2016) — each "
    "round counts adjacent token-pair frequencies over the vocabulary "
    "with earlier merges applied, argmaxes (count desc, pair asc), "
    "and applies the rule greedy-leftmost-non-overlapping. Completes "
    "the tokenizer-training story text_bpe_pair_counts (round 1's "
    "statistic) and text_vocab_coverage (the trained vocabulary's "
    "audit) bracket. The Spark merge application is an F.aggregate "
    "fold; the oracle replays it with the equivalent run-parity rule "
    "(even offsets within overlapping candidate runs) — both pytested "
    "against a pure-Python BPE reference. Scale: the corpus collapses "
    "to its VOCABULARY once (the only corpus-sized exchange — the "
    "unrolled-fixpoint discipline of graph_pagerank_dedup); each "
    "round is one vocabulary-sized pair agg + a zero-exchange fold "
    "map over the cached vocab frame, and the per-round argmax is ONE "
    "collected row (K rows total ride the driver, never the corpus).",
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bpe_merges(d, "text", n_merges=4)


# ------------------------------------------------- r14: corpus hygiene & mixing


@query(
    "dedup_semantic_cluster",
    oracle=f"""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cluster_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assigned AS (
      SELECT vec_id, embedding, cluster_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cluster_id) AS rn
      FROM scored
    ),
    m AS (SELECT vec_id, embedding, cluster_id FROM assigned WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, b.cluster_id,
             round({_cos_sql("a.embedding", "b.embedding")}, 6) AS s
      FROM m a JOIN m b
        ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
      WHERE round({_cos_sql("a.embedding", "b.embedding")}, 6) >= 0.35
    )
    SELECT id_b AS vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           min(id_a) AS witness_id,
           arg_min(s, id_a) AS witness_score
    FROM pairs GROUP BY id_b, cluster_id
    """,
    doc="B15/B16 bridge — SemDeDup (Abbas et al. 2023): semantic "
    "near-dup removal with LEARNED k-means clusters as the blocking "
    "key instead of labels or hash bands; within-cluster pairwise "
    "cosine ≥ 0.35, lowest id survives, output = the drop list with "
    "each victim's cluster, surviving witness and pair score. "
    "Assignment is the Arrow assign_nearest kernel against the "
    "id-ordered seed quantizer (the IVF convention — oracle replays "
    "it in SQL with identical argmax tie-breaks); the pair stage is "
    "the pairwise_near_duplicates shape with precomputed norms and a "
    "6dp-ROUNDED threshold (ulp-stable pair membership across "
    "engines). Scale: the paper's own "
    "topology — k grows with N so per-cluster pair fan-out stays "
    "bounded; vectors shuffle ONCE keyed by cluster; a mega-cluster "
    "follows the count-first cap discipline "
    "(operators/similarity.py).",
)
def dedup_semantic_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(e, n_clusters=16, threshold=0.35)


@query(
    "decontaminate_embedding_cosine",
    oracle=f"""
    WITH b AS (
      SELECT vec_id AS bench_id, embedding AS bvec
      FROM embeddings WHERE vec_id % 41 = 0
    ),
    corp AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 41 <> 0
    ),
    scored AS (
      SELECT corp.vec_id, b.bench_id,
             {_cos_sql("corp.embedding", "b.bvec")} AS s
      FROM corp, b
    ),
    best AS (
      SELECT vec_id, bench_id, round(s, 6) AS score,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, bench_id) AS rn
      FROM scored
    )
    SELECT vec_id, bench_id, score
    FROM best WHERE rn = 1 AND score >= 0.32
    """,
    doc="B17 decontamination, semantic form (cf. phi-1, Gunasekar et "
    "al. 2023 §2.4): flag corpus vectors whose max cosine to the "
    "held-out benchmark slice (deterministic id % 41 sample standing "
    "in for the eval-suite embedding table) reaches 0.32 — catches "
    "PARAPHRASED leakage the n-gram/Bloom family (which shares the "
    "gate window) cannot see. Threshold on the 6dp-ROUNDED score (the "
    "ivf_topk_scaled rounding contract) so a last-ulp fold divergence "
    "cannot flip membership; nearest-bench tie → lowest bench id on "
    "both engines. Scale: the benchmark suite is bounded (≤10⁵ "
    "vectors) and rides task-local inside ONE Arrow assign_nearest "
    "pass — no join, no N×B fan-out, ZERO shuffles; the corpus is "
    "read exactly once (operators/similarity.py).",
)
def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.benchmark_decontaminate_embeddings(e, bench_mod=41, threshold=0.32)


@query(
    "sampling_epoch_upsample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 2 WHEN 'es' THEN 2
                       WHEN 'fr' THEN 2 WHEN 'zh' THEN 3 ELSE 1 END AS base,
             CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 250 WHEN 'es' THEN 500
                       WHEN 'fr' THEN 250 WHEN 'zh' THEN 500 ELSE 0 END AS frac_k,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'epoch0'),
                                  1, 15)) AS BIGINT) % 1000 AS hk
      FROM documents
    ),
    n AS (
      SELECT doc_id, lang,
             CAST(base + CASE WHEN hk < frac_k THEN 1 ELSE 0 END AS BIGINT)
                 AS n_copies
      FROM w
    )
    SELECT doc_id, lang, n_copies,
           CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
    FROM n WHERE n_copies >= 1
    """,
    doc="LLM-pipeline data mixing: EPOCH UPSAMPLING — materialize a "
    "mixture recipe (en 1.0 / de 2.25 / fr 2.25 / es 2.5 / zh 3.5, "
    "the low-resource-language boost) as a reproducible expanded "
    "epoch: floor(w) guaranteed copies per doc plus one more when the "
    "portable 60-bit md5(id:seed) mod 1000 lands under the weight's "
    "thousandths (cf. Muennighoff et al. 2023 — repeating "
    "data-constrained corpora; integer-exact, so no float boundary "
    "can flip a copy count between engines). Output = one row per "
    "epoch occurrence with its copy index — the loader's provenance "
    "map. Scale: pure map + bounded explode (≤⌈max w⌉ rows/doc), "
    "ZERO exchanges; a new seed re-draws fractional copies per epoch "
    "without touching the base corpus (operators/sampling.py).",
)
def sampling_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.epoch_upsample(
        d,
        "doc_id",
        "lang",
        weights={"en": 1.0, "de": 2.25, "es": 2.5, "fr": 2.25, "zh": 3.5},
        seed="epoch0",
    )


@query(
    "sampling_soft_dedup_weights",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents
    ), b AS (
      SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0
    ), s AS (
      SELECT doc_id, toks, n, unnest(range(0, n, 48)) AS st FROM b
    ), ch AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, st + 1, st + 64), ' '))
                 AS chunk_hash
      FROM s
    ), g AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk_hash
    ), per_doc AS (
      SELECT ch.doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared
      FROM ch JOIN g USING (chunk_hash) GROUP BY ch.doc_id
    )
    SELECT doc_id, n_chunks, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_chunks, 6) AS dup_frac,
           round(1.0 / (1.0 + round(CAST(n_shared AS DOUBLE) / n_chunks, 6)), 6)
               AS weight
    FROM per_doc
    """,
    doc="B15 soft deduplication (He et al., ACL 2024 'SoftDedup'): "
    "DOWN-WEIGHT duplicated content instead of dropping it — per-doc "
    "commonness = fraction of its 64/48 chunk windows (the "
    "dedup_chunk_hash axis) whose digest appears in >1 document; "
    "training weight 1/(1+dup_frac). Keeps distribution coverage hard "
    "dedup destroys while still discounting boilerplate. Scale: "
    "zero-exchange chunking → ONE digest hash agg (vocabulary-sized) "
    "→ digest-keyed join back (AQE broadcasts the small side) → "
    "per-doc re-agg; chunk identity travels as 32-byte digests, "
    "window text never rides an exchange (operators/dedup.py).",
)
def sampling_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.soft_dedup_weights(d, "doc_id", "text")


@query(
    "text_filter_ablation_matrix",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / len(tk), 4) AS mean_word_len,
             round(CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
                        AS DOUBLE) / len(tk), 6) AS alpha_word_frac,
             CAST(len(list_filter(tk, t -> lower(t) IN
                  ('the','a','of','to','and','in','is'))) AS BIGINT) AS stop_hits
      FROM s
    ), flags AS (
      SELECT n_words BETWEEN 50 AND 100000 AS rule_word_count,
             mean_word_len BETWEEN 3.0 AND 10.0 AS rule_mean_len,
             alpha_word_frac >= 0.8 AS rule_alpha_frac,
             stop_hits >= 2 AS rule_stopwords
      FROM m
    ), combos AS (
      SELECT rule_word_count, rule_mean_len, rule_alpha_frac, rule_stopwords,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM flags
      GROUP BY rule_word_count, rule_mean_len, rule_alpha_frac, rule_stopwords
    )
    SELECT rule_word_count, rule_mean_len, rule_alpha_frac, rule_stopwords,
           n_docs,
           round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6) AS share
    FROM combos
    """,
    doc="B17 quality-filter ABLATION audit: population counts and "
    "corpus shares for every observed combination of the four Gopher "
    "rule outcomes (text_gopher_rules' battery) — the governance "
    "table behind 'which filter drives removal' ablations (Rae et "
    "al. 2021 §A2; RefinedWeb removal accounting). The all-True row "
    "is the surviving population; each single-False row prices one "
    "rule's marginal removal. Scale: zero-shuffle rule map + ONE "
    "partial-aggregable hash agg with ≤2⁴ output rows — the share "
    "window runs on a bounded frame; corpus touched exactly once "
    "(operators/text.py).",
)
def text_filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.filter_ablation_matrix(d, "doc_id", "text")


@query(
    "sampling_mixture_divergence",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    )
    SELECT lang, n_docs,
           round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 6)
               AS actual_share,
           CASE lang WHEN 'en' THEN 0.45 WHEN 'de' THEN 0.15
                     WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                     WHEN 'zh' THEN 0.1 ELSE NULL END AS target_share,
           round((CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ())
                 * ln((CAST(n_docs AS DOUBLE) / sum(n_docs) OVER ())
                      / CASE lang WHEN 'en' THEN 0.45 WHEN 'de' THEN 0.15
                                  WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                                  WHEN 'zh' THEN 0.1 ELSE NULL END), 6)
               AS kl_term
    FROM c
    """,
    doc="LLM-pipeline mixing governance: per-group KL-divergence "
    "contributions of the ACTUAL corpus mix vs the TARGET mixture "
    "recipe (DoReMi/Pile-style weights as plan literals; en 0.45 / "
    "de·es·fr 0.15 / zh 0.10) — the audit that catches a drifted "
    "crawl or broken upstream cap before it trains. kl_term = "
    "p·ln(p/q); the cross-group sum is left to the consumer so every "
    "emitted double is same-expression/same-input (the DSIR ln "
    "precedent — no float-summation parity risk rides the contract); "
    "unknown groups surface as NULL rather than silently "
    "renormalizing. Scale: ONE partial-aggregable group count; the "
    "total is a window over the ≤|groups|-row agg output "
    "(operators/sampling.py).",
)
def sampling_mixture_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.mixture_divergence(
        d, "lang",
        target={"en": 0.45, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.10},
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
        FROM toks GROUP BY tok
      ) WHERE rn <= 500
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id
    """,
    doc="B17 tokenizer-coverage audit: per-document OOV rate against "
    "the top-500 corpus vocabulary (count desc, token asc — a "
    "deterministic total order, so the vocabulary boundary is "
    "engine-stable). The fertility/coverage statistic a tokenizer "
    "redesign is judged on: a rising OOV tail per source or language "
    "flags content the vocabulary under-serves. Scale: the vocab "
    "stage is a map-side-folding hash agg collapsing to vocabulary "
    "size, broadcast back onto the token stream; corpus-sized "
    "exchanges carry (id, token)/(id, flag) narrow rows only "
    "(operators/text.py).",
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.vocab_coverage(d, "doc_id", "text", vocab_size=500)


@query(
    "dedup_split_leakage_audit",
    oracle="WITH " + _portable_lsh_pairs_ctes(threshold=0.8) + """, sp AS (
      SELECT least(CASE WHEN ((id_a % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                        WHEN ((id_a % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                        ELSE 'test' END,
                   CASE WHEN ((id_b % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                        WHEN ((id_b % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                        ELSE 'test' END) AS split_lo,
             greatest(CASE WHEN ((id_a % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                           WHEN ((id_a % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                           ELSE 'test' END,
                      CASE WHEN ((id_b % 100) * (2654435761 % 100)) % 100 < 80 THEN 'train'
                           WHEN ((id_b % 100) * (2654435761 % 100)) % 100 < 90 THEN 'val'
                           ELSE 'test' END) AS split_hi,
             jaccard
      FROM pairs
    )
    SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           round(max(jaccard), 6) AS max_jaccard
    FROM sp GROUP BY split_lo, split_hi
    """,
    doc="B15 × splits governance: the train/eval LEAKAGE MATRIX — "
    "near-duplicate pairs (portable MinHash-LSH candidates + exact-"
    "Jaccard verify at 0.8, the dedup_minhash_lsh pipeline) broken "
    "down by which id-hash split each side landed in; off-diagonal "
    "rows are evaluation contamination a naive split ships (~20% of "
    "a duplicated doc's copies land outside train). Complement of "
    "sampling_leakage_safe_split: that PREVENTS leaks by splitting "
    "on the dedup family, this MEASURES what the naive split leaks. "
    "max (not avg) jaccard: order-independent, engine-stable. Scale: "
    "the split is a PURE FUNCTION of the id — the audit adds zero "
    "joins and zero exchanges on top of the audited pair pipeline; "
    "the matrix agg runs on the output-sized pair set "
    "(operators/dedup.py).",
)
def dedup_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.split_leakage_audit(d, "doc_id", "text", threshold=0.8)


def _split_case_sql(idc: str) -> str:
    """The naive Knuth-bucket split of ``idc`` as a CASE expression
    (overflow-safe reduced form — both factors mod 100 first)."""
    b = f"(({idc} % 100) * (2654435761 % 100)) % 100"
    return (
        f"CASE WHEN {b} < 80 THEN 'train' "
        f"WHEN {b} < 90 THEN 'val' ELSE 'test' END"
    )


@query(
    "dedup_split_leakage_audit_capped",
    oracle="WITH " + _portable_lsh_capped_pairs_ctes(threshold=0.8, cap=2) + f""", sp AS (
      SELECT least({_split_case_sql("id_a")}, {_split_case_sql("id_b")}) AS split_lo,
             greatest({_split_case_sql("id_a")}, {_split_case_sql("id_b")}) AS split_hi,
             jaccard
      FROM pairs
    )
    SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           round(max(jaccard), 6) AS max_jaccard
    FROM sp GROUP BY split_lo, split_hi
    """,
    doc="The PRODUCTION form of the leakage matrix (VERDICT r14 item "
    "5): identical split arithmetic composed over the COUNT-FIRST "
    "CAPPED pair pipeline (dedup_minhash_lsh_capped, cap 2 at gate "
    "scale) instead of the uncapped candidates — SCALING.md's r14 "
    "addendum measured the uncapped audit superlinear on the "
    "replicas because a hot boilerplate bucket expands quadratically "
    "inside the audit itself. Here bucket sizes come from the "
    "skew-immune count pre-pass, only 2 ≤ n ≤ cap buckets expand, "
    "and over-cap keys flow to the standing review queue "
    "(split_hot_keys) rather than this matrix — so the audit's "
    "cost is bounded BEFORE any pair exists, at any corpus size. "
    "The split is still a pure id function: zero joins, zero "
    "exchanges on top of the audited pipeline.",
)
def dedup_split_leakage_audit_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return D.split_leakage_audit(
        d, "doc_id", "text", threshold=0.8, max_bucket_size=2
    )


@query(
    "dq_cluster_label_purity",
    oracle=f"""
    WITH c AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cluster_id,
             embedding AS cvec
      FROM embeddings ORDER BY vec_id LIMIT 16
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.cluster_id,
             {_cos_sql("e.embedding", "c.cvec")} AS s
      FROM embeddings e, c
    ),
    assigned AS (
      SELECT vec_id, label, cluster_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY s DESC, cluster_id) AS rn
      FROM scored
    ),
    m AS (SELECT label, cluster_id FROM assigned WHERE rn = 1),
    counts AS (
      SELECT cluster_id, label, count(*) AS n FROM m GROUP BY cluster_id, label
    ),
    r AS (
      SELECT cluster_id, label, n,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n DESC, label) AS rn,
             sum(n) OVER (PARTITION BY cluster_id) AS tot
      FROM counts
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(tot AS BIGINT) AS n_vectors,
           label AS majority_label,
           CAST(n AS BIGINT) AS n_majority,
           round(CAST(n AS DOUBLE) / tot, 6) AS purity
    FROM r WHERE rn = 1
    """,
    doc="DQ × B16: embedding-space cluster-label PURITY card — assign "
    "every vector to its nearest of 16 deterministic seed centroids "
    "(the cluster_balanced/IVF quantizer convention) and report each "
    "cluster's population, majority label (tie → lowest) and purity "
    "= majority/total — the classic external clustering-validation "
    "measure; a purity collapse after an embedding-model swap is the "
    "cheapest early warning the ANN/dedup serving tiers get. Scale: "
    "ONE Arrow assign_nearest pass; the only exchange carries "
    "(cluster, label) int pairs; rank/total windows run on the "
    "≤k·|labels| agg output (operators/similarity.py).",
)
def dq_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "embeddings")
    return S.cluster_label_purity(e, n_clusters=16)


@query(
    "corpus_pack_efficiency",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'seed13'),
                                  1, 15)) AS BIGINT) AS hh,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ), r AS (
      SELECT doc_id, hh % 8 AS shard, n_tokens,
             COALESCE(sum(n_tokens) OVER (PARTITION BY hh % 8
                                          ORDER BY hh, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS tok_before
      FROM h
    ), arms AS (
      SELECT 128 AS budget, shard, n_tokens,
             CASE WHEN (tok_before % 128) + n_tokens > 128 THEN 1 ELSE 0 END AS spans
      FROM r
      UNION ALL
      SELECT 256, shard, n_tokens,
             CASE WHEN (tok_before % 256) + n_tokens > 256 THEN 1 ELSE 0 END
      FROM r
      UNION ALL
      SELECT 512, shard, n_tokens,
             CASE WHEN (tok_before % 512) + n_tokens > 512 THEN 1 ELSE 0 END
      FROM r
    ), ps AS (
      SELECT budget, shard, sum(n_tokens) AS tok, sum(spans) AS spans
      FROM arms GROUP BY budget, shard
    )
    SELECT CAST(budget AS BIGINT) AS budget,
           CAST(sum((tok + budget - 1) // budget) AS BIGINT) AS n_sequences,
           CAST(sum(spans) AS BIGINT) AS n_docs_spanning,
           CAST(sum(tok) AS BIGINT) AS tokens_total,
           round(CAST(sum(tok) AS DOUBLE)
                 / (sum((tok + budget - 1) // budget) * budget), 6)
               AS utilization
    FROM ps GROUP BY budget
    """,
    doc="Sequence assembly design card: for each candidate token "
    "budget (128/256/512) what the corpus_pack_sequences layout would "
    "cost — training-sequence count, documents spanning a sequence "
    "boundary (attention-truncated loss), total tokens, utilization. "
    "The table a pretraining run consults ONCE to pick max_seq_len; "
    "the budgets share ONE cumsum because re-cutting never reshuffles "
    "(the pack_sequences invariant, here exposed as a product). All "
    "counts exact BIGINTs (integer ceil-division — double division "
    "loses exactness past 2^53 tokens). Scale: one shard-keyed "
    "exchange + partition-local cumsum, identical to pack_sequences; "
    "budget arms are maps over that frame; final aggs run on "
    "|budgets|·n_shards rows (operators/sampling.py).",
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.pack_efficiency(d, "doc_id", "text", budgets=(128, 256, 512))


# ------------------------------------------------------------------
# r15: corpus versioning & release management — release-over-release
# dataset diffing, the dataset-ops review a 100 TB corpus ships with.
# Both entries derive two deterministic "versions" from the documents
# table so the diff semantics are oracle-replayable: v_old drops
# doc_id % 13 == 0, v_new drops doc_id % 17 == 0 and revises the text
# of doc_id % 11 == 0 — giving non-empty added/removed/changed arms
# at every SF.

_VERSIONS_SQL = """old AS (
      SELECT doc_id, text, source FROM documents WHERE doc_id % 13 <> 0
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END AS text,
             source
      FROM documents WHERE doc_id % 17 <> 0
    )"""


def _corpus_versions(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    old = d.filter(F.col("doc_id") % 13 != 0).select("doc_id", "text", "source")
    new = d.filter(F.col("doc_id") % 17 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "source",
    )
    return old, new


@query(
    "corpus_version_diff",
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
    doc="r15 corpus VERSIONING: the per-document delta between two "
    "corpus releases — content-addressed set algebra returning one "
    "row per added/removed/changed id with both md5 digests "
    "(unchanged rows filtered, so the output is delta-sized). The "
    "review every dataset release needs: a takedown pass must show "
    "only 'removed', a filter re-run only 'removed'+'changed'. "
    "Scale: each side collapses to (id, digest) AT ITS SCAN — the "
    "full-outer join shuffles 40-byte rows keyed by id and the text "
    "column never moves (the dedup_exact_hashed no-string-shuffle "
    "discipline); in production the digest projection is the "
    "manifest a lakehouse snapshot already stores "
    "(operators/versioning.py).",
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import versioning as V

    old, new = _corpus_versions(t(spark, sf_dir, "documents"))
    return V.corpus_version_diff(old, new, "doc_id", "text")


@query(
    "corpus_release_delta_card",
    oracle="WITH " + _VERSIONS_SQL + """,
    j AS (
      SELECT coalesce(n.source, o.source) AS source,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                  ELSE 'unchanged' END AS change,
             coalesce(length(n.text), 0) - coalesce(length(o.text), 0)
               AS delta
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT source, change, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(delta) AS BIGINT) AS char_delta
    FROM j GROUP BY source, change
    """,
    doc="r15 corpus versioning, the sign-off CARD: per (source, "
    "change) document counts and net character delta — the "
    "composition-shift summary a release review reads (did the crawl "
    "refresh silently halve a source? did 'remove-only' really only "
    "remove?). Unchanged rows ARE counted (char_delta 0) so each "
    "source's rows sum to its population. Scale: the same "
    "digest-projection join as corpus_version_diff plus 8-byte "
    "lengths computed at the scan; the card agg collapses to "
    "≤ sources × 4 rows map-side (operators/versioning.py).",
)
def corpus_release_delta_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import versioning as V

    old, new = _corpus_versions(t(spark, sf_dir, "documents"))
    return V.release_delta_card(old, new, "doc_id", "text", "source")


@query(
    "text_bpe_fertility_card",
    oracle=_bpe_fertility_oracle(4),
    doc="r15 tokenizer application: the corpus COMPRESSION CURVE under "
    "the first 0..4 learned BPE merges — per merge count, exact total "
    "tokens (Σ wc·|toks| over the merge chain's own vocabulary "
    "states), tokens/word and chars/token (round 0 = raw characters, "
    "chars_per_token exactly 1.0). The table a tokenizer-budget "
    "decision reads: where the curve flattens, additional merges stop "
    "paying — completing the training story text_bpe_merges (the "
    "rules) and text_vocab_coverage (the trained vocabulary's OOV "
    "audit) began. Scale: identical to bpe_merges — the corpus "
    "collapses to its vocabulary ONCE; each of the K+1 readouts is "
    "one vocabulary-sized aggregation collapsing to one row "
    "(operators/text.py).",
)
def text_bpe_fertility_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bpe_fertility(d, "text", n_merges=4)


@query(
    "corpus_curriculum_order",
    oracle="""
    WITH r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rank_in_stratum
      FROM documents
    )
    SELECT doc_id, source, CAST(rank_in_stratum AS BIGINT) AS rank_in_stratum,
           CAST(row_number() OVER (ORDER BY rank_in_stratum, source)
                AS BIGINT) AS position
    FROM r
    """,
    doc="r15 curriculum DATA ORDERING: a deterministic global training "
    "order — easy-to-hard within each source (n_chars asc, the classic "
    "length curriculum; id tie-break) and round-robin ACROSS sources "
    "so no source streak forms (the anti-clustering property a plain "
    "ORDER BY difficulty destroys; cf. Bengio et al. 2009 curriculum "
    "learning). Scale — why this beats the oracle's own formulation: "
    "the global position is a CLOSED FORM over per-stratum counts "
    "(position = Σ min(c_s', k-1) + |{s' ≤ s : c_s' ≥ k}|), so the "
    "plan is ONE stratum-keyed exchange for the rank window plus a "
    "pure map — there is NO single-reducer global row_number anywhere "
    "(the oracle's OVER (ORDER BY …) is exactly the anti-pattern the "
    "closed form removes; counts ride as a |strata|-row plan literal, "
    "the IVF-quantizer collect discipline). Equality of the two "
    "formulations is pytested (operators/sampling.py).",
)
def corpus_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.curriculum_interleave(d, "doc_id", "source", "n_chars")


def _bpe_fertility_by_source_oracle(n_merges: int) -> str:
    """Per-source fertility off the GLOBAL merge chain: a word's
    tokenization under K merges is a pure function of the word, so the
    per-source totals are the (source, word) counts joined against the
    final vocabulary state v{K+1}."""
    ctes, _ = _bpe_round_ctes(n_merges, apply_last=True)
    ctes.append("""wsrc AS MATERIALIZED (
      SELECT source, w, CAST(count(*) AS BIGINT) AS wc
      FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents
      ) GROUP BY source, w
    )""")
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT s.source,
           CAST(SUM(s.wc) AS BIGINT) AS total_words,
           CAST(SUM(s.wc * len(v.toks)) AS BIGINT) AS total_tokens,
           round(CAST(SUM(s.wc * len(v.toks)) AS DOUBLE) / SUM(s.wc), 6)
             AS tokens_per_word,
           round(CAST(SUM(s.wc * length(s.w)) AS DOUBLE)
                 / SUM(s.wc * len(v.toks)), 6) AS chars_per_token
    FROM wsrc s JOIN v{n_merges + 1} v ON v.w = s.w
    GROUP BY s.source
    """
    )


@query(
    "text_bpe_fertility_by_source",
    oracle=_bpe_fertility_by_source_oracle(4),
    doc="r15 tokenizer application, the per-SOURCE audit: fertility "
    "(tokens/word, chars/token) of each source under the GLOBALLY "
    "learned 4-merge BPE chain — the readout that shows which source "
    "or language a shared tokenizer under-serves (high tokens/word = "
    "the vocabulary wasn't learned for it; cf. the fertility metric "
    "of multilingual-tokenizer audits), complementing the corpus "
    "curve (text_bpe_fertility_card) and the OOV rate "
    "(text_vocab_coverage). The identity that keeps it cheap: a "
    "word's tokenization under K merges is a pure function of the "
    "WORD — source plays no role — so per-source totals are the "
    "(source, word) counts JOINED against the global chain's final "
    "vocabulary state; no second merge application, no per-document "
    "fold. Scale: one extra corpus-collapsing (source, word) agg + "
    "one vocabulary-keyed join; the corpus text is read exactly "
    "twice (global vocab + per-source vocab), shuffles carry word "
    "rows only (operators/text.py).",
)
def text_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bpe_fertility_by_source(d, "text", "source", n_merges=4)


@query(
    "corpus_release_gate",
    oracle="WITH " + _VERSIONS_SQL + """,
    j AS (
      SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                  ELSE 'unchanged' END AS c
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    ), a AS (
      SELECT count(*) AS total,
             sum(CASE WHEN c = 'added' THEN 1 ELSE 0 END) AS added,
             sum(CASE WHEN c = 'removed' THEN 1 ELSE 0 END) AS removed,
             sum(CASE WHEN c = 'changed' THEN 1 ELSE 0 END) AS changed
      FROM j
    )
    SELECT 'added' AS check, CAST(added AS BIGINT) AS n_docs,
           round(CAST(added AS DOUBLE) / total, 6) AS frac,
           0.5 AS threshold,
           round(CAST(added AS DOUBLE) / total, 6) <= 0.5 AS passed
    FROM a
    UNION ALL
    SELECT 'removed', CAST(removed AS BIGINT),
           round(CAST(removed AS DOUBLE) / total, 6), 0.2,
           round(CAST(removed AS DOUBLE) / total, 6) <= 0.2
    FROM a
    UNION ALL
    SELECT 'changed', CAST(changed AS BIGINT),
           round(CAST(changed AS DOUBLE) / total, 6), 0.3,
           round(CAST(changed AS DOUBLE) / total, 6) <= 0.3
    FROM a
    """,
    doc="r15 versioning capstone: the release GO/NO-GO gate — one row "
    "per check (added/removed/changed fraction of the union "
    "population vs its plan-literal threshold, with the boolean "
    "verdict), the page a dataset-release pipeline fires on when a "
    "takedown over-deletes or a crawler refresh duplicates half the "
    "corpus. Shaped like the contamination family's release_report: "
    "bounded verdict rows over an audited pipeline. Scale: the "
    "corpus_version_diff digest join (40-byte rows, text never "
    "shuffles) collapsed to ONE conditional-sum row; gate maths on "
    "that row (operators/versioning.py).",
)
def corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import versioning as V

    old, new = _corpus_versions(t(spark, sf_dir, "documents"))
    return V.release_version_gate(old, new, "doc_id", "text")


@query(
    "decontaminate_incremental_delta",
    oracle="WITH " + _VERSIONS_SQL + """,
    delta AS (
      SELECT n.doc_id, n.text,
             CASE WHEN o.doc_id IS NULL THEN 'added' ELSE 'changed' END AS change
      FROM new n LEFT JOIN old o ON o.doc_id = n.doc_id
      WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)
    ),
    toksb AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM new
      WHERE ((doc_id % 100) * (2654435761 % 100)) % 100 < 5
    ),
    bench AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
      FROM toksb WHERE len(toks) >= 4
    ),
    toksd AS (
      SELECT d.doc_id, d.change,
             list_filter(string_split_regex(d.text, '\\s+'), x -> x <> '') AS toks
      FROM delta d
      WHERE ((d.doc_id % 100) * (2654435761 % 100)) % 100 >= 5
    ),
    expl AS (
      SELECT doc_id, change, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
      FROM toksd WHERE len(toks) >= 4
    ),
    scored AS (
      SELECT e.doc_id, any_value(e.change) AS change,
             count(b.g) AS hits, count(*) AS total_ngrams
      FROM expl e LEFT JOIN bench b ON e.g = b.g
      GROUP BY e.doc_id
    )
    SELECT doc_id, change, hits, total_ngrams,
           round(CAST(hits AS DOUBLE) / total_ngrams, 6) AS contamination
    FROM scored WHERE hits > 0
    """,
    doc="r15 versioning × decontamination: INCREMENTAL benchmark "
    "decontamination at release cadence — only the release DELTA "
    "(added + changed docs of the new version, from the digest diff) "
    "is re-checked for 4-gram overlap with the benchmark slice; "
    "absorbed content is never rescanned. This is the production "
    "form of the decontamination family at 100 TB: per release the "
    "check costs O(|delta|) corpus work + the broadcast benchmark "
    "n-gram set, instead of a full-corpus pass (the same "
    "never-rescan discipline the manifest lake gives the diff "
    "itself). Output = the parent entry's contract (hits > 0 rows) "
    "plus the delta arm each doc came from. Scale: diff join carries "
    "(id, digest) only; the delta explodes to (doc_id, gram) and "
    "joins the broadcast bench set map-side; one per-doc partial "
    "agg.",
)
def decontaminate_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    old, new = _corpus_versions(t(spark, sf_dir, "documents"))
    o = old.select("doc_id", F.md5("text").alias("__od"))
    # materialize the DELTA once (r17 optimization round, guide §2.4):
    # the scored leg (explode + contamination agg) and the change-label
    # join both consumed this subtree, so the digest left-join — two
    # full corpus scans + md5 passes — executed twice per invocation
    # unless runtime exchange reuse happened to fire. The artifact is
    # delta-sized (the whole point of the incremental form), so the
    # checkpoint cost is O(|delta|), not O(corpus).
    delta = materialize_once(
        new.join(o, "doc_id", "left")
        .filter(F.col("__od").isNull() | (F.md5("text") != F.col("__od")))
        .select(
            "doc_id",
            "text",
            F.when(F.col("__od").isNull(), F.lit("added"))
            .otherwise(F.lit("changed"))
            .alias("change"),
        )
    )
    bench = new.filter(SA.hash_bucket(F.col("doc_id")) < 5)
    corpus = delta.filter(SA.hash_bucket(F.col("doc_id")) >= 5)
    scored = TX.benchmark_contamination(corpus, bench, "doc_id", "text", n=4)
    return (
        scored.join(corpus.select("doc_id", "change"), "doc_id")
        .select("doc_id", "change", "hits", "total_ngrams", "contamination")
        .filter(F.col("hits") > 0)
    )


# ------------------- r16 (VERDICT r15 item 3): closing the tokenizer loop —
# APPLY the learned BPE chain (encode the corpus into token IDs) and budget
# sequence packing with REAL BPE tokens instead of whitespace words.


def _bpe_encode_ctes(n_merges: int) -> list[str]:
    """Shared CTEs for the tokenizer-APPLICATION oracles: the merge
    chain's final state v{K+1}, the dense token-id table (row_number
    over the ≤ |alphabet|+K subword set — a bounded tokenizer
    artifact, not corpus data), the per-word token-id arrays (the
    word-purity identity: tokenization is a pure function of the
    word), and the positional (doc, word) stream."""
    ctes, _ = _bpe_round_ctes(n_merges, apply_last=True)
    v = f"v{n_merges + 1}"
    ctes.append(f"""tok_vocab AS MATERIALIZED (
      SELECT tok, CAST(row_number() OVER (ORDER BY tok) AS BIGINT) AS token_id
      FROM (SELECT DISTINCT unnest(toks) AS tok FROM {v})
    )""")
    ctes.append(f"""wmap AS MATERIALIZED (
      SELECT wt.w, list(tv.token_id ORDER BY wt.pos) AS tok_ids
      FROM (SELECT w, unnest(toks) AS tok,
                   unnest(range(1, len(toks) + 1)) AS pos
            FROM {v}) wt
      JOIN tok_vocab tv ON tv.tok = wt.tok
      GROUP BY wt.w
    )""")
    ctes.append("""docw AS MATERIALIZED (
      SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS wpos
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS ws
            FROM documents)
    )""")
    return ctes


@query(
    "corpus_tokenize_bpe",
    oracle="WITH " + ",\n    ".join(_bpe_encode_ctes(4)) + """
    SELECT d.doc_id,
           flatten(list(m.tok_ids ORDER BY d.wpos)) AS token_ids,
           CAST(len(flatten(list(m.tok_ids ORDER BY d.wpos))) AS BIGINT)
             AS n_tokens
    FROM docw d JOIN wmap m ON m.w = d.w
    GROUP BY d.doc_id
    """,
    doc="r16 tokenizer APPLICATION (VERDICT r15 item 3 — the family "
    "trained rules and audited fertility but never encoded): per "
    "document, the token-ID sequence under the first 4 learned BPE "
    "merges, ids dense-ranked over the final vocabulary state's "
    "subword set (bounded by |alphabet|+K — the artifact a tokenizer "
    "ships). The word-purity identity keeps this ONE vocabulary-"
    "keyed join instead of a second merge application: per-word "
    "token-id arrays are computed once on the vocabulary frame; "
    "documents join word → array and flatten in word order. Scale: "
    "the merge chain costs what bpe_merges costs (corpus collapses "
    "to its vocabulary once); doc-side exchanges carry (id, "
    "word-pos) rows plus the per-doc reassembly agg keyed by id — "
    "the one corpus-sized exchange any per-doc-array output needs "
    "(operators/text.py).",
)
def corpus_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return TX.bpe_encode(d, "doc_id", "text", n_merges=4)


@query(
    "corpus_pack_sequences_bpe",
    oracle="WITH " + ",\n    ".join(_bpe_encode_ctes(4)) + """,
    cnt AS MATERIALIZED (
      SELECT dw.doc_id, CAST(SUM(dw.c * len(v.toks)) AS BIGINT) AS n_tokens
      FROM (SELECT doc_id, w, count(*) AS c FROM docw GROUP BY doc_id, w) dw
      JOIN v5 v ON v.w = dw.w
      GROUP BY dw.doc_id
    ),
    h AS (
      SELECT d.doc_id,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || 'seed13'),
                                  1, 15)) AS BIGINT) AS hh,
             COALESCE(c.n_tokens, 0) AS n_tokens
      FROM documents d LEFT JOIN cnt c ON c.doc_id = d.doc_id
    ), r AS (
      SELECT doc_id, hh % 8 AS shard, n_tokens,
             CAST(row_number() OVER (PARTITION BY hh % 8
                                     ORDER BY hh, doc_id) AS BIGINT)
                 AS position,
             COALESCE(sum(n_tokens) OVER (PARTITION BY hh % 8
                                          ORDER BY hh, doc_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS tok_before
      FROM h
    )
    SELECT doc_id, shard, position, n_tokens,
           CAST(tok_before // 256 AS BIGINT) AS pack_id,
           CAST(tok_before % 256 AS BIGINT) AS pack_offset
    FROM r
    """,
    doc="r16 sequence assembly × tokenizer (VERDICT r15 item 3): the "
    "corpus_pack_sequences provenance map budgeting REAL BPE tokens "
    "— n_tokens = Σ_w count(doc, w)·|toks_K(w)| under the learned "
    "4-merge chain (the word-purity identity: one corpus-collapsing "
    "(id, word) agg joined to the vocabulary's final token lengths; "
    "no per-document merge application) — instead of the whitespace "
    "words the r14 entry counts. Same reproducible md5 shuffle "
    "order, same shard keying, same integer-exact div/mod pack "
    "arithmetic; zero-word docs pack with n_tokens 0. Scale: the "
    "pack half is unchanged (ONE shard-keyed exchange, partition-"
    "local cumsum); the count half shuffles word keys and (id, "
    "count) rows only (operators/sampling.py, operators/text.py).",
)
def corpus_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = TX.bpe_token_counts(d, "doc_id", "text", n_merges=4)
    return SA.pack_sequences_from_counts(
        counts, "doc_id", budget=256, n_shards=8, seed="seed13"
    )


@query(
    "corpus_release_pipeline",
    oracle="WITH " + _VERSIONS_SQL + """,
    j AS MATERIALIZED (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN md5(o.text) <> md5(n.text) THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    ),
    counts AS MATERIALIZED (
      SELECT change, CAST(count(*) AS BIGINT) AS n FROM j GROUP BY change
    ),
    a AS (
      SELECT SUM(n) AS total,
             COALESCE(SUM(n) FILTER (WHERE change = 'added'), 0) AS added,
             COALESCE(SUM(n) FILTER (WHERE change = 'removed'), 0) AS removed,
             COALESCE(SUM(n) FILTER (WHERE change = 'changed'), 0) AS changed
      FROM counts
    ),
    gate AS (
      SELECT 'added' AS item, CAST(added AS BIGINT) AS n_docs,
             round(CAST(added AS DOUBLE) / total, 6) AS metric,
             round(CAST(added AS DOUBLE) / total, 6) <= 0.5 AS passed
      FROM a
      UNION ALL
      SELECT 'removed', CAST(removed AS BIGINT),
             round(CAST(removed AS DOUBLE) / total, 6),
             round(CAST(removed AS DOUBLE) / total, 6) <= 0.2
      FROM a
      UNION ALL
      SELECT 'changed', CAST(changed AS BIGINT),
             round(CAST(changed AS DOUBLE) / total, 6),
             round(CAST(changed AS DOUBLE) / total, 6) <= 0.3
      FROM a
    ),
    toksb AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM new
      WHERE ((doc_id % 100) * (2654435761 % 100)) % 100 < 5
    ),
    bench AS (
      SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
      FROM toksb WHERE len(toks) >= 4
    ),
    toksd AS (
      SELECT n2.doc_id,
             list_filter(string_split_regex(n2.text, '\\s+'), x -> x <> '') AS toks
      FROM new n2 JOIN j ON j.doc_id = n2.doc_id
      WHERE j.change IN ('added', 'changed')
        AND ((n2.doc_id % 100) * (2654435761 % 100)) % 100 >= 5
    ),
    expl AS (
      SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS g
      FROM toksd WHERE len(toks) >= 4
    ),
    scored AS (
      SELECT e.doc_id, count(b.g) AS hits, count(*) AS total_ngrams
      FROM expl e LEFT JOIN bench b ON e.g = b.g
      GROUP BY e.doc_id
    ),
    decon AS (
      SELECT CAST(COALESCE(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_flagged,
             MAX(CASE WHEN hits > 0
                      THEN round(CAST(hits AS DOUBLE) / total_ngrams, 6)
                 END) AS max_contam
      FROM scored
    )
    SELECT 'diff' AS stage, change AS item, n AS n_docs,
           CAST(NULL AS DOUBLE) AS metric, CAST(NULL AS BOOLEAN) AS passed
    FROM counts
    UNION ALL
    SELECT 'gate', item, n_docs, metric, passed FROM gate
    UNION ALL
    SELECT 'decontamination', 'delta_flagged', n_flagged, max_contam,
           n_flagged = 0
    FROM decon
    UNION ALL
    SELECT 'release', 'verdict',
           (SELECT CAST(added + removed + changed AS BIGINT) FROM a),
           CAST(NULL AS DOUBLE),
           (SELECT bool_and(passed) FROM gate)
             AND (SELECT n_flagged = 0 FROM decon)
    """,
    doc="r16 versioning CAPSTONE (VERDICT r15 item 4): the end-to-end "
    "release pipeline — diff → sign-off counts → incremental "
    "decontamination of the delta → go/no-go gate → one release "
    "verdict row — chained over ONE shared digest-classification "
    "frame (materialize-once discipline: the full-outer digest join "
    "is computed exactly once; the diff counts, the gate fractions, "
    "the delta selection for decontamination, and the verdict all "
    "read it). Output ≤ 9 rows: (stage, item, n_docs, metric, "
    "passed) — 'diff' populations per change arm, the three 'gate' "
    "checks (gate_checks over the SAME counts, no re-derived join — "
    "item 5's one-pass explode form), the delta-decontamination "
    "summary (flagged count + max 4-gram contamination, the "
    "decontaminate_incremental_delta arm aggregated), and the "
    "release verdict (all gates pass AND zero contaminated delta "
    "docs). Scale: the classification frame shuffles 40-byte "
    "(id, change) rows; decon re-reads text for the DELTA only "
    "(O(|delta|), the never-rescan discipline); everything else is "
    "bounded-row arithmetic (operators/versioning.py, "
    "operators/text.py).",
)
def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import versioning as V

    old, new = _corpus_versions(t(spark, sf_dir, "documents"))
    o = old.select(
        F.col("doc_id").alias("__id"), F.md5("text").alias("old_digest")
    )
    n = new.select(
        F.col("doc_id").alias("__id"), F.md5("text").alias("new_digest")
    )
    change = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    cls = materialize_once(
        o.join(n, "__id", "full_outer").select(
            F.col("__id").alias("doc_id"), change.alias("change")
        )
    )
    counts = materialize_once(
        cls.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
    )
    piv = counts.agg(
        F.sum("n").alias("total"),
        *[
            F.sum(F.when(F.col("change") == k, F.col("n")).otherwise(0)).alias(k)
            for k in ("added", "removed", "changed")
        ],
    )
    gate = V.gate_checks(piv)

    delta_ids = cls.filter(F.col("change").isin("added", "changed")).select(
        "doc_id"
    )
    bench = new.filter(SA.hash_bucket(F.col("doc_id")) < 5)
    corpus_delta = new.join(delta_ids, "doc_id").filter(
        SA.hash_bucket(F.col("doc_id")) >= 5
    )
    scored = TX.benchmark_contamination(corpus_delta, bench, "doc_id", "text", n=4)
    decon = scored.agg(
        F.coalesce(F.sum((F.col("hits") > 0).cast("long")), F.lit(0))
        .cast("long")
        .alias("n_flagged"),
        F.max(F.when(F.col("hits") > 0, F.col("contamination"))).alias(
            "max_contam"
        ),
    )

    diff_rows = counts.select(
        F.lit("diff").alias("stage"),
        F.col("change").alias("item"),
        F.col("n").cast("long").alias("n_docs"),
        F.lit(None).cast("double").alias("metric"),
        F.lit(None).cast("boolean").alias("passed"),
    )
    gate_rows = gate.select(
        F.lit("gate").alias("stage"),
        F.col("check").alias("item"),
        F.col("n_docs"),
        F.col("frac").alias("metric"),
        F.col("passed"),
    )
    decon_row = decon.select(
        F.lit("decontamination").alias("stage"),
        F.lit("delta_flagged").alias("item"),
        F.col("n_flagged").alias("n_docs"),
        F.col("max_contam").alias("metric"),
        (F.col("n_flagged") == 0).alias("passed"),
    )
    verdict = (
        gate.agg(
            (F.sum(F.when(F.col("passed"), 0).otherwise(1)) == 0).alias(
                "gate_ok"
            )
        )
        .crossJoin(decon.select("n_flagged"))
        .crossJoin(
            piv.select(
                (F.col("added") + F.col("removed") + F.col("changed"))
                .cast("long")
                .alias("n_delta")
            )
        )
        .select(
            F.lit("release").alias("stage"),
            F.lit("verdict").alias("item"),
            F.col("n_delta").alias("n_docs"),
            F.lit(None).cast("double").alias("metric"),
            (F.col("gate_ok") & (F.col("n_flagged") == 0)).alias("passed"),
        )
    )
    return (
        diff_rows.unionAll(gate_rows).unionAll(decon_row).unionAll(verdict)
    )


# --------------------- r16 NEW FAMILY: SFT / instruction-data assembly —
# the fine-tuning last mile (operators/sft.py). Catalog fixtures derive a
# deterministic TURNS view from documents (4 turns per conversation,
# alternating user/assistant by doc parity) the same way _corpus_versions
# derives two releases; the operators themselves take any
# (conversation, turn_idx, role, text) frame.

_SFT_TURNS_SQL = """turns AS (
      SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
             CASE WHEN doc_id % 2 = 0 THEN 'user'
                  ELSE 'assistant' END AS role,
             text
      FROM documents
    )"""


def _sft_turns(d: DataFrame) -> DataFrame:
    return d.select(
        F.expr("doc_id div 4").alias("conv_id"),
        (F.col("doc_id") % 4).cast("long").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        "text",
    )


@query(
    "sft_assemble_conversations",
    oracle="WITH " + _SFT_TURNS_SQL + """
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_user_turns,
           CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_assistant_turns,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           md5(string_agg(role || ':' || md5(text), '|' ORDER BY turn_idx))
             AS transcript_digest
    FROM turns GROUP BY conv_id
    """,
    doc="r16 SFT ASSEMBLY: the per-conversation card — turn counts by "
    "role, total characters, and the transcript's content address: "
    "md5 over the turn-ordered role:md5(text) chain (digest "
    "CHAINING — conversation identity without ever assembling "
    "transcript text; role flips and turn reorders change it, as "
    "they must). The fine-tuning analogue of dedup_exact_hashed's "
    "identity discipline. Scale: per-turn digest + length fold at "
    "the scan, so the ONE conversation-keyed exchange carries "
    "~40-byte rows; the ordered chain is bounded by turns-per-"
    "conversation (operators/sft.py).",
)
def sft_assemble_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sft as SF

    turns = _sft_turns(t(spark, sf_dir, "documents"))
    return SF.assemble_conversations(
        turns, "conv_id", "turn_idx", "role", "text"
    )


@query(
    "sft_loss_mask_spans",
    oracle="WITH " + _SFT_TURNS_SQL + """,
    tt AS (
      SELECT conv_id, turn_idx, role,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM turns
    )
    SELECT conv_id, turn_idx, role, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY conv_id
                                             ORDER BY turn_idx
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) AS BIGINT)
             AS start_tok,
           CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY conv_id
                                             ORDER BY turn_idx
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING), 0) + n_tokens
                AS BIGINT) AS end_tok,
           role = 'assistant' AS trainable
    FROM tt
    """,
    doc="r16 SFT loss masking: per turn, its [start_tok, end_tok) "
    "span in the conversation's flattened token stream and the "
    "trainable flag (the standard SFT recipe — cross-entropy on "
    "assistant turns, prompt turns masked). Integer-exact running "
    "offsets; zero-token turns keep empty spans so the mask array "
    "covers every turn. Scale: ONE conversation-keyed exchange, "
    "partition-local cumsum window — the corpus_pack_sequences "
    "cumsum shape applied within conversations "
    "(operators/sft.py).",
)
def sft_loss_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sft as SF

    turns = _sft_turns(t(spark, sf_dir, "documents"))
    return SF.loss_mask_spans(turns, "conv_id", "turn_idx", "role", "text")


@query(
    "sft_dedup_by_prompt",
    oracle="WITH " + _SFT_TURNS_SQL + """,
    p AS (
      SELECT conv_id,
             arg_min(md5(array_to_string(list_slice(
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> ''), 1, 8), ' ')),
                     turn_idx) AS prompt_digest
      FROM turns WHERE role = 'user' GROUP BY conv_id
    )
    SELECT prompt_digest, CAST(count(*) AS BIGINT) AS n_convs,
           min(conv_id) AS keep_conv
    FROM p GROUP BY prompt_digest HAVING count(*) > 1
    """,
    doc="r16 SFT dedup: conversations grouped by the digest of their "
    "FIRST user turn's 8-token PREFIX — instruction preambles "
    "duplicate even when the prompt tail and every completion "
    "diverge, and duplicated prompts are how SFT sets leak across "
    "train/eval splits and double-count at training; output = "
    "prompt groups with >1 conversation and the lowest-id survivor "
    "(the dedup_exact_hashed contract on the prompt axis). Scale: "
    "first-prompt selection is a min_by over one conversation-keyed "
    "partial agg; the group stage shuffles 32-byte digests only, "
    "text never moves (operators/sft.py).",
)
def sft_dedup_by_prompt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sft as SF

    turns = _sft_turns(t(spark, sf_dir, "documents"))
    return SF.dedup_by_prompt(
        turns, "conv_id", "turn_idx", "role", "text", prefix_tokens=8
    )


@query(
    "sft_truncate_context_budget",
    oracle="WITH " + _SFT_TURNS_SQL + """,
    tt AS (
      SELECT conv_id, turn_idx,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS tok
      FROM turns
    ),
    k AS (
      SELECT conv_id, tok,
             CASE WHEN sum(tok) OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) <= 256
                  THEN 1 ELSE 0 END AS kept
      FROM tt
    )
    SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(kept) AS BIGINT) AS kept_turns,
           CAST(count(*) - sum(kept) AS BIGINT) AS dropped_turns,
           CAST(sum(tok * kept) AS BIGINT) AS kept_tokens,
           CAST(sum(tok) AS BIGINT) AS total_tokens
    FROM k GROUP BY conv_id
    """,
    doc="r16 SFT context trimming: per conversation, the longest "
    "SUFFIX of turns fitting a 256-token context window (keep the "
    "most recent turns, drop history — the standard chat trim), as "
    "a kept/dropped/token card. A single over-budget latest turn "
    "keeps nothing — the caller's signal to split, not ours to "
    "guess. Scale: the loss_mask_spans cumsum window with the sort "
    "reversed; ONE conversation-keyed exchange, partial-aggregable "
    "card (operators/sft.py).",
)
def sft_truncate_context_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sft as SF

    turns = _sft_turns(t(spark, sf_dir, "documents"))
    return SF.truncate_to_budget(
        turns, "conv_id", "turn_idx", "text", budget=256
    )


@query(
    "sft_pack_conversations",
    oracle="WITH " + _SFT_TURNS_SQL + """,
    c AS (
      SELECT conv_id,
             CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tokens
      FROM turns GROUP BY conv_id
    ),
    h AS (
      SELECT conv_id,
             CAST(('0x' || substr(md5(CAST(conv_id AS VARCHAR) || ':' || 'seed13'),
                                  1, 15)) AS BIGINT) AS hh,
             n_tokens
      FROM c
    ), r AS (
      SELECT conv_id, hh % 4 AS shard, n_tokens,
             CAST(row_number() OVER (PARTITION BY hh % 4
                                     ORDER BY hh, conv_id) AS BIGINT)
                 AS position,
             COALESCE(sum(n_tokens) OVER (PARTITION BY hh % 4
                                          ORDER BY hh, conv_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING), 0) AS tok_before
      FROM h
    )
    SELECT conv_id, shard, position, n_tokens,
           CAST(tok_before // 512 AS BIGINT) AS pack_id,
           CAST(tok_before % 512 AS BIGINT) AS pack_offset
    FROM r
    """,
    doc="r16 SFT × sequence assembly: pack CONVERSATIONS into the "
    "fixed-512-token training stream — the corpus_pack_sequences "
    "provenance map with whole conversations as the packing atoms "
    "(per-conversation token totals from one conversation-keyed agg, "
    "then the shared pack_sequences_from_counts core: reproducible "
    "md5 shuffle order over conv_id, 4 shards, integer-exact div/mod "
    "arithmetic). Bridges the SFT family to the loader the same way "
    "corpus_pack_sequences_bpe bridges the tokenizer family. Scale: "
    "one conversation-keyed count agg + ONE shard-keyed exchange "
    "with a partition-local cumsum (operators/sft.py, "
    "operators/sampling.py).",
)
def sft_pack_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    turns = _sft_turns(t(spark, sf_dir, "documents"))
    counts = turns.groupBy("conv_id").agg(
        F.sum(
            F.size(F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != ""))
        )
        .cast("long")
        .alias("n_tokens")
    )
    return SA.pack_sequences_from_counts(
        counts, "conv_id", budget=512, n_shards=4, seed="seed13"
    )


# ----------------------- r16 NEW FAMILY wave 2: preference-data QA —
# the RLHF / reward-model curation surface (operators/preference.py).
# Catalog fixtures derive a deterministic COMPARISONS stream from
# documents: consecutive doc pairs (2m vs 2m+1) are head-to-head
# "completions", the item is each doc's source, the primary label is
# the longer-text rule and the alternate annotator is a lexical-digest
# rule — all pure functions of the tables, so both engines agree.

_PREF_CMP_SQL = """cmp AS (
      SELECT a.doc_id AS pair_id, a.source AS item_a, b.source AS item_b,
             CASE WHEN a.n_chars > b.n_chars THEN 'a' ELSE 'b' END AS winner,
             CASE WHEN md5(a.text) > md5(b.text) THEN 'a' ELSE 'b' END
               AS winner_alt
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 2 = 0
    )"""


def _pref_comparisons(d: DataFrame) -> DataFrame:
    a = d.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("pair_id"),
        F.col("source").alias("item_a"),
        F.col("n_chars").alias("__ca"),
        F.md5("text").alias("__da"),
    )
    b = d.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") - 1).alias("pair_id"),
        F.col("source").alias("item_b"),
        F.col("n_chars").alias("__cb"),
        F.md5("text").alias("__db"),
    )
    return a.join(b, "pair_id").select(
        "pair_id",
        "item_a",
        "item_b",
        F.when(F.col("__ca") > F.col("__cb"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("winner"),
        F.when(F.col("__da") > F.col("__db"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("winner_alt"),
    )


@query(
    "pref_pairwise_matrix",
    oracle="WITH " + _PREF_CMP_SQL + """,
    c2 AS (
      SELECT least(item_a, item_b) AS lo, greatest(item_a, item_b) AS hi,
             CASE WHEN item_a < item_b THEN winner = 'a'
                  ELSE winner = 'b' END AS lo_won
      FROM cmp WHERE item_a <> item_b
    )
    SELECT lo AS item_a, hi AS item_b,
           CAST(sum(CASE WHEN lo_won THEN 1 ELSE 0 END) AS BIGINT) AS wins_a,
           CAST(sum(CASE WHEN lo_won THEN 0 ELSE 1 END) AS BIGINT) AS wins_b,
           CAST(count(*) AS BIGINT) AS n_games
    FROM c2 GROUP BY lo, hi
    """,
    doc="r16 preference-data QA: the canonical WIN MATRIX — one row "
    "per unordered item pair (item_a < item_b) with win counts and "
    "game totals; self-pairs dropped (no preference signal). The "
    "who-beat-whom table every RLHF data audit and leaderboard "
    "starts from. Scale: pair canonicalization is a pure map; ONE "
    "partial-aggregable hash agg collapses the corpus-sized "
    "comparisons stream to ≤|items|² rows "
    "(operators/preference.py).",
)
def pref_pairwise_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import preference as PF

    cmp_ = _pref_comparisons(t(spark, sf_dir, "documents"))
    return PF.pairwise_matrix(cmp_, "item_a", "item_b", "winner")


def _bt_oracle(n_iters: int) -> str:
    """Unrolled Bradley-Terry MM rounds (Hunter 2004) over the
    canonical matrix — the BPE-oracle discipline: one CTE chain per
    round, AS MATERIALIZED where a state is referenced twice."""
    ctes = ["WITH " + _PREF_CMP_SQL]
    ctes.append("""m AS MATERIALIZED (
      SELECT least(item_a, item_b) AS item_a, greatest(item_a, item_b) AS item_b,
             CAST(sum(CASE WHEN (CASE WHEN item_a < item_b THEN winner = 'a'
                                      ELSE winner = 'b' END) THEN 1 ELSE 0 END)
                  AS BIGINT) AS wins_a,
             CAST(sum(CASE WHEN (CASE WHEN item_a < item_b THEN winner = 'a'
                                      ELSE winner = 'b' END) THEN 0 ELSE 1 END)
                  AS BIGINT) AS wins_b,
             CAST(count(*) AS BIGINT) AS n_games
      FROM cmp WHERE item_a <> item_b
      GROUP BY 1, 2
    )""")
    ctes.append("""e AS MATERIALIZED (
      SELECT item_a AS i, item_b AS j, CAST(n_games AS DOUBLE) AS n FROM m
      UNION ALL
      SELECT item_b, item_a, CAST(n_games AS DOUBLE) FROM m
    )""")
    ctes.append("""w AS MATERIALIZED (
      SELECT i, CAST(SUM(wv) AS DOUBLE) AS W
      FROM (SELECT item_a AS i, wins_a AS wv FROM m
            UNION ALL SELECT item_b, wins_b FROM m)
      GROUP BY i
    )""")
    ctes.append(
        "p0 AS MATERIALIZED (SELECT i, 1.0 / (SELECT CAST(count(DISTINCT i) "
        "AS DOUBLE) FROM e) AS p FROM (SELECT DISTINCT i FROM e))"
    )
    for r in range(1, n_iters + 1):
        ctes.append(f"""d{r} AS MATERIALIZED (
      SELECT e.i, SUM(e.n / (pi.p + pj.p)) AS d
      FROM e JOIN p{r - 1} pi ON pi.i = e.i JOIN p{r - 1} pj ON pj.i = e.j
      GROUP BY e.i
    )""")
        ctes.append(f"""u{r} AS MATERIALIZED (
      SELECT w.i, w.W / d{r}.d AS u FROM w JOIN d{r} ON d{r}.i = w.i
    )""")
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT i, u / (SELECT SUM(u) FROM u{r}) "
            f"AS p FROM u{r})"
        )
    return (
        ",\n    ".join(ctes)
        + f"""
    SELECT i AS item, round(p, 6) AS strength,
           CAST(row_number() OVER (ORDER BY round(p, 6) DESC, i) AS BIGINT)
             AS rank
    FROM p{n_iters}
    """
    )


@query(
    "pref_bradley_terry",
    oracle=_bt_oracle(8),
    doc="r16 preference-data QA: Bradley-Terry item strengths via 8 "
    "unrolled minorize-maximize rounds (Hunter 2004 — the canonical "
    "preference-strength fit behind RLHF reward-data audits and "
    "pairwise leaderboards): p_i ← W_i / Σ_j n_ij/(p_i+p_j), "
    "normalized to Σp=1 each round; output (item, strength 6dp, "
    "rank over the ROUNDED strength with item tie-break — an "
    "unrounded sort key would let last-ulp engine noise flip "
    "near-ties). Scale: the corpus-sized comparisons stream "
    "collapses to the ≤|items|² matrix ONCE; every MM round is a "
    "join + agg over bounded frames (the graph_pagerank_dedup "
    "unrolled-fixpoint discipline — no driver-side loop over data) "
    "(operators/preference.py).",
)
def pref_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import preference as PF

    cmp_ = _pref_comparisons(t(spark, sf_dir, "documents"))
    m = PF.pairwise_matrix(cmp_, "item_a", "item_b", "winner")
    return PF.bradley_terry(m, n_iters=8)


@query(
    "pref_annotator_agreement",
    oracle="WITH " + _PREF_CMP_SQL + """
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN winner = winner_alt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           round(sum(CASE WHEN winner = winner_alt THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS agreement,
           CASE WHEN (
                  (sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE))
                  * (sum(CASE WHEN winner_alt = 'a' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE))
                  + (1.0 - sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE))
                  * (1.0 - sum(CASE WHEN winner_alt = 'a' THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE))
                ) <> 1.0
                THEN round(
                  (sum(CASE WHEN winner = winner_alt THEN 1 ELSE 0 END)
                   / CAST(count(*) AS DOUBLE)
                   - ((sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                       / CAST(count(*) AS DOUBLE))
                      * (sum(CASE WHEN winner_alt = 'a' THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE))
                      + (1.0 - sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE))
                      * (1.0 - sum(CASE WHEN winner_alt = 'a' THEN 1 ELSE 0 END)
                         / CAST(count(*) AS DOUBLE))))
                  / (1.0 - ((sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                             / CAST(count(*) AS DOUBLE))
                            * (sum(CASE WHEN winner_alt = 'a' THEN 1 ELSE 0 END)
                               / CAST(count(*) AS DOUBLE))
                            + (1.0 - sum(CASE WHEN winner = 'a' THEN 1 ELSE 0 END)
                               / CAST(count(*) AS DOUBLE))
                            * (1.0 - sum(CASE WHEN winner_alt = 'a' THEN 1
                                         ELSE 0 END)
                               / CAST(count(*) AS DOUBLE)))), 6)
           END AS kappa
    FROM cmp
    """,
    doc="r16 preference-data QA: inter-annotator agreement between "
    "the two labeling policies over the same pairs — raw agreement "
    "rate and Cohen's kappa (chance-corrected via each policy's "
    "label marginals; NULL when both policies are constant). The "
    "go/no-go a preference dataset gets before any reward model "
    "trains on it. Scale: one pair-keyed join + a 1-row "
    "conditional-sum agg carrying the marginals alongside the "
    "agreement count (operators/preference.py).",
)
def pref_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import preference as PF

    # NOT materialized (r17 optimization round, measured and rejected):
    # checkpointing the comparisons to stop the two label legs
    # re-deriving the even/odd digest join REGRESSED at sf0.1 (1.00 →
    # 1.03 s) AND at the x30 replica (0.95 → 1.22 s) — the pruned
    # (id, n_chars, md5) recompute is cheaper than the checkpoint
    # write+read+barrier at every scale tried, unlike the delta join
    # in decontaminate_incremental_delta (which carries text and won
    # ~9% at both scales).
    cmp_ = _pref_comparisons(t(spark, sf_dir, "documents"))
    return PF.annotator_agreement(
        cmp_.select("pair_id", F.col("winner").alias("label")),
        cmp_.select("pair_id", F.col("winner_alt").alias("label")),
        "pair_id",
        "label",
    )


# --------------------------- r16 NEW FAMILY wave 3: eval-suite analysis —
# pass@k / confidence readouts (operators/evals.py). Catalog fixture: an
# "eval run" derived from events — problem = user_id, trials = that
# user's events, success = value > 50 (a pure function of the table).

_EVAL_COUNTS_SQL = """counts AS (
      SELECT user_id AS problem_id, CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
      FROM events GROUP BY user_id
    )"""


def _eval_counts(e: DataFrame) -> DataFrame:
    return e.groupBy(F.col("user_id").alias("problem_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum((F.col("value") > 50).cast("long")).alias("n_correct"),
    )


def _pass_sql(k: int) -> str:
    """The pass@k product with the EXACT association order of the
    Spark expression (left-assoc chain of per-i factor divisions) —
    row-local identical FP sequences are bit-equal across engines."""
    prod = "1.0"
    for i in range(k):
        prod += (
            f" * (CAST(n_samples - n_correct - {i} AS DOUBLE)"
            f" / CAST(n_samples - {i} AS DOUBLE))"
        )
    return (
        f"CASE WHEN n_samples - n_correct < {k} THEN 1.0 "
        f"ELSE round(1.0 - ({prod}), 6) END"
    )


def _pass_at_k_oracle(ks=(1, 5, 10)) -> str:
    arms = [
        f"""SELECT problem_id, n_samples, n_correct,
           CAST({k} AS BIGINT) AS k, {_pass_sql(k)} AS pass_at_k
    FROM counts WHERE {k} <= n_samples"""
        for k in ks
    ]
    return (
        "WITH " + _EVAL_COUNTS_SQL + "\n    "
        + "\n    UNION ALL ".join(arms)
    )


@query(
    "eval_pass_at_k",
    oracle=_pass_at_k_oracle(),
    doc="r16 eval analysis: the per-problem pass@k table (Chen et al. "
    "2021 §2.1 — the unbiased combinatorial estimator "
    "1 − C(n−c,k)/C(n,k), computed as the overflow-free fixed-order "
    "product 1 − Π (n−c−i)/(n−i)) for k ∈ {1,5,10}, k ≤ n. Because "
    "the estimator is ROW-LOCAL arithmetic with a literal "
    "association order, the oracle replays the identical FP "
    "sequence — bit-equal before the 6dp output rounding matters "
    "(no group-sum reordering anywhere near the value). Scale: one "
    "partial-aggregable agg collapses the trials stream to "
    "per-problem counts; the table is a pure ≤|ks|-fan map "
    "(operators/evals.py).",
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import evals as EV

    counts = _eval_counts(t(spark, sf_dir, "events"))
    return EV.pass_at_k(counts, "problem_id", ks=(1, 5, 10))


@query(
    "eval_pass_at_k_summary",
    oracle="WITH " + _EVAL_COUNTS_SQL + """,
    pk AS (
      """ + "\n      UNION ALL ".join(
        f"""SELECT problem_id, CAST({k} AS BIGINT) AS k,
             {_pass_sql(k)} AS pass_at_k
      FROM counts WHERE {k} <= n_samples"""
        for k in (1, 5, 10)
    ) + """
    )
    SELECT k, CAST(count(*) AS BIGINT) AS n_problems,
           round(avg(pass_at_k), 6) AS mean_pass_at_k,
           CAST(sum(CASE WHEN pass_at_k = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_solved
    FROM pk GROUP BY k
    """,
    doc="r16 eval analysis: the suite-level pass@k curve — per k, the "
    "problem count, mean pass@k (6dp — |problems| summands leave "
    "~1e-13 engine noise, measure-zero at 6dp) and the fully-solved "
    "count. The headline row of every eval table. Scale: a bounded "
    "re-agg over the per-problem table (operators/evals.py).",
)
def eval_pass_at_k_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import evals as EV

    counts = _eval_counts(t(spark, sf_dir, "events"))
    return EV.pass_at_k_summary(
        EV.pass_at_k(counts, "problem_id", ks=(1, 5, 10))
    )


@query(
    "eval_wilson_interval",
    oracle="WITH " + _EVAL_COUNTS_SQL + """
    SELECT problem_id, n_samples, n_correct,
           round((CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE)), 6) AS rate,
           round((((CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE)) + 3.8415999999999997 / (2.0 * CAST(n_samples AS DOUBLE))) / (1.0 + 3.8415999999999997 / CAST(n_samples AS DOUBLE))) - ((1.96 * sqrt((CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE)) * (1.0 - (CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE))) / CAST(n_samples AS DOUBLE) + 3.8415999999999997 / ((4.0 * CAST(n_samples AS DOUBLE)) * CAST(n_samples AS DOUBLE)))) / (1.0 + 3.8415999999999997 / CAST(n_samples AS DOUBLE))), 6) AS ci_lo,
           round((((CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE)) + 3.8415999999999997 / (2.0 * CAST(n_samples AS DOUBLE))) / (1.0 + 3.8415999999999997 / CAST(n_samples AS DOUBLE))) + ((1.96 * sqrt((CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE)) * (1.0 - (CAST(n_correct AS DOUBLE) / CAST(n_samples AS DOUBLE))) / CAST(n_samples AS DOUBLE) + 3.8415999999999997 / ((4.0 * CAST(n_samples AS DOUBLE)) * CAST(n_samples AS DOUBLE)))) / (1.0 + 3.8415999999999997 / CAST(n_samples AS DOUBLE))), 6) AS ci_hi
    FROM counts
    """,
    doc="r16 eval analysis: per-problem Wilson 95% score interval on "
    "the success rate — the CI that stays calibrated at small n and "
    "extreme rates where the normal approximation fails; the error "
    "bar an eval table prints next to each problem. Row-local "
    "closed form with the oracle mirroring the association order "
    "(z² emitted as its repr so both engines parse the identical "
    "double). Scale: a pure map over the per-problem counts — zero "
    "exchanges beyond the counts agg (operators/evals.py).",
)
def eval_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import evals as EV

    counts = _eval_counts(t(spark, sf_dir, "events"))
    return EV.wilson_interval(counts, "problem_id")


# ---------------------------------------------------------------------------
# r16 wave 5: RL rollout processing + deterministic loader + temperature mix
# ---------------------------------------------------------------------------

#: Rollout fixture: events as rollout steps — episode = user_id, step
#: order = (epoch-µs, event_id), reward = value, and a deterministic
#: value-estimate proxy V = value*0.5 (exact FP halving, bit-equal on
#: both engines; a real pipeline feeds critic outputs here).
_ROLLOUT_STEPS_SQL = """s AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             value AS reward, value * 0.5 AS value_est
      FROM events
    )"""

_GAE_GAMMA, _GAE_LAM, _GAE_H = 0.99, 0.95, 8


def _rollout_steps(e: DataFrame) -> DataFrame:
    return e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.col("value").alias("reward"),
        (F.col("value") * F.lit(0.5)).alias("value_est"),
    )


def _geo_fold_sql(term: str, coef: float, horizon: int, win: str) -> str:
    """The oracle half of operators/rollout._truncated_geo_sum: the
    SAME left-associated literal-coefficient chain, with each
    coefficient emitted as the repr of the SAME Python double the
    engine folds in — both engines evaluate one identical IEEE tree."""
    parts = [term]
    for l in range(1, horizon):
        parts.append(f"{coef ** l!r} * lead({term}, {l}, 0.0) OVER {win}")
    return " + ".join(parts)


def _gae_oracle() -> str:
    fold = _geo_fold_sql("delta", _GAE_GAMMA * _GAE_LAM, _GAE_H, "w2")
    return f"""
    WITH {_ROLLOUT_STEPS_SQL},
    d AS (
      SELECT user_id, event_id, us, value_est,
             CAST(row_number() OVER w1 AS BIGINT) AS step,
             (reward + {_GAE_GAMMA!r} * lead(value_est, 1, 0.0) OVER w1)
               - value_est AS delta
      FROM s
      WINDOW w1 AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT user_id, us, event_id, step,
           round(delta, 6) AS delta,
           round({fold}, 6) AS advantage,
           round(round({fold}, 6) + value_est, 6) AS value_target
    FROM d
    WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    """


@query(
    "rollout_gae_advantages",
    oracle=_gae_oracle(),
    doc="r16 RL-rollout family: truncated Generalized Advantage "
    "Estimation (Schulman et al. 2015) over rollout logs — "
    "A_t = sum_{l<H} (gamma*lam)^l * delta_{t+l} with "
    "delta_t = r_t + gamma*V_{t+1} - V_t, V := 0 past terminal, "
    "gamma=0.99 lam=0.95 H=8 — plus the value target A_t + V_t. The "
    "design point: the textbook BACKWARD RECURRENCE (an inherently "
    "sequential per-episode scan that would force a stateful Python "
    "loop) is re-expressed as a closed linear combination of the next "
    "H TD residuals, so the whole computation is ONE episode-keyed "
    "window exchange with H plan-literal lead() terms and zero Python "
    "in the hot path. Coefficients are Python doubles baked into BOTH "
    "plans (engine lit == oracle repr), every float expression is a "
    "fixed left-associated tree, so the engines produce bit-equal "
    "doubles before the 6dp output rounding (the association-order "
    "discipline). Scale: rollout-sized output is the training target "
    "itself; H bounds plan size (MAX_HORIZON=64), episode length is "
    "unbounded data (operators/rollout.py).",
)
def rollout_gae_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollout as RO

    steps = _rollout_steps(t(spark, sf_dir, "events"))
    return RO.gae_advantages(
        steps,
        "user_id",
        ["us", "event_id"],
        "reward",
        "value_est",
        gamma=_GAE_GAMMA,
        lam=_GAE_LAM,
        horizon=_GAE_H,
    )


def _returns_oracle() -> str:
    fold = _geo_fold_sql("reward", _GAE_GAMMA, _GAE_H, "w")
    return f"""
    WITH {_ROLLOUT_STEPS_SQL}
    SELECT user_id, us, event_id,
           CAST(row_number() OVER w AS BIGINT) AS step,
           round({fold}, 6) AS return_to_go
    FROM s
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """


@query(
    "rollout_returns_to_go",
    oracle=_returns_oracle(),
    doc="r16 RL-rollout family: truncated discounted return-to-go "
    "R_t = sum_{l<H} gamma^l r_{t+l} (gamma=0.99, H=8) — the target "
    "of return-conditioned / decision-transformer training, and "
    "exactly GAE with lam=1, V==0. Same one-window-pass shape as "
    "rollout_gae_advantages: H plan-literal lead() terms, bit-equal "
    "left-associated arithmetic, no recurrence "
    "(operators/rollout.py).",
)
def rollout_returns_to_go(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollout as RO

    steps = _rollout_steps(t(spark, sf_dir, "events"))
    return RO.returns_to_go(
        steps,
        "user_id",
        ["us", "event_id"],
        "reward",
        gamma=_GAE_GAMMA,
        horizon=_GAE_H,
    )


@query(
    "rollout_episode_card",
    oracle=f"""
    WITH {_ROLLOUT_STEPS_SQL}
    SELECT user_id,
           count(*) AS n_steps,
           round(sum(reward), 2) AS total_reward,
           round(round(sum(reward), 2) / count(*), 6) AS mean_reward,
           max(reward) AS max_reward,
           min(reward) AS min_reward,
           min(us) AS first_order_key,
           max(us) AS last_order_key,
           max(us) - min(us) AS span
    FROM s GROUP BY user_id
    """,
    doc="r16 RL-rollout family: the per-episode QA card — length, "
    "reward mass and extremes, wall-clock span — the triage table "
    "that decides which rollouts enter the training mix (1-step "
    "degenerates, reward-hacking outliers, truncated episodes all "
    "surface here first). Float discipline: total_reward rounds at "
    "the 2-decimal money grain (exact for the fixture rewards, so "
    "the cross-engine sum association cannot flip it) and "
    "mean_reward divides the ROUNDED total. Scale: one "
    "partial-aggregable episode-keyed agg; span rides the same "
    "exchange (operators/rollout.py).",
)
def rollout_episode_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollout as RO

    steps = _rollout_steps(t(spark, sf_dir, "events"))
    return RO.episode_card(steps, "user_id", ["us", "event_id"], "reward")


_LOADER_SHARDS, _LOADER_SEED, _LOADER_EPOCH = 8, 42, 0

_LOADER_ORDER_SQL = f"""h AS (
      SELECT doc_id,
             ('0x' || substr(md5('ep{_LOADER_EPOCH}:{_LOADER_SEED}:'
                                  || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               AS order_key
      FROM documents
    ), sh AS (
      SELECT doc_id, order_key,
             CAST(order_key % {_LOADER_SHARDS} AS BIGINT) AS shard
      FROM h
    ), r AS (
      SELECT doc_id, shard,
             CAST(row_number() OVER (PARTITION BY shard
                                     ORDER BY order_key, doc_id)
                  AS BIGINT) AS rank_in_shard
      FROM sh
    ), ord AS (
      SELECT doc_id, shard, rank_in_shard,
             CAST(row_number() OVER (ORDER BY rank_in_shard, shard)
                  AS BIGINT) AS position
      FROM r
    )"""


@query(
    "loader_epoch_order",
    oracle=f"""
    WITH {_LOADER_ORDER_SQL}
    SELECT doc_id, shard, rank_in_shard, position FROM ord
    """,
    doc="r16 deterministic-loader family: the epoch's global training "
    "order — portable seeded md5 key per doc, key-assigned shard "
    "(worker), per-shard hash-order rank, and a round-robin-across-"
    "shards global position: exactly what W loader workers streaming "
    "their shards emit as the trainer consumes them in rotation. Same "
    "(seed, epoch) → identical order on any cluster, zero RNG state; "
    "next epoch re-keys. Scale: hash+shard are map-side; rank is ONE "
    "shard-keyed window; the global position reuses the curriculum "
    "CLOSED FORM over per-shard counts — NO single-reducer global "
    "row_number (the oracle's OVER (ORDER BY ...) is the independent "
    "naive twin, as in corpus_curriculum_order). "
    "(operators/sampling.py loader_epoch_order).",
)
def loader_epoch_order_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.loader_epoch_order(
        d, "doc_id", _LOADER_SHARDS, _LOADER_SEED, _LOADER_EPOCH
    )


_RESUME_OFFSET, _RESUME_LIMIT = 200, 150  # non-empty at every test SF


@query(
    "loader_resume_slice",
    oracle=f"""
    WITH {_LOADER_ORDER_SQL}
    SELECT doc_id, shard, rank_in_shard, position FROM ord
    WHERE position > {_RESUME_OFFSET}
      AND position <= {_RESUME_OFFSET} + {_RESUME_LIMIT}
    """,
    doc="r16 deterministic-loader family: the exactly-once resume "
    "read — global steps offset < position <= offset+limit of the "
    "deterministic epoch order, what a restarted trainer requests "
    "after checkpointing at step `offset`. The order being a pure "
    "function of (seed, epoch, id) means resume needs NO loader "
    "state beyond the step counter. Scale: a pure filter over the "
    "closed-form position — no epoch-order materialization "
    "(operators/sampling.py loader_resume_slice).",
)
def loader_resume_slice_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.loader_resume_slice(
        d,
        "doc_id",
        _LOADER_SHARDS,
        _LOADER_SEED,
        _LOADER_EPOCH,
        _RESUME_OFFSET,
        _RESUME_LIMIT,
    )


@query(
    "sampling_temperature_shares",
    oracle="""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT source, n_docs,
           round(CAST(n_docs AS DOUBLE)
                 / CAST(sum(n_docs) OVER () AS DOUBLE), 6)
             AS share_proportional,
           round(CAST(CAST(n_docs AS HUGEINT) * n_docs AS DOUBLE)
                 / CAST(sum(CAST(n_docs AS HUGEINT) * n_docs) OVER ()
                        AS DOUBLE), 6)
             AS share_tau_half,
           round((CAST(CAST(n_docs AS HUGEINT) * n_docs AS DOUBLE)
                  / CAST(sum(CAST(n_docs AS HUGEINT) * n_docs) OVER ()
                         AS DOUBLE))
                 / (CAST(n_docs AS DOUBLE)
                    / CAST(sum(n_docs) OVER () AS DOUBLE)), 6)
             AS boost
    FROM c
    """,
    doc="r16 mixture design: temperature-sampling shares per source — "
    "the proportional tau=1 mix next to the SHARPENED tau=0.5 mix "
    "(p_i ∝ n_i², inverse temperature alpha=2) and the per-source "
    "boost between them (cf. temperature-based mixture weighting in "
    "multilingual / multi-corpus LM training). Complements "
    "sampling_temperature_mix, which SELECTS members under the "
    "opposite tau=2 flattening via sqrt quotas — this is the "
    "weights-only design card for the sharpening direction. Why "
    "alpha is an "
    "INTEGER here: both normalizers are then EXACT integer sums "
    "(Σn as BIGINT-exact, Σn² as decimal(38,0)/HUGEINT), so no "
    "cross-row float summation exists — every emitted double is one "
    "correctly-rounded cast + one division on bit-identical inputs "
    "(a fractional alpha would put a float Σ n^alpha in the "
    "denominator, whose association order no engine pins). Scale: "
    "ONE partial-aggregable count per source; totals ride a window "
    "over the ≤|sources|-row frame "
    "(operators/sampling.py temperature_shares).",
)
def sampling_temperature_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return SA.temperature_shares(d, "source")


_BATCH_MIN_STEPS, _BATCH_MIN_MEAN = 60, 50.0


def _rollout_batch_oracle() -> str:
    fold = _geo_fold_sql("delta", _GAE_GAMMA * _GAE_LAM, _GAE_H, "w2")
    return f"""
    WITH {_ROLLOUT_STEPS_SQL},
    card AS (
      SELECT user_id,
             count(*) AS n_steps,
             round(sum(reward), 2) AS total_reward,
             round(round(sum(reward), 2) / count(*), 6) AS mean_reward
      FROM s GROUP BY user_id
    ),
    eligible AS (
      SELECT * FROM card
      WHERE n_steps >= {_BATCH_MIN_STEPS}
        AND mean_reward >= {_BATCH_MIN_MEAN!r}
    ),
    d AS (
      SELECT user_id, event_id, us, value_est,
             CAST(row_number() OVER w1 AS BIGINT) AS step,
             (reward + {_GAE_GAMMA!r} * lead(value_est, 1, 0.0) OVER w1)
               - value_est AS delta
      FROM s
      WINDOW w1 AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    adv AS (
      SELECT user_id, us, event_id, step,
             round(delta, 6) AS delta,
             round({fold}, 6) AS advantage,
             round(round({fold}, 6) + value_est, 6) AS value_target
      FROM d
      WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)
    )
    SELECT a.user_id, a.us, a.event_id, a.step, a.delta, a.advantage,
           a.value_target, e.n_steps, e.total_reward, e.mean_reward
    FROM adv a JOIN eligible e ON a.user_id = e.user_id
    """


@query(
    "rollout_training_batch",
    oracle=_rollout_batch_oracle(),
    doc="r16 RL-rollout CAPSTONE: the episode-QA-gated PPO training "
    "batch — episode_card decides which rollouts are trainable "
    f"(n_steps >= {_BATCH_MIN_STEPS} and mean_reward >= "
    f"{_BATCH_MIN_MEAN} drop degenerate and reward-starved episodes; "
    "~35-40% of fixture episodes survive at every SF, so the gate is "
    "live), gae_advantages computes targets, and the card's "
    "provenance columns ride along on every emitted step (the "
    "manifest a PPO loader reads). Scale — composition discipline: "
    "the QA gate is a filter on the ≤|episodes|-row card, whose agg "
    "exchange carries episode-sized partials; the rollout-sized side "
    "is exchanged exactly ONCE (the GAE window), and the gated card "
    "BROADCASTS into the enrichment join — no rollout-sized rows "
    "move for the join at any scale (plan-pinned: two "
    "hashpartitioning exchanges, BroadcastHashJoin BuildRight, no "
    "single-partition exchange) (operators/rollout.py "
    "training_batch).",
)
def rollout_training_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import rollout as RO

    steps = _rollout_steps(t(spark, sf_dir, "events"))
    return RO.training_batch(
        steps,
        "user_id",
        ["us", "event_id"],
        "reward",
        "value_est",
        gamma=_GAE_GAMMA,
        lam=_GAE_LAM,
        horizon=_GAE_H,
        min_steps=_BATCH_MIN_STEPS,
        min_mean_reward=_BATCH_MIN_MEAN,
    )
