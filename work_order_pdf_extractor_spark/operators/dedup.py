"""Deduplication operators for large-scale training-data pipelines.

All operators take/return DataFrames and are DataFrame-API
compositions (JVM-side, codegen-friendly); Python runs only in
``mapInPandas`` tasks: the word tokenizers (:func:`word_shingles`,
:func:`positioned_shingles`) and the union-find of
:func:`connected_components`.
Cross-engine-stable hashing (md5-hex → int) is used instead of engine-
native ``hash()`` so results are reproducible anywhere and oracle-checkable.

Scale notes per operator are in the docstrings — the common theme: never
join or shuffle raw text; join on hashes/signatures/buckets whose size is
independent of document length.

The near-dup family has one implementation of each step:

- :func:`_lsh_candidates` — the band-bucket candidate join (a self-join
  for in-corpus pairs, or batch vs corpus);
- :func:`_shingle_overlap` — shingle-set sizes and intersection for
  candidate pairs, or for all co-occurring pairs through the chunked
  posting-list expander :func:`.common.sorted_id_pairs`;
- :func:`_lsh_verified_pairs` — the persisted-shingles LSH → Jaccard
  verify chain.

:func:`ngram_jaccard_pairs` and :func:`containment_pairs` are scoring on
top of the overlap; :func:`minhash_lsh_pairs` is the candidate join;
:func:`deduplicate_near`, the clustering queries and
``plans.ingest.incremental_ingest`` compose the chain.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, functions as F

from .common import (  # noqa: F401  (re-exported: long-time import site)
    ensure_parallelism,
    sorted_id_pairs,
    stable_hash64,
    word_grams,
    word_shingles,
)

N_MINHASH = 8
LSH_BANDS = 4
SIMHASH_BITS = 16

# MinHash affine family constants (shared with the SQL oracles)
MH_P = 2305843009213693951  # 2^61 - 1


def MH_A(i: int) -> int:
    return 1000003 + 37 * i


def MH_B(i: int) -> int:
    return 12345 + 789 * i


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup by content hash; keeps the smallest id as the keeper.
    One map-side-combined shuffle on a 32-char hash — the raw text never
    moves."""
    return (
        df.withColumn("content_hash", F.md5(text_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias(f"keeper_{id_col}"),
        )
    )


def deduplicate_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Materialize the deduped corpus: keep exactly the keeper row of each
    exact-duplicate group (smallest id). Two shuffles on a 32-char hash —
    at 100 TB the semi-join back is a broadcast-free shuffle join on the
    hash, never on text."""
    keepers = exact_duplicates(df, text_col, id_col).select(
        F.col(f"keeper_{id_col}").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")



def df_cut_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df`` — the
    standard MinHashLSH hygiene against stop phrases (SCALE.md's
    top-frequency-shingle hazard, now code instead of prose).

    ``sh`` must be distinct per (id, shingle) — the :func:`word_shingles`
    contract — since the frequency is a plain row count per shingle.

    Why it matters at 100 TB: a boilerplate phrase shared by millions of
    documents otherwise dominates their MinHash signatures, funnels them
    into the same LSH buckets, and makes the verify stage's per-bucket
    fan-out quadratic in the corpus — the exact skew the salting knobs
    exist to absorb. Cutting by df bounds every shingle's contribution to
    candidate generation at ``max_df`` docs, so the verify fan-out per
    shingle is ≤ max_df², independent of corpus size.

    Plan shape: one map-side-combined count per shingle followed by a
    semi-join back on the same key — the aggregate's shuffle partitioning
    is reused by the join, so the cut costs one extra shuffle on the
    (constant-size) shingle hash, never on text. Documents whose shingles
    are ALL hot drop out of signature generation entirely (they are pure
    boilerplate — exactly the rows near-dup candidates should not chase)."""
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    return sh.join(keep, "shingle", "left_semi")


def _sizes(sh: DataFrame, id_col: str, doc: str, n: str) -> DataFrame:
    """``(doc, n)``: shingle-set size per document of one shingle table."""
    return (
        sh.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
        .select(F.col(id_col).alias(doc), F.col("n_sh").alias(n))
    )


def _shingle_overlap(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    min_ratio: float | None = None,
) -> DataFrame:
    """``(doc1, doc2, n1, n2, n_common)`` — the ONE shingle-overlap step
    of the near-dup family: the shingle-set sizes of ``doc1`` (from
    ``left``) and ``doc2`` (from ``right``) and the size of their
    intersection. Both tables are ``(id_col, shingle)``, distinct per
    pair (the :func:`word_shingles` contract); every Jaccard and
    containment score, and ingest's batch-vs-corpus verify, is scoring
    on top of this.

    With ``candidates`` (a ``(doc1, doc2)`` table, e.g. LSH pairs): only
    those pairs, each doc1 shingle joined back on ``(doc2, shingle)`` —
    cost Σ|shingles(doc1)| over candidates, never a shingle cross
    product. This is the 100 TB path (LSH prunes, the overlap verifies).
    ``min_ratio`` (candidate pairs only) is the LENGTH-RATIO PREFILTER,
    the classic size filter of the similarity-join literature: Jaccard ≤
    min(n1,n2)/max(n1,n2), so a pair with min < min_ratio·max can never
    reach Jaccard ``min_ratio`` and is dropped BEFORE the candidate ×
    shingle expansion join (the measured 10× row amplification of the
    verify stage). The 1e-9 slack makes float rounding err on the
    over-keep side only, so any closing ``score >= min_ratio`` filter
    returns identical rows.
    n1/n2 ride the aggregation keys (functionally determined by the
    pair), so no size re-join follows the aggregation.

    With ``candidates=None``: every co-occurring pair of ``left`` with
    itself (``right`` must be ``left``), doc1 < doc2, from each
    shingle's sorted posting list through :func:`.common.sorted_id_pairs`
    in ≤1024-member chunks — each unordered co-occurrence generated once
    with bounded per-task fan-out: no join build, no hot-shingle
    straggler (a df-10⁴ shingle expands across many tasks instead of
    serializing 10⁸ pairs in one)."""
    sa = _sizes(left, id_col, "doc1", "n1")
    sb = _sizes(right, id_col, "doc2", "n2")
    cols = ["doc1", "doc2", "n1", "n2", "n_common"]
    if candidates is None:
        lists = left.groupBy("shingle").agg(
            F.sort_array(F.collect_list(id_col)).alias("ids")
        )
        return (
            sorted_id_pairs(lists, 1024)
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .join(sa, "doc1")
            .join(sb, "doc2")
            .select(*cols)
        )
    c = candidates.select("doc1", "doc2").join(sa, "doc1").join(sb, "doc2")
    if min_ratio is not None:
        c = c.filter(
            F.least("n1", "n2")
            >= (F.lit(min_ratio) - F.lit(1e-9)) * F.greatest("n1", "n2")
        )
    s1 = left.select(F.col(id_col).alias("doc1"), "shingle")
    s2 = right.select(F.col(id_col).alias("doc2"), "shingle")
    return (
        c.join(s1, "doc1")
        .join(s2, ["doc2", "shingle"])
        .groupBy(*cols[:4])
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def _jaccard(overlap: DataFrame, threshold: float) -> DataFrame:
    """``(doc1, doc2, jaccard)`` rows of :func:`_shingle_overlap` output
    with |A∩B| / (|A|+|B|-|A∩B|), rounded to 6 places, ≥ threshold."""
    j = F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common"))
    return (
        overlap.withColumn("jaccard", F.round(j, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard ≥ threshold — the VERIFICATION stage of a dedup
    pipeline: :func:`_shingle_overlap` of the shingle table with itself,
    scored.

    With ``candidates=None``: all co-occurring pairs — exact, and
    quadratic in a shingle's document frequency, so right only for small
    corpora or golden checks. With ``candidates`` (a ``(doc1, doc2)``
    DataFrame, e.g. from :func:`minhash_lsh_pairs`): Jaccard is computed
    ONLY for those pairs, behind the length-ratio prefilter — the 100 TB
    path. ``shingles`` lets a composed pipeline pass a shared
    (persisted/materialized) shingle table instead of re-deriving it per
    stage; passing ``df_cut_shingles(word_shingles(df, n), max_df)``
    scores "Jaccard over rare shingles" (sizes and intersections both
    count only surviving shingles, so it stays a true Jaccard on the cut
    sets)."""
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, n, text_col, id_col)
    )
    return _jaccard(_shingle_overlap(sh, sh, id_col, candidates, threshold), threshold)


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = N_MINHASH,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: ``n_hashes`` min-hashes over the
    shingle set. Signature size is CONSTANT regardless of document length —
    the shuffle carries n_hashes longs per doc, which is what makes dedup
    tractable at 100 TB.

    One md5 per shingle; the hash family is affine re-hashing of that base
    (classic MinHash: ``h_i = (a_i·h + b_i) mod p``) — 8x fewer digest
    computations than per-seed hashing, still cross-engine-exact
    (a_i < 2^31, h < 2^32 ⇒ no 64-bit overflow; p = 2^61-1)."""
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, n, text_col, id_col)
    )
    base = stable_hash64(F.col("shingle"))
    aggs = [
        F.min((F.lit(MH_A(i)) * base + F.lit(MH_B(i))) % F.lit(MH_P)).alias(
            f"mh{i}"
        )
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_buckets(
    sig: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, bucket) rows from a MinHash signature table — ONE pass
    over the signatures: bands come from array+explode, not a union of
    per-band selects (a union would re-execute the whole shingle→minhash
    subtree once per band). The input of :func:`_lsh_candidates`."""
    rows_per_band = n_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("bucket"),
            )
        )
    return sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _lsh_candidates(
    left: DataFrame,
    right: DataFrame | None,
    n_hashes: int,
    bands: int,
    id_col: str,
) -> DataFrame:
    """``(doc1, doc2)`` distinct pairs sharing at least one LSH band
    bucket — the ONE band-bucket candidate join. ``left``/``right`` are
    shingle tables; each becomes MinHash signatures and
    :func:`band_buckets`. ``right=None`` is the self-join over ``left``
    (doc1 < doc2); otherwise doc1 comes from ``left`` and doc2 from
    ``right`` (batch vs corpus). The join key is a band hash — linear in
    corpus size, never quadratic."""

    def buckets(sh: DataFrame, doc: str) -> DataFrame:
        sig = minhash_signatures(None, n_hashes, id_col=id_col, shingles=sh)
        return band_buckets(sig, n_hashes, bands, id_col).withColumnRenamed(
            id_col, doc
        )

    a = buckets(left, "doc1")
    b = a.withColumnRenamed("doc1", "doc2") if right is None else buckets(right, "doc2")
    pairs = a.join(b, ["band", "bucket"])
    if right is None:
        pairs = pairs.filter(F.col("doc1") < F.col("doc2"))
    return pairs.select("doc1", "doc2").distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingles: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """MinHash+LSH candidate pairs: signatures banded into ``bands`` groups;
    docs sharing any band bucket become candidates
    (:func:`_lsh_candidates`).

    ``max_df`` drops shingles with document frequency > max_df before
    signatures (:func:`df_cut_shingles`): without it a corpus-wide stop
    phrase funnels unrelated documents into shared buckets and the verify
    fan-out goes quadratic; with it a shingle's candidate contribution is
    bounded at max_df² pairs."""
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, n, text_col, id_col)
    )
    if max_df is not None:
        sh = df_cut_shingles(sh, max_df)
    return _lsh_candidates(sh, None, n_hashes, bands, id_col)


def _lsh_verified_pairs(
    left: DataFrame,
    right: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.6,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
    persisted_out: list | None = None,
) -> DataFrame:
    """``(doc1, doc2, jaccard)``: the near-dup pair stage every composed
    plan runs — shingles → LSH candidates (:func:`_lsh_candidates`) →
    Jaccard ≥ threshold on the candidates only (:func:`_shingle_overlap`
    with the length-ratio prefilter). ``right=None`` pairs documents of
    ``left`` among themselves (doc1 < doc2, as
    :func:`ngram_jaccard_pairs` over :func:`minhash_lsh_pairs`
    candidates); otherwise doc1 is a ``left`` document and doc2 a
    ``right`` one (batch vs corpus).

    Each shingle table feeds its signature aggregate, its size dimension
    and the verify join, so it is computed once and persisted — the
    local-mode analog of the shingle table a 100 TB dedup keeps as its
    own dataset. The persisted tables are appended to ``persisted_out``
    when given; a repeated caller unpersists them once the returned plan
    has been consumed (otherwise the cache blocks stay registered until
    Spark's LRU evicts them)."""
    sh_l = word_shingles(left, n, text_col, id_col).persist()
    sh_r = (
        sh_l
        if right is None
        else word_shingles(right, n, text_col, id_col).persist()
    )
    if persisted_out is not None:
        persisted_out.extend([sh_l] if right is None else [sh_l, sh_r])
    cand = _lsh_candidates(
        sh_l, None if right is None else sh_r, n_hashes, bands, id_col
    )
    return _jaccard(_shingle_overlap(sh_l, sh_r, id_col, cand, threshold), threshold)


def simhash(
    df: DataFrame,
    bits: int = SIMHASH_BITS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash fingerprint: bit j = sign of Σ over tokens of ±1 from the
    token hash's bit j. Near-duplicates differ in few bits; compare
    downstream with ``bit_count(a ^ b)``.

    Plan shape: ONE explode (tokens) and ONE aggregation with ``bits``
    per-bit sum expressions — not an explode over bits, which would blow
    the row count up ``bits``-fold before the shuffle (measured 3-4x
    slower at sf0.1)."""
    words = ensure_parallelism(df.select(id_col, F.col(text_col))).select(
        id_col, F.explode(F.split(text_col, " ")).alias("w")
    ).filter(F.col("w") != "")
    h = stable_hash64(F.col("w"))
    wb = words.select(id_col, h.alias("h"))
    per_bit = wb.groupBy(id_col).agg(
        *[
            F.sum(F.expr(f"CAST((h >> {b}) & 1 AS INT) * 2 - 1")).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_bit.select(id_col, sim.cast("long").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, max_hamming: int = 2, bits: int = SIMHASH_BITS,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, bucketed
    by half-fingerprint (pigeonhole: a pair within distance d shares at
    least one of d+1 segments, so segment-bucketing prunes the join)."""
    sh = simhash(df, bits, text_col, id_col)
    half = bits // 2
    segs = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("seg"), F.expr(f"simhash % {2**half}").alias("key")),
                F.struct(F.lit(1).alias("seg"), F.expr(f"simhash div {2**half}").alias("key")),
            )
        ).alias("s"),
    ).select(id_col, "simhash", F.col("s.seg").alias("seg"), F.col("s.key").alias("key"))
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
            F.col("a.simhash").alias("h1"),
            F.col("b.simhash").alias("h2"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(h1 ^ h2)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
    )


CMS_DEPTH = 4
CMS_WIDTH = 256


def countmin_estimates(
    df: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Count–Min sketch as a DataFrame composition (Spark ships no CMS
    operator): ``depth`` md5-seeded hash rows of ``width`` counters; the
    frequency estimate for a key is the MIN of its ``depth`` counters.
    Never underestimates; overestimates by at most the collision mass of
    a 1/width-loaded row (the classic εN bound).

    Plan shape at 100 TB: the sketch BUILD is one map-side-combined
    groupBy over (row, bucket) — depth×width counters total, independent
    of corpus size — and the counter table broadcasts everywhere. The
    estimates here join each distinct key's ``depth`` buckets against
    that tiny table. Everything is md5-derived, so the estimate values
    are bit-identical in any engine — the oracle checks the ESTIMATES,
    not just a bound. Output: (key_col, exact_n, cms_n, never_under)."""
    buckets = [
        (stable_hash64(F.col(key_col).cast("string"), seed=i) % width).alias(
            f"b{i}"
        )
        for i in range(depth)
    ]
    hashed = df.select(F.col(key_col), *buckets)
    counters = None
    for i in range(depth):
        c = hashed.groupBy(F.col(f"b{i}").alias("bucket")).agg(
            F.count(F.lit(1)).alias("cnt")
        ).select(F.lit(i).alias("rw"), "bucket", "cnt")
        counters = c if counters is None else counters.unionByName(c)
    keys = hashed.groupBy(key_col, *[f"b{i}" for i in range(depth)]).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    probes = keys.select(
        key_col,
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("rw"), F.col(f"b{i}").alias("bucket")
                    )
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "exact_n", F.col("p.rw").alias("rw"), F.col("p.bucket").alias("bucket"))
    est = (
        probes.join(F.broadcast(counters), ["rw", "bucket"])
        .groupBy(key_col, "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        key_col,
        "exact_n",
        "cms_n",
        (F.col("cms_n") >= F.col("exact_n")).alias("never_under"),
    )


def doc_embeddings(
    df: DataFrame,
    dims: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic hashed bag-of-words embedding per document: dimension
    ``j`` = Σ over tokens of ``(md5-hash(token, seed j) mod 1001) − 500``.
    Integer sums — order-independent, exactly reproducible in SQL — so the
    embedding is cross-engine-identical. Near-duplicate documents share
    almost all tokens, hence almost identical vectors (cosine → 1); this is
    the classic feature-hashing trick, not a learned model, which is what
    makes it oracle-checkable. One explode + one aggregation (``dims``
    sums), the same plan shape as :func:`simhash`."""
    words = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(id_col, F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    aggs = [
        F.sum((stable_hash64(F.col("w"), seed=j) % 1001) - 500).alias(f"e{j}")
        for j in range(dims)
    ]
    emb = words.groupBy(id_col).agg(*aggs)
    arr = F.array(*[F.col(f"e{j}").cast("double") for j in range(dims)])
    return emb.select(id_col, arr.alias("embedding"))


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dims: int = 16,
    n_planes: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Embedding-cosine near-dup: hashed-BoW embeddings → hyperplane-LSH
    buckets → within-bucket cosine ≥ threshold. The third near-dup family
    beside MinHash/Jaccard and SimHash; the join key is the LSH bucket, so
    the pair generation is linear-ish in corpus size (recall is the LSH
    tradeoff: near-identical vectors can straddle a bucket boundary on a
    near-zero projection). Output: (doc1, doc2, sim)."""
    from .annfast import hyperplane_buckets_fast_exact
    from .similarity import _dot, _norm

    emb = doc_embeddings(df, dims, text_col, id_col)
    b = hyperplane_buckets_fast_exact(emb, n_planes, id_col, "embedding")
    withb = emb.join(b, id_col)
    a = withb.select(
        F.col(id_col).alias("doc1"), F.col("embedding").alias("qv"), "bucket"
    )
    c = withb.select(
        F.col(id_col).alias("doc2"), F.col("embedding").alias("nv"), "bucket"
    )
    sim = F.round(_dot("qv", "nv") / (_norm("qv") * _norm("nv")), 4)
    return (
        a.join(c, "bucket")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# connected_components runs the whole edge set in one Python task, which
# raises past this many distinct ids instead of running out of memory
CC_MAX_NODES = 1 << 27


def _spanning_forest(u: np.ndarray, v: np.ndarray, budget: int):
    """``(ids, roots)``: each id of the edges ``u``–``v`` that is not the
    minimum id of its component, and that minimum. ``np.unique`` maps ids
    to dense indices in id order. Per round, each edge whose ends have
    different roots hooks the larger root under the smaller
    (``np.minimum.at``: parents only decrease, so no cycle forms),
    pointer-jumping flattens the trees and the edges become root pairs;
    every round hooks a root, so the loop ends."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    if len(nodes) > budget:
        raise RuntimeError(
            f"connected_components: {len(nodes):,} nodes exceed the "
            f"one-task node budget CC_MAX_NODES = {budget:,}"
        )
    parent = np.arange(len(nodes))
    a, b = idx[: len(u)], idx[len(u) :]
    while True:
        a, b = parent[a], parent[b]
        split = a != b
        if not split.any():
            child = parent != np.arange(len(nodes))
            return nodes[child], nodes[parent[child]]
        a, b = a[split], b[split]
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped


def _component_roots(batches, budget: int, floor: int = 1 << 20):
    """The one task of :func:`connected_components`: ``(u, v)`` edge
    batches in, the :func:`_spanning_forest` of them out as
    ``(u, component_id)`` frames of at most ``floor`` rows. Buffered
    batches fold into the forest once they reach twice its size plus
    ``floor`` edges, so memory is O(non-singleton ids), not O(edges)."""
    import pandas as pd

    # the forest first, then the buffered batches
    us, vs, buffered = [np.empty(0, np.int64)], [np.empty(0, np.int64)], 0
    for pdf in batches:
        us.append(pdf["u"].to_numpy(np.int64))
        vs.append(pdf["v"].to_numpy(np.int64))
        buffered += len(pdf)
        if buffered >= 2 * len(us[0]) + floor:
            u, root = _spanning_forest(np.concatenate(us), np.concatenate(vs), budget)
            us, vs, buffered = [u], [root], 0
    u, root = _spanning_forest(np.concatenate(us), np.concatenate(vs), budget)
    for i in range(0, len(u), floor):
        yield pd.DataFrame({"u": u[i : i + floor], "component_id": root[i : i + floor]})


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of the near-dup graph. Output:
    ``(id_col, component_id)`` — ``component_id`` is the minimum id of the
    component; singletons label themselves.

    This is the exact duplicate-CLUSTER semantics that the greedy
    keeper rule of :func:`deduplicate_near` approximates: under a chain
    a~b~c greedy and components agree on the keeper (min id), but
    components also give the cluster assignment itself, which training
    pipelines keep (cluster size features, one-per-cluster sampling).

    Near-dup edge sets are far smaller than the corpus, so the edges go to
    ONE vectorized task (``coalesce(1)`` + ``mapInPandas``) that runs a
    numpy union-find (:func:`_component_roots`) over them; the nodes then
    left-join its ``(id, root)`` rows. That task raises past
    ``CC_MAX_NODES`` distinct ids; per-partition local contraction
    (Łącki et al., "Connected Components at Scale via Local
    Contractions") is the route for a graph larger than that.
    ``stats['rounds']`` is always 1, kept for callers that read it.

    Ids must be numeric (castable to long): the label is min() over ids.
    A non-numeric string id would cast to NULL and silently drop edges,
    so the cast is guarded — any null-producing cast raises."""
    # checkpoint the cast edges ONCE so the (typically expensive) upstream
    # candidate-pair pipeline is never evaluated twice: both the null-cast
    # guard and the union-find task read the checkpointed table
    ecast = edges.select(
        F.col("doc1").cast("long").alias("u"),
        F.col("doc2").cast("long").alias("v"),
        (F.col("doc1").isNotNull() & F.col("doc2").isNotNull()).alias("_nn"),
    ).localCheckpoint(eager=True)
    bad = ecast.filter(
        F.col("_nn") & (F.col("u").isNull() | F.col("v").isNull())
    ).first()
    if bad is not None:
        raise ValueError(
            "connected_components requires numeric (long-castable) ids; "
            "a non-numeric id cast to NULL would silently collapse the "
            "edge set"
        )
    # the budget is bound here, so the task sees the driver's value
    task = functools.partial(_component_roots, budget=CC_MAX_NODES)
    parents = (
        ecast.filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .coalesce(1)
        .mapInPandas(task, "u long, component_id long")
    )
    if stats is not None:
        stats["rounds"] = 1
    return nodes.select(F.col(id_col).cast("long").alias("u")).join(
        parents, "u", "left"
    ).select(
        F.col("u").alias(id_col),
        F.coalesce("component_id", F.col("u")).alias("component_id"),
    )


def positioned_shingles(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, pos, shingle)`` — every n-word shingle WITH its start
    position, NOT deduplicated: the input for span-level analyses
    (repeated-span audit) where :func:`word_shingles`'s set semantics
    would lose the positions. One Arrow pass over :func:`word_grams`."""
    import pandas as _pd
    from collections.abc import Iterator as _It

    def fn(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        for b in batches:
            out_ids: list = []
            out_pos: list = []
            out_sh: list = []
            for i, t in zip(b[id_col].values, b[text_col]):
                grams = word_grams(t, n)
                out_ids.extend([i] * len(grams))
                out_pos.extend(range(len(grams)))
                out_sh.extend(grams)
            yield _pd.DataFrame(
                {id_col: out_ids, "pos": out_pos, "shingle": out_sh}
            )

    return ensure_parallelism(df.select(id_col, text_col)).mapInPandas(
        fn, schema=f"{id_col} long, pos int, shingle string"
    )


def repeated_spans(
    df: DataFrame,
    n: int = 3,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Repeated-span audit (the memorization-hazard metric behind
    substring-level training-data dedup, Lee et al. "Deduplicating
    Training Data Makes Language Models Better"): for each document,
    how many of its tokens are covered by an n-gram that occurs at
    least ``min_count`` times in the whole corpus (cross-document
    duplication AND within-document boilerplate both count — each is a
    span a model can memorize verbatim). Output:
    ``(id, n_tokens, n_repeated_tokens, repeated_frac)``.

    Plan shape at 100 TB: positioned shingles explode once; the
    occurrence count is a map-side-combined groupBy on the shingle (a
    constant-size key — raw text never shuffles beyond n words); the
    semi-join back reuses that partitioning; coverage is a bounded
    ``sequence(pos, pos+n-1)`` explode over only the REPEATED shingles
    (rare by construction in a clean corpus) followed by a distinct +
    count per doc. No pairs ever materialize — this audits span mass,
    not pair identity, which is what makes it linear where full
    substring dedup needs suffix arrays."""
    sh = positioned_shingles(df, n, text_col, id_col)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_count)
        .select("shingle")
    )
    rep = sh.join(hot, "shingle", "left_semi")
    covered = (
        rep.select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_repeated_tokens"))
    )
    toks = df.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
    )
    return toks.join(covered, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_repeated_tokens", F.lit(0))
        .cast("long")
        .alias("n_repeated_tokens"),
        F.round(
            F.coalesce("n_repeated_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("repeated_frac"),
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment ``|A∩B| / |A|`` ≥
    threshold — the quote/subset detector Jaccard misses (a short doc
    fully quoted inside a long one scores near-zero Jaccard but
    containment 1.0; classic Broder resemblance-vs-containment).
    Output: ``(doc1, doc2, containment)`` where ``doc1`` is the
    CONTAINED document, both directions of every pair considered.

    Scoring on :func:`_shingle_overlap`, with the same candidate
    discipline as :func:`ngram_jaccard_pairs`: pass ``candidates`` (e.g.
    LSH pairs, mirrored here) at scale so the intersection join is
    restricted; without them every co-occurring pair is counted once and
    mirrored (the intersection is symmetric) — for small corpora and
    golden checks."""
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, n, text_col, id_col)
    )
    if candidates is not None:
        c = candidates.select("doc1", "doc2")
        candidates = c.unionByName(
            c.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
        ).distinct()
    ov = _shingle_overlap(sh, sh, id_col, candidates)
    if candidates is None:
        # both directions from each overlap row in one pass (a union of
        # two selects would plan the whole overlap subtree twice)
        ov = ov.select(
            F.explode(
                F.array(
                    F.struct("doc1", "doc2", "n1", "n_common"),
                    F.struct(
                        F.col("doc2").alias("doc1"),
                        F.col("doc1").alias("doc2"),
                        F.col("n2").alias("n1"),
                        "n_common",
                    ),
                )
            ).alias("p")
        ).select("p.*")
    return (
        ov.withColumn(
            "containment", F.round(F.col("n_common") / F.col("n1"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("doc1", "doc2", "containment")
    )


def deduplicate_near(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    n_hashes: int = N_MINHASH,
    bands: int = LSH_BANDS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """End-to-end near-dup dedup — the query a training-data user actually
    runs. Three stages, each linear-ish at 100 TB:

    1. CANDIDATES: banded MinHash-LSH join on band hashes
       (constant-size signatures; never an all-pairs join).
    2. VERIFY: exact Jaccard only where LSH says "maybe" — both stages
       are :func:`_lsh_verified_pairs` over one persisted shingle table.
    3. KEEP: greedy keeper rule — drop every doc that is the larger id of
       a verified pair (``doc2``); keep the rest. Under a chain a~b~c this
       keeps only ``a`` — the standard greedy canonicalization. (Exact
       duplicate-cluster semantics would need iterative min-id propagation
       / connected components; greedy is one anti-join, deterministic, and
       what production dedup pipelines ship.)

    Returns the deduped corpus with the original schema. The persisted
    shingle table stays registered until Spark's LRU evicts it (or the
    caller unpersists); at real scale the materialization is an explicit
    intermediate TABLE with its own lifecycle, not executor cache."""
    verified = _lsh_verified_pairs(
        df, None, n, threshold, n_hashes, bands, text_col, id_col
    )
    dupes = verified.select(F.col("doc2").alias(id_col)).distinct()
    return df.join(dupes, id_col, "left_anti")
