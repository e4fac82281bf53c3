"""Similarity search over embedding columns (north-star extension).

* ``cosine_pairs`` — near-duplicate pairs above a cosine threshold,
  blocked by a coarse partition (IVF-style): only vectors sharing a
  block are compared. With a uniform block (cluster id / LSH bucket)
  the pair count is |block|² · n_blocks instead of n², and the join
  shuffles on the block key only.
* ``ann_topk_bruteforce`` — exact top-k neighbors for a (small) query
  set: broadcast the queries, score every corpus vector, take top-k
  per query. The corpus-side scan is embarrassingly parallel; the
  only shuffle is the final per-query top-k (k rows per partition
  per query survive the partial sort).
* ``ann_topk_ivf`` — scale path: restrict scoring to corpus vectors
  in the query's block(s).

All vector math is Catalyst expressions (functions/vectors.py) —
JVM-side, no UDF, no collect.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from farmrpg_etl_spark.functions import vectors as V


def lsh_hyperplanes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH blocking.

    Components derive from md5 (no RNG, no seed state), so any engine
    — and the DuckDB oracle — reproduces the identical planes from
    (dim, planes) alone: h[p][j] = int(md5(f"{p}|{j}")[:8], 16) / 2^32 - 0.5.
    """
    return [
        [
            int(hashlib.md5(f"{p}|{j}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
            for j in range(dim)
        ]
        for p in range(planes)
    ]


def lsh_block(vec_col: Column, dim: int, planes: int = 3) -> Column:
    """Sign-LSH coarse-quantization block id ('101'-style bit string).

    This is the block assigner feeding :func:`ann_topk_ivf` — the
    IVF "coarse quantizer" expressed as pure Catalyst expressions.
    2^planes cells; nearby vectors (small angle) land in the same
    cell with high probability. At scale, raise ``planes`` so cells
    stay executor-sized, and probe neighboring cells (Hamming-1 on
    the bit string) for recall.
    """
    v = V.as_double(vec_col)
    bits = []
    for plane in lsh_hyperplanes(dim, planes):
        h = F.array(*[F.lit(x) for x in plane])
        bits.append(F.when(V.dot(v, h) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)



def _unitize(df: DataFrame, raw_col: str, out_col: str) -> DataFrame:
    """Replace ``raw_col`` with its unit-vector form named ``out_col``.

    Two projections so the norm is a materialized column when the
    per-element division references it (see functions.vectors.unit) —
    every pairwise score downstream is then a single dot fold."""
    return (
        df.withColumn("__nrm", V.norm(F.col(raw_col)))
        .withColumn(out_col, V.unit(F.col(raw_col), F.col("__nrm")))
        .drop("__nrm", *([raw_col] if raw_col != out_col else []))
    )


def cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT cosine pairs ≥ threshold within a blocking key.

    Deliberately |block|²·d: for DENSE embeddings there is no exact
    sub-blocking that preserves recall (prefix-filter/AllPairs tricks
    need sparsity; every dense pair shares every dimension), so exact
    semantics cost all pairs within the block. Use this when blocks
    are bounded (e.g. per-entity or per-cluster comparisons); the
    100 TB near-neighbor path is the approximate family —
    ``ann_topk_ivf`` / ``ann_topk_ivf_probe`` (LSH-bucketed, probed)
    — which trades exactness for Σ|bucket|² ≪ |block|²."""
    a = _unitize(
        df.select(
            F.col(id_col).alias("id_a"),
            F.col(block_col).alias("__block"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "va",
    )
    b = _unitize(
        df.select(
            F.col(id_col).alias("id_b"),
            F.col(block_col).alias("__block"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "vb",
    )
    return (
        a.join(b, on="__block")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(V.dot(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query_id, neighbor_id,
    cosine, rank). Excludes self-matches. Queries should be small —
    they are broadcast against the corpus in one UDF-free plan."""
    q = F.broadcast(
        _unitize(
            queries.select(
                F.col(id_col).alias("query_id"),
                V.as_double(F.col(vec_col)).alias("__raw"),
            ),
            "__raw", "qv",
        )
    )
    c = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(V.dot(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 10,
    block_col: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (query), the top-k most-similar corpus vectors whose LABEL DIFFERS
    from the anchor's — near the anchor, wrong class: exactly the
    negatives that sharpen an embedding/reranker objective beyond
    random in-batch negatives. Returns (query_id, neighbor_id,
    cosine, rank).

    The anchor's own row is excluded by the label filter itself (it
    shares the anchor's label). With ``block_col`` set (the sign-LSH
    cell from :func:`lsh_block`, or k-means cells), candidates come
    from the anchor's cell only — the IVF scale path: at 100 TB the
    broadcast-anchors × corpus scan stays, but each corpus row scores
    against only the anchors of ITS cell, the same candidate-bounding
    argument as ``ann_topk_ivf`` (mined negatives are then
    approximate, which is standard — hard-negative quality degrades
    gracefully with recall, unlike decontamination). Anchors are the
    small side and broadcast; the per-anchor top-k is a partial
    aggregation shape (rank window over the candidate set, never a
    global sort)."""
    q = F.broadcast(
        _unitize(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("__qlabel"),
                *([F.col(block_col).alias("__qblock")] if block_col else []),
                V.as_double(F.col(vec_col)).alias("__raw"),
            ),
            "__raw", "qv",
        )
    )
    c = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("__clabel"),
            *([F.col(block_col).alias("__cblock")] if block_col else []),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    if block_col:
        joined = c.join(q, F.col("__cblock") == F.col("__qblock"))
    else:
        joined = c.crossJoin(q)
    scored = joined.filter(
        F.col("__clabel") != F.col("__qlabel")
    ).withColumn("cosine", F.round(V.dot(F.col("qv"), F.col("cv")), 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def lsh_probe_blocks(vec_col: Column, dim: int, planes: int = 3) -> Column:
    """Multi-probe cell list for a query vector: its own sign-LSH cell
    plus every Hamming-1 neighbor (flip one plane's bit) — the standard
    IVF recall fix: a vector near a hyperplane lands in either cell, so
    probing the adjacent cells recovers neighbors the single-cell probe
    misses, at (planes+1)× probe cost instead of 2^planes."""
    v = V.as_double(vec_col)
    bits = []
    for plane in lsh_hyperplanes(dim, planes):
        h = F.array(*[F.lit(x) for x in plane])
        bits.append(F.when(V.dot(v, h) >= 0, F.lit("1")).otherwise(F.lit("0")))
    base = F.concat(*bits)
    probes = [base]
    for i in range(planes):
        flipped = bits.copy()
        flipped[i] = F.when(bits[i] == "1", F.lit("0")).otherwise(F.lit("1"))
        probes.append(F.concat(*flipped))
    return F.array(*probes)


def ann_topk_ivf_probe(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
    dim: int = 64,
    planes: int = 3,
) -> DataFrame:
    """IVF ANN with Hamming-1 multi-probe: corpus vectors are assigned
    one cell; each query probes its cell plus all 1-bit neighbors."""
    # blocks from RAW vectors (sign(v·h) == sign(unit·h) mathematically,
    # but the rounded division could flip a knife-edge bit — keeping the
    # assigner on raw components keeps it bit-identical to the oracle)
    c = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            lsh_block(F.col(vec_col), dim, planes).alias("__block"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    q = F.broadcast(
        _unitize(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.explode(
                    lsh_probe_blocks(F.col(vec_col), dim, planes)
                ).alias("__block"),
                V.as_double(F.col(vec_col)).alias("__raw"),
            ),
            "__raw", "qv",
        )
    )
    scored = (
        c.join(q, on="__block")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(V.dot(F.col("qv"), F.col("cv")), 6))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str,
    k: int = 10,
) -> DataFrame:
    """IVF-style ANN: score only corpus vectors sharing the query's
    block (coarse quantization cell). Recall < 1 by design; at scale
    probe multiple neighboring cells."""
    q = F.broadcast(
        _unitize(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(block_col).alias("__block"),
                V.as_double(F.col(vec_col)).alias("__raw"),
            ),
            "__raw", "qv",
        )
    )
    c = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(block_col).alias("__block"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    scored = (
        c.join(q, on="__block")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(V.dot(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def int8_quantize(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale`` = max|x|/127,
    ``q_i`` = round(x_i / scale) ∈ [-127, 127] (an exact bound — no
    clamp needed since |x_i| ≤ max|x|). All-zero vectors quantize to
    all zeros with scale 0.

    This is the 100 TB ANN enabler: an int8 signature is 4× smaller
    than float32 (8× than the double math would ship), so the
    broadcast / shuffle payload of every downstream similarity join
    shrinks by the same factor while cosine recall stays ≥ ~0.99 for
    typical embedding distributions. Pure Catalyst: the max|x| fold is
    computed once per row into a named column, then referenced (not
    re-folded) by the per-element transform."""
    v = V.as_double(F.col(vec_col))
    with_scale = df.select(
        F.col(id_col),
        v.alias("__v"),
        (
            F.aggregate(v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
            / F.lit(127.0)
        ).alias("scale"),
    )
    q = F.when(
        F.col("scale") == 0.0,
        F.transform(F.col("__v"), lambda x: F.lit(0).cast("long")),
    ).otherwise(
        F.transform(F.col("__v"), lambda x: F.round(x / F.col("scale")).cast("long"))
    )
    return with_scale.select(id_col, "scale", q.alias("qvec"))


def ann_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors over int8-quantized vectors —
    the memory-bandwidth-bound ANN path: both sides are quantized
    with :func:`int8_quantize`, dequantized on the fly
    (``q_i · scale``), and scored with the same fold as the
    full-precision path. Ranking differences vs ``ann_topk_bruteforce``
    are quantization error only."""
    qz_c = _unitize(
        int8_quantize(corpus, vec_col, id_col).select(
            F.col(id_col).alias("neighbor_id"),
            F.transform(F.col("qvec"), lambda x: x * F.col("scale")).alias("__raw"),
        ),
        "__raw", "cv",
    )
    qz_q = F.broadcast(
        _unitize(
            int8_quantize(queries, vec_col, id_col).select(
                F.col(id_col).alias("query_id"),
                F.transform(F.col("qvec"), lambda x: x * F.col("scale")).alias(
                    "__raw"
                ),
            ),
            "__raw", "qv",
        )
    )
    scored = (
        qz_c.crossJoin(qz_q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", F.round(V.dot(F.col("qv"), F.col("cv")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pq_codebooks(dim: int, m: int, ks: int) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks:
    ``c[s][k][j] = int(md5(f"pq|{s}|{k}|{j}")[:8], 16) / 2^32 − 0.5``
    — the same no-RNG recipe as :func:`lsh_hyperplanes`, so any engine
    (and the DuckDB oracle) reproduces the identical codebooks from
    (dim, m, ks) alone. In production these are k-means-trained per
    subspace; swapping arithmetic for training keeps the geometry and
    the distributed shape real (the ``embed_binary`` stand-in
    philosophy), and uniform codebooks match the synthetic corpus's
    uniform components."""
    sub = dim // m
    return [
        [
            [
                int(hashlib.md5(f"pq|{s}|{k}|{j}".encode()).hexdigest()[:8], 16)
                / 2**32
                - 0.5
                for j in range(sub)
            ]
            for k in range(ks)
        ]
        for s in range(m)
    ]


def _pq_sub_dist(vec: Column, s: int, sub: int, centroid: list[float]) -> Column:
    """Squared L2 of subvector s against a literal centroid, as the
    same left fold the DuckDB oracle writes as an explicit chain."""
    sl = F.slice(vec, s * sub + 1, sub)
    lits = F.array(*[F.lit(x) for x in centroid])
    return F.aggregate(
        F.zip_with(sl, lits, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, v: a + v,
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int = 64,
    m: int = 4,
    ks: int = 16,
) -> DataFrame:
    """Product-quantization encoding: split each vector into ``m``
    subvectors, assign each to its nearest codebook centroid (ties →
    lowest code, via first-position-of-min), emit one int code column
    per subspace (``c0..c{m-1}``) — log2(ks) bits of payload per
    subspace instead of ``dim/m`` floats.

    This is the memory-bound 100 TB ANN path (IVF-PQ): at dim=64,
    m=4, ks=16 a corpus vector compresses 512 bytes → 2 bytes — the
    codes of a trillion-vector corpus fit a modest cluster's RAM where
    raw floats (or even int8) cannot. Encoding is map-side only: m·ks
    fold distances per row, codebooks are literals in the plan, the
    corpus never shuffles."""
    if dim % m != 0:
        raise ValueError("dim must divide evenly into m subspaces")
    sub = dim // m
    books = pq_codebooks(dim, m, ks)
    v = V.as_double(F.col(vec_col))
    out = df.select(F.col(id_col), v.alias("__v"))
    cols = [F.col(id_col)]
    from farmrpg_etl_spark.functions.hashing import let_

    for s in range(m):
        darr = F.array(
            *[_pq_sub_dist(F.col("__v"), s, sub, books[s][k]) for k in range(ks)]
        )
        # let_-bound (r17): array_position(darr, array_min(darr))
        # references darr twice inside one expression tree, where
        # inline forms are exempt from subexpression elimination — the
        # ks x (dim/m) distance sums were evaluated twice per subspace.
        cols.append(
            let_(darr, lambda da: F.array_position(da, F.array_min(da)) - 1)
            .cast("int")
            .alias(f"c{s}")
        )
    return out.select(*cols)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 4,
    ks: int = 16,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    :func:`pq_encode`-compressed ONCE; each query computes an m·ks
    distance table against the codebooks (exact query-side math), and
    a corpus vector's approximate distance is the sum of m table
    lookups — no per-pair vector arithmetic at all. Both sides are
    unit-normalized first so squared-L2 ranking equals cosine ranking
    (‖a−b‖² = 2−2cos on unit vectors) and recall is measurable against
    ``ann_topk_bruteforce``. Emits (query_id, neighbor_id, adist,
    rank) — adist ascending.

    Scale shape: queries (with their flattened dtable arrays, m·ks
    doubles each) broadcast; the corpus streams map-side through a
    lookup-sum per pair — the per-pair cost is m ``element_at`` adds
    versus dim multiplies for the fold paths, and the corpus payload
    through the plan is the 2-byte-per-vector code relation."""
    sub = dim // m
    books = pq_codebooks(dim, m, ks)
    cu = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    codes = pq_encode(cu, "cv", "neighbor_id", dim=dim, m=m, ks=ks)
    qu = _unitize(
        queries.select(
            F.col(id_col).alias("query_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "qv",
    )
    dtable = F.array(
        *[
            _pq_sub_dist(F.col("qv"), s, sub, books[s][c])
            for s in range(m)
            for c in range(ks)
        ]
    )
    qt = F.broadcast(qu.select("query_id", dtable.alias("__dt")))
    pair = codes.crossJoin(qt).filter(F.col("neighbor_id") != F.col("query_id"))
    adist: Column = F.lit(0.0)
    for s in range(m):
        adist = adist + F.element_at(
            F.col("__dt"), F.lit(1 + s * ks) + F.col(f"c{s}")
        )
    scored = pair.withColumn("adist", F.round(adist, 6))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adist", "rank")
    )


def pq_seed_encode(
    corpus_unit: DataFrame,
    seeds: DataFrame,
    id_col: str,
    dim: int = 64,
    m: int = 8,
) -> DataFrame:
    """PQ encoding against DATA-DERIVED codebooks: ``seeds`` is a
    ks-row relation ``(k, v)`` whose subvectors are the per-subspace
    centroids (sample-initialization — k-means round 0 — as the
    training stand-in; measured 4-6× the recall of data-blind md5
    codebooks on this corpus). Fully relational: seeds broadcast, ONE
    pass computes all m subspace distances per (vector, seed) pair,
    one map-side-combined aggregation takes all m argmins — ks rows
    per corpus vector through the plan, never m·ks.

    Tie rule: lowest seed id wins (min of (dist, k) structs), matching
    the oracle's ``list(k ORDER BY d, k)[1]``."""
    sub = dim // m
    dists = [
        F.aggregate(
            F.zip_with(
                F.slice(F.col("__cv"), s * sub + 1, sub),
                F.slice(F.col("__bv"), s * sub + 1, sub),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias(f"__d{s}")
        for s in range(m)
    ]
    pair = corpus_unit.select(F.col(id_col), F.col("__cv")).crossJoin(
        F.broadcast(seeds.select(F.col("k"), F.col("__bv")))
    ).select(F.col(id_col), F.col("k"), *dists)
    aggs = [
        F.min(F.struct(F.col(f"__d{s}"), F.col("k")))["k"]
        .cast("int")
        .alias(f"c{s}")
        for s in range(m)
    ]
    return pair.groupBy(id_col).agg(*aggs)


def pq_adc_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 5,
    dim: int = 64,
    m: int = 8,
    ks: int = 16,
    shortlist: int = 200,
) -> DataFrame:
    """PRODUCTION-SHAPED PQ retrieval: ADC over data-seeded codebooks
    generates a ``shortlist`` of candidates per query, then ONLY the
    shortlist is re-scored with the exact cosine fold — the
    IVF-PQ + refine architecture every large-scale ANN deployment
    runs, because on high-dimensional near-uniform data ADC distances
    concentrate and ADC-only top-k is near-zero recall (measured 0.00
    on this corpus — the geometry docs/SCALE.md records, not a bug),
    while shortlist→rescore at 10 % of the corpus measures
    recall@5 = 0.86 (sf0.1), on par with the tuned IVF row.

    Scale shape: the index payload is m·log2(ks) bits/vector (2 bytes
    here); the corpus streams ONCE map-side for encoding (ks-row
    broadcast join) and once for the ADC scan (query dtables
    broadcast); exact math touches only queries × shortlist rows.
    Output (query_id, neighbor_id, cosine, rank).

    Cache contract: the unit corpus is ``persist()``-ed because three
    branches (encode, rescore join-back, seed pick) read it; the cache
    stays pinned while the returned plan is live — callers that reuse
    the session across many plans own ``spark.catalog.clearCache()`` /
    ``unpersist()`` after their terminal action (the repo-wide persist
    norm, see ``operators/dedup.py``)."""
    sub = dim // m
    cu = _unitize(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "__cv",
    ).persist()
    # seeds = the ks LOWEST-id unit vectors (sample-init training
    # stand-in), keyed by their RAW id: robust for any corpus id set,
    # unlike a `< ks` filter that underfills when ids don't start at 0
    seeds = cu.orderBy(F.col("neighbor_id").asc()).limit(ks).select(
        F.col("neighbor_id").alias("k"), F.col("__cv").alias("__bv")
    )
    codes = pq_seed_encode(cu, seeds, "neighbor_id", dim=dim, m=m)
    qu = _unitize(
        queries.select(
            F.col(id_col).alias("query_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "__qv",
    )
    # per-query distance tables: one array of ks entries per subspace,
    # built from the same (query × seed) broadcast join
    qdists = [
        F.aggregate(
            F.zip_with(
                F.slice(F.col("__qv"), s * sub + 1, sub),
                F.slice(F.col("__bv"), s * sub + 1, sub),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda a, v: a + v,
        ).alias(f"__d{s}")
        for s in range(m)
    ]
    qpair = qu.crossJoin(
        F.broadcast(seeds)
    ).select("query_id", "__qv", F.col("k"), *qdists)
    # ADC tables are MAPS keyed by the raw seed id — positional arrays
    # (list ORDER BY k, indexed t[c+1]) are only correct when seed ids
    # are exactly the contiguous 0..ks-1; a map lookup stays aligned
    # with pq_seed_encode's codes for ANY corpus id set (NULL adist
    # from an out-of-range index would otherwise silently sort FIRST
    # and degrade the shortlist to near-random)
    tables = [
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("k").cast("long"), F.col(f"__d{s}"))
            )
        ).alias(f"t{s}")
        for s in range(m)
    ]
    qt = qpair.groupBy("query_id").agg(
        F.first("__qv").alias("__qv"), *tables
    )
    adist: Column = F.lit(0.0)
    for s in range(m):
        adist = adist + F.element_at(
            F.col(f"t{s}"), F.col(f"c{s}").cast("long")
        )
    scored = codes.crossJoin(F.broadcast(qt)).filter(
        F.col("neighbor_id") != F.col("query_id")
    ).select("query_id", "neighbor_id", F.round(adist, 6).alias("__adist"))
    ws = Window.partitionBy("query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id").asc()
    )
    short = (
        scored.withColumn("__r", F.row_number().over(ws))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact rescore of the shortlist only: re-attach both unit vectors
    resc = (
        short.join(cu, "neighbor_id")
        .join(F.broadcast(qt.select("query_id", "__qv")), "query_id")
        .withColumn("cosine", F.round(V.dot(F.col("__qv"), F.col("__cv")), 6))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        resc.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _semantic_dedup_keyed(
    clustered: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    max_cluster_size: int | None,
    split_dim: int | None,
    split_planes: int,
) -> DataFrame:
    """Normalized (id, __cl, __v, __key) relation for semantic_dedup.

    ``__key`` is the pair-grouping key: the cluster id alone for bounded
    clusters, the cluster id composed with ``split_planes``
    CLUSTER-CENTERED projection bits for clusters larger than
    ``max_cluster_size`` — the in-code skew guard.

    Centering is load-bearing: a k-means cluster is a TIGHT direction
    bundle, so raw sign-LSH bits (sign of v·h) put every member on the
    same side of a global hyperplane and the "split" never splits —
    measured 222 s on a 10× corpus whose hot clusters stayed whole.
    Using sign(v·h − mean_cluster(v·h)) instead shifts each hyperplane
    through the cluster's own centroid-projection, so even a tight
    cluster splits ≈ 50/50 per bit.

    Per-cluster stats (size + mean projections) come from a PARTIAL
    aggregation broadcast back to the rows — cluster cardinality is
    ≈ n/√c, so the stats table is dimension-sized and the corpus rows
    never shuffle for the key computation at all (a window form would
    shuffle+sort every row by cluster first). Factored out so tests
    can assert the per-key group sizes (and hence the Σ|group|² pair
    bound) directly."""
    n = clustered.select(
        F.col(id_col),
        F.col(cluster_col).alias("__cl"),
        V.as_double(F.col(vec_col)).alias("__v"),
    )
    if max_cluster_size is None:
        return n.withColumn("__key", F.col("__cl").cast("string"))
    if split_dim is None:
        raise ValueError("split_dim is required when max_cluster_size is set")
    # The guard is insurance, not a tax: only members of OVERSIZED
    # clusters ever pay the projection dot products. A cluster-count
    # aggregation (cluster ids only — no vectors move) finds the
    # oversized clusters; that dimension-sized set broadcasts back, and
    # every projection expression is gated behind ``when(__isbig, ...)``
    # so Catalyst's conditional evaluation skips the dots row-by-row
    # for bounded clusters. In the common all-bounded case the stats
    # aggregation streams rows through an EMPTY broadcast hash table
    # (no dot is evaluated) — r3's always-armed form computed
    # per-cluster projection stats unconditionally and cost +74 % on
    # the sf0.1 bench. Fully lazy: no driver-side action, one plan.
    sizes = n.groupBy("__cl").agg(F.count(F.lit(1)).alias("__sz"))
    big = sizes.filter(F.col("__sz") > F.lit(max_cluster_size)).select(
        "__cl", F.lit(True).alias("__isbig")
    )
    n = n.join(F.broadcast(big), "__cl", "left")
    for p, plane in enumerate(lsh_hyperplanes(split_dim, split_planes)):
        h = F.array(*[F.lit(x) for x in plane])
        n = n.withColumn(
            f"__proj{p}", F.when(F.col("__isbig"), V.dot(F.col("__v"), h))
        )
    stats = (
        n.filter(F.col("__isbig"))
        .groupBy("__cl")
        .agg(*[F.avg(f"__proj{p}").alias(f"__mp{p}") for p in range(split_planes)])
    )
    n = n.join(F.broadcast(stats), "__cl", "left")
    bits = [
        F.when(F.col(f"__proj{p}") > F.col(f"__mp{p}"), F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in range(split_planes)
    ]
    return n.withColumn(
        "__key",
        F.concat_ws(
            "#",
            F.col("__cl").cast("string"),
            F.when(F.col("__isbig"), F.concat(*bits)).otherwise(F.lit("")),
        ),
    ).drop(
        "__isbig",
        *[f"__proj{p}" for p in range(split_planes)],
        *[f"__mp{p}" for p in range(split_planes)],
    )


def semantic_dedup(
    clustered: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    threshold: float = 0.25,
    max_cluster_size: int | None = None,
    split_dim: int | None = None,
    split_planes: int = 2,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate removal: within each
    cluster, a vector is a duplicate if ANY lower-id vector in the same
    cluster has cosine similarity ≥ ``threshold``; survivors are
    returned as ``(id, cluster)``.

    Candidate pairs come from a per-group numpy matmul
    (``applyInPandas`` keyed on ``__key``, one shuffle of one side)
    with a guard-banded cutoff ``threshold − 1e-4``; ONLY the
    candidates are then re-scored with the exact Catalyst fold on the
    same double inputs (unit vectors computed JVM-side,
    Arrow-roundtripped losslessly). numpy's matmul differs from the
    fold by ≲ d·ulp ≈ 1e-13 ≪ the guard band, so no true pair can be
    missed and the decisions are those of a pure-fold self-join on
    ``__key`` — which hash-matches the DuckDB oracle. Interpreted fold
    dots over every pair are the Σ|group|² hot loop (~4% of pairs pass
    the threshold here, so ~96% of fold cost buys nothing); the kernel
    pays one matmul per group and folds only the survivors. Measured
    against that self-join (``docs/SCALE.md``): 6.0 vs 12.6 s for
    ``training_data_pipeline_v2`` at sf0.1, 2.75 vs 7.07 s at 10×
    corpus. The score matrix is computed in 1024-row blocks, so peak
    kernel memory is 1024·|group| doubles regardless of group size
    (the ``max_cluster_size`` guard bounds |group| anyway).

    The "any lower id" rule (rather than "any lower KEPT id") makes the
    operator one candidate pass + anti-join — no iteration — and is
    deterministic under any partitioning. It removes a superset of the
    greedy chain rule (a→b→c chains drop both b and c even when a↔c
    alone is below threshold), which is the standard SemDeDup
    simplification.

    Scale: the candidate pass shuffles once on the key and carries only
    (id, key, vector) — fixed-width rows, never documents.
    Pair cost is Σ|group|², bounded two ways: choose k ≈ n/√c clusters
    upstream (k-means E-step is a broadcast map, see
    ``queries.kmeans_assign_embeddings``), and set ``max_cluster_size``
    to arm the IN-CODE skew guard — any cluster above the bound is
    split by ``split_planes`` secondary sign-LSH bits
    (:func:`lsh_block`, same recipe as ``dedup.length_band``), so one
    hot k-means cluster (common on web text) costs (|cl|/2^planes)²·2^p
    instead of |cl|². Guarded comparisons are approximate for the
    oversized cluster only (near-identical vectors — the ≥ threshold
    pairs SemDeDup cares about — agree on sign-LSH bits with high
    probability; distant same-cluster pairs may be missed). The size
    count is a window over the same cluster shuffle, not a second scan.
    """
    keyed = _semantic_dedup_keyed(
        clustered, vec_col, id_col, cluster_col,
        max_cluster_size, split_dim, split_planes,
    )
    # normalize ONCE per row: the rescore then pays a single dot fold
    # per candidate instead of dot + two norms (~3×)
    n = keyed.withColumn("__nrm", V.norm(F.col("__v"))).select(
        F.col(id_col),
        "__cl",
        "__key",
        V.unit(F.col("__v"), F.col("__nrm")).alias("__u"),
    )
    cand = _semantic_candidates_arrow(n, id_col, threshold - 1e-4)
    dups = (
        cand.withColumn(
            "__cos", F.round(V.dot(F.col("__ua"), F.col("__ub")), 6)
        )
        .filter(F.col("__cos") >= F.lit(threshold))
        .select(F.col("__idb").alias(id_col))
        .distinct()
    )
    return n.join(dups, id_col, "left_anti").select(
        F.col(id_col), F.col("__cl").alias(cluster_col)
    )


def _semantic_candidates_arrow(
    n: DataFrame, id_col: str, cutoff: float
) -> DataFrame:
    """Per-``__key`` numpy candidate pairs for :func:`semantic_dedup`.

    Input: the normalized ``(id, __key, __u)`` relation. Output:
    ``(__ida, __idb, __ua, __ub)`` for every in-group pair (ida < idb)
    whose numpy cosine reaches ``cutoff`` — a guard-banded SUPERSET of
    the true ≥ threshold pairs; the caller re-scores with the exact
    fold. The unit vectors ride through the kernel untouched (Arrow
    preserves doubles bit-exactly), so the rescore sees the same
    inputs a pure-Catalyst self-join would."""
    import numpy as np
    import pandas as pd

    id_type = n.schema[id_col].dataType.simpleString()
    out_schema = (
        f"__ida {id_type}, __idb {id_type}, "
        "__ua array<double>, __ub array<double>"
    )

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"__ida": pdf[id_col][:0], "__idb": pdf[id_col][:0],
                 "__ua": pd.Series([], dtype=object),
                 "__ub": pd.Series([], dtype=object)}
            )
        U = np.array([np.asarray(v, dtype=np.float64) for v in pdf["__u"]])
        ids = pdf[id_col].to_numpy()
        ia_all, ib_all = [], []
        # blocked score matrix: peak memory 1024·m doubles per block
        for s in range(0, m, 1024):
            blk = U[s : s + 1024] @ U.T  # (b, m)
            bi, bj = np.nonzero(blk >= cutoff)
            bi = bi + s
            keep = bi < bj  # id order == index order after the sort
            ia_all.append(bi[keep])
            ib_all.append(bj[keep])
        ia = np.concatenate(ia_all) if ia_all else np.array([], dtype=int)
        ib = np.concatenate(ib_all) if ib_all else np.array([], dtype=int)
        if len(ia) == 0:
            return pd.DataFrame(
                {"__ida": pdf[id_col][:0], "__idb": pdf[id_col][:0],
                 "__ua": pd.Series([], dtype=object),
                 "__ub": pd.Series([], dtype=object)}
            )
        return pd.DataFrame(
            {
                "__ida": pd.Series(ids[ia], dtype=pdf[id_col].dtype),
                "__idb": pd.Series(ids[ib], dtype=pdf[id_col].dtype),
                "__ua": pd.Series([U[i].tolist() for i in ia], dtype=object),
                "__ub": pd.Series([U[j].tolist() for j in ib], dtype=object),
            }
        )

    return (
        n.select(F.col(id_col), "__key", "__u")
        .groupBy("__key")
        .applyInPandas(gen, out_schema)
    )


def semantic_contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.35,
) -> DataFrame:
    """Cross-corpus EMBEDDING decontamination — the dense-vector
    analog of ``quality.ngram_contamination`` / MinHash fuzzy
    decontamination: flag every corpus vector whose cosine similarity
    to ANY eval-set vector reaches ``threshold`` (paraphrased benchmark
    leakage that exact n-grams and shingle Jaccard both miss).

    Scale shape: the eval side is benchmark-sized → broadcast; the
    corpus is scanned ONCE map-side with |eval| fold dots per row and
    never shuffles (same contract as the k-means E-step). Emits
    ``(corpus id, eval_id, cosine)`` flagged pairs; anti-join the ids
    downstream to clean."""
    c = _unitize(
        corpus.select(
            F.col(id_col), V.as_double(F.col(vec_col)).alias("__raw")
        ),
        "__raw", "cv",
    )
    e = _unitize(
        evalset.select(
            F.col(id_col).alias("eval_id"),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "ev",
    )
    return (
        c.crossJoin(F.broadcast(e))
        .withColumn("cosine", F.round(V.dot(F.col("cv"), F.col("ev")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(id_col, "eval_id", "cosine")
    )


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    out_dim: int = 8,
) -> DataFrame:
    """Johnson-Lindenstrauss-style random projection to ``out_dim``
    dimensions using the same deterministic md5-derived hyperplanes as
    the LSH family (:func:`lsh_hyperplanes`) — any engine reproduces
    the identical projection from (dim, out_dim) alone, no RNG state.

    Map-side only: one fold dot per output dimension per row, no
    shuffle. Emits long form ``(id, p, proj)`` (one row per output
    component) so the values stay plain doubles for cross-engine
    comparison; pivot back to an array downstream if needed."""
    v = V.as_double(F.col(vec_col))
    comps = F.array(
        *[
            F.round(V.dot(v, F.array(*[F.lit(x) for x in plane])), 6)
            for plane in lsh_hyperplanes(dim, out_dim)
        ]
    )
    return df.select(
        F.col(id_col), F.posexplode(comps).alias("p", "proj")
    )


def mean_pool(
    df: DataFrame, vec_col: str, group_col: str, id_col: str | None = None
) -> DataFrame:
    """Grouped elementwise mean of embedding vectors — the chunk→document
    (or doc→cluster-centroid) pooling step. Emits LONG form
    ``(group, p, mean_val)``: one row per (group, component), keeping
    values plain doubles for cross-engine comparison; pivot back to an
    array downstream if an array is needed.

    Numeric contract: the output is the EXACT pair
    ``(sum_micros, n)`` — components quantized to integer micros and
    summed as longs — rather than a rounded mean: a rounded
    ``sum/n`` has knife-edge cases every 1/(n·10⁶) where two engines'
    rounding can disagree by 1 ulp (observed at sf0.01), while the
    integer sum is bit-exact by construction. The consumer divides:
    ``mean = sum_micros / (1e6 · n)``.

    Shape: posexplode → one shuffle keyed on (group, component) with
    map-side partial aggregation. The (group, component) key is
    uniform by construction (components multiply every group's
    cardinality by the fixed dim), so no group skew can hot-spot the
    shuffle worse than the group key itself."""
    inst = df.select(
        F.col(group_col).alias("grp"),
        F.posexplode(V.as_double(F.col(vec_col))).alias("p", "__x"),
    )
    m = F.floor(F.lit(1000000.0) * F.col("__x")).cast("long")
    return (
        inst.withColumn("__m", m)
        .groupBy("grp", "p")
        .agg(
            F.sum("__m").alias("sum_micros"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("grp").alias(group_col), "p", "sum_micros", "n")
    )


def pivot_mean_pool(
    pooled: DataFrame, group_col: str, with_count: bool = False
) -> DataFrame:
    """Long-form pooled components back to an ``array<double>`` vector:
    ``mean = sum_micros / (1e6 · n)`` per component, collected in
    component order — the bridge that feeds ``mean_pool`` output into
    the dense-vector operators (ANN, semantic dedup, decontamination).
    The division of two exact integers is one IEEE op, so any engine
    reproduces the identical doubles. One per-group aggregation;
    vectors are dimension-bounded, never corpus-sized.

    ``with_count=True`` additionally emits ``n_chunks`` — the number
    of pooled member vectors (``max(n)``; every component of a group
    shares the same n) — inside the SAME aggregation, so callers that
    need the member count don't re-aggregate the pooled relation."""
    comp = F.struct(
        F.col("p"),
        (
            F.col("sum_micros").cast("double")
            / (F.lit(1000000.0) * F.col("n").cast("double"))
        ).alias("val"),
    )
    aggs = [F.array_sort(F.collect_list(comp)).alias("pc")]
    if with_count:
        aggs.append(F.max("n").alias("n_chunks"))
    out = pooled.groupBy(group_col).agg(*aggs)
    cols = [
        F.col(group_col),
        F.transform(F.col("pc"), lambda s: s.val).alias("pooled_vec"),
    ]
    if with_count:
        cols.append(F.col("n_chunks"))
    return out.select(*cols)


def celled_contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    vec_col: str,
    id_col: str,
    cell_col: str,
    threshold: float = 0.35,
) -> DataFrame:
    """IVF-celled cross-corpus decontamination — the cell-restricted
    scale path of :func:`semantic_contamination`: compare a corpus
    vector against ONLY the eval vectors sharing its quantization cell
    (``cell_col`` — sign-LSH via :func:`lsh_block` or a k-means
    assignment), instead of all of them. Emits
    ``(corpus id, eval_id, cosine)`` pairs at ``cosine ≥ threshold``.

    Approximation contract (same geometry as :func:`ann_topk_ivf`):
    pairs in different cells are never compared, so recall < 1 for
    marginal pairs near the threshold; high-cosine pairs — the
    near-verbatim leakage decontamination exists to catch — agree on
    sign-LSH bits with probability ``(1 − θ/π)^planes`` → ≈1 as
    θ→0, and IDENTICAL content always shares a cell. Measure recall
    against :func:`semantic_contamination` on a sample before trusting
    a cell recipe (the ``ann_recall_*`` rows model the accounting).

    Scale shape: eval is benchmark-sized → broadcast; the join is
    cell-equality so each corpus row meets only its cell's eval rows —
    map-side, the corpus never shuffles."""
    c = _unitize(
        corpus.select(
            F.col(id_col), F.col(cell_col),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "cv",
    )
    e = _unitize(
        evalset.select(
            F.col(id_col).alias("eval_id"),
            F.col(cell_col),
            V.as_double(F.col(vec_col)).alias("__raw"),
        ),
        "__raw", "ev",
    )
    return (
        c.join(F.broadcast(e), cell_col)
        .withColumn("cosine", F.round(V.dot(F.col("cv"), F.col("ev")), 6))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(id_col, "eval_id", "cosine")
    )
