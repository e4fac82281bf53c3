"""Unit tests for the round-2 late operators: SemDeDup-style
within-cluster semantic dedup, cross-corpus MinHash decontamination,
and the mergeable histogram quantile sketch."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from farmrpg_etl_spark.operators import dedup, rollup, similarity
from farmrpg_etl_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------- semdedup
def _clustered(spark):
    # cluster A: v1≈v2 (near-dup), v3 orthogonal; cluster B: lone v4
    rows = [
        (1, "A", [1.0, 0.0, 0.0, 0.0]),
        (2, "A", [0.999, 0.01, 0.0, 0.0]),
        (3, "A", [0.0, 1.0, 0.0, 0.0]),
        (4, "B", [1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id int, cluster string, vec array<double>"
    )


def test_semantic_dedup_removes_within_cluster_neardup(spark):
    kept = similarity.semantic_dedup(
        _clustered(spark), "vec", "vec_id", "cluster", threshold=0.9
    )
    got = {r.vec_id for r in kept.collect()}
    # 2 is a near-dup of 1 (same cluster); 4 is identical to 1 but in
    # another cluster, so it survives — cluster blocking is load-bearing
    assert got == {1, 3, 4}


def test_semantic_dedup_keeps_lowest_id_and_partitions_corpus(spark):
    df = _clustered(spark)
    kept = similarity.semantic_dedup(df, "vec", "vec_id", "cluster", 0.9)
    # survivors plus removed ids partition the corpus
    all_ids = {r.vec_id for r in df.collect()}
    kept_ids = {r.vec_id for r in kept.collect()}
    assert kept_ids <= all_ids and 1 in kept_ids


def test_semantic_dedup_threshold_one_keeps_non_identical(spark):
    kept = similarity.semantic_dedup(
        _clustered(spark), "vec", "vec_id", "cluster", threshold=1.0
    )
    assert {r.vec_id for r in kept.collect()} == {1, 2, 3, 4}


# ------------------------------------------------- cross-corpus minhash
def test_cross_corpus_finds_planted_neardup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    left = spark.createDataFrame(
        [(100, base + " extra tail"), (101, "completely different words here")],
        "doc_id int, text string",
    )
    right = spark.createDataFrame(
        [(1, base), (2, "nothing shared with anything at all")],
        "doc_id int, text string",
    )
    pairs = dedup.cross_corpus_minhash_pairs(
        left, right, "text", "doc_id", threshold=0.3
    ).collect()
    assert any(r.left_id == 100 and r.right_id == 1 for r in pairs)
    assert not any(r.right_id == 2 for r in pairs)


def test_cross_corpus_is_asymmetric_and_unordered_ids_ok(spark):
    # identical text on both sides must pair regardless of id ordering
    left = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    right = spark.createDataFrame(
        [(999, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    pairs = dedup.cross_corpus_minhash_pairs(
        left, right, "text", "doc_id", threshold=0.5
    ).collect()
    assert len(pairs) == 1 and pairs[0].jaccard == 1.0


# ---------------------------------------------------- histogram sketch
@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


def test_histogram_merge_equals_direct(spark, events):
    """hour→day merge must equal the histogram computed directly at
    day grain from raw rows — counts compose exactly."""
    hourly = rollup.histogram_sketch(events, "ts", "value", "hour", 10.0)
    merged = rollup.merge_histograms(hourly, "day")
    direct = rollup.histogram_sketch(events, "ts", "value", "day", 10.0)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_histogram_quantile_brackets_exact_median(spark, events):
    """The p50 bucket lower bound must bracket the exact median:
    p50_lo ≤ median < p50_lo + width."""
    hourly = rollup.histogram_sketch(events, "ts", "value", "hour", 10.0)
    daily = rollup.merge_histograms(hourly, "day")
    q = {r.bucket_ts: r for r in rollup.histogram_quantiles(daily, 10.0).collect()}
    exact = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.expr("percentile(value, 0.5)").alias("med"))
        .collect()
    )
    assert q
    for r in exact:
        row = q[r.day]
        assert row.p50_lo <= r.med < row.p50_lo + 10.0
        assert row.p50_lo <= row.p90_lo


def test_histogram_total_preserved(spark, events):
    hourly = rollup.histogram_sketch(events, "ts", "value", "hour", 10.0)
    daily = rollup.merge_histograms(hourly, "day")
    total = rollup.histogram_quantiles(daily, 10.0).agg(
        F.sum("n_rows").alias("n")
    ).first().n
    assert total == events.count()


# ------------------------------------------------- semdedup skew guard
def test_semantic_dedup_skew_guard_bounds_group_sizes(spark):
    # one megacluster holding ~80% of the corpus; the guard must split
    # its self-join key so no group approaches the unguarded |cluster|²
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(200):
        cl = "HOT" if i < 160 else f"c{i % 8}"
        rows.append((i, cl, [rnd.uniform(-1, 1) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id int, cluster string, vec array<double>")
    keyed = similarity._semantic_dedup_keyed(
        df, "vec", "vec_id", "cluster",
        max_cluster_size=50, split_dim=8, split_planes=2,
    )
    sizes = {r["__key"]: r["n"] for r in
             keyed.groupBy("__key").agg(F.count(F.lit(1)).alias("n")).collect()}
    hot = {k: v for k, v in sizes.items() if k.startswith("HOT#")}
    # the megacluster is split across sign-LSH subkeys...
    assert len(hot) > 1
    assert sum(hot.values()) == 160
    # ...and the pair bound Σ|group|² is far below the unguarded 160²
    assert sum(v * v for v in hot.values()) < 160 * 160 / 2
    # small clusters keep their plain key (empty subkey suffix)
    assert all(k.endswith("#") for k in sizes if k.startswith("c"))


def test_semantic_dedup_guard_unarmed_matches_exact(spark):
    df = _clustered(spark)
    exact = similarity.semantic_dedup(df, "vec", "vec_id", "cluster", 0.9)
    guarded = similarity.semantic_dedup(
        df, "vec", "vec_id", "cluster", 0.9,
        max_cluster_size=1000, split_dim=4,
    )
    assert sorted(map(tuple, exact.collect())) == sorted(map(tuple, guarded.collect()))


def test_semantic_dedup_guard_requires_dim(spark):
    with pytest.raises(ValueError):
        similarity.semantic_dedup(
            _clustered(spark), "vec", "vec_id", "cluster", 0.9,
            max_cluster_size=1,
        ).collect()


# ------------------------------------------------------- lloyd k-means
def test_kmeans_lloyd_inertia_monotone(spark):
    from farmrpg_etl_spark.queries import kmeans_lloyd

    # three true blobs, deliberately mis-initialized into 2 clusters
    rows = []
    for i in range(30):
        blob = i % 3
        base = [0.0] * 6
        base[blob * 2] = 10.0
        base[blob * 2 + 1] = 10.0
        vec = [b + ((i * 13 + j) % 7) * 0.01 for j, b in enumerate(base)]
        rows.append((i, i % 2, vec))
    e = spark.createDataFrame(rows, "vec_id int, cluster int, v array<double>")
    inertias = []
    for n in (1, 2, 3):
        out = kmeans_lloyd(e, n_iters=n)
        inertia = out.agg(F.sum("d2").alias("s")).collect()[0]["s"]
        inertias.append(inertia)
    # Lloyd's guarantee: total within-cluster squared distance is
    # non-increasing per iteration (1e-6 slack for centroid quantization)
    assert inertias[1] <= inertias[0] + 1e-6
    assert inertias[2] <= inertias[1] + 1e-6
    # and the mis-initialization is actually repaired (strict progress)
    assert inertias[2] < inertias[0] * 0.9


def _fold_self_join_dedup(clustered, threshold, max_cluster_size, split_dim):
    """The UDF-free reference for ``semantic_dedup``: every in-key pair
    scored by the Catalyst fold in one self-join."""
    from farmrpg_etl_spark.functions import vectors as V

    keyed = similarity._semantic_dedup_keyed(
        clustered, "embedding", "vec_id", "cluster",
        max_cluster_size, split_dim, 2,
    )
    n = keyed.withColumn("__nrm", V.norm(F.col("__v"))).select(
        "vec_id", "__cl", "__key",
        V.unit(F.col("__v"), F.col("__nrm")).alias("__u"),
    )
    a, b = n.alias("a"), n.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.__key") == F.col("b.__key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(F.round(V.dot(F.col("a.__u"), F.col("b.__u")), 6) >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return n.join(dups, "vec_id", "left_anti").select(
        "vec_id", F.col("__cl").alias("cluster")
    )


def test_semantic_dedup_arrow_matches_catalyst_impl(spark):
    # the guard-banded numpy candidate generator must reproduce the
    # pure-fold self-join decisions exactly — on the real embeddings
    # table with the skew guard armed, not just toy vectors
    e = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding", F.col("label").alias("cluster")
    )
    kw = dict(max_cluster_size=30, split_dim=64)
    arrow = similarity.semantic_dedup(
        e, "embedding", "vec_id", "cluster", threshold=0.25, **kw
    )
    catalyst = _fold_self_join_dedup(e, 0.25, **kw)
    a = {(r.vec_id, r.cluster) for r in arrow.collect()}
    c = {(r.vec_id, r.cluster) for r in catalyst.collect()}
    assert a == c and len(a) > 0
