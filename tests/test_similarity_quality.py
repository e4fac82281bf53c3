"""Similarity-operator quality sanity: the hash machinery must actually
separate duplicates from non-duplicates, and exact top-k must keep its
tie-break and zero-vector contracts."""

from __future__ import annotations

from pyspark.sql import functions as F

from farmrpg_etl_spark.functions import hashing as H
from farmrpg_etl_spark.operators import dedup, similarity


def test_minhash_lsh_separates_dups_from_disjoint(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "completely unrelated words about spark catalyst tungsten arrow"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5, shingle_k=3
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]
    # an empty shingle set signs as the 2^31 sentinel in every slot
    sigs = {
        r["doc_id"]: r["sig"]
        for r in dedup.minhash_signatures(df, "text", "doc_id", 16, 3).collect()
    }
    assert sigs[4] == [2**31] * 16
    assert sigs[1] == sigs[2] and all(v < 2**31 for v in sigs[3])


def test_simhash_hamming_tracks_similarity(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup
        (3, "granite weather ocean piano seventeen bicycle"),  # unrelated
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in
          dedup.simhash_fingerprints(df, "text", "doc_id").collect()}
    assert all(len(v) == 16 for v in fp.values())
    d = spark.createDataFrame(
        [(fp[1], fp[2]), (fp[1], fp[3])], "a string, b string"
    ).select(H.hamming_hex(F.col("a"), F.col("b")).alias("h")).collect()
    near, far = d[0]["h"], d[1]["h"]
    assert near < far  # near-dup closer in hamming space than unrelated


def test_ann_probe_recall_at_least_single_cell(spark):
    import random

    random.seed(13)
    rows = [(i, [random.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5)
    blocked = df.withColumn("block", similarity.lsh_block(F.col("embedding"), 64, 3))
    qb = blocked.filter(F.col("vec_id") < 5)
    single = similarity.ann_topk_ivf(blocked, qb, "embedding", "vec_id", "block", k=5)
    probe = similarity.ann_topk_ivf_probe(df, q, "embedding", "vec_id", k=5)
    exact = similarity.ann_topk_bruteforce(df, q, "embedding", "vec_id", k=5)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    rec_single = len({(r["query_id"], r["neighbor_id"]) for r in single.collect()} & truth)
    rec_probe = len({(r["query_id"], r["neighbor_id"]) for r in probe.collect()} & truth)
    assert rec_probe >= rec_single  # multi-probe never hurts recall


def test_incremental_lsh_equals_batch_pairs_touching_new(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (10, "the quick brown fox jumps over the lazy dog again and again"),
        (11, "completely unrelated words about spark catalyst tungsten arrow"),
        (12, "completely unrelated words about spark catalyst tungsten arrow"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    indexed = df.filter("doc_id < 10")
    new = df.filter("doc_id >= 10")
    inc, index = dedup.incremental_minhash_pairs(
        indexed, new, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    batch = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.5
    )
    want = {
        (r["id_a"], r["id_b"]) for r in batch.collect() if r["id_b"] >= 10
    }
    # delta = batch pairs touching an arriving doc: new↔indexed (1,10),
    # (2,10) and new↔new (11,12) — never the already-known (1,2)
    assert got == want
    assert (1, 10) in got and (11, 12) in got and (1, 2) not in got
    # the updated index covers every document seen so far
    assert index.count() == 5


def test_semantic_contamination_flags_planted_leak(spark):
    from farmrpg_etl_spark.operators.similarity import semantic_contamination

    corpus = spark.createDataFrame(
        [(100, [1.0, 0.01, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    evalset = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = semantic_contamination(corpus, evalset, "embedding", "vec_id", 0.9)
    rows = out.collect()
    assert [(r.vec_id, r.eval_id) for r in rows] == [(100, 1)]
    assert rows[0].cosine > 0.99


def test_random_projection_deterministic_and_shaped(spark):
    from farmrpg_etl_spark.operators.similarity import random_projection

    df = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [0.0] * 8)], "vec_id long, embedding array<double>"
    )
    out1 = random_projection(df, "embedding", "vec_id", dim=8, out_dim=4)
    out2 = random_projection(df, "embedding", "vec_id", dim=8, out_dim=4)
    r1 = sorted((r.vec_id, r.p, r.proj) for r in out1.collect())
    r2 = sorted((r.vec_id, r.p, r.proj) for r in out2.collect())
    assert r1 == r2
    assert len(r1) == 8  # 2 rows x 4 components
    # zero vector projects to exactly zero in every component
    assert all(v == 0.0 for (i, p, v) in r1 if i == 2)


def test_quality_weighted_sample_threshold_semantics(spark):
    from farmrpg_etl_spark.operators.curation import quality_weighted_sample

    df = spark.createDataFrame(
        [(i, w) for i in range(100) for w in [(i % 3) * 0.5]],
        "doc_id long, quality double",
    )
    out = quality_weighted_sample(df, "doc_id", "quality")
    rows = out.collect()
    # weight 0 rows can never survive (u >= 0 strictly < 0 impossible)
    assert all(r.quality > 0 for r in rows)
    # weight-1.0 rows always survive (u in [0,1) < 1.0)
    ones = {r.doc_id for r in rows if r.quality == 1.0}
    assert ones == {i for i in range(100) if i % 3 == 2}
    # deterministic across invocations
    again = {r.doc_id for r in quality_weighted_sample(df, "doc_id", "quality").collect()}
    assert again == {r.doc_id for r in rows}


def test_mean_pool_exact_micros(spark):
    from farmrpg_etl_spark.operators.similarity import mean_pool

    df = spark.createDataFrame(
        [("a", [1.0, -2.5]), ("a", [3.0, 0.5]), ("b", [0.000001, 0.0])],
        "grp string, v array<double>",
    )
    out = {(r.grp, r.p): (r.sum_micros, r.n) for r in mean_pool(df, "v", "grp").collect()}
    assert out[("a", 0)] == (4_000_000, 2)
    assert out[("a", 1)] == (-2_000_000, 2)  # floor(-2.5e6) + floor(0.5e6)
    assert out[("b", 0)] == (1, 1)
    assert out[("b", 1)] == (0, 1)


def test_pq_encode_codes_and_ties(spark):
    """PQ encoding: nearest-centroid codes, ties to the lowest code
    (first-position-of-min), determinism across invocations."""
    from farmrpg_etl_spark.operators.similarity import pq_codebooks, pq_encode

    books = pq_codebooks(8, 2, 4)
    # craft vectors: one ON a centroid per subspace (distance 0 wins),
    # one equidistant between centroids 1 and 2 (tie -> code 1)
    v_exact = books[0][3] + books[1][0]
    mid = [(a + b) / 2 for a, b in zip(books[0][1], books[0][2])]
    v_tie = mid + books[1][2]
    df = spark.createDataFrame(
        [(1, v_exact), (2, v_tie)], "vec_id long, v array<double>"
    )
    rows = {r["vec_id"]: (r["c0"], r["c1"])
            for r in pq_encode(df, "v", "vec_id", dim=8, m=2, ks=4).collect()}
    assert rows[1] == (3, 0)
    assert rows[2][0] == 1 and rows[2][1] == 2  # tie broke low
    again = {r["vec_id"]: (r["c0"], r["c1"])
             for r in pq_encode(df, "v", "vec_id", dim=8, m=2, ks=4).collect()}
    assert again == rows


def test_pq_rerank_shortlist_superset_of_exact_when_full(spark):
    """With shortlist >= corpus size, PQ+rescore degenerates to exact
    brute force — the architecture's correctness anchor: re-ranking
    with the exact fold can only be wrong through shortlist misses."""
    from farmrpg_etl_spark.operators.similarity import (
        ann_topk_bruteforce,
        pq_adc_rerank_topk,
    )

    import hashlib as h
    rows = [
        (i, [int(h.md5(f"{i}|{j}".encode()).hexdigest()[:4], 16) / 65536.0 - 0.5
             for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    q = df.filter("vec_id < 3")
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ann_topk_bruteforce(df, q, "v", "vec_id", k=3).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in pq_adc_rerank_topk(df, q, "v", "vec_id", k=3, dim=8, m=2,
                                    ks=4, shortlist=1000).collect()
    }
    assert got == exact


def test_ann_rounded_tie_break_prefers_low_id(spark):
    # three corpus vectors with IDENTICAL direction (exact rounded-score
    # ties) plus distractors: the final ordering is (cosine desc, id
    # asc), so the tied low ids must win
    import random

    base = [1.0, 2.0, 3.0, 4.0]
    rows = [(100, base)]
    for i, s in [(10, 2.0), (11, 0.5), (12, 4.0)]:
        rows.append((i, [x * s for x in base]))
    rng = random.Random(3)
    distractors = [(i, [rng.uniform(-1.0, 1.0) for _ in range(4)]) for i in range(50)]
    rows += distractors[20:]  # ids 20..49
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 100)
    top = (
        similarity.ann_topk_bruteforce(df, q, "embedding", "vec_id", k=3)
        .orderBy("rank")
        .collect()
    )
    assert [r["neighbor_id"] for r in top] == [10, 11, 12]
    assert all(r["cosine"] == 1.0 for r in top)


def test_ann_zero_vectors_and_self_match(spark):
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(0, 1))
    out = similarity.ann_topk_bruteforce(
        df, q, "embedding", "vec_id", k=4
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    # self never appears
    assert all(r["neighbor_id"] != r["query_id"] for r in out)
    # zero-vector query scores 0 against everything
    assert {r["cosine"] for r in by_q[0]} == {0.0}
    assert len(by_q[0]) == 3 and len(by_q[1]) == 3


def test_hard_negatives_excludes_anchor_and_same_label(spark):
    """Hard-negative mining: every mined row has a label different
    from its anchor's; the anchor itself never appears; ranks are
    dense 1..k per anchor in descending-cosine order."""
    from farmrpg_etl_spark.operators.similarity import hard_negatives
    from farmrpg_etl_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = hard_negatives(e, q, "embedding", "vec_id", "label", k=3)
    rows = out.collect()
    labels = {r["vec_id"]: r["label"] for r in e.select("vec_id", "label").collect()}
    by_q: dict = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert labels[r["neighbor_id"]] != labels[r["query_id"]]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"]))
    for qid, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        cosines = [x[1] for x in rs]
        assert cosines == sorted(cosines, reverse=True)
    assert len(by_q) == 5
