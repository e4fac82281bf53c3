"""Trained quality classifier: logit_features quantization and the
full-batch hard-sigmoid gradient-descent loop (logit_train)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from farmrpg_etl_spark.operators.quality import (
    LOGIT_TRAIN_FEATURES,
    logit_features,
    logit_train,
)


def _feats(spark, rows):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return logit_features(df, "text", "doc_id", ntok_scale=100)


def test_logit_features_quantized_and_edge_rows(spark):
    out = {
        r.doc_id: r
        for r in _feats(
            spark,
            [
                (1, "the the quick fox"),
                (2, ""),
                (3, None),
            ],
        ).collect()
    }
    r1 = out[1]
    assert r1.n_tok == 4
    assert r1.x_ntok == round(4 / 100.0, 6)
    assert r1.x_stop == 0.5  # 2 of 4 tokens are 'the'
    assert r1.x_dist == 0.75  # 3 distinct of 4
    # empty/NULL text behaves like an empty document on EVERY
    # feature, 0 not NULL — a NULL x_punct would NULL the z-score and
    # silently drop the row's whole gradient contribution (r16 review)
    for i in (2, 3):
        assert out[i].n_tok == 0
        assert out[i].x_punct == 0.0
        assert out[i].x_stop == 0.0 and out[i].x_dist == 0.0


def _hand_gd(rows, labels, eta=4.0, rounds=3):
    """Reference implementation of the exact-integer GD round."""
    w = [0.0] * 5  # bias then LOGIT_TRAIN_FEATURES order
    traj = [list(w)]
    for _ in range(rounds):
        g = [0] * 5
        n = max(len(rows), 1)
        for x, y in zip(rows, labels):
            xv = [1.0, *x]
            z = round(
                (((w[0] + w[1] * xv[1]) + w[2] * xv[2]) + w[3] * xv[3])
                + w[4] * xv[4],
                6,
            )
            s = min(max(0.5 + z / 4.0, 0.0), 1.0)
            r = math.floor(s * 1e6) - y * 1000000
            for j in range(5):
                g[j] += r * int(round(xv[j] * 1e6))
        w = [
            round(w[j] - eta * (float(g[j]) / (n * 1e12)), 6)
            for j in range(5)
        ]
        traj.append(list(w))
    return traj


def test_logit_train_matches_hand_computed_trajectory(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "x y z"),
        (3, "the the the the a a of to and"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),
        (5, ""),
    ]
    labels = {1: 1, 2: 0, 3: 1, 4: 0, 5: 0}
    feats = _feats(spark, texts).withColumn(
        "y",
        F.when(
            F.col("doc_id").isin(*[k for k, v in labels.items() if v]),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    got = {
        r.step: [r.w_bias]
        + [r[w] for _, w in LOGIT_TRAIN_FEATURES]
        for r in logit_train(feats, "y", eta=4.0, rounds=3).collect()
    }
    frows = {
        r.doc_id: [r.x_ntok, r.x_punct, r.x_stop, r.x_dist]
        for r in feats.collect()
    }
    ids = sorted(frows)
    traj = _hand_gd([frows[i] for i in ids], [labels[i] for i in ids])
    assert sorted(got) == [0, 1, 2, 3]
    for t in range(4):
        assert got[t] == pytest.approx(traj[t], abs=0.0), (t, got[t], traj[t])


def test_logit_train_learns_a_separable_rule(spark):
    # y = 1 iff the doc contains stopwords: linearly separable on
    # x_stop, so training must move w_stop positive and the trained
    # gate must agree with the rule better than the zero init (which
    # predicts all-keep at z=0).
    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "the quick fox and the dog of it"))
        else:
            rows.append((i, "alpha beta gamma delta epsilon zeta"))
    feats = _feats(spark, rows).withColumn(
        "y", (F.col("x_stop") > 0).cast("int")
    )
    w = {
        r.step: r
        for r in logit_train(feats, "y", eta=4.0, rounds=3).collect()
    }
    assert w[3].w_stop > 0.0
    # trained accuracy beats the all-keep init
    final = w[3]
    z = (
        F.lit(final.w_bias)
        + F.lit(final.w_ntok) * F.col("x_ntok")
        + F.lit(final.w_punct) * F.col("x_punct")
        + F.lit(final.w_stop) * F.col("x_stop")
        + F.lit(final.w_dist) * F.col("x_dist")
    )
    acc = feats.select(
        F.avg(((z >= 0).cast("int") == F.col("y")).cast("double")).alias("a")
    ).collect()[0].a
    acc0 = feats.select(F.avg(F.col("y").cast("double")).alias("a")).collect()[
        0
    ].a  # all-keep accuracy = positive rate
    assert acc > acc0


def test_logit_train_empty_corpus_keeps_zero_weights(spark):
    feats = _feats(spark, [(1, "the fox")]).filter(F.lit(False)).withColumn(
        "y", F.lit(0)
    )
    rows = logit_train(feats, "y", eta=4.0, rounds=2).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.w_bias == 0.0 and r.w_stop == 0.0


def test_logit_train_filter_row_agrees_with_teacher_rule(spark):
    # the deployed registry row: the trained gate must substantially
    # agree with the rule it distilled (measured: 0.84 at sf0.001,
    # 0.93 at sf0.01; pin a conservative floor)
    from farmrpg_etl_spark.queries import logit_train_filter_docs

    out = logit_train_filter_docs(spark, "/root/testdata/sf0.001")
    agree = out.select(
        F.avg(
            ((F.col("label") == "keep").cast("int")
             == F.col("rule_y").cast("int")).cast("double")
        ).alias("a")
    ).collect()[0].a
    assert agree >= 0.8, agree


def test_logit_train_validates_args(spark):
    feats = _feats(spark, [(1, "the fox")]).withColumn("y", F.lit(1))
    with pytest.raises(ValueError):
        logit_train(feats, "y", rounds=0)
    with pytest.raises(ValueError):
        logit_train(feats, "y", eta=-1.0)
    with pytest.raises(ValueError):
        logit_features(
            spark.createDataFrame([(1, "x")], ["doc_id", "text"]),
            "text",
            "doc_id",
            ntok_scale=0,
        )


def test_hashed_features_shape_and_quantization(spark):
    from farmrpg_etl_spark.operators.quality import (
        HL_TF_SCALE,
        hashed_logit_features,
    )

    df = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "solo"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = hashed_logit_features(df, "text", "doc_id").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: grams = aa bb aa + bigrams "aa bb" "bb aa" -> 5 grams,
    # bucket for 'aa' holds 2 -> x = 100 * 2/5
    xs = sorted(x.x for x in by_doc[1])
    assert xs == sorted(
        [round(HL_TF_SCALE * c / 5.0, 6) for c in (2, 1, 1, 1)]
    )
    # single-word doc: no bigram leg (Spark sequence(1,0) DESCENDS —
    # the guard must keep it out), one gram
    assert len(by_doc[2]) == 1 and by_doc[2][0].x == 100.0
    # empty/NULL docs emit NO feature rows (bias-only scoring)
    assert 3 not in by_doc and 4 not in by_doc


def test_hashed_train_learns_marker_word(spark):
    from farmrpg_etl_spark.operators.quality import (
        HL_ROUNDS,
        hashed_logit_features,
        hashed_logit_score,
        logit_train_hashed,
    )

    rows, labels = [], []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, "goodword filler%d other" % (i % 5)))
            labels.append((i, 1))
        else:
            rows.append((i, "badword filler%d other" % (i % 5)))
            labels.append((i, 0))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lab = spark.createDataFrame(labels, "doc_id long, y int")
    feats = hashed_logit_features(df, "text", "doc_id")
    traj = logit_train_hashed(feats, lab, "doc_id", "y")
    final = traj.filter(F.col("step") == HL_ROUNDS).select("bucket", "w")
    out = hashed_logit_score(feats, lab, final, "doc_id")
    acc = out.select(
        F.avg(
            ((F.col("label") == "keep").cast("int") == F.col("rule_y"))
            .cast("double")
        ).alias("a")
    ).collect()[0].a
    # linearly separable on the goodword/badword buckets — the
    # trained gate must beat the 0.5 base rate decisively
    assert acc >= 0.9, acc
    # and the trajectory is monotone-stable, not oscillating: |w|_1
    # grows every round (the eta-overshoot failure mode collapses it)
    l1 = {
        r.step: r.s
        for r in traj.groupBy("step")
        .agg(F.sum(F.abs(F.col("w"))).alias("s"))
        .collect()
    }
    for t in range(1, HL_ROUNDS + 1):
        assert l1[t] > l1[t - 1] - 1e-9, (t, l1)


def test_hashed_train_empty_corpus_bias_only(spark):
    from farmrpg_etl_spark.operators.quality import (
        hashed_logit_features,
        logit_train_hashed,
    )

    df = spark.createDataFrame([], "doc_id long, text string")
    lab = spark.createDataFrame([], "doc_id long, y int")
    feats = hashed_logit_features(df, "text", "doc_id")
    rows = logit_train_hashed(feats, lab, "doc_id", "y", rounds=2).collect()
    # no buckets: the trajectory is the bias rows alone, all zero
    # (zero init + zero gradients under the empty-corpus guard)
    assert sorted((r.step, r.bucket, r.w) for r in rows) == [
        (0, -1, 0.0),
        (1, -1, 0.0),
        (2, -1, 0.0),
    ]


def test_hashed_filter_row_agrees_with_teacher_rule(spark):
    # measured 0.698 at sf0.001 / 0.702 at sf0.01; pin a conservative
    # floor — full-batch GD in 10 exact rounds, not fastText epochs
    from farmrpg_etl_spark.queries import logit_hashed_filter_docs

    out = logit_hashed_filter_docs(spark, "/root/testdata/sf0.001")
    agree = out.select(
        F.avg(
            ((F.col("label") == "keep").cast("int")
             == F.col("rule_y").cast("int")).cast("double")
        ).alias("a")
    ).collect()[0].a
    assert agree >= 0.65, agree


def test_hashed_train_featureless_doc_trains_bias_exactly(spark):
    # A labeled document with NO feature rows (empty text) must still
    # drive the bias — the r18 bias fold backs bucket -1 with one
    # synthetic all-ones feature row per LABELED doc, so this edge is
    # the fold's contract. Closed form for one featureless doc, y=1,
    # eta=4: round 1 z=0 -> s=0.5 -> r=-500000 micros -> g=-5e11,
    # w_bias = round(0 - 4*(-5e11/1e12), 6) = 2.0; round 2 z=2.0 ->
    # hard sigmoid saturates at 1.0 -> r=0 -> w_bias stays 2.0.
    from farmrpg_etl_spark.operators.quality import (
        hashed_logit_features,
        logit_train_hashed,
    )

    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    lab = spark.createDataFrame([(1, 1)], "doc_id long, y int")
    feats = hashed_logit_features(df, "text", "doc_id")
    rows = logit_train_hashed(
        feats, lab, "doc_id", "y", eta=4.0, rounds=2
    ).collect()
    assert sorted((r.step, r.bucket, r.w) for r in rows) == [
        (0, -1, 0.0),
        (1, -1, 2.0),
        (2, -1, 2.0),
    ]


def test_hashed_train_rejects_duplicate_label_rows(spark):
    # two label rows for one document would square its weight in every
    # gradient (its synthetic bias row is one per LABEL row)
    from farmrpg_etl_spark.operators.quality import (
        hashed_logit_features,
        logit_train_hashed,
    )

    df = spark.createDataFrame(
        [(1, "goodword"), (2, "badword")], "doc_id long, text string"
    )
    lab = spark.createDataFrame(
        [(1, 1), (2, 0), (2, 0)], "doc_id long, y int"
    )
    feats = hashed_logit_features(df, "text", "doc_id")
    with pytest.raises(ValueError, match="one row per document; doc_id 2 has 2"):
        logit_train_hashed(feats, lab, "doc_id", "y", rounds=1)
