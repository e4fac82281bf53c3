"""Corpus-curation operators (operators/curation.py): semantics pinned
on small hand-built corpora — quota determinism, prefix-sum shard
boundaries, planted-boilerplate detection, surprise ordering, and the
four diff statuses."""

from __future__ import annotations

from pyspark.sql import functions as F

from farmrpg_etl_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_source_quota_caps_and_is_deterministic(spark):
    rows = [
        (i, f"tok{i} filler words here", f"src{i % 3}") for i in range(30)
    ]
    df = _docs(spark, rows)
    a = curation.source_quota_sample(df, "doc_id", "source", quota=4)
    got = a.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {
        "src0": 4, "src1": 4, "src2": 4
    }
    b = curation.source_quota_sample(df, "doc_id", "source", quota=4)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # ranks are 1..quota within each source
    ranks = a.groupBy("source").agg(
        F.sort_array(F.collect_list("sample_rank")).alias("r")
    ).collect()
    assert all(r["r"] == [1, 2, 3, 4] for r in ranks)


def test_equal_token_shards_matches_python_cumsum(spark):
    rows = [(i, " ".join(["w"] * (5 + i % 7)), "s") for i in range(40)]
    df = _docs(spark, rows).repartition(8)
    out = {
        r["doc_id"]: (r["n_tok"], r["cum"], r["shard_id"])
        for r in curation.equal_token_shards(
            df, "text", "doc_id", shard_tokens=50
        ).collect()
    }
    cum = 0
    for i in range(40):
        n = 5 + i % 7
        cum += n
        assert out[i] == (n, cum, (cum - n) // 50), i
    # shards are contiguous in doc order
    shards = [out[i][2] for i in range(40)]
    assert shards == sorted(shards)


def test_boilerplate_detects_planted_phrase(spark):
    boiler = "subscribe to our newsletter today"
    rows = []
    for i in range(20):
        body = f"unique{i} content word{i} more{i} text{i} body{i}"
        text = f"{boiler} {body}" if i < 18 else body
        rows.append((i, text, "s"))
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: r
        for r in curation.boilerplate_gram_metrics(
            df, "text", "doc_id", shingle_k=3, min_doc_frac=0.5
        ).collect()
    }
    # docs with the phrase have n_boiler >= the phrase's 3-gram count
    assert all(out[i]["n_boiler"] >= 2 for i in range(18))
    assert all(out[i]["boiler_ratio"] > 0 for i in range(18))
    # docs without it match none of the boilerplate set
    assert out[18]["n_boiler"] == 0 and out[19]["n_boiler"] == 0
    assert out[18]["boiler_ratio"] == 0.0


def test_unigram_surprise_ranks_rare_tokens_higher(spark):
    rows = (
        [(i, "common words appear often here", "s") for i in range(9)]
        + [(100, "zxqv unique glyph", "s")]
        + [(101, "", "s")]
    )
    df = _docs(spark, rows)
    out = {
        r["doc_id"]: r
        for r in curation.unigram_surprise(df, "text", "doc_id").collect()
    }
    assert out[100]["surprise"] > out[0]["surprise"]
    assert out[101] == (101, 0, 0.0)
    assert out[0]["n_tok"] == 5


def test_corpus_diff_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in curation.corpus_diff(old, new, "doc_id", "text").collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_bpe_merge_candidates_weighted_counts(spark):
    from farmrpg_etl_spark.operators.curation import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low")],
        "doc_id long, text string",
    )
    out = {
        r["pair"]: (r["total"], r["rank"])
        for r in bpe_merge_candidates(df, "text", "doc_id", k=10).collect()
    }
    # "lo"/"ow": 3x in "low" + 1x in "lower" = 4; "we"/"er": 1 each
    assert out["lo"][0] == 4 and out["ow"][0] == 4
    assert out["we"][0] == 1 and out["er"][0] == 1
    # deterministic tie-break: lo before ow at equal counts
    assert out["lo"][1] == 1 and out["ow"][1] == 2
    # single-char words contribute nothing
    df2 = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert bpe_merge_candidates(df2, "text", "doc_id").count() == 0


def test_bpe_merges_matches_reference_loop(spark):
    """Three+ rounds of the relational BPE equal a classic in-memory
    BPE trainer (greedy left-to-right merge application, (total desc,
    pair asc) tie-break), including the overlapping-run aaaa case."""
    import collections

    from farmrpg_etl_spark.operators.curation import bpe_merges

    def ref_bpe(texts, n):
        vocab = collections.Counter()
        for t in texts:
            for w in t.lower().split():
                vocab[w] += 1
        syms = {w: [c for c in w] for w in vocab}
        merges = []
        for rnd in range(1, n + 1):
            pairs = collections.Counter()
            for w, ss in syms.items():
                for i in range(len(ss) - 1):
                    pairs[(ss[i], ss[i + 1])] += vocab[w]
            if not pairs:
                break
            (a, b), total = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rnd, a, b, total))
            for w, ss in syms.items():
                out, i = [], 0
                while i < len(ss):
                    if i + 1 < len(ss) and ss[i] == a and ss[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(ss[i])
                        i += 1
                syms[w] = out
        return merges

    docs = [
        (1, "low lower lowest low low newer newest new"),
        (2, "wider wide widest new newer lowest ww aaaa"),
        (3, "low low new new newer banana bananas aaa baab"),
    ]
    expected = ref_bpe([t for _, t in docs], 4)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["round"], r["pair_a"], r["pair_b"], r["total"])
        for r in bpe_merges(df, "text", n_merges=4).orderBy("round").collect()
    ]
    assert got == expected


def test_bpe_token_counts_matches_reference_encoder(spark):
    """Applying the learned merges: per-doc BPE token counts equal a
    classic in-memory encode (train on vocab, segment each word,
    sum per doc); chars-per-word monotonically decreases vs no merges."""
    import collections

    from farmrpg_etl_spark.operators.curation import bpe_token_counts

    docs = [
        (1, "low lower lowest low low newer newest new"),
        (2, "wider wide widest new newer lowest ww aaaa"),
        (3, ""),
        (4, "banana bananas banana"),
    ]

    def ref_counts(texts, n):
        vocab = collections.Counter()
        for _i, t in texts:
            for w in t.lower().split():
                vocab[w] += 1
        syms = {w: [c for c in w] for w in vocab}
        for _ in range(n):
            pairs = collections.Counter()
            for w, ss in syms.items():
                for i in range(len(ss) - 1):
                    pairs[(ss[i], ss[i + 1])] += vocab[w]
            if not pairs:
                break
            (a, b), _tot = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            for w, ss in syms.items():
                out, i = [], 0
                while i < len(ss):
                    if i + 1 < len(ss) and ss[i] == a and ss[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(ss[i])
                        i += 1
                syms[w] = out
        return {
            i: (
                len(t.lower().split()),
                sum(len(syms[w]) for w in t.lower().split()),
            )
            for i, t in texts
        }

    expected = ref_counts(docs, 3)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_token_counts(df, "text", "doc_id", n_merges=3).collect()
    }
    assert got == expected
    assert got[3] == (0, 0)  # empty doc kept, zero counts


def test_bpe_encode_ids_and_layout(spark):
    """Merge-rank id stability: base alphabet 0..C-1 lexicographic,
    merge r -> C + r - 1, encoding matches the hand-derived greedy
    segmentation; NULL/empty docs encode to the empty array."""
    df = spark.createDataFrame(
        [(1, "low lower lowest"), (2, "low low new"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    merge_logs = curation._bpe_rounds(df, "text", 3, rewrite_last=False)[0]
    vocab = {
        r["sym"]: r["tok_id"]
        for r in curation._bpe_sym_ids(df, "text", merge_logs).collect()
    }
    # base alphabet: e l n o r s t w -> 0..7; merges lo, low, lowe
    assert vocab == {
        "e": 0, "l": 1, "n": 2, "o": 3, "r": 4, "s": 5, "t": 6, "w": 7,
        "lo": 8, "low": 9, "lowe": 10,
    }
    enc = {
        r["doc_id"]: list(r["token_ids"])
        for r in curation.bpe_encode(df, "text", "doc_id", 3).collect()
    }
    assert enc == {
        1: [9, 10, 4, 10, 5, 6],  # low | lowe r | lowe s t
        2: [9, 9, 2, 0, 7],       # low | low | n e w
        3: [],
        4: [],
    }


def test_bpe_encode_counts_agree_with_token_counts(spark):
    """size(bpe_encode.token_ids) == bpe_token_counts.n_bpe_tokens on
    a multi-word corpus — the two views of the trained tokenizer
    cannot fork."""
    rows = [(i, f"ab ab{i % 3} ba abab " * (1 + i % 4)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in curation.bpe_encode(df, "text", "doc_id", 3).collect()
    }
    b = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in curation.bpe_token_counts(df, "text", "doc_id", 3).collect()
    }
    assert a == b


def test_pack_token_ids_exact_packs(spark):
    """Every pack is exactly seq_len tokens except the stream's last;
    concatenating packs in pack_id order reproduces the scheduled
    stream; n_segs counts the spanning documents."""
    from farmrpg_etl_spark.operators.chunking import (
        pack_schedule,
        pack_token_ids,
    )

    rows = [(i, "s%d" % (i % 2), list(range(i * 100, i * 100 + 5 + i)))
            for i in range(8)]
    asm = spark.createDataFrame(
        rows, "doc_id long, source string, token_ids array<long>"
    ).select(
        "doc_id",
        "source",
        F.size("token_ids").cast("long").alias("n_tok"),
        F.lit(2).cast("long").alias("n_copies"),
        "token_ids",
    )
    sched = pack_schedule(asm, "doc_id", "source", seq_len=16)
    packs = pack_token_ids(sched, asm, "doc_id", seq_len=16).collect()
    total = sum(5 + i for i in range(8)) * 2
    by_id = {r["pack_id"]: r for r in packs}
    n_packs = (total + 15) // 16
    assert sorted(by_id) == list(range(n_packs))
    for pid, r in by_id.items():
        want = 16 if pid < n_packs - 1 else total - 16 * (n_packs - 1)
        assert r["n_tokens"] == want == len(r["token_ids"])
        assert r["n_segs"] >= 1
    # the concatenated stream holds every copy's ids, in schedule order
    stream = [t for pid in sorted(by_id) for t in by_id[pid]["token_ids"]]
    sched_rows = sched.filter(F.col("n_tok") > 0).orderBy("start_offset")
    expect = []
    ids_by_doc = {r[0]: r[2] for r in rows}
    for s in sched_rows.collect():
        expect.extend(ids_by_doc[s["doc_id"]])
    assert stream == expect
