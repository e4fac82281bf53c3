"""Corpus-curation operators — the remaining steps of a large-scale
training-data build that sit between dedup/quality and the final
tokenizer feed: per-source quotas, equal-token output sharding,
boilerplate detection, statistical quality scoring, and corpus-version
diffing.

All operators are pure DataFrame compositions (no UDFs); every
aggregate that crosses engines is either integral or goes through the
quantize→decimal-sum discipline (`functions.exact.dec_sum` rationale) so the
DuckDB oracles hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from farmrpg_etl_spark.functions.hashing import shingles, words


def source_quota_sample(
    df: DataFrame, id_col: str, source_col: str, quota: int
) -> DataFrame:
    """Per-source document cap (the C4/RefinedWeb "domain quota" step):
    keep at most ``quota`` documents per source, chosen in
    deterministic pseudo-random order — rank by md5(source|id), so the
    survivors are unbiased w.r.t. crawl/id order yet bit-reproducible,
    and a hot domain cannot dominate the mixture.

    Scale: rank ≤ quota over a window is a ``WindowGroupLimit`` on
    Spark 4 — each map task keeps only its local top-``quota`` per
    source before the shuffle, so a source with 10⁹ rows ships
    O(quota·tasks) rows, not 10⁹. One shuffle on the source key.
    """
    h = F.md5(
        F.concat_ws("|", F.col(source_col), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(source_col).orderBy(
        h.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= quota)
        .withColumnRenamed("__rank", "sample_rank")
    )


def equal_token_shards(
    df: DataFrame, text_col: str, id_col: str, shard_tokens: int
) -> DataFrame:
    """Assign documents to fixed-token-budget output shards: shard i
    holds the contiguous (by ``id_col``) run of documents whose
    cumulative token count starts in [i·B, (i+1)·B). This is the
    "write N roughly-equal training shards" step — shard_id is a
    deterministic function of the corpus, so the sharded write is
    idempotent and any engine reproduces it.

    The running total is :func:`chunking.global_prefix_sum` —
    two-phase bucketed cumsum, never a single-task global window — so
    shard assignment over 100 TB costs one bounded shuffle. Downstream:
    ``.write.partitionBy('shard_id')`` gives size-balanced files.
    """
    from farmrpg_etl_spark.operators.chunking import global_prefix_sum

    toks = F.coalesce(
        words(F.col(text_col)), F.array().cast("array<string>")
    )
    base = df.select(
        F.col(id_col), F.size(toks).cast("long").alias("n_tok")
    )
    cum = global_prefix_sum(base, id_col, "n_tok", "cum")
    return cum.select(
        id_col,
        "n_tok",
        "cum",
        F.floor((F.col("cum") - F.col("n_tok")) / F.lit(shard_tokens))
        .cast("long")
        .alias("shard_id"),
    )


def boilerplate_gram_metrics(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    min_doc_frac: float = 0.5,
) -> DataFrame:
    """Boilerplate signal: which word ``shingle_k``-grams appear in at
    least ``min_doc_frac`` of all documents (navigation chrome, cookie
    banners, license headers), and how much of each document is made of
    them. Emits per-document ``(n_grams, n_boiler, boiler_ratio)`` —
    the filter/cleaner upstream decides what to do with high ratios.

    Shape: gram document-frequency is one shuffle on the gram key
    (distinct-per-doc first, so a gram repeated inside one document
    counts once); the surviving boilerplate set is tiny by construction
    (doc-frequency ≥ frac·N) and broadcasts back against the per-doc
    gram instances — the corpus never shuffles for the join.
    """
    d = df.select(
        F.col(id_col),
        shingles(F.col(text_col), shingle_k).alias("__sh"),
    )
    inst = d.select(F.col(id_col), F.explode(F.col("__sh")).alias("g"))
    dfreq = (
        d.select(F.explode(F.array_distinct(F.col("__sh"))).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    ndocs = df.agg(F.count(F.lit(1)).alias("__nd"))
    boiler = (
        dfreq.crossJoin(F.broadcast(ndocs))
        .filter(
            F.col("__df")
            >= F.ceil(F.lit(float(min_doc_frac)) * F.col("__nd"))
        )
        .select("g")
    )
    matched = (
        inst.join(F.broadcast(boiler), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    return (
        d.select(F.col(id_col), F.size(F.col("__sh")).alias("n_grams"))
        .join(matched, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double")
                    / F.col("n_grams"),
                    6,
                )
            )
            .alias("boiler_ratio"),
        )
    )


def unigram_surprise(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Statistical quality score: mean unigram "surprise" per document,
    where a token's surprise is N/c(t) (total corpus tokens over the
    token's corpus count) — a rational stand-in for -log p(t) that
    needs no transcendental function, so it is bit-reproducible across
    engines. Rare-token-heavy documents (gibberish, mojibake, id dumps)
    score high; documents of common words score near the corpus mean.

    Shape: the vocabulary count is one shuffle on the token key; the
    instance⋈vocab join shuffles on the same key (AQE broadcasts the
    vocab side when it fits); the per-document mean uses the
    quantize→decimal-sum discipline so the double aggregate is
    order-independent and oracle-exact.
    """
    from farmrpg_etl_spark.functions.exact import dec_sum as _dec_sum

    toks = F.coalesce(
        words(F.col(text_col)), F.array().cast("array<string>")
    )
    inst = df.select(F.col(id_col), F.explode(toks).alias("t"))
    vocab = inst.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("N"))
    q = (
        F.floor(
            F.lit(1000000.0) * F.col("N").cast("double") / F.col("c")
        )
        / F.lit(1000000.0)
    )
    scored = (
        inst.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.round(
                _dec_sum(q).cast("double") / F.count(F.lit(1)), 6
            ).alias("surprise"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tok"),
            F.coalesce(F.col("surprise"), F.lit(0.0)).alias("surprise"),
        )
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus-version CDC: classify every document id across two corpus
    snapshots as added / removed / changed / unchanged by content
    digest — the refresh step that decides what re-enters the dedup +
    quality pipeline on a recrawl (only 'added' + 'changed' need
    reprocessing; 'removed' feeds tombstones).

    One full-outer join on the id key; each side carries (id, md5) —
    fixed-width rows, never document payloads.
    """
    o = old.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__h_old")
    )
    n = new.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__h_new")
    )
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") == F.col("__h_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def bpe_merge_candidates(
    df: DataFrame, text_col: str, id_col: str, k: int = 50
) -> DataFrame:
    """First-iteration BPE merge statistics: the corpus-weighted count
    of every adjacent CHARACTER pair inside words — the quantity byte-
    pair-encoding tokenizer training maximizes at each merge step
    (Sennrich et al. 2016). Emits the top ``k`` pairs as
    ``(pair, total, rank)``.

    Scale shape — the part that matters at 100 TB: the corpus is
    reduced to its WORD VOCABULARY first (one shuffle with map-side
    partial counts; vocabulary size grows ~ Heaps' law, sublinearly in
    corpus size), and the character-pair explode runs over that
    dimension-sized vocab table, weighted by word frequency. The
    corpus text itself is scanned once and never exploded to
    character granularity — pair totals are Σ_word count(word) ·
    pairs_in(word), which is exactly the classic BPE "count on the
    word-frequency dictionary" optimization, relationally.
    """
    toks = F.coalesce(
        words(F.col(text_col)), F.array().cast("array<string>")
    )
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = F.expr(
        "CASE WHEN char_length(w) >= 2 "
        "THEN transform(sequence(1, char_length(w)-1), i -> substring(w, i, 2)) "
        "ELSE array() END"
    )
    counts = (
        vocab.select(F.col("wc"), F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("wc").alias("total"))
    )
    # global-order window is safe here: its input is the aggregated
    # char-pair relation, whose cardinality is alphabet²-bounded and
    # corpus-size-independent — no corpus-sized data flows through the
    # single-task sort
    w = Window.orderBy(F.col("total").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("pair", "total", "rank")
    )


def quality_weighted_sample(
    df: DataFrame, id_col: str, weight_col: str
) -> DataFrame:
    """Importance sampling by a [0, 1] weight column (quality score):
    keep each row with probability == its weight, decided by a
    DETERMINISTIC per-row uniform draw u = md5(id)/2³² — bit-
    reproducible across engines, retries and partitionings (a
    ``rand()`` sample is none of those). The standard curation move
    when hard quality thresholds discard too much borderline mass:
    high-quality documents almost surely survive, low-quality ones
    survive in proportion.

    Map-side filter only — no shuffle, no RNG state.
    """
    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return df.withColumn("u_draw", F.round(u, 6)).filter(
        F.col("u_draw") < F.col(weight_col)
    )


def _bpe_rounds(
    df: DataFrame, text_col: str, n_merges: int, rewrite_last: bool = True
) -> tuple[list[DataFrame], DataFrame]:
    """Iterative BPE tokenizer training (Sennrich et al. 2016): run
    ``n_merges`` full merge rounds — count adjacent symbol pairs over
    the word-frequency vocabulary, pick the most frequent pair
    (deterministic ``(total desc, pair asc)`` tie-break), REWRITE every
    word's symbol sequence with the merge applied, recount. Returns
    ``(merge_logs, final_symbol_rows)`` — :func:`bpe_merges` exposes
    the merge table, :func:`bpe_token_counts` the encoding.

    The merge application is the classic greedy left-to-right
    non-overlapping rule, expressed relationally (no lambda fold, so
    the DuckDB oracle replays it verbatim):

    * candidates = positions where ``(sym, next sym) == (A, B)``;
    * consecutive candidate positions (only possible when ``A == B``,
      e.g. ``aaaa`` under merge ``(a,a)``) form runs; greedy takes
      every SECOND candidate from each run's start — a run-group id
      (``pos - row_number``) plus one min-window gives exactly that
      set with two window functions;
    * taken positions become the merged symbol, each position
      immediately after a taken one drops, and ``row_number`` over the
      survivors renumbers densely for the next round.

    Scale shape: the corpus is reduced ONCE to its word-frequency
    vocabulary (Heaps-law sublinear, the classic BPE dictionary
    optimization); every round then runs over vocab-sized symbol rows
    — windows partition by word (bounded partitions), pair counts
    aggregate with map-side partial sums, and the round's argmax pair
    joins back as a broadcast single row. Each round's symbol relation
    passes through ``iterate.truncate_lineage`` (reliable checkpoint):
    a round references the previous relation ~6 times, so an all-lazy
    loop grows the analyzed plan ~6^N and the driver's ANALYZER dies
    before any executor runs — the same lineage discipline as
    ``kmeans_lloyd`` and the connected-components loop.
    """
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    chars = F.expr(
        "transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"
    )
    from farmrpg_etl_spark.operators.iterate import truncate_lineage

    rows = vocab.select(
        "w", "wc", F.posexplode(chars).alias("p", "sym")
    ).withColumn("p", F.col("p") + F.lit(1))
    # lineage MUST be cut per round: each round references the symbol
    # relation ~6 times (pair window, argmax, candidate/taken joins),
    # so a lazy chain grows 6^N relation copies and the ANALYZER (not
    # the executor) OOMs by round 4-5. Reliable checkpoint per round =
    # flat plans, bounded recompute window (kmeans_lloyd discipline).
    rows = truncate_lineage(rows)

    merge_logs = []
    w_ord = Window.partitionBy("w").orderBy(F.col("p").asc())
    for rnd in range(1, n_merges + 1):
        paired = rows.withColumn("nxt", F.lead("sym").over(w_ord))
        counts = (
            paired.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("wc").alias("total"))
        )
        w_top = Window.orderBy(
            F.col("total").desc(), F.col("sym").asc(), F.col("nxt").asc()
        )
        # global-order window is safe: input is the aggregated pair
        # relation (symbol-alphabet², corpus-size-independent)
        top1 = (
            counts.withColumn("rn", F.row_number().over(w_top))
            .filter(F.col("rn") == 1)
            .select(
                F.col("sym").alias("__pa"),
                F.col("nxt").alias("__pb"),
                F.col("total").alias("__total"),
            )
        )
        merge_logs.append(
            top1.select(
                F.lit(rnd).alias("round"),
                F.col("__pa").alias("pair_a"),
                F.col("__pb").alias("pair_b"),
                F.col("__total").alias("total"),
            )
        )
        if rnd == n_merges and not rewrite_last:
            # the final merge's LOG only needs the pair counts; the
            # rewritten symbol relation is only consumed by encoders
            # (bpe_token_counts) — skip a third of the loop's work
            # (3 windows + 2 joins + a checkpoint) when the caller
            # wants merges only
            break
        # apply the merge: greedy left-to-right non-overlapping.
        # LEFT join on TRUE (not crossJoin): when a round has NO pairs
        # at all (every word a single symbol) the argmax is empty, and
        # a cross join would annihilate the symbol relation — the left
        # join preserves it with null pa/pb, so no candidate matches
        # and the round is a no-op (property-tested on 1-char corpora)
        pr = paired.join(
            F.broadcast(top1.select("__pa", "__pb")), F.lit(True), "left"
        )
        cand = pr.filter(
            (F.col("sym") == F.col("__pa")) & (F.col("nxt") == F.col("__pb"))
        ).select("w", "p")
        w_cand = Window.partitionBy("w").orderBy(F.col("p").asc())
        runs = cand.withColumn(
            "grp", F.col("p") - F.row_number().over(w_cand)
        )
        w_run = Window.partitionBy("w", "grp")
        taken = (
            runs.withColumn("p0", F.min("p").over(w_run))
            .filter((F.col("p") - F.col("p0")) % 2 == 0)
            .select("w", "p", F.lit(1).alias("__take"))
        )
        dropped = taken.select(
            "w", (F.col("p") + F.lit(1)).alias("p"), F.lit(1).alias("__drop")
        )
        nxt_rows = (
            pr.join(taken, ["w", "p"], "left")
            .join(dropped, ["w", "p"], "left")
            .filter(F.col("__drop").isNull())
            .select(
                "w",
                "wc",
                "p",
                F.when(
                    F.col("__take") == 1,
                    F.concat(F.col("__pa"), F.col("__pb")),
                ).otherwise(F.col("sym")).alias("sym"),
            )
            .withColumn("p", F.row_number().over(w_ord))
        )
        rows = truncate_lineage(nxt_rows)

    return merge_logs, rows


def bpe_merges(
    df: DataFrame, text_col: str, n_merges: int = 3
) -> DataFrame:
    """Public merge-table view of :func:`_bpe_rounds` — see its
    docstring for the algorithm and lineage discipline. Emits
    ``(round, pair_a, pair_b, total)``."""
    merge_logs, _rows = _bpe_rounds(df, text_col, n_merges, rewrite_last=False)
    out = merge_logs[0]
    for m in merge_logs[1:]:
        out = out.unionByName(m)
    return out


def bpe_token_counts(
    df: DataFrame, text_col: str, id_col: str, n_merges: int = 3
) -> DataFrame:
    """APPLY the learned tokenizer (the second half of BPE — train on
    the vocab, then encode the corpus): after ``n_merges`` merge
    rounds, every word's symbol count is known, and a document's BPE
    token count is Σ over its word instances of that count. Emits
    ``(id, n_words, n_bpe_tokens)``.

    Scale shape: the corpus tokenizes once into (id, word) instances;
    the trained per-word symbol counts are a vocab-sized relation
    (Heaps-law sublinear) joined on the word — the segmentation work
    is paid per VOCAB ENTRY, never per corpus token, which is exactly
    how production tokenizers amortize encoding."""
    _logs, rows = _bpe_rounds(df, text_col, n_merges)
    wsym = rows.groupBy("w").agg(F.count(F.lit(1)).alias("__n_sym"))
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    inst = df.select(F.col(id_col), F.explode_outer(toks).alias("w"))
    agg = (
        inst.join(wsym, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.col("w")).alias("n_words"),
            F.coalesce(F.sum("__n_sym"), F.lit(0)).alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


def _bpe_sym_ids(
    df: DataFrame, text_col: str, merge_logs: list[DataFrame]
) -> DataFrame:
    """The ONE construction of the tokenizer id table ``(sym,
    tok_id)`` from a corpus and its merge logs, which
    :func:`bpe_encode` encodes with. Base single-character symbols
    get ids ``0..C-1`` in lexicographic (binary-collation) order;
    merge round ``r``'s symbol gets id ``C + r - 1`` (merge rank — the
    standard BPE vocab layout). Two rounds can produce the SAME string
    (e.g. ``(a,bc)`` then ``(ab,c)`` → "abc"); the symbol relation is
    string-keyed, so
    the string keeps its FIRST producer's id (min round) —
    deterministic, and consistent with the string-keyed segmentation
    :func:`_bpe_rounds` computes.

    Scale: the global-order window runs over the base-character
    alphabet (corpus-size-independent, the bpe_merge_candidates rank-
    window safety argument) and the merge leg is ``n_merges`` rows —
    the whole relation is broadcast-sized."""
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    chars = F.expr(
        "transform(sequence(1, char_length(w)), i -> substring(w, i, 1))"
    )
    base = (
        df.select(F.explode(toks).alias("w"))
        .select(F.explode(chars).alias("sym"))
        .distinct()
    )
    w_sym = Window.orderBy(F.col("sym").asc())
    base_ids = base.withColumn(
        "tok_id", (F.row_number().over(w_sym) - F.lit(1)).cast("long")
    )
    n_base = base_ids.agg(F.count(F.lit(1)).alias("__nb"))
    merges = merge_logs[0]
    for m in merge_logs[1:]:
        merges = merges.unionByName(m)
    merge_ids = (
        merges.crossJoin(F.broadcast(n_base))
        .select(
            F.concat(F.col("pair_a"), F.col("pair_b")).alias("sym"),
            (F.col("__nb") + F.col("round") - F.lit(1))
            .cast("long")
            .alias("tok_id"),
        )
        .groupBy("sym")
        .agg(F.min("tok_id").alias("tok_id"))
    )
    return base_ids.unionByName(merge_ids)


def bpe_encode(
    df: DataFrame, text_col: str, id_col: str, n_merges: int = 3
) -> DataFrame:
    """ENCODE the corpus with the trained tokenizer — the step
    :func:`bpe_token_counts` stops short of: per document the ordered
    ``array<long>`` of BPE token ids (base alphabet + merge-rank ids,
    :func:`_bpe_sym_ids`). Emits ``(id, n_bpe_tokens, token_ids)``;
    a NULL/empty document encodes to the empty array.

    Scale shape: segmentation is still paid per VOCAB ENTRY — after
    the merge rounds each vocab word's symbol sequence maps to its id
    sequence once (vocab-sized join + per-word collect over ≤
    word-length rows); the corpus then joins its (id, word-position,
    word) instances to that id-sequence table on the word key (one
    corpus shuffle) and reassembles per document (one groupBy). The
    per-document collect is bounded by document length — exactly the
    row a token-id shard ships, so the size is the payload, not an
    artifact of the plan."""
    merge_logs, rows = _bpe_rounds(df, text_col, n_merges)
    sym_ids = _bpe_sym_ids(df, text_col, merge_logs)
    # per-vocab-word id sequence, ordered by symbol position
    wseq = (
        rows.join(sym_ids, "sym")
        .groupBy("w")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("p"), F.col("tok_id")))
            ).alias("__ps")
        )
        .select(
            "w",
            F.transform(F.col("__ps"), lambda s: s["tok_id"]).alias("ids"),
        )
    )
    toks = F.coalesce(words(F.col(text_col)), F.array().cast("array<string>"))
    inst = df.select(
        F.col(id_col), F.posexplode_outer(toks).alias("wpos", "w")
    )
    enc = (
        inst.join(wseq, "w", "left")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("wpos"), F.col("ids")))
            ).alias("__ws")
        )
        .select(
            id_col,
            F.flatten(
                F.transform(
                    F.filter(
                        F.col("__ws"), lambda s: s["ids"].isNotNull()
                    ),
                    lambda s: s["ids"],
                )
            ).alias("token_ids"),
        )
    )
    return enc.select(
        id_col,
        F.size("token_ids").cast("long").alias("n_bpe_tokens"),
        "token_ids",
    )
