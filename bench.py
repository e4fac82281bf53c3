"""Headline benchmark — one JSON line for the driver.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is executed to completion with the ``noop`` batch sink —
it materializes every output column (a bare ``count()`` would let
Catalyst prune computed columns and under-measure) without paying
driver-side collection.

Methodology: every block times its rows through ``timed``, which runs
an action back to back and returns each run's seconds, the cold run
first; ``release`` clears the cache between rows. The first invocation
of a query pays one-time whole-stage-codegen compilation + JVM JIT
warm-up, which on a long-lived cluster amortizes to noise but at sf0.1
can exceed the actual execution time 5×, so a headline row reports the
min of two steady runs after the cold one. The cold first-run total is
still reported (``cold_total_sec``) so regressions in compile cost stay
visible. Each block's own reporting rule is documented where it is
applied.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# headline set: relational core + reference ops + LLM-pipeline ops
HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "regional_revenue",
    "top_customers_per_nation",
    "a1_latest_event_per_user_agg",
    "d1_changes_events",
    "exact_dedup_docs",
    "minhash_lsh_pairs_docs",
    "text_metrics_docs",
    "ann_topk_bruteforce",
    "asof_click_attribution",
    "tfidf_top_terms",
]


# extended set: every later round's operator additions, timed the same
# way as the headline but reported separately so the headline total
# stays comparable across rounds
EXTENDED = [
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "decontaminate_docs",
    "repetition_docs",
    "pack_sequences_docs",
    "hourly_rollup_events",
    "ngram_jaccard_docs",
    "simhash_docs",
    "chunk_dedup_docs",
    "token_budget_mixture_docs",
    "ann_topk_quantized",
    "training_data_pipeline",
    "semantic_dedup_embeddings",
    "fuzzy_decontaminate_docs",
    "histogram_quantile_events",
    # round-3 additions
    "kmeans_lloyd_embeddings",
    "decode_real_media_docs",
    "incremental_lsh_docs",
    "j1_resolve_join",
    "heavy_hitter_tokens",
    "semantic_dedup_lloyd",
    # round-4 additions
    "dup_span_docs",
    "bm25_topk_docs",
    # round-5 additions
    "cut_dup_span_docs",
    "bpe_merges_docs",
    "ann_recall_ivf_tuned",
    "pooled_semantic_dedup_embeddings",
    # round-6 additions
    "training_data_pipeline_v2",
    "ann_topk_pq_rerank",
    "ann_topk_ivfpq",
    "hybrid_retrieval_docs",
    # round-8/9 additions
    "perplexity_docs",
    "ppl_external_lm_docs",
    "line_dedup_docs",
    "url_canonicalize_docs",
    "quality_logit_docs",
    "training_data_pipeline_v3",
    "funnel_events",
    "cohort_retention_events",
    "bloom_decontaminate_docs",
    "pagerank_docs",
    "char_entropy_docs",
    "event_transitions_events",
    "linear_attribution_events",
    "gap_fill_events",
    "k_partitioned_sink",
    "record_linkage_customer",
    "winsorize_events",
    "dq_checks_events",
    "dq_orphan_orders",
    "anomaly_hours_events",
    # round-10 additions
    "bloom_bitmap_decontaminate_docs",
    "lang_id_ngram_docs",
    "c4_fineweb_filter_docs",
    "k_sqldb_insert_absent",
    # round-11 additions
    "lang_id_script_docs",
    "k_docstore_partial_sink",
    "streaming_tws_first_seen",
    # round-13 additions (kn5_ppl_filter subsumes the 5-gram
    # train+score+bucket pipeline — the lm/perplexity rows would
    # re-pay its training cost for the same timing signal, and the
    # bench wall is already near the driver's capture window)
    "kn5_ppl_filter_docs",
    "crawl_robots_e2e_docs",
    "hard_negatives_recall",
    # round-14 additions (v7 subsumes ccnet_per_lang_filter_docs —
    # it runs the identical keyed-KN stage over the gated
    # survivors, so timing both would re-pay the same ~30 s
    # training twice)
    "unimax_mixture_docs",
    "training_data_pipeline_v7",
    "dsir_select_docs",
    # round-15 additions (v8 = DSIR selection composed over v7's
    # survivors)
    "training_data_pipeline_v8",
    # round-16 additions (v9 = the full build: v8's interior +
    # clusters + schedule + packing, so corpus_report_v9_splits
    # would re-pay the same ~20 s interior for no new signal;
    # streaming_leakage_splits is its batch row + micro-batch
    # plumbing, timed via the batch row's cluster stage)
    "training_data_pipeline_v9",
    "doremi_iterated_docs",
    "leakage_safe_splits_docs",
    # streaming_pipeline_v9 re-pays the identical frozen
    # interior + schedule (timed via the batch v9 row); the
    # trained classifier is its own new timing signal
    "logit_train_docs",
    # round-17 additions (token_id_packs subsumes bpe_encode —
    # it runs the identical train+encode chain plus the pack
    # regroup; the hashed filter/streaming twin re-pay the
    # trainer for the same timing signal; v10 re-pays v9's
    # interior but its BPE+pack tail is the new flagship stage)
    "token_id_packs_docs",
    "logit_train_hashed_docs",
    "training_data_pipeline_v10",
    "auth_lookup_users",
]

# The committed bench artifact that carries the per-row extended map.
# The BENCH_r*.json driver records keep only the totals and name their
# detail file; only BENCH_LOCAL.json of those is committed.
PREVIOUS_BENCH = "BENCH_LOCAL.json"


def _new_extended_rows() -> set:
    """Rows of EXTENDED that PREVIOUS_BENCH did not time: they go into
    ``extended_total_new_sec`` and stay out of
    ``extended_total_inherited_sec``, so the inherited total is
    directly diffable against the previous artifact. With no previous
    artifact every row is new."""
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, PREVIOUS_BENCH)) as f:
            prev = json.load(f).get("extended_queries", {})
    except (OSError, ValueError):
        prev = {}
    return set(EXTENDED) - set(prev)


# The 10× (sf1) and 100× (sf10) synthesized corpora. Synthesis is
# deterministic — same code + same input dir → same bytes — so a
# completed synthesis is reused across bench runs on one machine.
SF1_DIR = "/tmp/farmrpg_sf1_synth"
SF10_DIR = "/tmp/farmrpg_sf10_synth"

# Relational tables at 10×: consistent 10-universe replication — every
# key/FK column gets the SAME per-replica offset, so joins stay within
# a universe (zero cross-replica fan-out), row counts scale exactly
# 10×, and name-keyed group-bys collapse the universes back to the
# same output rows with 10× sums. Offsets: int32 FK columns
# (nation/region keys, values < 100) shift by k·1000; bigint keys by
# k·10⁹ (long math — k is cast first so ANSI mode cannot overflow an
# int intermediate).
INT_OFF = 1000
BIG_OFF = 1_000_000_000
SF1_KEYS = {
    "region": {"r_regionkey": INT_OFF},
    "nation": {"n_nationkey": INT_OFF, "n_regionkey": INT_OFF},
    "customer": {"c_custkey": BIG_OFF, "c_nationkey": INT_OFF},
    "supplier": {"s_suppkey": BIG_OFF, "s_nationkey": INT_OFF},
    "part": {"p_partkey": BIG_OFF},
    "orders": {"o_orderkey": BIG_OFF, "o_custkey": BIG_OFF},
    "lineitem": {"l_orderkey": BIG_OFF, "l_partkey": BIG_OFF, "l_suppkey": BIG_OFF},
    "events": {"event_id": BIG_OFF, "user_id": BIG_OFF},
}

# Stretch points that time a registry row: point name → (row, data
# dir, SQL filter or None). A filter forces the subtree the point is
# about: a bare count() of a unique-right-key left join lets Catalyst
# eliminate the join and prune the whole computation (dup_span_10x
# measured 0.46 s that way vs ~8 s real).
SF1_STRETCH_ROWS = {
    # the full chunk→embed→pool→celled-dedup→decontaminate composition:
    # the per-doc stages are map-side so cost should track corpus size;
    # the dedup self-join is bounded by the LSH cells
    "pipeline_v2_10x": ("training_data_pipeline_v2", SF1_DIR, None),
    # line-level dedup: the frequency partial-agg on the line key, the
    # broadcast anti-join against the boilerplate set, and per-doc
    # reassembly. The k-mutated replicas fragment most lines, so the
    # frequent set stays small and realistic
    "line_dedup_10x": ("line_dedup_docs", SF1_DIR, "n_kept < n_lines"),
    # 3-step funnel (consistent universe replication keeps funnels
    # within-universe); the filter forces the step joins, which a bare
    # count() would elide to time only the step-1 aggregation
    "funnel_10x": ("funnel_events", SF1_DIR, "steps_completed >= 2"),
    # C4/Gopher page-filter bundle: zero shuffles, zero UDFs — the
    # "runs at scan speed" claim as a measured point; the filter forces
    # the full signal expression tree
    "c4_filter_10x": (
        "c4_fineweb_filter_docs", SF1_DIR, "NOT keep_gopher OR NOT keep_c4"
    ),
    # 5-round PageRank: per-round cost is one dst-keyed shuffle over a
    # fixed-out-degree edge list, so time should scale ~linearly with
    # the node count; the eager per-round checkpoints are in the timing
    "pagerank_10x": ("pagerank_docs", SF1_DIR, None),
    # entity resolution: block sizes stay bounded (md5-tail blocks), the
    # Levenshtein verify is per-block quadratic but block-capped, so
    # time should track the blocked-pair count, not customers²
    "record_linkage_10x": ("record_linkage_customer", SF1_DIR, None),
    # the order-5 KN family: LM training IS the cost — one corpus
    # shuffle into top-order counts + LM-sized suffix re-aggregations
    "kn5_filter_10x": ("kn5_ppl_filter_docs", SF1_DIR, None),
    # per-language CCNet: N languages are claimed to cost ONE model's
    # shuffle schedule — this point against kn5_filter_10x on the same
    # corpus is the direct measurement of that claim
    "ccnet_per_lang_10x": ("ccnet_per_lang_filter_docs", SF1_DIR, None),
    # the full tokenizer loop: BPE vocab (Heaps-sublinear), per-vocab
    # segmentation + id join, schedule cumsum and per-pack regroup —
    # the slope should sit well under linear
    "token_id_packs_10x": ("token_id_packs_docs", SF1_DIR, None),
    # K=10 exact-integer GD passes over the hashed feature leaf: the
    # weight relation stays ≤4096 rows regardless of corpus size, so
    # the slope measures the K corpus scans + bucket aggregates alone
    "hashed_logit_train_10x": ("logit_train_hashed_docs", SF1_DIR, None),
}

# The flagship compositions' filters force the audit columns (v7) and
# the DSIR score columns (v8; the top-50 count alone would be 50
# regardless of values).
_V7_WHERE = "n_contaminated > 0 OR lang != 'xx' OR out_digest > ''"
_V8_WHERE = "logw != 0.0 OR bucket != ''"

# The gated 100× block: a second point on the scaling curve for the
# pivotal families, plus the flagship compositions at 10× and 100× —
# v7/v8 embed the complete per-language KN training (minutes per run
# at sf1), which the per-round driver window doesn't have.
SF10_STRETCH_ROWS = {
    "pipeline_v7_10x": ("training_data_pipeline_v7", SF1_DIR, _V7_WHERE),
    "pipeline_v8_10x": ("training_data_pipeline_v8", SF1_DIR, _V8_WHERE),
    "pipeline_v7_100x": ("training_data_pipeline_v7", SF10_DIR, _V7_WHERE),
    "pipeline_v8_100x": ("training_data_pipeline_v8", SF10_DIR, _V8_WHERE),
    "line_dedup_100x": ("line_dedup_docs", SF10_DIR, "n_kept < n_lines"),
    "c4_filter_100x": (
        "c4_fineweb_filter_docs", SF10_DIR, "NOT keep_gopher OR NOT keep_c4"
    ),
    "pagerank_100x": ("pagerank_docs", SF10_DIR, None),
    "kn5_filter_100x": ("kn5_ppl_filter_docs", SF10_DIR, None),
    # the per-language "N languages cost one model's shuffle schedule"
    # claim, measured at 100× against kn5_filter_100x
    "ccnet_per_lang_100x": ("ccnet_per_lang_filter_docs", SF10_DIR, None),
    "record_linkage_100x": ("record_linkage_customer", SF10_DIR, None),
    # the trained classifier: the K gradient rounds run EAGERLY inside
    # the row call (per-round reliable checkpoints), so the timed
    # window captures the full training cost; the counted relation is
    # just the 4-row weight trajectory
    "logit_train_10x": ("logit_train_docs", SF1_DIR, None),
    "logit_train_100x": ("logit_train_docs", SF10_DIR, None),
}

# warms the JVM + parquet footers before the first timed row
WARMUP_ROW = "j3_fk_hydrate"

_T_START = time.time()


def phase(msg: str) -> None:
    # stderr breadcrumb: where bench wall-time goes (the JSON line on
    # stdout stays the single machine-readable artifact)
    print(f"[bench +{time.time() - _T_START:7.1f}s] {msg}", file=sys.stderr)


def timed(action, runs: int) -> tuple[list[float], object]:
    """Run ``action`` ``runs`` times back to back; return each run's
    seconds, the cold run first, and the cold run's result. The cold
    run pays whole-stage-codegen compilation + JIT warm-up; the blocks
    differ only in which of these seconds they report."""
    secs, result = [], None
    for i in range(runs):
        t0 = time.perf_counter()
        r = action()
        secs.append(time.perf_counter() - t0)
        if i == 0:
            result = r
    return secs, result


def release(spark, gc: bool = False) -> None:
    """Drop the timed row's persisted intermediates before the next
    one: operators persist by design and re-built plans re-hit the
    CacheManager by plan equality, so without this the cache grows
    monotonically all run and tail queries pay the GC pressure (r3
    measured uniform ~1.2× drift on unchanged queries late in the run).

    ``gc`` also frees the row's localCheckpoint blocks, which are
    released on JVM GC of the unreferenced DataFrame, not by
    clearCache(): the v7/v8 100× rows each pin a full-corpus-with-text
    interior, and three rows of those blocks piling up OOMed an 8g heap
    on the row AFTER them (kn5_filter_100x, r16 first stretch run)."""
    spark.catalog.clearCache()
    if gc:
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()


def run_row(spark, name: str, sf_dir: str) -> None:
    """Execute registry row ``name`` into the ``noop`` sink."""
    from farmrpg_etl_spark.queries import QUERIES

    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def headline_pass(spark, sf_dir: str) -> tuple[dict, dict]:
    """One pass over HEADLINE at ``sf_dir``: per row, the min of two
    steady runs after a cold one (min-of-2 shields against host noise
    spikes), and the cold run; cache cleared between rows."""
    steady, cold = {}, {}
    for name in HEADLINE:
        secs, _ = timed(lambda: run_row(spark, name, sf_dir), 3)
        cold[name] = round(secs[0], 3)
        steady[name] = round(min(secs[1:]), 3)
        release(spark)
    return steady, cold


def stretch(spark, points: dict) -> dict:
    """Time each ``name → action`` point (the action returns the
    DataFrame whose count() is timed): a cold run, then two steady.

    ``sec`` is best-of-ALL-runs, cold included (r14 verdict #7): rows
    built on localCheckpoint leaves re-train fresh leaves on every
    invocation, so a "steady" pass is another full honest run that can
    overlap the previous pass's shuffle-file GC and come out SLOWER
    than cold (kn5_filter_100x: 106.7 s steady vs 91.3 s cold).
    Min-over-three keeps sec <= cold_sec by construction while staying
    an honestly-recomputed number; cold_sec stays visible for the
    compile cost (a single cold run was swinging 2-3× with codegen/JIT
    state: r3 vs r4 runs of IDENTICAL operator code measured 3.8 s vs
    9.5 s)."""
    out = {}
    for name, fn in points.items():
        secs, n = timed(lambda: fn().count(), 3)
        out[name] = {
            "sec": round(min(secs), 3),
            "cold_sec": round(secs[0], 3),
            "rows": n,
        }
        release(spark, gc=True)
        phase(f"stretch point done: {name} {out[name]['sec']}s "
              f"(cold {out[name]['cold_sec']}s)")
    return out


def row_points(spark, rows: dict) -> dict:
    """Stretch actions for ``name → (row, data dir, filter)`` tables."""
    from farmrpg_etl_spark.queries import QUERIES

    def point(row, data_dir, where):
        def fn():
            df = QUERIES[row](spark, data_dir)
            return df if where is None else df.filter(where)
        return fn

    return {name: point(*spec) for name, spec in rows.items()}


def synthesize(spark, sf_dir: str, out_dir: str, version: str, build) -> None:
    """Run ``build()`` unless ``out_dir`` already holds its output. The
    marker encodes the recipe version AND the resolved input dir —
    bump the version when the synthesis logic changes; a different
    SPARK_GRAFT_SF_DIR re-synthesizes instead of silently reusing a
    corpus built from another scale factor. Markers of other inputs
    are removed first: the rebuild overwrites the data they vouch for."""
    tag = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:10]
    marker = os.path.join(out_dir, f"_SYNTH_OK_{version}_{tag}")
    if os.path.exists(marker):
        phase(f"{out_dir} synthesis skipped (marker present)")
        return
    phase(f"{out_dir} synthesis start")
    if os.path.isdir(out_dir):
        for name in os.listdir(out_dir):
            if name.startswith("_SYNTH_OK_"):
                os.remove(os.path.join(out_dir, name))
    build()
    with open(marker, "w") as f:
        f.write("ok")
    phase(f"{out_dir} synthesis done")


def _replicas(replicas: int):
    from pyspark.sql import functions as F

    return F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("k")


def synth_documents(spark, sf_dir: str, out_dir: str, replicas: int) -> None:
    """The corpus recipe: ``replicas`` copies of documents, k = 0 the
    original. Replica tokens are k-perturbed so the near-dup DENSITY
    stays realistic (≈2% of docs — doc_id % 50 — form planted families
    of ``replicas`` members; the rest are mutually distant): a corpus
    that is 90% duplicates would measure quadratic verify cost, not
    scale. 64 files give scan parallelism at any maxPartitionBytes (on
    a real cluster the ingest layout provides this; a single-file
    corpus would serialize every downstream scan)."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", _replicas(replicas)
    )
    kstr = F.col("k").cast("string")
    docs.select(
        (F.col("doc_id") + F.col("k") * 1_000_000).alias("doc_id"),
        F.when(F.col("k") == 0, F.col("text"))
        .when(
            F.col("doc_id") % 50 == 0,  # planted near-dup families
            F.concat(F.col("text"), F.lit(" replica "), kstr),
        )
        .otherwise(  # k-prefix every token: mutually distant replicas
            F.replace(F.col("text"), F.lit(" "), F.concat(F.lit(" "), kstr))
        )
        .alias("text"),
        # carried for the URL-synthesis rows (pipeline_v7_10x)
        F.col("source"),
    ).repartition(64).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def synth_table(spark, sf_dir: str, out_dir: str, table: str, keys: dict,
                replicas: int, nfiles: int) -> None:
    """``replicas`` universes of ``table``: each key column in ``keys``
    shifts by k·offset, so a universe's keys never collide with
    another's and joins stay within a universe."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sources.tables import load_table

    t = load_table(spark, sf_dir, table)
    shifted = [
        (
            F.col(c)
            + F.col("k").cast("long" if keys[c] == BIG_OFF else "int") * F.lit(keys[c])
        ).alias(c)
        if c in keys
        else F.col(c)
        for c in t.columns
    ]
    t.select(*t.columns, _replicas(replicas)).select(*shifted).repartition(
        nfiles
    ).write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def synth_sf1(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.sources.tables import load_table

    synth_documents(spark, sf_dir, SF1_DIR, 10)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label", _replicas(10)
    )
    emb.select(
        (F.col("vec_id") + F.col("k") * 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.col("k") * 0.001) * F.when(i == 0, 1.0).otherwise(0.0),
        ).alias("embedding"),
        "label",
    ).repartition(64).write.mode("overwrite").parquet(f"{SF1_DIR}/embeddings.parquet")
    # write proper micros timestamps (the default INT96 reads back as
    # timestamp[ns] through pyarrow and confuses nano detection)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for table, keys in SF1_KEYS.items():
        nfiles = 64 if table in ("lineitem", "orders", "events") else 4
        synth_table(spark, sf_dir, SF1_DIR, table, keys, 10, nfiles)


def synth_sf10(spark, sf_dir: str) -> None:
    synth_documents(spark, sf_dir, SF10_DIR, 100)
    # customer at 100× for record_linkage_100x: c_custkey shifts by
    # k·10⁹ so the planted typo variants (+1,000,000 inside each
    # universe) never collide across universes and clusters stay
    # within a universe
    synth_table(spark, sf_dir, SF10_DIR, "customer", {"c_custkey": BIG_OFF}, 100, 16)


def sf1_operator_points(spark) -> dict:
    """Stretch points that call operators directly on the 10× corpus."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.operators import dedup as D
    from farmrpg_etl_spark.operators import similarity as S

    def docs():
        return spark.read.parquet(f"{SF1_DIR}/documents.parquet")

    def embeddings():
        return spark.read.parquet(f"{SF1_DIR}/embeddings.parquet")

    def minhash():
        return D.minhash_lsh_pairs(
            docs(), "text", "doc_id", num_hashes=16, bands=4, threshold=0.3, shingle_k=3
        )

    def jaccard():
        return D.ngram_jaccard_pairs(
            docs().withColumn("lang", F.lit("en")), "text", "doc_id", "lang",
            shingle_k=3, threshold=0.5,
        )

    def semdedup():
        # max_cluster_size sits well below the 10× cluster sizes, so the
        # secondary-LSH skew guard is ACTUALLY ENGAGED.
        clustered = embeddings().select(
            "vec_id", "embedding", F.col("label").alias("cluster")
        )
        return S.semantic_dedup(
            clustered, "embedding", "vec_id", "cluster", threshold=0.25,
            max_cluster_size=500, split_dim=64, split_planes=2,
        )

    def heavy_hitters():
        from farmrpg_etl_spark.functions import hashing as H
        from farmrpg_etl_spark.operators.heavyhitters import heavy_hitters

        # the k-mutation (deliberately) fragments the vocabulary, so
        # the organic corpus has no 1/200-heavy token; plant three
        # per-document hitters HERE (not in the corpus files — an
        # every-document shingle would quadratically poison the
        # Jaccard stretch) so recall is observable, not vacuous
        toks = docs().select(
            F.explode(
                H.words(F.concat(F.col("text"), F.lit(" hh0 hh1 hh2")))
            ).alias("tok")
        )
        return heavy_hitters(toks, "tok", k=200)

    def dup_span():
        # the heaviest shuffle — ~24 B/token of (id, pos, md5): direct
        # evidence the ExactSubstr span operator's cost stays linear in
        # corpus tokens. The dup_tok > 0 filter is load-bearing for the
        # MEASUREMENT (see SF1_STRETCH_ROWS).
        return D.duplicated_spans(docs(), "text", "doc_id", k=8).filter(
            F.col("dup_tok") > 0
        )

    def cut_dup_span():
        # span CUTTING: the detect path's shuffle plus the dense-position
        # coverage window and per-doc reassembly. The kept_tok < n_tok
        # filter plays the same anti-plan-elision role as dup_tok > 0.
        return D.cut_duplicated_spans(docs(), "text", "doc_id", k=8).filter(
            F.col("kept_tok") < F.col("n_tok")
        )

    def bpe_merges():
        # iterative BPE training: vocab-first reduction means the
        # per-round cost is driven by VOCAB size (Heaps-law sublinear
        # in corpus tokens), so 10× corpus should be far under 10× time
        from farmrpg_etl_spark.operators.curation import bpe_merges

        return bpe_merges(docs(), "text", n_merges=3)

    def pq_rerank():
        # PQ shortlist+rescore: the ADC scan is the scale-bearing stage
        # (2-byte codes map-side vs broadcast dtables); exact math stays
        # bounded at queries×shortlist regardless of corpus size
        e = embeddings()
        return S.pq_adc_rerank_topk(
            e, e.filter(F.col("vec_id") < 10), "embedding", "vec_id",
            k=5, m=8, ks=16, shortlist=200,
        )

    def ann():
        # exact top-k at 10× corpus: one broadcast crossJoin of the 10
        # queries; the fold cost grows with corpus rows only
        b = embeddings()
        return S.ann_topk_bruteforce(
            b, b.filter(F.col("vec_id") < 10), "embedding", "vec_id", k=5
        )

    return {
        "minhash_lsh_pairs_10x": minhash,
        "ngram_jaccard_10x": jaccard,
        "semantic_dedup_guarded_10x": semdedup,
        "heavy_hitters_10x": heavy_hitters,
        "dup_span_10x": dup_span,
        "cut_dup_span_10x": cut_dup_span,
        "bpe_merges_10x": bpe_merges,
        "pq_rerank_10x": pq_rerank,
        "ann_bruteforce_10x_catalyst": ann,
    }


# AQE-runtime-skew-split vs manual salt: broadcast is disabled (the dim
# fits in memory here; at 100 TB the interesting dims don't) so both
# variants pay the shuffle, and the ONLY difference is who breaks the
# hot partition: AQE's post-shuffle split (skewedPartitionThreshold
# lowered to fire at this scale) or salted_join's 16-way pre-shuffle
# spread.
_SKEW_CONFS = {
    "aqe": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
    },
    "salted": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "false",
    },
}


def skew_ab(spark) -> dict:
    """The skew A/B on a PLANTED power-law key at 10×: half the fact
    rows share key 0, the rest spread over 999 keys — the shape where a
    plain shuffle join pins one straggler task. Outputs are asserted
    identical; the executed plan is grepped for the skew=true marker so
    "AQE handled it" is a recorded fact, not an assumption.
    docs/SCALE.md "Skew strategy A/B" discusses the crossover. ``sec``
    is the min of the two steady runs."""
    from pyspark.sql import functions as F

    from farmrpg_etl_spark.operators import joins as J_ops

    def run_skew(mode):
        ev = spark.read.parquet(f"{SF1_DIR}/events.parquet")
        fact = ev.select(
            F.when(F.col("event_id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.col("event_id"), F.lit(1000)))
            .cast("long")
            .alias("k"),
            "value",
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
        )
        if mode == "aqe":
            j = fact.join(dim, "k")
        else:
            j = J_ops.salted_join(fact, dim, "k", num_salts=16)
        df = j.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.col("w"))).alias("s"),
        )
        return df, df.collect()[0]

    all_keys = sorted({k for v in _SKEW_CONFS.values() for k in v})
    saved = {}
    for k in all_keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def restore():
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    out, results = {}, {}
    try:
        for mode in ("aqe", "salted"):
            # reset EVERY A/B key to its saved baseline first, so a mode
            # never inherits the other mode's overrides (the aqe-only
            # advisory/threshold keys would otherwise leak into the
            # salted measurement)
            restore()
            for k, v in _SKEW_CONFS[mode].items():
                spark.conf.set(k, v)
            secs, (df, row) = timed(lambda: run_skew(mode), 3)
            plan = df._jdf.queryExecution().executedPlan().toString()
            results[mode] = (row["n"], row["s"])
            out[f"skew_join_{mode}_10x"] = {
                "sec": round(min(secs[1:]), 3),
                "cold_sec": round(secs[0], 3),
                "rows": row["n"],
                "skew_split_in_plan": "skew=true" in plan.lower(),
            }
            release(spark)
    finally:
        restore()
    # salting is a physical strategy, not a semantic one
    assert results["aqe"] == results["salted"], results
    return out


def parse_throughput(spark) -> int | None:
    """Parse-stage msgs/s on the reference's 100-message golden chat
    payload (the reference sustains ≤700 msg-parses/s, BASELINE.md), or
    None when the fixture is missing — null, not absent, so a missing
    fixture shows in the artifact."""
    fixture = os.environ.get(
        "REFERENCE_CHAT_FIXTURE",
        "/root/reference/test/scrapers/fixtures/chat_help.html",
    )
    if not os.path.exists(fixture):
        print(f"parse_msgs_per_sec: no fixture at {fixture}", file=sys.stderr)
        return None
    from datetime import datetime

    from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows
    from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA

    with open(fixture, "rb") as f:
        body = f.read()
    t0 = datetime(2022, 4, 17, 23, 59, 59)
    rows = [("chat", f"r{i}", t0, 200, body) for i in range(700)]
    pdf = spark.createDataFrame(rows, PAYLOAD_SCHEMA).repartition(32)
    # the first run warms
    secs, n = timed(lambda: parsed_rows(parse_payloads(pdf, "chat")).count(), 2)
    return round(n / secs[1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # Local testdata is a single ~10 MB file per table (and the sf1
    # stretch synthesizes ~100 MB files); at the default 128m split a
    # scan becomes ONE task and a 32-core box idles 31 cores. 4m keeps
    # scan fan-out ≈ core count here without distorting the plans; on
    # a real cluster the default is right because file COUNT provides
    # the parallelism.
    os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")

    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    phase("session up; warming")
    run_row(spark, WARMUP_ROW, sf_dir)
    phase("headline block start")
    times, cold = headline_pass(spark, sf_dir)
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cold_total_sec": round(sum(cold.values()), 3),
    }

    # SPARK_GRAFT_HEADLINE_ONLY=1: stop after the headline block — the
    # isolated-process measurement mode (r4 verdict: settle whether the
    # marathon itself inflates headline times). Emits the same JSON
    # shape, minus the extended/stretch sections.
    if os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", "0") == "1":
        out["bench_wall_sec"] = round(time.time() - _T_START, 1)
        phase("headline-only mode: done")
        print(json.dumps(out))
        return

    # Measured HERE — before the extended/stretch marathon and after a
    # cache clear — because tail-of-run JVM pressure was costing 2-3×
    # on this number, and it is the one directly baseline-comparable
    # metric.
    release(spark)
    out["parse_msgs_per_sec"] = parse_throughput(spark)

    phase("parse throughput done; extended block start")
    # ONE timed steady pass after a warm run (the headline block keeps
    # min-of-2; the extended list is 58 entries and 3 passes each pushed
    # the bench wall past the driver's window as of r10)
    extended = {}
    for name in EXTENDED:
        secs, _ = timed(lambda: run_row(spark, name, sf_dir), 2)
        extended[name] = round(secs[1], 3)
        release(spark)
    # `extended_total_sec` mixes inherited rows with each round's new
    # additions, so round-over-round totals were not comparable
    # (r16→r17 read as a 45% regression until ~57 s of new rows was
    # subtracted by hand). The JSON also publishes
    # `extended_total_inherited_sec` (rows PREVIOUS_BENCH timed —
    # directly diffable) and `extended_total_new_sec`.
    new = _new_extended_rows()
    out["extended_queries"] = extended
    out["extended_total_sec"] = round(sum(extended.values()), 3)
    out["extended_total_inherited_sec"] = round(
        sum(v for k, v in extended.items() if k not in new), 3
    )
    out["extended_total_new_sec"] = round(
        sum(v for k, v in extended.items() if k in new), 3
    )

    # sf1 robustness stretch: a deterministic 10× synthesis of the input
    # corpus proving the scale guards hold an order of magnitude up.
    if os.environ.get("SPARK_GRAFT_SF1_STRETCH", "1") == "1":
        synthesize(spark, sf_dir, SF1_DIR, "v3", lambda: synth_sf1(spark, sf_dir))
        phase("sf1 stretch start")
        out["sf1_stretch"] = stretch(spark, {
            **sf1_operator_points(spark), **row_points(spark, SF1_STRETCH_ROWS)
        })
        phase("skew join A/B start")
        out["sf1_stretch"].update(skew_ab(spark))

        # 100× stretch (r12 verdict #10): a measured second point on the
        # scaling curve, so the "sublinear/linear at scale" claims rest
        # on a 1×/10×/100× CURVE, not a single ratio. Gated behind an
        # env var because the synthesis + runs add minutes the
        # per-round driver window doesn't have — run explicitly,
        # committed in BENCH_LOCAL detail and the docs/SCALE.md table.
        if os.environ.get("SPARK_GRAFT_STRETCH_100X", "0") == "1":
            synthesize(spark, sf_dir, SF10_DIR, "v2", lambda: synth_sf10(spark, sf_dir))
            phase("sf10 (100x) stretch start")

            def minhash_100x():
                from farmrpg_etl_spark.operators import dedup as D

                return D.minhash_lsh_pairs(
                    spark.read.parquet(f"{SF10_DIR}/documents.parquet"),
                    "text", "doc_id", num_hashes=16, bands=4, threshold=0.3,
                    shingle_k=3,
                )

            out["sf10_stretch"] = stretch(spark, {
                "minhash_lsh_pairs_100x": minhash_100x,
                **row_points(spark, SF10_STRETCH_ROWS),
            })
            phase("sf10 (100x) stretch done")

        # Full-headline sf1: the 12 headline queries on the 10×
        # relational synthesis — direct linear-scaling evidence for the
        # relational core (acceptance: no query superlinear vs its
        # sf0.1 time by more than ~12×).
        phase("sf1 full-headline start")
        out["sf1_headline"], _ = headline_pass(spark, SF1_DIR)

    # End-of-marathon SECOND headline pass (r12 verdict #6 — bench
    # defense): the artifact's headline becomes the element-wise min
    # of two passes measured ~10 minutes apart, so transient host
    # contention (the r11 11.68 s incident) must strike the same query
    # in BOTH windows to inflate the number. The sf1 headline gets the
    # same two-window defense (r16 verdict #4: the 14.97→24.35 s read
    # on byte-identical plans was ambient, but only a pass-2 min makes
    # that provable per artifact). Both raw passes stay in the detail
    # artifact so a divergence is auditable.
    phase("headline pass 2 start")
    pass2, _ = headline_pass(spark, sf_dir)
    out["headline_pass1"], out["headline_pass2"] = times, pass2
    out["queries"] = {n: min(times[n], pass2[n]) for n in times}
    out["value"] = round(sum(out["queries"].values()), 3)
    if "sf1_headline" in out:
        phase("sf1 headline pass 2 start")
        pass1 = out["sf1_headline"]
        pass2, _ = headline_pass(spark, SF1_DIR)
        out["sf1_headline_pass1"], out["sf1_headline_pass2"] = pass1, pass2
        out["sf1_headline"] = {n: min(pass1[n], pass2[n]) for n in pass1}
        out["sf1_headline_total_sec"] = round(sum(out["sf1_headline"].values()), 3)

    out["bench_wall_sec"] = round(time.time() - _T_START, 1)
    phase("done")
    # Durable on-disk copy of the FULL detail: BENCH_r04/r05.json lost
    # their stdout tails to the driver's capture window
    # ("parsed": null), so everything is written where truncation
    # can't reach it. Default target is the GITIGNORED
    # BENCH_DETAIL.json — a driver bench run must leave `git status`
    # clean (r13 verdict #6: three rounds of dirty-worktree churn on
    # the committed artifact, losing its stretch blocks). The
    # committed builder artifact BENCH_LOCAL.json is only (re)written
    # under SPARK_GRAFT_COMMIT_DETAIL=1, i.e. on an explicit
    # builder-controlled run that includes the env-gated stretch
    # sections worth committing.
    detail_name = "BENCH_DETAIL.json"
    if os.environ.get("SPARK_GRAFT_COMMIT_DETAIL", "0") == "1":
        detail_name = "BENCH_LOCAL.json"
    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, detail_name), "w") as f:
            json.dump(out, f)
    except OSError:
        pass
    # ...and stdout gets a COMPACT line (headline + per-section totals
    # only — no extended/stretch/sf1 per-query maps) sized to survive
    # the capture window so BENCH_r06.json finally parses.
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf", "cold_total_sec",
            "parse_msgs_per_sec", "extended_total_sec",
            "extended_total_inherited_sec", "extended_total_new_sec",
            "sf1_headline_total_sec", "bench_wall_sec",
        )
        if k in out
    }
    if "sf1_stretch" in out:
        compact["sf1_stretch_total_sec"] = round(
            sum(v["sec"] for v in out["sf1_stretch"].values()), 3
        )
    compact["detail"] = detail_name
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
