"""Headline benchmark — one JSON line for the driver.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is executed to completion with the ``noop`` batch sink —
it materializes every output column (a bare ``count()`` would let
Catalyst prune computed columns and under-measure) without paying
driver-side collection.

Methodology: each query runs twice; the reported per-query time is the
second (steady-state) run. The first invocation of a query pays
one-time whole-stage-codegen compilation + JVM JIT warm-up, which on a
long-lived cluster amortizes to noise but at sf0.1 can exceed the
actual execution time 5×. The cold first-run total is still reported
(``cold_total_sec``) so regressions in compile cost stay visible.
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


def main() -> None:
    t_start = time.time()

    def phase(msg: str) -> None:
        # stderr breadcrumb: where bench wall-time goes (the JSON line
        # on stdout stays the single machine-readable artifact)
        print(f"[bench +{time.time() - t_start:7.1f}s] {msg}", file=sys.stderr)

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

    from farmrpg_etl_spark.queries import QUERIES
    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str) -> None:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm the JVM + parquet footers with a trivial action
    phase("session up; warming")
    run("j3_fk_hydrate")
    phase("headline block start")

    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        run(name)  # cold: pays codegen compile + JIT
        cold[name] = round(time.time() - t0, 3)
        steady = []
        for _ in range(2):  # min-of-2 shields against host noise spikes
            t0 = time.time()
            run(name)
            steady.append(time.time() - t0)
        times[name] = round(min(steady), 3)
        # Drop this query's persisted intermediates (e.g. minhash
        # signature caches) before the next one: operators persist by
        # design and re-built plans re-hit the CacheManager by plan
        # equality, so without this the cache grows monotonically all
        # run and tail queries pay the GC pressure (r3 measured uniform
        # ~1.2× drift on unchanged queries late in the run).
        spark.catalog.clearCache()

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
        out["bench_wall_sec"] = round(time.time() - t_start, 1)
        phase("headline-only mode: done")
        print(json.dumps(out))
        return

    # reference-throughput comparison: the reference sustains ≤700 chat
    # msg-parses/s (BASELINE.md); measure our parse stage on the same
    # 100-message golden payload when available. Measured HERE — before
    # the extended/stretch marathon and after a cache clear — because
    # tail-of-run JVM pressure was costing 2-3× on this number, and it
    # is the one directly baseline-comparable metric.
    fixture = os.environ.get(
        "REFERENCE_CHAT_FIXTURE",
        "/root/reference/test/scrapers/fixtures/chat_help.html",
    )
    spark.catalog.clearCache()
    if os.path.exists(fixture):
        from datetime import datetime

        from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows

        with open(fixture, "rb") as f:
            body = f.read()
        t0 = datetime(2022, 4, 17, 23, 59, 59)
        rows = [("chat", f"r{i}", t0, 200, body) for i in range(700)]
        pdf = spark.createDataFrame(
            rows, "source string, key string, fetch_ts timestamp, status int, body binary"
        ).repartition(32)
        parsed_rows(parse_payloads(pdf, "chat")).count()  # warm
        t1 = time.time()
        n = parsed_rows(parse_payloads(pdf, "chat")).count()
        out["parse_msgs_per_sec"] = round(n / (time.time() - t1))
    else:
        # null, not absent: a missing fixture must show in the artifact
        out["parse_msgs_per_sec"] = None
        print(f"parse_msgs_per_sec: no fixture at {fixture}", file=sys.stderr)

    phase("parse throughput done; extended block start")
    extended = {}
    # `extended_total_sec` mixes inherited rows with each round's new
    # additions, so round-over-round totals were not comparable
    # (r16→r17 read as a 45% regression until ~57 s of new rows was
    # subtracted by hand). The JSON also publishes
    # `extended_total_inherited_sec` (rows PREVIOUS_BENCH timed —
    # directly diffable) and `extended_total_new_sec`.
    EXTENDED_NEW_THIS_ROUND = _new_extended_rows()
    for name in EXTENDED:
        run(name)  # warm: compile + cache effects paid here
        # ONE timed steady pass (the headline block keeps min-of-2;
        # the extended list is 58 entries and 3 passes each pushed the
        # bench wall past the driver's window as of r10)
        t0 = time.time()
        run(name)
        extended[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()  # same cross-query isolation as headline
    out["extended_queries"] = extended
    out["extended_total_sec"] = round(sum(extended.values()), 3)
    out["extended_total_inherited_sec"] = round(
        sum(v for k, v in extended.items()
            if k not in EXTENDED_NEW_THIS_ROUND), 3
    )
    out["extended_total_new_sec"] = round(
        sum(v for k, v in extended.items()
            if k in EXTENDED_NEW_THIS_ROUND), 3
    )

    # sf1 robustness stretch: a deterministic 10× synthesis of the sf0.1
    # corpus proving the scale guards hold an order of magnitude up:
    # banded LSH verify, shared-shingle+length-band Jaccard, and
    # semantic dedup with the secondary-LSH skew guard ACTUALLY ENGAGED
    # (max_cluster_size well below the 10× cluster sizes). Replica
    # tokens are k-perturbed so the near-dup DENSITY stays realistic
    # (≈2% of docs form planted 10-member families; the rest are
    # mutually distant) — a corpus that is 90% duplicates would measure
    # quadratic verify cost, not 10× scale.
    if os.environ.get("SPARK_GRAFT_SF1_STRETCH", "1") == "1":
        from pyspark.sql import functions as F

        from farmrpg_etl_spark.operators import dedup as D
        from farmrpg_etl_spark.operators import similarity as S
        from farmrpg_etl_spark.sources.tables import load_table

        phase("extended done; sf1 synthesis start")
        stretch_dir = "/tmp/farmrpg_sf1_synth"
        # deterministic synthesis: same code + same input dir → same
        # bytes, so a completed synthesis is reusable across bench runs
        # on one machine. The marker encodes the recipe version AND the
        # resolved input dir — bump the version when the synthesis logic
        # changes; a different SPARK_GRAFT_SF_DIR re-synthesizes instead
        # of silently reusing a corpus built from another scale factor.
        _dir_tag = hashlib.md5(
            os.path.realpath(sf_dir).encode()
        ).hexdigest()[:10]
        _synth_marker = os.path.join(stretch_dir, f"_SYNTH_OK_v3_{_dir_tag}")
        _synth_needed = not os.path.exists(_synth_marker)
        if _synth_needed:
            k = F.explode(F.array(*[F.lit(i) for i in range(10)])).alias("k")
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text", "source", k
            )
            kstr = F.col("k").cast("string")
            docs10 = docs.select(
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
            )
            # 64 files: scan parallelism at any maxPartitionBytes (on a real
            # cluster the ingest layout provides this; a synthesized
            # single-file corpus would serialize every downstream scan)
            docs10.repartition(64).write.mode("overwrite").parquet(
                f"{stretch_dir}/documents.parquet"
            )
            emb = load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding", "label", k
            )
            emb10 = emb.select(
                (F.col("vec_id") + F.col("k") * 1_000_000).alias("vec_id"),
                F.transform(
                    F.col("embedding"),
                    lambda x, i: x + (F.col("k") * 0.001) * F.when(i == 0, 1.0).otherwise(0.0),
                ).alias("embedding"),
                "label",
            )
            emb10.repartition(64).write.mode("overwrite").parquet(
                f"{stretch_dir}/embeddings.parquet"
            )
            # Relational tables at 10×: consistent 10-universe replication —
            # every key/FK column gets the SAME per-replica offset, so joins
            # stay within a universe (zero cross-replica fan-out), row
            # counts scale exactly 10×, and name-keyed group-bys collapse
            # the universes back to the same output rows with 10× sums.
            # Offsets: int32 FK columns (nation/region keys, values < 100)
            # shift by k·1000; bigint keys by k·10⁹ (long math — k is cast
            # first so ANSI mode cannot overflow an int intermediate).
            # write proper micros timestamps (the default INT96 reads back
            # as timestamp[ns] through pyarrow and confuses nano detection)
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
            INT_OFF = 1000
            BIG_OFF = 1_000_000_000
            SF1_KEYS = {
                "region": {"r_regionkey": INT_OFF},
                "nation": {"n_nationkey": INT_OFF, "n_regionkey": INT_OFF},
                "customer": {"c_custkey": BIG_OFF, "c_nationkey": INT_OFF},
                "supplier": {"s_suppkey": BIG_OFF, "s_nationkey": INT_OFF},
                "part": {"p_partkey": BIG_OFF},
                "orders": {"o_orderkey": BIG_OFF, "o_custkey": BIG_OFF},
                "lineitem": {
                    "l_orderkey": BIG_OFF,
                    "l_partkey": BIG_OFF,
                    "l_suppkey": BIG_OFF,
                },
                "events": {"event_id": BIG_OFF, "user_id": BIG_OFF},
            }
            for tbl, keys in SF1_KEYS.items():
                t = load_table(spark, sf_dir, tbl)
                shifted = [
                    (
                        (
                            F.col(c)
                            + F.col("k").cast("long" if off == BIG_OFF else "int")
                            * F.lit(off)
                        ).alias(c)
                        if c in keys
                        else F.col(c)
                    )
                    for c, off in ((c, keys.get(c)) for c in t.columns)
                ]
                nfiles = 64 if tbl in ("lineitem", "orders", "events") else 4
                t.select(*t.columns, k).select(*shifted).repartition(
                    nfiles
                ).write.mode("overwrite").parquet(f"{stretch_dir}/{tbl}.parquet")

            with open(_synth_marker, "w") as f:
                f.write("ok")
            phase("sf1 synthesis done")
        else:
            phase("sf1 synthesis skipped (marker present)")

        def stretch_minhash():
            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            return D.minhash_lsh_pairs(
                d, "text", "doc_id", num_hashes=16, bands=4, threshold=0.3, shingle_k=3
            )

        def stretch_jaccard():
            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            return D.ngram_jaccard_pairs(
                d.withColumn("lang", F.lit("en")), "text", "doc_id", "lang",
                shingle_k=3, threshold=0.5,
            )

        def stretch_semdedup(impl="arrow"):
            # A/B of the pair-scoring impls at 10×: "arrow" generates
            # candidates with a per-group numpy matmul + exact fold
            # rescore, "catalyst" is the pure fold self-join. Outputs
            # identical (guard-banded candidate superset contract).
            def fn():
                e = spark.read.parquet(f"{stretch_dir}/embeddings.parquet")
                clustered = e.select(
                    "vec_id", "embedding", F.col("label").alias("cluster")
                )
                return S.semantic_dedup(
                    clustered, "embedding", "vec_id", "cluster", threshold=0.25,
                    max_cluster_size=500, split_dim=64, split_planes=2,
                    impl=impl,
                )
            return fn

        def stretch_dup_span():
            # the heaviest new shuffle — ~24 B/token of (id, pos, md5)
            # — at 10× corpus: direct evidence the ExactSubstr span
            # operator's cost stays linear in corpus tokens. The
            # dup_tok > 0 filter is load-bearing for the MEASUREMENT:
            # a bare count() of the unfiltered output lets Catalyst
            # eliminate the outer join (unique right keys preserve
            # cardinality) and prune the whole dup-detection subtree,
            # timing only the scan (measured 0.46 s vs ~8 s real).
            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            return D.duplicated_spans(d, "text", "doc_id", k=8).filter(
                F.col("dup_tok") > 0
            )

        def stretch_cut_dup_span():
            # span CUTTING at 10×: the detect path's shuffle plus the
            # dense-position coverage window and per-doc reassembly —
            # the r5 shape with no measured 10× point until now. The
            # kept_tok < n_tok filter plays the same
            # anti-plan-elision role as dup_tok > 0 above.
            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            return D.cut_duplicated_spans(d, "text", "doc_id", k=8).filter(
                F.col("kept_tok") < F.col("n_tok")
            )

        def stretch_bpe_merges():
            # iterative BPE training at 10×: vocab-first reduction means
            # the per-round cost is driven by VOCAB size (Heaps-law
            # sublinear in corpus tokens), so 10× corpus should be far
            # under 10× time — this row is the direct measurement.
            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            from farmrpg_etl_spark.operators.curation import bpe_merges
            return bpe_merges(d, "text", n_merges=3)

        def stretch_pq_rerank():
            # PQ shortlist+rescore at 10× corpus: the ADC scan is the
            # scale-bearing stage (2-byte codes map-side vs broadcast
            # dtables); exact math stays bounded at queries×shortlist
            # regardless of corpus size, so time should grow ~linearly
            # with the code-relation scan alone.
            e = spark.read.parquet(f"{stretch_dir}/embeddings.parquet")
            qb = e.filter(F.col("vec_id") < 10)
            return S.pq_adc_rerank_topk(
                e, qb, "embedding", "vec_id", k=5, m=8, ks=16, shortlist=200
            )

        def stretch_pipeline_v2():
            # the full chunk→embed→pool→celled-dedup→decontaminate
            # composition on the 10× corpus: the per-doc stages are
            # map-side so cost should track corpus size; the dedup
            # self-join is bounded by the LSH cells.
            from farmrpg_etl_spark.queries import QUERIES as _Q
            return _Q["training_data_pipeline_v2"](spark, stretch_dir)

        def stretch_heavy_hitters():
            from farmrpg_etl_spark.functions import hashing as H
            from farmrpg_etl_spark.operators.heavyhitters import heavy_hitters

            d = spark.read.parquet(f"{stretch_dir}/documents.parquet")
            # the k-mutation (deliberately) fragments the vocabulary, so
            # the organic corpus has no 1/200-heavy token; plant three
            # per-document hitters HERE (not in the corpus files — an
            # every-document shingle would quadratically poison the
            # Jaccard stretch) so recall is observable, not vacuous
            toks = d.select(
                F.explode(
                    H.words(F.concat(F.col("text"), F.lit(" hh0 hh1 hh2")))
                ).alias("tok")
            )
            return heavy_hitters(toks, "tok", k=200)

        def stretch_line_dedup():
            # line-level dedup at 10×: the frequency partial-agg on the
            # line key, the broadcast anti-join against the boilerplate
            # set, and per-doc reassembly. The k-mutated replicas
            # fragment most lines, so the frequent set stays small and
            # realistic. The n_kept < n_lines filter forces the dedup
            # subtree (same anti-plan-elision rule as dup_span_10x: a
            # bare count() of a unique-right-key left join lets
            # Catalyst prune the whole computation).
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["line_dedup_docs"](spark, stretch_dir).filter(
                F.col("n_kept") < F.col("n_lines")
            )

        def stretch_funnel():
            # 3-step funnel at 10× events (consistent universe
            # replication keeps funnels within-universe). The
            # steps_completed >= 2 filter forces the step joins — a
            # bare count() of the frontier left-joins lets Catalyst
            # elide steps 2-3 entirely (unique-key left joins preserve
            # cardinality) and time only the step-1 aggregation.
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["funnel_events"](spark, stretch_dir).filter(
                F.col("steps_completed") >= 2
            )

        def stretch_c4_filter():
            # C4/Gopher page-filter bundle at 10× docs: zero shuffles,
            # zero UDFs — the "runs at scan speed" claim as a measured
            # point. Filtering on keep_gopher forces the full signal
            # expression tree (a bare count() would let Catalyst prune
            # every signal column and time an empty scan).
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["c4_fineweb_filter_docs"](spark, stretch_dir).filter(
                ~F.col("keep_gopher") | ~F.col("keep_c4")
            )

        def stretch_pagerank():
            # 5-round PageRank at 10× nodes/edges: per-round cost is
            # one dst-keyed shuffle over a fixed-out-degree edge list,
            # so time should scale ~linearly with the node count; the
            # eager per-round checkpoints are inside the timed call.
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["pagerank_docs"](spark, stretch_dir)

        def stretch_linkage():
            # entity resolution at 10× customers: block sizes stay
            # bounded (md5-tail blocks), the Levenshtein verify is
            # per-block quadratic but block-capped, and the closure
            # rounds are O(star diameter)=1 — time should track the
            # blocked-pair count, not customers².
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["record_linkage_customer"](spark, stretch_dir)

        def stretch_ann(impl):
            # A/B of the two ann_topk_bruteforce impls at 10× corpus —
            # the scale regime where the arrow prune+rescore kernel is
            # supposed to win (at 1× the 2000-row corpus is fixed-cost
            # dominated and the impls tie). Outputs are bit-identical
            # (veckernel contract); only the physical plan differs.
            def fn():
                b = spark.read.parquet(f"{stretch_dir}/embeddings.parquet")
                qb = b.filter(F.col("vec_id") < 10)
                return S.ann_topk_bruteforce(
                    b, qb, "embedding", "vec_id", k=5, impl=impl
                )
            return fn

        def stretch_kn5_filter():
            # the order-5 KN family's 10× point (r13 verdict #4): LM
            # training IS the cost — one corpus shuffle into top-order
            # counts + LM-sized suffix re-aggregations — so this times
            # the one-corpus-shuffle claim, not just scoring. The row
            # function materializes and releases its own tables.
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["kn5_ppl_filter_docs"](spark, stretch_dir)

        def stretch_ccnet_per_lang():
            # per-language CCNet at 10× (r14 verdict #9): N languages
            # are claimed to cost ONE model's shuffle schedule (counts
            # key on (lang, ctx, w); every lower level is an LM-sized
            # re-aggregation) — this point, against kn5_filter_10x's
            # single-model cost on the same corpus, is the direct
            # measurement of that claim.
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["ccnet_per_lang_filter_docs"](spark, stretch_dir)

        def stretch_token_id_packs():
            # the full tokenizer loop at 10×: BPE vocab (Heaps-
            # sublinear), per-vocab-entry segmentation + id join,
            # schedule cumsum and per-pack regroup over the 10× id
            # stream — the claim is the vocab-amortized encode, so the
            # slope should sit well under linear
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["token_id_packs_docs"](spark, stretch_dir)

        def stretch_hashed_logit():
            # K=10 exact-integer GD passes over the 10× hashed feature
            # leaf: the weight relation stays ≤4096 rows regardless of
            # corpus size, so the slope measures the K corpus scans +
            # bucket aggregates alone
            from farmrpg_etl_spark.queries import QUERIES as _Q

            return _Q["logit_train_hashed_docs"](spark, stretch_dir)

        phase("sf1 stretch start")
        stretch = {}
        for name, fn in [
            ("minhash_lsh_pairs_10x", stretch_minhash),
            ("ngram_jaccard_10x", stretch_jaccard),
            ("semantic_dedup_guarded_10x", stretch_semdedup("arrow")),
            ("semantic_dedup_10x_catalyst", stretch_semdedup("catalyst")),
            ("heavy_hitters_10x", stretch_heavy_hitters),
            ("dup_span_10x", stretch_dup_span),
            ("cut_dup_span_10x", stretch_cut_dup_span),
            ("bpe_merges_10x", stretch_bpe_merges),
            ("pq_rerank_10x", stretch_pq_rerank),
            ("pipeline_v2_10x", stretch_pipeline_v2),
            ("line_dedup_10x", stretch_line_dedup),
            ("funnel_10x", stretch_funnel),
            ("c4_filter_10x", stretch_c4_filter),
            ("pagerank_10x", stretch_pagerank),
            ("record_linkage_10x", stretch_linkage),
            ("kn5_filter_10x", stretch_kn5_filter),
            ("ccnet_per_lang_10x", stretch_ccnet_per_lang),
            ("ann_bruteforce_10x_arrow", stretch_ann("arrow")),
            ("ann_bruteforce_10x_catalyst", stretch_ann("catalyst")),
            ("token_id_packs_10x", stretch_token_id_packs),
            ("hashed_logit_train_10x", stretch_hashed_logit),
        ]:
            # same methodology as the headline set: report steady-state
            # (min-of-2 after a cold warm-up run) — a single cold run
            # was swinging 2-3× with codegen/JIT state (r3 vs r4 runs
            # of IDENTICAL operator code measured 3.8 s vs 9.5 s) —
            # and keep the cold time visible alongside.
            t0 = time.time()
            n = fn().count()
            cold_sec = round(time.time() - t0, 3)
            steady = []
            for _ in range(2):
                t0 = time.time()
                fn().count()
                steady.append(time.time() - t0)
            stretch[name] = {
                # best-of-ALL-runs, cold included (r14 verdict #7): rows
                # built on localCheckpoint leaves re-train fresh leaves
                # on every invocation, so a "steady" pass is another
                # full honest run that can overlap the previous pass's
                # shuffle-file GC and come out SLOWER than cold
                # (kn5_filter_100x: 106.7 s steady vs 91.3 s cold).
                # Reporting min-over-three keeps sec <= cold_sec by
                # construction while staying an honestly-recomputed
                # number; cold_sec stays visible for the compile cost.
                "sec": round(min(steady + [cold_sec]), 3),
                "cold_sec": cold_sec,
                "rows": n,
            }
            spark.catalog.clearCache()
            # free this row's localCheckpoint blocks (JVM GC of the
            # unreferenced DataFrames — clearCache() doesn't touch
            # them; see the 100× loop's note)
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        # AQE-runtime-skew-split vs manual salt, A/B on a PLANTED
        # power-law key at 10×: half the fact rows share key 0, the
        # rest spread over 999 keys — the shape where a plain shuffle
        # join pins one straggler task. Broadcast is disabled (the dim
        # fits in memory here; at 100 TB the interesting dims don't)
        # so both variants pay the shuffle, and the ONLY difference is
        # who breaks the hot partition: AQE's post-shuffle split
        # (skewedPartitionThresholdInBytes lowered to fire at this
        # scale) or salted_join's 16-way pre-shuffle spread. Outputs
        # are asserted identical; the executed plan is grepped for the
        # skew=true marker so "AQE handled it" is a recorded fact, not
        # an assumption. docs/SCALE.md "Skew strategy A/B" discusses
        # the crossover.
        from farmrpg_etl_spark.operators import joins as J_ops

        def run_skew(mode):
            ev = spark.read.parquet(f"{stretch_dir}/events.parquet")
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
            return j.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.floor(F.col("value") * F.col("w"))).alias("s"),
            )

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
        phase("skew join A/B start")
        _all_keys = sorted({k2 for v in _SKEW_CONFS.values() for k2 in v})
        _saved_confs = {}
        for k2 in _all_keys:
            try:
                _saved_confs[k2] = spark.conf.get(k2)
            except Exception:
                _saved_confs[k2] = None
        _skew_rows = {}
        try:
            for mode in ("aqe", "salted"):
                # reset EVERY A/B key to its saved baseline first, so a
                # mode never inherits the other mode's overrides (the
                # aqe-only advisory/threshold keys would otherwise leak
                # into the salted measurement)
                for k2 in _all_keys:
                    if _saved_confs[k2] is None:
                        try:
                            spark.conf.unset(k2)
                        except Exception:
                            pass
                    else:
                        spark.conf.set(k2, _saved_confs[k2])
                for k2, v2 in _SKEW_CONFS[mode].items():
                    spark.conf.set(k2, v2)
                t0 = time.time()
                df = run_skew(mode)
                row = df.collect()[0]
                cold_sec = round(time.time() - t0, 3)
                plan = df._jdf.queryExecution().executedPlan().toString()
                steady = []
                for _ in range(2):
                    t0 = time.time()
                    run_skew(mode).collect()
                    steady.append(time.time() - t0)
                _skew_rows[mode] = (row["n"], row["s"])
                stretch[f"skew_join_{mode}_10x"] = {
                    "sec": round(min(steady), 3),
                    "cold_sec": cold_sec,
                    "rows": row["n"],
                    "skew_split_in_plan": "skew=true" in plan.lower(),
                }
                spark.catalog.clearCache()
        finally:
            for k2, v2 in _saved_confs.items():
                if v2 is None:
                    spark.conf.unset(k2)
                else:
                    spark.conf.set(k2, v2)
        # salting is a physical strategy, not a semantic one
        assert _skew_rows["aqe"] == _skew_rows["salted"], _skew_rows

        out["sf1_stretch"] = stretch

        # 100× stretch (r12 verdict #10): a measured second point on
        # the scaling curve for the four pivotal families — line
        # dedup, MinHash-LSH, the C4/Gopher gate, PageRank — so the
        # "sublinear/linear at scale" claims rest on a 1×/10×/100×
        # CURVE, not a single ratio. Synthesis mirrors the sf1 recipe
        # with k ∈ 0..99 (same planted-family density: doc_id%50
        # replicas are near-dup families of 100, the rest k-perturbed
        # mutually-distant text). Gated behind an env var because the
        # synthesis + runs add minutes the per-round driver window
        # doesn't have — run explicitly, committed in BENCH_LOCAL
        # detail and the docs/SCALE.md curve table.
        if os.environ.get("SPARK_GRAFT_STRETCH_100X", "0") == "1":
            dir100 = "/tmp/farmrpg_sf10_synth"
            m100 = os.path.join(dir100, f"_SYNTH_OK_v2_{_dir_tag}")
            if not os.path.exists(m100):
                phase("sf10 (100x) synthesis start")
                k = F.explode(F.sequence(F.lit(0), F.lit(99))).alias("k")
                docs = load_table(spark, sf_dir, "documents").select(
                    "doc_id", "text", "source", k
                )
                kstr = F.col("k").cast("string")
                docs100 = docs.select(
                    (F.col("doc_id") + F.col("k") * 1_000_000).alias(
                        "doc_id"
                    ),
                    F.when(F.col("k") == 0, F.col("text"))
                    .when(
                        F.col("doc_id") % 50 == 0,
                        F.concat(F.col("text"), F.lit(" replica "), kstr),
                    )
                    .otherwise(
                        F.replace(
                            F.col("text"), F.lit(" "),
                            F.concat(F.lit(" "), kstr),
                        )
                    )
                    .alias("text"),
                    F.col("source"),
                )
                docs100.repartition(64).write.mode("overwrite").parquet(
                    f"{dir100}/documents.parquet"
                )
                # customer at 100×, same consistent universe replication
                # as the 10× relational synthesis (record_linkage_100x):
                # c_custkey shifts by k·10⁹ so the planted typo variants
                # (+1,000,000 inside each universe) never collide across
                # universes and clusters stay within a universe
                cust = load_table(spark, sf_dir, "customer").select(
                    "*", k
                )
                shifted = [
                    (
                        (F.col(c) + F.col("k").cast("long") * F.lit(1_000_000_000)).alias(c)
                        if c == "c_custkey"
                        else F.col(c)
                    )
                    for c in load_table(spark, sf_dir, "customer").columns
                ]
                cust.select(*shifted).repartition(16).write.mode(
                    "overwrite"
                ).parquet(f"{dir100}/customer.parquet")
                with open(m100, "w") as fh:
                    fh.write("ok")
            phase("sf10 (100x) stretch start")
            from farmrpg_etl_spark.queries import QUERIES as _Q

            def s100_minhash():
                d = spark.read.parquet(f"{dir100}/documents.parquet")
                return D.minhash_lsh_pairs(
                    d, "text", "doc_id", num_hashes=16, bands=4,
                    threshold=0.3, shingle_k=3,
                )

            # r15 verdict #2: stretch points for the flagship
            # compositions. BOTH their 10x and 100x runs live in THIS
            # gated block (not the per-round sf1 list): v7/v8 embed
            # the complete per-language KN training — minutes per run
            # at sf1 — which the per-round driver window doesn't have.
            # v7's filter forces the audit columns (a bare count() of
            # the unique-key joins would let Catalyst elide them);
            # v8's forces the DSIR score columns (the top-50 count
            # alone would be 50 regardless of values).
            def s_v7(d):
                return lambda: _Q["training_data_pipeline_v7"](
                    spark, d
                ).filter(
                    (F.col("n_contaminated") > 0)
                    | (F.col("lang") != "xx")
                    | (F.col("out_digest") > "")
                )

            def s_v8(d):
                return lambda: _Q["training_data_pipeline_v8"](
                    spark, d
                ).filter(
                    (F.col("logw") != 0.0) | (F.col("bucket") != "")
                )

            hundred = {
                "pipeline_v7_10x": s_v7(stretch_dir),
                "pipeline_v8_10x": s_v8(stretch_dir),
                "pipeline_v7_100x": s_v7(dir100),
                "pipeline_v8_100x": s_v8(dir100),
                "line_dedup_100x": lambda: _Q["line_dedup_docs"](
                    spark, dir100
                ).filter(F.col("n_kept") < F.col("n_lines")),
                "minhash_lsh_pairs_100x": s100_minhash,
                "c4_filter_100x": lambda: _Q["c4_fineweb_filter_docs"](
                    spark, dir100
                ).filter(~F.col("keep_gopher") | ~F.col("keep_c4")),
                "pagerank_100x": lambda: _Q["pagerank_docs"](spark, dir100),
                # r13 verdict #4/#8: the KN-5 family and the
                # compositions a 100 TB run actually executes
                "kn5_filter_100x": lambda: _Q["kn5_ppl_filter_docs"](
                    spark, dir100
                ),
                # r14 verdict #9: the per-language construction's
                # "N languages cost one model's shuffle schedule"
                # claim, measured at 100× against kn5_filter_100x
                "ccnet_per_lang_100x": lambda: _Q[
                    "ccnet_per_lang_filter_docs"
                ](spark, dir100),
                "record_linkage_100x": lambda: _Q["record_linkage_customer"](
                    spark, dir100
                ),
                # r16 addition: the trained classifier. The K
                # gradient rounds run EAGERLY inside fn() (per-round
                # reliable checkpoints), so the timed window captures
                # the full training cost; the counted relation is just
                # the 4-row weight trajectory.
                "logit_train_10x": lambda: _Q["logit_train_docs"](
                    spark, stretch_dir
                ),
                "logit_train_100x": lambda: _Q["logit_train_docs"](
                    spark, dir100
                ),
            }
            s100 = {}
            for name, fn in hundred.items():
                t0 = time.time()
                n = fn().count()
                cold_sec = round(time.time() - t0, 3)
                steady = []
                for _ in range(2):
                    t0 = time.time()
                    fn().count()
                    steady.append(time.time() - t0)
                s100[name] = {
                    # best-of-all-runs incl. cold — same rationale as
                    # the 10× block (localCheckpoint-leaf rows honestly
                    # recompute per pass and can overlap GC)
                    "sec": round(min(steady + [cold_sec]), 3),
                    "cold_sec": cold_sec,
                    "rows": n,
                }
                spark.catalog.clearCache()
                # release this row's localCheckpoint blocks before the
                # next row plans: checkpoint RDD blocks are freed on
                # JVM GC of the unreferenced DataFrame, not by
                # clearCache(), and the v7/v8 100× rows each pin a
                # full-corpus-with-text interior — three rows of those
                # blocks piling up OOMed an 8g heap on the row AFTER
                # them (kn5_filter_100x, r16 first stretch run).
                import gc as _gc

                _gc.collect()
                spark.sparkContext._jvm.System.gc()
                phase(f"100x row done: {name} "
                      f"{s100[name]['sec']}s (cold {cold_sec}s)")
            out["sf10_stretch"] = s100
            phase("sf10 (100x) stretch done")

        # Full-headline sf1: the 12 headline queries on the 10×
        # relational synthesis — direct linear-scaling evidence for the
        # relational core (acceptance: no query superlinear vs its
        # sf0.1 time by more than ~12×). Same methodology: cold run,
        # then min-of-2 steady-state, cache cleared between queries.
        phase("sf1 full-headline start")
        sf1h = {}
        for name in HEADLINE:
            t0 = time.time()
            QUERIES[name](spark, stretch_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            cold_sec = round(time.time() - t0, 3)
            steady = []
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, stretch_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                steady.append(time.time() - t0)
            sf1h[name] = round(min(steady), 3)
            spark.catalog.clearCache()
        out["sf1_headline"] = sf1h
        out["sf1_headline_total_sec"] = round(sum(sf1h.values()), 3)

    # End-of-marathon SECOND headline pass (r12 verdict #6 — bench
    # defense): the artifact's headline becomes the element-wise min
    # of two passes measured ~10 minutes apart, so transient host
    # contention (the r11 11.68 s incident) must strike the same query
    # in BOTH windows to inflate the number. Pass 2 uses the identical
    # methodology: one re-warm run, min-of-2 steady, cache cleared
    # between queries. Both raw passes stay in the detail artifact so
    # a divergence is auditable.
    phase("headline pass 2 start")
    spark.catalog.clearCache()
    pass2: dict[str, float] = {}
    for name in HEADLINE:
        run(name)  # re-warm this plan's codegen after the marathon
        steady = []
        for _ in range(2):
            t0 = time.time()
            run(name)
            steady.append(time.time() - t0)
        pass2[name] = round(min(steady), 3)
        spark.catalog.clearCache()
    out["headline_pass1"] = dict(times)
    out["headline_pass2"] = pass2
    merged = {n: round(min(times[n], pass2[n]), 3) for n in times}
    out["queries"] = merged
    out["value"] = round(sum(merged.values()), 3)

    # sf1-headline SECOND pass (r16 verdict #4 — the sf1 blocks get
    # the same two-window contention defense the headline got in r12:
    # the r16 14.97→24.35 s read on byte-identical plans was ambient,
    # but only a pass-2 min makes that provable per artifact). The
    # published sf1_headline / sf1_headline_total_sec become the
    # element-wise min of the two passes; both raw passes stay in the
    # detail artifact so a divergence is auditable.
    if "sf1_headline" in out:
        phase("sf1 headline pass 2 start")
        stretch_dir = "/tmp/farmrpg_sf1_synth"
        spark.catalog.clearCache()
        sf1p2: dict[str, float] = {}
        for name in HEADLINE:
            QUERIES[name](spark, stretch_dir).write.format("noop").mode(
                "overwrite"
            ).save()  # re-warm after the marathon
            steady = []
            for _ in range(2):
                t0 = time.time()
                QUERIES[name](spark, stretch_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                steady.append(time.time() - t0)
            sf1p2[name] = round(min(steady), 3)
            spark.catalog.clearCache()
        out["sf1_headline_pass1"] = dict(out["sf1_headline"])
        out["sf1_headline_pass2"] = sf1p2
        sf1m = {
            n: round(min(out["sf1_headline"][n], sf1p2[n]), 3)
            for n in out["sf1_headline"]
        }
        out["sf1_headline"] = sf1m
        out["sf1_headline_total_sec"] = round(sum(sf1m.values()), 3)

    out["bench_wall_sec"] = round(time.time() - t_start, 1)
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
    _here = os.path.dirname(os.path.abspath(__file__))
    detail_name = "BENCH_DETAIL.json"
    if os.environ.get("SPARK_GRAFT_COMMIT_DETAIL", "0") == "1":
        detail_name = "BENCH_LOCAL.json"
    try:
        with open(os.path.join(_here, detail_name), "w") as f:
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
