"""Deduplication operators.

Reference forms (SURVEY.md §2.4): D2 bounded seen-cache → keyed
dedup; D3 unique-index insert dedup → keep-one-per-key.

LLM-pipeline forms (north star): exact content dedup, MinHash+LSH,
SimHash, n-gram Jaccard — all built on the portable md5 primitives in
``farmrpg_etl_spark.functions.hashing`` so every step is
whole-stage-codegen'd and reproducible across engines.

Scale notes (100 TB):
* exact dedup = groupBy(digest) — one shuffle on a uniform hash key,
  no skew by construction.
* minhash: signature computation is embarrassingly parallel
  (per-row); the LSH bucket join shuffles on (band_key) which is
  uniform; candidate verification joins only the *fixed-width
  signatures* (num_hashes × 32-char strings), never the
  document-sized shingle arrays — candidate pairs are a tiny
  fraction of the corpus and the verify payload is O(num_hashes)
  per row regardless of document length.
* n-gram Jaccard blocking composes the caller's block with a
  length band, so a skewed block (e.g. 80%-English `lang`) cannot
  degenerate to |block|² pairs.
* never collect(); candidate pair sets remain DataFrames.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from farmrpg_etl_spark.functions import hashing as H


def keep_first_per_key(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: Sequence[str] = ()
) -> DataFrame:
    """D2/D3 batch form — deterministic keep-one-per-key (earliest by
    ``order_col``; reference relies on a unique index + swallowed
    violation, db/chat.py:13-19). Unlike dropDuplicates this is
    deterministic under retries/reordering."""
    ordering = [F.col(order_col).asc()] + [F.col(t).asc() for t in tiebreak]
    w = Window.partitionBy(*keys).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup: md5 digest groupBy, keep min id per digest.

    Returns the surviving rows (one per distinct content)."""
    digest = F.md5(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ").cast("binary"))
    with_digest = df.withColumn("__digest", digest)
    keep = with_digest.groupBy("__digest").agg(F.min(F.col(id_col)).alias(id_col))
    return (
        with_digest.join(keep, on=["__digest", id_col], how="inner")
        .drop("__digest")
        .select(*df.columns)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature → (id, sig: array<long>).

    Relational formulation: explode shingles → project the two md5
    words → ``groupBy(id).agg(min(h_i) …)``. One md5 per shingle seeds
    all ``num_hashes`` affine families; empty shingle sets yield the
    sentinel 2^31 (above every hash value). Every expression is a plain
    projection/aggregate — whole-stage codegen'd, with map-side partial
    mins, so the shuffle carries only ``num_hashes`` longs per document.
    ~10× faster than a single-pass ``aggregate``/``zip_with`` fold over
    the shingle array (interpreted higher-order functions), and the
    plan scales: explode parallelism is row-wise, the aggregation is
    partial-aggregatable.
    """
    sh = df.select(
        F.col(id_col),
        F.explode_outer(H.shingles(F.col(text_col), shingle_k)).alias("__g"),
    )
    h = F.md5(F.col("__g").cast("binary"))
    proj = sh.select(
        F.col(id_col),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__x1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__x2"),
    )
    mins = []
    for i in range(num_hashes):
        a, b, c = H._family(i)
        expr = (F.lit(a) * F.col("__x1") + F.lit(b) * F.col("__x2") + F.lit(c)) % F.lit(
            H._MOD
        )
        mins.append(F.min(expr).alias(f"__h{i}"))
    agg = proj.groupBy(id_col).agg(*mins)
    sig = F.array(
        *[F.coalesce(F.col(f"__h{i}"), F.lit(H._MOD).cast("long")) for i in range(num_hashes)]
    )
    return agg.select(F.col(id_col), sig.alias("sig"))


def lsh_buckets(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode signatures into (band_id, band_key, id, sig) bucket rows.

    The fixed-width signature rides along so the verification step
    needs no join back to the (document-sized) corpus."""
    keys = H.lsh_band_keys(F.col("sig"), bands, rows_per_band)
    return sigs.select(
        F.col(id_col),
        F.col("sig"),
        F.posexplode(keys).alias("band_id", "band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    shingle → minhash → band → bucket self-join (candidates) →
    verification. Output: (id_a, id_b, jaccard) with id_a < id_b,
    distinct.

    Verification is the *signature-overlap estimate*: the signatures
    are already in the bucket rows, fixed-width, so no document-sized
    payload is ever shuffled (the 100 TB path).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    # Cache signatures before the self-join: both join sides and every
    # band key would otherwise re-derive the minhash from the raw text
    # (two extra corpus scans at 100 TB). The persist is LAZY — the
    # first action populates the cache and both self-join sides read
    # the same InMemoryRelation; an eager count() barrier here costs a
    # whole extra job (measured +60 % on the sf0.1 bench, r3) and buys
    # nothing, since the cache is per-partition and populated on first
    # touch either way. Signatures are fixed-width (num_hashes longs),
    # so cache footprint is tiny vs the corpus.
    sigs = sigs.persist()
    buckets = lsh_buckets(sigs, id_col, bands, rows_per_band)
    a = buckets.alias("a")
    b = buckets.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    # The estimate is computed per band collision BEFORE the pair
    # dedup (r17): a signature pair always yields the same
    # estimate, so values are unchanged, but the distinct then
    # aggregates three scalars instead of carrying the signature
    # ARRAYS — array grouping state forced a SortAggregate (sort +
    # sort-merge per side); on scalars it is a plain HashAggregate.
    # Measured 2.1-2.9 s -> 0.8-1.3 s for the headline row at
    # sf0.1; the extra estimates per duplicate collision are 16
    # long compares each, noise next to the sorts they replace.
    pairs = joined.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.round(
            H.minhash_jaccard_estimate(
                F.col("a.sig"), F.col("b.sig"), num_hashes
            ),
            6,
        ).alias("jaccard"),
    ).dropDuplicates(["id_a", "id_b"])
    return pairs.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) 64-bit fingerprints as 16-char hex strings;
    identical fingerprints are near-duplicate candidates (group or
    self-join on the value); Hamming-close fingerprints via
    ``functions.hashing.hamming_hex`` after a band join.

    Bit b is set iff a strict majority of the document's tokens have
    bit b set in their md5. Relational formulation: explode tokens →
    per nibble, map the md5 hex digit
    through a 16-entry literal table to a LONG packing its 4 bit
    values into 16-bit lanes → 16 packed sums (+ token count) per
    document → unpack lane counts, majority-vote each bit, emit hex.
    All codegen'd; the shuffle carries 17 longs per document and the
    per-row work is 16 lookups instead of 64 floor/mod bit extracts
    (~2× less projection CPU than the one-column-per-bit form).

    Lane counts are 16-bit: documents beyond 65,535 tokens would
    overflow a lane — token-cap upstream (curation pipelines chunk or
    reject megadocs long before simhash)."""
    toks = df.select(
        F.col(id_col), F.explode_outer(H.words(F.col(text_col))).alias("__t")
    )
    h = F.md5(F.col("__t").cast("binary"))
    # PACK[d] spreads digit d's bits (3,2,1,0) into lanes (0,1,2,3)
    pack = [
        sum(((d >> s) & 1) << (16 * j) for j, s in enumerate((3, 2, 1, 0)))
        for d in range(16)
    ]
    pack_arr = F.array(*[F.lit(v).cast("long") for v in pack])
    packed_cols = []
    for nibble in range(H.SIMHASH_BITS // 4):
        d = H.hex_digit_value(F.substring(h, nibble + 1, 1))
        packed_cols.append(F.element_at(pack_arr, d + 1).alias(f"__p{nibble}"))
    proj = toks.select(
        F.col(id_col),
        F.col("__t").isNotNull().cast("int").alias("__n"),
        *packed_cols,
    )
    aggs = [F.sum("__n").alias("__total")] + [
        F.sum(f"__p{i}").alias(f"__s{i}") for i in range(H.SIMHASH_BITS // 4)
    ]
    agg = proj.groupBy(id_col).agg(*aggs)
    total = F.col("__total")
    hex_chars = []
    for nibble in range(H.SIMHASH_BITS // 4):
        s = F.coalesce(F.col(f"__s{nibble}"), F.lit(0).cast("long"))
        val = F.lit(0)
        for j, shift in enumerate((3, 2, 1, 0)):
            c = F.shiftright(s, 16 * j).bitwiseAND(F.lit(0xFFFF))
            val = val + F.when((F.lit(2) * c) > total, F.lit(2**shift)).otherwise(
                F.lit(0)
            )
        hex_chars.append(F.lit(H.HEX_DIGITS).substr(val + 1, F.lit(1)))
    return agg.select(F.col(id_col), F.concat(*hex_chars).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS — the dedup decision, not just the
    fingerprints: ``(id_a, id_b, hamming)`` for every pair whose 64-bit
    SimHash fingerprints differ in at most ``max_hamming`` bits.

    Candidate generation is the pigeonhole band join: the fingerprint
    splits into ``max_hamming + 1`` equal bands, and any pair within
    Hamming ≤ ``max_hamming`` must agree EXACTLY on at least one band
    (``max_hamming`` differing bits cannot touch all ``max_hamming+1``
    bands) — so a self-join on ``(band_id, band_value)`` finds a
    SUPERSET of the true pairs, and the exact
    :func:`~farmrpg_etl_spark.functions.hashing.hamming_hex` filter
    makes the output exact. Same candidates-then-verify shape as
    :func:`minhash_lsh_pairs`.

    Scale: only fixed-width fingerprints (16 hex chars + id) enter the
    band shuffle and the verification — document payloads never move.
    The self-join is banded, never all-pairs; band-key groups are
    near-dup-density-sized, not corpus-sized. Fingerprints are cached
    (lazy persist) so both self-join sides read one InMemoryRelation
    instead of re-hashing the corpus twice.

    The reference has no analog (extension surface); the default
    ``max_hamming=3`` with 64-bit fingerprints is the classical
    web-dedup operating point (Manku et al., WWW'07).
    """
    bands = max_hamming + 1
    nibbles = H.SIMHASH_BITS // 4
    if nibbles % bands:
        raise ValueError(f"{bands} bands must divide {nibbles} hex chars")
    width = nibbles // bands
    sigs = simhash_fingerprints(df, text_col, id_col).persist()
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), 1 + b * width, width)
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", H.hamming_hex(F.col("__sa"), F.col("__sb")).cast("int")
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


def deterministic_sample(
    df: DataFrame, id_col: str, rate_pct: int, salt: str = "sample"
) -> DataFrame:
    """Deterministic hash-based sampling: keep rows where the md5 of
    (salt|id) falls under ``rate_pct`` of the hash space.

    Unlike ``df.sample()`` this is reproducible across runs, engines,
    partitionings, and retries — the property a training-data pipeline
    needs for auditable subsets. Pure per-row expression: no shuffle,
    no RNG state."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))), 1, 8),
        16, 10,
    ).cast("long") % 100
    return df.filter(bucket < rate_pct)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    rates_pct: dict[str, int],
    default_pct: int = 0,
    salt: str = "strat",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    percentage of rows, selected by the same engine-portable md5 bucket
    as :func:`deterministic_sample` — the up/down-sampling mix step of
    corpus curation (e.g. keep 80% of books, 10% of crawl).

    Still a pure per-row filter: no shuffle, no RNG state, stable
    under retries and repartitioning; strata skew is irrelevant because
    nothing groups by the stratum."""
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))), 1, 8
        ),
        16, 10,
    ).cast("long") % 100
    rate: Column = F.lit(default_pct)
    for value, pct in sorted(rates_pct.items()):
        rate = F.when(F.col(stratum_col) == F.lit(value), F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def neardup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    (id, cluster_id) with cluster_id = min member id.

    Iterative min-label propagation: each round joins every node's
    label with its neighbors' labels and keeps the minimum, until a
    fixpoint. Rounds are O(diameter); near-dup clusters are shallow
    (pairs come from LSH buckets), so a handful of rounds suffices —
    ``max_iters`` bounds the worst case. Each round is one shuffle on
    the node id; labels pass through
    :func:`~farmrpg_etl_spark.operators.iterate.truncate_lineage` per
    round so lineage stays FLAT — without it the plan tree doubles
    every round (each label join references the previous round's whole
    plan) and task serialization balloons. The reliable checkpoint
    keeps each round durable (an executor loss re-reads the files; a
    ``localCheckpoint`` here would fail the whole job) and frees the
    previous round's blocks deterministically. The edge list is
    computed once and persisted — every round re-reads it. The one
    driver-side ``count()`` per round is the convergence check (a
    scalar, not data movement).
    """
    from farmrpg_etl_spark.operators.iterate import truncate_lineage
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = truncate_lineage(
        edges.select("src").distinct().withColumnRenamed("src", "id")
        .withColumn("cluster_id", F.col("id"))
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = truncate_lineage(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.id") == F.col("o.id"))
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return labels


def leakage_safe_splits(
    docs: DataFrame,
    id_col: str,
    clusters: DataFrame,
    train_pct: int = 80,
    valid_pct: int = 10,
    salt: str = "split",
) -> DataFrame:
    """Train/valid/test assignment that CANNOT leak near-duplicates
    across splits: the deterministic md5 split key hashes the
    CLUSTER id (the connected-component label from
    :func:`neardup_clusters`; documents in no near-dup family are
    their own cluster), not the document id — so an entire near-dup
    family lands in one split by construction. Hashing document ids
    instead is the classic eval-contamination bug: two 99%-identical
    documents split across train and test make the test set
    memorizable.

    Returns ``(id, cluster_id, split)`` with split ∈ train/valid/test
    at ``train_pct``/``valid_pct``/remainder. Deterministic across
    engines, partitionings, and retries (same md5-bucket discipline
    as :func:`deterministic_sample`).

    Scale shape: one left join of the corpus against the
    (id, cluster_id) label relation (clusters are pair-graph-sized —
    only docs in some family appear — so the join's right side is
    small relative to the corpus and the split key itself is a pure
    per-row expression; no shuffle beyond the join)."""
    if not (
        isinstance(train_pct, int)
        and isinstance(valid_pct, int)
        and 0 <= train_pct
        and 0 <= valid_pct
        and train_pct + valid_pct <= 100
    ):
        # silent misconfiguration here is the worst kind: pcts that
        # sum past 100 produce an EMPTY test split with no signal
        # (same loud-validation rule as unimax budget_ratio).
        raise ValueError(
            "leakage_safe_splits: train_pct/valid_pct must be ints with "
            "0 <= train_pct, 0 <= valid_pct, train_pct + valid_pct <= 100 "
            f"(got train_pct={train_pct!r}, valid_pct={valid_pct!r})"
        )
    lab = clusters.withColumnRenamed("id", id_col)
    full = docs.select(id_col).join(lab, id_col, "left")
    cid = F.coalesce(F.col("cluster_id"), F.col(id_col))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}|"), cid.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )
    return full.select(
        id_col, cid.alias("cluster_id"), split.alias("split")
    )


def length_band(text_col, band_width_log2: float = 0.5):
    """Secondary blocking key: floor(log2(token_count)/w). Documents
    whose lengths differ by more than ~2^w can't clear a meaningful
    Jaccard threshold anyway, so banding by length both bounds block
    size and loses (almost) no true pairs."""
    n = F.size(H.words(text_col))
    return F.floor(F.log2(F.greatest(n, F.lit(1)).cast("double")) / F.lit(band_width_log2)).cast("int")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    shingle_k: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard within a blocking key (e.g. language).

    The caller's block is composed with a token-length band
    (:func:`length_band`) so a skewed block (one dominant language)
    cannot produce |block|² pairs: two docs in different length bands
    have bounded-above Jaccard, and the band key splits the dominant
    block into near-uniform sub-blocks. Output (id_a, id_b, jaccard)
    with id_a < id_b.

    Execution shape: docs explode to distinct (block, shingle) rows
    and pairs form by joining on the SHARED shingle — a pair only
    materializes if it shares at least one shingle (for any
    ``threshold >= 0`` a zero-overlap pair has jaccard 0 and can never
    pass, so this is exactly equivalent to the all-pairs-in-block
    form). Within big blocks almost all pairs share nothing; skipping
    them turned the 67 s sf0.1 all-pairs run into ~3 s, and at 100 TB
    it is the difference between |block|² pair rows and
    Σ per-shingle count². Set semantics come from ``array_distinct``
    before the explode; per-doc distinct counts ride along the join,
    so there is no second pass over the corpus.

    Cache contract: the exploded shingle relation is lazily
    ``persist()``-ed and stays pinned while the returned plan is
    referenced; long-lived sessions that call this repeatedly should
    drop the plan / ``clearCache()`` between calls (bench.py does), and
    at 100 TB use ``StorageLevel.DISK_ONLY`` for the corpus-sized
    relation."""
    if threshold < 0:
        raise ValueError("threshold must be >= 0 (zero-overlap pairs never emit)")
    block = F.concat_ws(
        "#",
        F.col(block_col).cast("string"),
        length_band(F.col(text_col)).cast("string"),
    )
    sh = df.select(
        F.col(id_col),
        block.alias("__block"),
        F.array_distinct(H.shingles(F.col(text_col), shingle_k)).alias("__sh"),
    )
    ex = sh.select(
        F.col(id_col),
        "__block",
        F.size("__sh").alias("__n"),
        F.explode("__sh").alias("__g"),
    )
    # lazy persist: both self-join sides read ONE InMemoryRelation, so
    # the corpus is tokenized+shingled once, not twice (same discipline
    # as the minhash signature cache; BlockManager partition locks make
    # concurrent first-scan population safe)
    ex = ex.persist()
    a = ex.select(
        F.col(id_col).alias("id_a"),
        F.col("__block").alias("__ba"),
        F.col("__n").alias("__na"),
        F.col("__g").alias("__ga"),
    )
    b = ex.select(
        F.col(id_col).alias("id_b"),
        F.col("__block").alias("__bb"),
        F.col("__n").alias("__nb"),
        F.col("__g").alias("__gb"),
    )
    shared = (
        a.join(
            b,
            (F.col("__ba") == F.col("__bb"))
            & (F.col("__ga") == F.col("__gb"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    jac = F.col("__shared").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__shared")
    ).cast("double")
    return shared.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") > threshold)


def dedup_duplicated_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    size: int = 16,
) -> DataFrame:
    """Sub-document (chunk-level) exact dedup — the distributed form of
    "deduplicating training data makes language models better"
    substring dedup, at fixed ``size``-token chunk granularity:
    duplicated chunks are removed from every document except the first
    occurrence (ordered by (doc id, chunk position)), and each document
    is re-assembled from its surviving chunks.

    Emits one row per input document: total/kept/dropped chunk counts,
    the surviving token count, and an md5 digest of the re-assembled
    text (proving reassembly order without shipping the text to the
    comparator).

    Scale shape (100 TB): chunking is a narrow 1→N flatMap; the winner
    table aggregates ``min(struct(doc, pos))`` per chunk *hash* — a
    partial-aggregatable groupBy on a uniform 32-char key whose rows
    are (key, struct) only, never chunk text; the keep-filter join and
    the per-document reassembly are each one keyed shuffle. Nothing is
    collected and no window sees more than one document's chunks.
    """
    from farmrpg_etl_spark.operators.chunking import chunk_by_tokens

    ch = chunk_by_tokens(df, text_col, id_col, size=size, stride=size).filter(
        F.col("n_chunk_tokens") > 0
    )
    keyed = ch.withColumn("__key", F.md5(F.col("chunk")))
    winners = keyed.groupBy("__key").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("chunk_id").alias("c"))).alias(
            "__w"
        )
    )
    kept = keyed.join(winners, "__key").filter(
        (F.col(id_col) == F.col("__w.d")) & (F.col("chunk_id") == F.col("__w.c"))
    )
    reasm = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chunk_tokens").cast("long").alias("clean_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            )
        ).alias("clean_digest"),
    )
    # per-doc total (nonempty) chunk count is pure arithmetic —
    # ceil(n_tokens / size) — so the totals side needs no second
    # chunk explode, no groupBy, and therefore no extra shuffle
    from farmrpg_etl_spark.functions.hashing import words

    n_tok = F.size(F.coalesce(words(F.col(text_col)), F.array().cast("array<string>")))
    totals = df.select(
        F.col(id_col),
        F.floor((n_tok + F.lit(size - 1)) / F.lit(size)).cast("long").alias("n_chunks"),
    )
    return (
        totals
        .join(reasm, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            (F.coalesce("n_chunks", F.lit(0)) - F.coalesce("n_kept", F.lit(0))).alias(
                "n_dropped"
            ),
            F.coalesce("clean_tokens", F.lit(0).cast("long")).alias("clean_tokens"),
            F.coalesce("clean_digest", F.md5(F.lit(""))).alias("clean_digest"),
        )
    )


def incremental_minhash_pairs(
    indexed: DataFrame | None,
    new: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
    indexed_sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dup detection for a continuously-ingested
    corpus: signatures for the ARRIVING batch only are computed fresh;
    the already-indexed corpus contributes its STORED signatures via
    ``indexed_sigs`` — the ``(id, sig)`` table this function itself
    returns as its second element, fed back on the next ingest, so the
    100 TB history is never re-shingled. When ``indexed_sigs`` is None
    the signatures are recomputed from ``indexed`` (self-contained
    first-ingest / ad-hoc form); when it is given, ``indexed`` is
    ignored entirely (pass ``None``) and no scan of the indexed corpus
    text ever appears in the plan. Returns
    ``(pairs, updated_signature_index)``.

    Pairs are exactly the batch-LSH pairs that TOUCH a new document
    (new↔indexed and new↔new) — the delta a nightly ingest needs: old↔old
    pairs were already emitted when those docs arrived. The bucket join
    is new-side × all-side on (band_id, band_key): the shuffle payload
    is new-batch-sized on one side, and verification is the
    signature-overlap estimate (fixed-width), as in
    :func:`minhash_lsh_pairs`.
    """
    rows_per_band = num_hashes // bands
    if indexed_sigs is not None:
        sigs_idx = indexed_sigs.select(id_col, "sig")
    elif indexed is not None:
        sigs_idx = minhash_signatures(indexed, text_col, id_col, num_hashes, shingle_k)
    else:
        raise ValueError("pass either indexed (text) or indexed_sigs (signatures)")
    sigs_new = minhash_signatures(new, text_col, id_col, num_hashes, shingle_k)
    all_sigs = sigs_idx.unionByName(sigs_new).persist()
    all_sigs.count()
    b_all = lsh_buckets(all_sigs, id_col, bands, rows_per_band).alias("a")
    b_new = lsh_buckets(
        all_sigs.join(new.select(id_col), id_col, "left_semi"),
        id_col,
        bands,
        rows_per_band,
    ).alias("b")
    cand = (
        b_all.join(
            b_new,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
            # estimate BEFORE the pair dedup (r17, as in
            # minhash_lsh_pairs): the estimate is symmetric in the
            # signature pair, so values are unchanged, and the distinct
            # aggregates scalars instead of signature arrays
            # (HashAggregate, not SortAggregate)
            F.round(
                H.minhash_jaccard_estimate(
                    F.col("a.sig"), F.col("b.sig"), num_hashes
                ),
                6,
            ).alias("jaccard"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs, all_sigs


def cross_corpus_minhash_pairs(
    left: DataFrame,
    right: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Fuzzy cross-corpus overlap via MinHash+LSH — the near-duplicate
    form of train/eval decontamination (the exact-13-gram form is
    ``quality.ngram_contamination``): every (left, right) pair that
    shares an LSH band and whose signature-overlap Jaccard estimate
    clears ``threshold``. Output ``(left_id, right_id, jaccard)``,
    distinct.

    Scale: each corpus is shingled exactly once; the bucket join
    shuffles fixed-width (id, sig, band_key) rows on the uniform
    band_key — with an eval set ~10⁶ docs vs a 100 TB training corpus
    the right side is tiny, so AQE converts the join to broadcast and
    the corpus-side rows are never shuffled at all. No document-sized
    payload moves (signature-estimate verification, as in
    :func:`minhash_lsh_pairs`).
    """
    rows_per_band = num_hashes // bands
    sigs_l = minhash_signatures(left, text_col, id_col, num_hashes, shingle_k)
    sigs_r = minhash_signatures(right, text_col, id_col, num_hashes, shingle_k)
    b_l = lsh_buckets(sigs_l, id_col, bands, rows_per_band).alias("a")
    b_r = lsh_buckets(sigs_r, id_col, bands, rows_per_band).alias("b")
    cand = (
        b_l.join(
            b_r,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("left_id"),
            F.col(f"b.{id_col}").alias("right_id"),
            # estimate BEFORE the pair dedup (r17, as in
            # minhash_lsh_pairs): same values, scalar HashAggregate
            # instead of a SortAggregate over the signature arrays
            F.round(
                H.minhash_jaccard_estimate(
                    F.col("a.sig"), F.col("b.sig"), num_hashes
                ),
                6,
            ).alias("jaccard"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    return (
        cand
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection (the ExactSubstr dedup of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): for every document, how many of its tokens sit inside at
    least one ``k``-token gram whose exact text occurs ``min_count`` or
    more times corpus-wide. Emits
    ``(id, n_tok, dup_tok, dup_ratio)`` — the downstream cleaner cuts
    the covered spans (or drops high-ratio documents).

    Relational formulation (the reference suffix-array build is a
    single-machine algorithm; this is the shuffle-native equivalent):

    1. explode every strict token ``k``-gram with its position; carry
       only ``(id, pos, md5(gram))`` — fixed-width rows, so the one
       corpus-sized shuffle moves ~24 bytes per token regardless of
       document size, and the md5 key is uniform (no gram skew can
       hot-spot a partition).
    2. corpus gram counts: ``groupBy(gram_hash)`` with map-side partial
       counts; grams reaching ``min_count`` join back against the
       instances on the same uniform key (the duplicated-gram set is
       corpus-sized in the worst case, so it is joined, never
       broadcast).
    3. per-document interval union: duplicated gram starts cover
       ``[pos, pos+k-1]``; with starts sorted, instance ``i``
       contributes ``min(k, next_start - pos)`` tokens (the last
       contributes ``k``), so one window over ``(id, pos)`` plus a sum
       yields the union size without materializing per-token rows.

    Documents shorter than ``k`` tokens have no strict grams (they are
    exact-dedup territory, not span territory) and report
    ``dup_tok = 0``.

    Cache contract: the gram-instance relation is ``persist()``-ed
    (lazily) and stays pinned for as long as the returned plan is
    referenced — repeated calls in one long-lived session accumulate
    cached relations unless the caller drops the plan reference or
    calls ``spark.catalog.clearCache()`` between invocations (bench.py
    does; pipeline wrappers that run this to completion should
    ``unpersist()`` after their terminal action). At 100 TB prefer
    ``.persist(StorageLevel.DISK_ONLY)`` for the corpus-sized instance
    relation so the cache never competes with shuffle memory.
    """
    toks = F.coalesce(H.words(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    m = n - F.lit(k - 1)  # strict gram count; <= 0 -> no grams
    heads = [F.slice(F.col("__toks"), i + 1, F.greatest(m, F.lit(0))).alias(f"g{i}") for i in range(k)]
    zipped = F.arrays_zip(*heads)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)])
    )
    inst = base.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(grams).alias("__pos", "__g"),
    ).select(
        F.col(id_col),
        F.col("__n"),
        F.col("__pos"),
        F.md5(F.col("__g").cast("binary")).alias("__gh"),
    )
    # lazy persist: the instance relation feeds BOTH the gram-count
    # aggregation and the hit join — without the cache the corpus is
    # tokenized and gram-hashed twice (fixed-width (id, pos, md5) rows,
    # so the cache spills compactly at scale)
    inst = inst.persist()
    dup = (
        inst.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= F.lit(min_count))
        .select("__gh")
    )
    hits = inst.join(dup, "__gh").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy(F.col("__pos").asc())
    contrib = F.least(
        F.lit(k),
        F.coalesce(
            F.lead("__pos", 1).over(w) - F.col("__pos"), F.lit(k)
        ),
    )
    covered = (
        hits.withColumn("__cov", contrib)
        .groupBy(id_col)
        .agg(F.sum("__cov").alias("dup_tok"))
    )
    return (
        base.select(F.col(id_col), n.cast("long").alias("n_tok"))
        .join(covered, id_col, "left")
        .select(
            id_col,
            "n_tok",
            F.coalesce(F.col("dup_tok"), F.lit(0)).cast("long").alias("dup_tok"),
            F.when(F.col("n_tok") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce(F.col("dup_tok"), F.lit(0)).cast("double")
                    / F.col("n_tok"),
                    6,
                )
            )
            .alias("dup_ratio"),
        )
    )


def cut_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr span CUTTING (the actual dedup of Lee et al. 2022):
    rewrite every document with the tokens covered by any duplicated
    ``k``-gram removed, where "duplicated" means the exact gram text
    occurs ``min_count``+ times corpus-wide — the destructive twin of
    :func:`duplicated_spans`, which only measures the coverage. Emits
    ``(id, n_tok, kept_tok, text_cut)``; ``text_cut`` is the surviving
    tokens space-joined (the operator works on the tokenized view, so
    output whitespace is normalized).

    Execution shape, all relational:

    1. the same fixed-width ``(id, pos, md5(gram))`` instance relation
       as ``duplicated_spans`` (persisted once, feeding both the
       corpus gram-count aggregation and the hit join).
    2. coverage WITHOUT interval materialization: token positions are
       dense per document, so "position p is covered by a duplicated
       gram starting in ``[p-k+1, p]``" is one ``max(is_start)`` over
       a ``rowsBetween(-(k-1), 0)`` window — no k-way fan-out join,
       no per-token explode beyond the tokens themselves.
    3. reassembly: surviving ``(pos, token)`` structs are collected
       per doc, sorted, and space-joined (documents are row-bounded,
       so the collect_list is per-doc memory, never corpus-sized).

    NOT idempotent in the adversarial case, by design (same as the
    paper): cutting can make previously-separated text adjacent, and
    two documents cut the same way can newly share a k-gram — a second
    pass may remove more. Corpora whose post-cut token streams are
    unique (the common case after one pass) are fixpoints; see the
    property tests. Cache contract: same as ``duplicated_spans``
    (lazy persist of the instance relation; callers clearCache
    between repeated invocations in one session).
    """
    toks = F.coalesce(H.words(F.col(text_col)), F.array().cast("array<string>"))
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    m = n - F.lit(k - 1)
    heads = [
        F.slice(F.col("__toks"), i + 1, F.greatest(m, F.lit(0))).alias(f"g{i}")
        for i in range(k)
    ]
    zipped = F.arrays_zip(*heads)
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)])
    )
    inst = base.select(
        F.col(id_col), F.posexplode(grams).alias("__p", "__g")
    ).select(
        F.col(id_col),
        F.col("__p"),
        F.md5(F.col("__g").cast("binary")).alias("__gh"),
    )
    inst = inst.persist()
    dup = (
        inst.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= F.lit(min_count))
        .select("__gh")
    )
    hits = (
        inst.join(dup, "__gh")
        .select(id_col, "__p")
        .withColumn("__start", F.lit(1))
    )
    # posexplode_outer keeps empty documents as one (null, null) row,
    # so the single aggregation below emits every doc — no second
    # corpus scan + join-back for n_tok (r5 plan audit: that branch
    # was a whole extra FileScan + sort-merge join)
    tok_rows = base.select(
        F.col(id_col), F.posexplode_outer(F.col("__toks")).alias("__p", "__tok")
    )
    cover_w = (
        Window.partitionBy(id_col)
        .orderBy(F.col("__p").asc())
        .rowsBetween(-(k - 1), 0)
    )
    flagged = tok_rows.join(hits, [id_col, "__p"], "left").withColumn(
        "__cov", F.max(F.coalesce(F.col("__start"), F.lit(0))).over(cover_w)
    )
    keep = (F.col("__cov") == 0) & F.col("__tok").isNotNull()
    return flagged.groupBy(id_col).agg(
        F.count(F.col("__tok")).cast("long").alias("n_tok"),
        F.sum(keep.cast("long")).cast("long").alias("kept_tok"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(keep, F.struct("__p", "__tok"))
                    )
                ),
                lambda s: s["__tok"],
            ),
        ).alias("text_cut"),
    )
