"""Portable hashing primitives for dedup operators.

All hashing here is built on ``md5`` hex strings because they are
bit-identical across engines (Spark, DuckDB, Postgres), unlike
``xxhash64``/``hash()`` which are engine-internal. A fixed-width
lowercase hex string orders exactly like the 128-bit integer it
encodes, so ``min(md5(...))`` is a valid minwise hash and salted
``md5(i || '|' || x)`` gives k independent hash families.

At 100 TB scale these all stay inside whole-stage codegen (md5 is a
JVM intrinsic); no Python is involved.

NOTE on lambdas: PySpark's higher-order functions count a lambda's
*parameters* to decide whether to pass the element index — a default
arg (``lambda s, i=i``) reads as two parameters and silently receives
the array index instead of the captured value. Every closure below is
therefore built by a factory function so the lambda has exactly the
arity Spark expects.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = "0123456789abcdef"


def words(text_col: Column) -> Column:
    """Lowercased whitespace tokens (empty tokens removed)."""
    return F.filter(
        F.split(F.lower(F.trim(text_col)), r"\s+"), lambda t: F.length(t) > 0
    )


def let_(val: Column, body) -> Column:
    """Bind ``val`` once and reference it many times inside ``body``.

    ``transform(array(val), x -> body(x))[0]`` evaluates ``val`` exactly
    once per row and hands it to ``body`` as a lambda variable —
    expression-level common-subexpression elimination. Needed because
    higher-order-function lambdas and when/otherwise branches are
    exempt from codegen subexpression elimination, so an expensive
    expression (a whole-text split) referenced k times inside them is
    EVALUATED k times. Measured on the sf0.1 corpus scan (r17):
    word_ngrams(text, 13) 2.6 s -> 0.8 s, shingles(text, 3)
    0.8 s -> 0.5 s, byte-identical outputs."""
    return F.transform(F.array(val), body)[0]


def shingles(text_col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array<string> (space-joined).

    Documents shorter than k words contribute their full token string
    as a single shingle so no document is silently dropped.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        # arrays_zip of k shifted slices (native codegen; O(1) transform
        # work per shingle — the sequence+slice form re-slices per
        # element, O(tokens²) interpreted). gram count m = n-k+1,
        # clamped to 1 so a short-but-nonempty doc yields its full token
        # string as ONE shingle: the zip pads missing tail slices with
        # NULL and concat_ws skips NULLs. An empty doc yields [] (every
        # slice is empty, so the zip's max input length is 0 regardless
        # of m).
        m = F.greatest(n - F.lit(k - 1), F.lit(1))
        heads = [F.slice(toks, i + 1, m).alias(f"g{i}") for i in range(k)]
        zipped = F.arrays_zip(*heads)
        return F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(k)])
        )

    # let-bound: the k slice heads each reference the token array, and
    # an inline words() would be re-evaluated per reference (see let_)
    return let_(
        F.coalesce(words(text_col), F.array().cast("array<string>")), build
    )


def word_ngrams(text_col: Column, n: int) -> Column:
    """Strict word n-grams as array<string> (space-joined).

    Unlike :func:`shingles`, documents shorter than ``n`` words yield an
    EMPTY array — decontamination semantics require full-length n-grams
    only (a short document cannot leak a benchmark 13-gram).

    Built from ``arrays_zip`` over ``n`` shifted slices: the slices and
    zip are native codegen expressions and the remaining ``transform``
    lambda does O(1) work per gram. The obvious alternative —
    ``transform(sequence(...), i -> concat_ws(slice(toks, i, n)))`` —
    re-slices per element: O(tokens²) interpreted per document, which
    measured ~20× slower across a corpus scan."""
    # let-bound: the n slice heads each reference the token array — an
    # inline words() was re-evaluated n times (13x for the
    # decontamination grams; see let_). NULL text behaves like an empty
    # document (slices of a NULL array would propagate NULL through the
    # zip).
    return let_(
        F.coalesce(words(text_col), F.array().cast("array<string>")),
        lambda toks: ngrams_from_tokens(toks, n),
    )


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """:func:`word_ngrams`'s gram builder over an ALREADY-BOUND token
    array (a let_ variable or a staged column) — for callers that need
    tokens and grams together without tokenizing twice."""
    cnt = F.size(toks)
    m = F.greatest(cnt - F.lit(n - 1), F.lit(0))  # gram count; 0 if short
    heads = [F.slice(toks, i + 1, m).alias(f"g{i}") for i in range(n)]
    zipped = F.arrays_zip(*heads)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"g{i}"] for i in range(n)])
    )


# Universal-hash family parameters for minhash: h_i(x) = (A[i]*x1 +
# B[i]*x2 + C[i]) mod 2^31, where (x1, x2) are two 32-bit words of
# md5(x). Multipliers are LARGE md5-derived odd constants (< 2^28):
# large, so multiplication mod 2^31 scrambles order — small multipliers
# would be order-preserving and every family would pick the same argmin
# shingle, collapsing the signature; < 2^28, so A*x1 + B*x2 + C stays
# below 2^61 — no overflow in Spark's ANSI mode or DuckDB int64, and
# the arithmetic is bit-identical across engines.
_MOD = 2**31


def _family(i: int) -> tuple[int, int, int]:
    import hashlib

    def _const(tag: str) -> int:
        return int(hashlib.md5(f"{tag}{i}".encode()).hexdigest()[:7], 16) | 1

    return (_const("a"), _const("b"), _const("c"))


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: array of ``bands`` md5(band_id | joined rows)."""
    as_str = F.transform(signature, lambda v: v.cast("string"))
    return F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"band{b}|"),
                    F.concat_ws(
                        ",", F.slice(as_str, b * rows_per_band + 1, rows_per_band)
                    ),
                ).cast("binary")
            )
            for b in range(bands)
        ]
    )


def hex_digit_value(digit: Column) -> Column:
    """hex char → 0..15 via position in '0123456789abcdef' (portable)."""
    return F.instr(F.lit(HEX_DIGITS), digit) - F.lit(1)


SIMHASH_BITS = 64


def hamming_hex(a: Column, b: Column, bits: int = SIMHASH_BITS) -> Column:
    """Hamming distance between two hex-string fingerprints."""
    dist = F.lit(0)
    for nibble in range(bits // 4):
        da = hex_digit_value(F.substring(a, nibble + 1, 1))
        db = hex_digit_value(F.substring(b, nibble + 1, 1))
        # popcount(xor) without a column bitwise op:
        # sum over bit positions of (bit(da) != bit(db))
        d = F.lit(0)
        for shift in (3, 2, 1, 0):
            ba = F.floor(da / F.lit(2**shift)) % 2
            bb = F.floor(db / F.lit(2**shift)) % 2
            d = d + F.when(ba != bb, F.lit(1)).otherwise(F.lit(0))
        dist = dist + d
    return dist


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two array<string> treated as sets."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def minhash_jaccard_estimate(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Jaccard estimate from two MinHash signatures: fraction of
    positions that agree. At 100 TB this replaces shipping full
    shingle arrays through the LSH verification join — signatures are
    fixed-width (num_hashes × 32 chars) regardless of document size."""
    agree = F.size(
        F.filter(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return agree.cast("double") / F.lit(float(num_hashes))
