"""Scalar text functions (SURVEY.md §2.7, A2/A3 + LLM text analysis).

Everything here is a pure Column expression — JVM-side, inside
whole-stage codegen. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- reference-parity functions -----------------------------------------

# Mention regex, semantics of reference MENTION_RE
# (src/farmrpg_etl/firestore/chat.py:13): "@name" optionally terminated
# by ":"; a name containing spaces is only recognized when it ends with
# ":" (max 30 chars). Java regex supports the lookahead form directly.
MENTION_PATTERN = r"@([^:\s]+(?:[^:]{0,29}?[^:\s](?=:))?)"

# Simple mention form — RE2-compatible (used where the oracle engine
# cannot express lookaheads); word chars only, ":" terminator optional.
SIMPLE_MENTION_PATTERN = r"@([A-Za-z0-9_]+)"


def mentions(content: Column) -> Column:
    """A2 mention extraction → array<string>.

    Reference: firestore/chat.py:13,48 (MENTION_RE.findall), semantics
    pinned by test/firestore/test_chat.py:6-23.
    """
    return F.regexp_extract_all(content, F.lit(MENTION_PATTERN), 1)


def simple_mentions(content: Column) -> Column:
    return F.regexp_extract_all(content, F.lit(SIMPLE_MENTION_PATTERN), 1)


def flags_count(text_col: Column) -> Column:
    """A3: '^(\\d+) flags?$' → int, defaulting to 0 on no-match
    (reference scrapers/chat.py:106-115: ``int(m[1]) if m else 0``)."""
    # regexp_extract yields '' on no-match; ANSI mode makes ''.cast(int)
    # throw, so try_cast → NULL → coalesce to the reference's default 0.
    return F.coalesce(
        F.regexp_extract(text_col, r"^(\d+) flags?$", 1).try_cast("int"), F.lit(0)
    )


def censor_bypass_rewrite(content: Column) -> Column:
    """P3: '<strong>Xpath</strong>' → '<strong>Forcepath</strong>'
    (reference FORCEPATH_RE, scrapers/chat.py:21,73 — the tags are
    kept; only the word is replaced)."""
    return F.regexp_replace(
        content, r"<strong>\w+path</strong>", "<strong>Forcepath</strong>"
    )


def profile_link_rewrite(content: Column) -> Column:
    """P3: '<a class="close-panel" href="profile.php?user_name=X"
    style="color:teal">@X</a>' → '@X:' (reference AT_LINK_RE,
    scrapers/chat.py:22-25,74)."""
    return F.regexp_replace(
        content,
        r"""<a class="close-panel" href="profile\.php\?user_name=[^">]+" style="color:teal">@([^">]+)</a>""",
        "@$1:",
    )


def delchat_id(href: Column) -> Column:
    """§2.7: message id from a ``javascript:delChat(N)`` /
    ``undelChat(N)`` href (reference MESSAGE_ID_RE, scrapers/chat.py:19,59)."""
    return F.regexp_extract(href, r"^javascript:(?:un)?delChat\((\d+)\)$", 1)


def emblem_basename(src: Column) -> Column:
    """basename of emblem img src (reference scrapers/chat.py:79)."""
    return F.element_at(F.split(src, "/"), -1)


def first_line(content: Column) -> Column:
    """<br>-aware first line (reference bots/base.py:10,56-57)."""
    return F.element_at(
        F.split(F.regexp_replace(content, r"<br\s*/?>", "\n"), "\n"), 1
    )


def command_word(line: Column) -> Column:
    """lowercased first word of a bot command (reference bots/base.py:37-44)."""
    return F.lower(F.element_at(F.split(F.trim(line), " ", 2), 1))


# --- LLM-pipeline text analysis ------------------------------------------

# tiny per-language stopword marker sets for text_metrics' stopword
# language-ID heuristic; chosen to be discriminative between the five
# langs present in the synthetic corpus.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "que", "los", "y"],
    "zh": ["的", "是", "了", "在", "我"],
}


# Character-trigram profiles for lang_id_ngram: per language, a small
# pinned set of its highest-frequency / most distinctive trigrams with
# integer weights (2 = near-unique orthographic signal, 1 = frequent).
# Hand-derived from the languages' function words and orthography —
# the classic Cavnar-Trenkle n-gram-profile approach shrunk to a
# codegen-friendly fixed set. Every needle is EXACTLY 3 characters so
# occurrence counting is a shared (len - len(replace))/3 expression in
# both engines.
LANG_TRIGRAM_PROFILES: dict[str, dict[str, int]] = {
    "en": {"the": 2, "ing": 2, " of": 2, " to": 1, "nd ": 1, "ed ": 1},
    "de": {"sch": 2, "ich": 2, "und": 2, "der": 1, "die": 1, "ein": 1, "cht": 1},
    "es": {" el": 2, "ión": 2, " y ": 2, "ado": 1, "que": 1, "los": 1},
    "fr": {"aux": 2, "eau": 2, "oir": 1, " le": 1, "ent": 1, "des": 1},
    "it": {"gli": 2, "lla": 2, " il": 2, "zio": 1, "che": 1, "ato": 1},
    "pt": {"ção": 2, "ão ": 2, "os ": 1, " um": 1, "ara": 1, "ade": 1},
}


def _trigram_score(lowered: Column, profile: dict[str, int]) -> Column:
    """Weighted trigram occurrence score over an already-lowercased
    column: Σ weight · count(trigram). Pure string scans (replace +
    length), no regex; the lowered input is structurally identical
    across languages so codegen CSE computes it once per row."""
    score: Column | None = None
    for tg, w in profile.items():
        assert len(tg) == 3, tg
        n = (F.length(lowered) - F.length(F.replace(lowered, F.lit(tg)))) / F.lit(3)
        term = n * F.lit(w)
        score = term if score is None else score + term
    return score.cast("long")


def lang_id_ngram(text_col: Column) -> Column:
    """Char-trigram-profile language ID over six Latin-script
    languages (de/en/es/fr/it/pt) — the scale path past the
    stopword-marker heuristic of :func:`text_metrics`' ``lang_pred``:
    trigram profiles see morphology ("sch", "ção", "gli") and don't
    need exact token boundaries, so they classify text the marker
    lists miss (no shared stopwords, glued punctuation, short
    fragments).

    Argmax is expressed over an array literal — each score expression
    appears exactly once in the plan. (The naive ``when``-chain fold
    nests every previous score inside the next branch; conditional
    branches are exempt from codegen subexpression elimination, so the
    chain re-evaluates the scores exponentially — measured 6× slower
    for the stopword-marker argmax on the documents corpus.)
    ``array_position`` of the max returns the first
    (= alphabetically-first) language on ties, matching the oracle's
    forward-order CASE chain; 'und' when no profile trigram occurs. One pure-codegen projection: no shuffle,
    no UDF, ~40 string scans per row over a text column —
    embarrassingly parallel at any scale.

    let_-bound (r17): the lowered text, the scores array and its max
    are each referenced several times inside one expression tree,
    where inline forms are re-evaluated per reference (the ~40 string
    scans ran up to 3x per row)."""
    from farmrpg_etl_spark.functions.hashing import let_

    langs = sorted(LANG_TRIGRAM_PROFILES)
    lang_arr = F.array(*[F.lit(lang) for lang in langs])

    def _score(lowered: Column) -> Column:
        return let_(
            F.array(
                *[
                    _trigram_score(lowered, LANG_TRIGRAM_PROFILES[lang])
                    for lang in langs
                ]
            ),
            lambda sc: let_(
                F.array_max(sc),
                lambda best: F.when(
                    best > 0,
                    F.element_at(
                        lang_arr, F.array_position(sc, best).cast("int")
                    ),
                ).otherwise(F.lit("und")),
            ),
        )

    return let_(
        F.concat(F.lit(" "), F.lower(text_col), F.lit(" ")), _score
    )


# Codepoint ranges per script, engine-portable (\x{...} works in both
# Java regex and DuckDB's RE2). Han is shared by zh/ja; kana is the
# ja discriminator (see lang_id_script).
SCRIPT_RANGES: dict[str, str] = {
    "arabic": r"[\x{0600}-\x{06ff}\x{0750}-\x{077f}]",
    "cyrillic": r"[\x{0400}-\x{04ff}]",
    "hangul": r"[\x{ac00}-\x{d7af}\x{1100}-\x{11ff}]",
    "kana": r"[\x{3040}-\x{309f}\x{30a0}-\x{30ff}]",
    "han": r"[\x{4e00}-\x{9fff}]",
}


def script_count(text_col: Column, script: str) -> Column:
    """Count of codepoints in a script's ranges — length minus the
    length after deleting them; one regex scan, pure codegen."""
    return F.length(text_col) - F.length(
        F.regexp_replace(text_col, SCRIPT_RANGES[script], "")
    )


def lang_id_script(text_col: Column) -> Column:
    """Language ID with script detection layered over the trigram
    profiles (r10 verdict #8): non-Latin scripts are decided by
    codepoint-range counts — far cheaper and far more reliable than
    any n-gram profile (a single Cyrillic range subsumes all of
    Russian's morphology) — and Latin text falls through to
    :func:`lang_id_ngram`.

    Scores (alphabetical, first-match tie-break like the trigram
    argmax): ar = Arabic count, ja = 2·kana (kana is uniquely
    Japanese; the weight lets mixed kanji/kana text beat its own Han
    count), ko = Hangul, ru = Cyrillic, zh = max(Han − 2·kana, 0)
    (Han WITH kana present is Japanese, not Chinese). A script wins
    when its score covers ≥ 20% of the non-whitespace codepoints
    (best·5 ≥ n) — below that the text is substantially Latin and the
    trigram path decides. Same one-projection/no-shuffle/no-UDF shape
    as the trigram classifier; at 100 TB this is a handful of extra
    regex scans per row, embarrassingly parallel.

    let_-bound (r17): the input text (an arbitrary caller expression,
    referenced ~8 times), the kana count (referenced by ja AND zh)
    and the scores array / max (argmax pattern) are each bound once —
    the inline forms re-ran their regex scans per reference."""
    from farmrpg_etl_spark.functions.hashing import let_

    lang_arr = F.array(*[F.lit(x) for x in ["ar", "ja", "ko", "ru", "zh"]])

    def _decide(t: Column) -> Column:
        n = F.length(F.regexp_replace(t, r"\s", ""))

        def _with_kana(c_kana: Column) -> Column:
            c_han = script_count(t, "han")
            scores = F.array(
                script_count(t, "arabic"),  # ar
                c_kana * F.lit(2),  # ja
                script_count(t, "hangul"),  # ko
                script_count(t, "cyrillic"),  # ru
                F.greatest(c_han - c_kana * F.lit(2), F.lit(0)),  # zh
            )
            return let_(
                scores,
                lambda sc: let_(
                    F.array_max(sc),
                    lambda best: F.when(
                        (best > 0) & (best * 5 >= n),
                        F.element_at(
                            lang_arr, F.array_position(sc, best).cast("int")
                        ),
                    ).otherwise(lang_id_ngram(t)),
                ),
            )

        return let_(script_count(t, "kana"), _with_kana)

    return let_(F.coalesce(text_col, F.lit("")), _decide)


def bpe_ish_token_count(text_col: Column) -> Column:
    """BPE-ish token estimate: count of word-piece matches
    (letter runs, digit runs, single punctuation)."""
    return F.size(
        F.regexp_extract_all(text_col, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    )


def punct_ratio(text_col: Column) -> Column:
    n = F.length(text_col)
    p = F.length(F.regexp_replace(text_col, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def fingerprint(text_col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    Stand-in for a rolling hash; stable across engines (md5 hex is
    identical in Spark and DuckDB, unlike xxhash64/hash())."""
    norm = F.regexp_replace(F.lower(F.trim(text_col)), r"\s+", " ")
    return F.md5(norm.cast("binary"))


# Unicode normalization rules for :func:`normalize_text` — each is a
# (pattern, replacement) applied globally, engine-portable (Java regex
# in Spark, RE2-ish in DuckDB with the 'g' flag), ordered so earlier
# rewrites cannot create inputs for later ones except where intended
# (dash/ellipsis folding happens before whitespace collapsing).
NORMALIZE_RULES: list[tuple[str, str]] = [
    # C0 control chars except \t and \n, plus DEL -> removed
    (r"[\x00-\x08\x0b-\x1f\x7f]", ""),
    # zero-width space/non-joiner/joiner and BOM -> removed
    (r"[\x{200b}\x{200c}\x{200d}\x{feff}]", ""),
    # curly single quotes / prime to apostrophe
    (r"[\x{2018}\x{2019}\x{2032}]", "'"),
    # curly double quotes / double prime to straight quote
    (r"[\x{201c}\x{201d}\x{2033}]", '"'),
    # en/em/horizontal-bar dashes to hyphen
    (r"[\x{2013}\x{2014}\x{2015}]", "-"),
    # ellipsis char to three dots
    (r"\x{2026}", "..."),
    # NBSP and thin/figure/narrow spaces to plain space
    (r"[\x{00a0}\x{2007}\x{2009}\x{202f}]", " "),
    # collapse runs of spaces/tabs (NOT newlines: line structure is
    # load-bearing for the line-level operators)
    (r"[ \t]+", " "),
    # strip spaces around newlines (trailing/leading per line)
    (" ?\n ?", "\n"),
    # cap blank-line runs at one blank line
    ("\n{3,}", "\n\n"),
]


def normalize_text(text_col: Column) -> Column:
    """Unicode/whitespace normalization — the standard pre-tokenization
    cleanup (quote/dash folding, zero-width and control-char removal,
    whitespace discipline) as a chain of global ``regexp_replace``
    passes, fully codegen'd, with the identical rule list mirrored in
    the DuckDB oracle. Trims the final result."""
    out = text_col
    for pat, rep in NORMALIZE_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


# PII patterns — conservative, engine-portable (Java regex + RE2 both
# support these verbatim). Order matters: emails first so their local
# part can't be half-eaten by the id pattern.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[-. ]\d{3}[-. ]\d{4}"
HEXID_RE = r"\b[0-9a-f]{16,}\b"


def redact_pii(text_col: Column) -> Column:
    """Replace emails, phone-shaped numbers, and long hex identifiers
    with typed placeholder tokens. Three chained ``regexp_replace``
    passes (global, codegen'd) — the standard scrubbing step before
    text enters a training corpus."""
    out = F.regexp_replace(text_col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, HEXID_RE, "<ID>")


# payment-card candidates: 13-19 digits with optional single space/dash
# separators, word-bounded. Candidates are CHEAP and noisy; Luhn below
# is the precision layer.
CARD_CAND_RE = r"\b\d(?:[ -]?\d){12,18}\b"


def luhn_valid(digits_col: Column) -> Column:
    """Luhn checksum over a digit string — pure Catalyst (reverse →
    aggregate over positions, doubling every second digit from the
    right, −9 on overflow, total % 10 == 0). The standard
    precision filter for payment-card PII: digit runs that merely
    LOOK like cards (ids, timestamps, phone numbers glued together)
    fail the checksum, so redaction doesn't shred ordinary numbers.
    Integer-exact, hence bit-identical cross-engine."""
    ds = F.reverse(digits_col)
    n = F.length(ds)

    def term(acc: Column, i: Column) -> Column:
        d = F.ascii(F.substr(ds, i, F.lit(1))) - F.lit(48)
        dbl = d * 2
        doubled = dbl - F.when(dbl > 9, F.lit(9)).otherwise(F.lit(0))
        return acc + F.when(i % 2 == 0, doubled).otherwise(d)

    total = F.aggregate(F.sequence(F.lit(1), n), F.lit(0), term)
    return (n >= 13) & (n <= 19) & (total % 10 == 0)


def card_counts(text_col: Column) -> tuple[Column, Column]:
    """(candidate count, Luhn-valid count) of card-shaped digit runs —
    the measurable halves of validated card redaction. Candidates come
    from one regex scan; each candidate is separator-stripped and
    checksum-verified in-plan (array transform + filter, no UDF)."""
    cands = F.regexp_extract_all(text_col, F.lit(CARD_CAND_RE), 0)
    stripped = F.transform(
        cands, lambda c: F.regexp_replace(c, "[ -]", "")
    )
    return F.size(cands), F.size(F.filter(stripped, luhn_valid))


def pii_count(text_col: Column) -> Column:
    """How many PII spans :func:`redact_pii` would replace."""
    return (
        F.size(F.regexp_extract_all(text_col, F.lit(EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(text_col, F.lit(PHONE_RE), 0))
        + F.size(F.regexp_extract_all(text_col, F.lit(HEXID_RE), 0))
    )


def text_metrics(df, text_col: str = "text"):
    """All text-analysis metrics in one pass, with shared intermediates
    staged as explicit projection columns. Adds ``lang_pred n_tokens
    n_bpe punct_ratio stop_ratio quality fp`` to ``df``. ``lang_pred``
    is the stopword-marker argmax over ``LANG_MARKERS`` (alphabetical
    tie-break, 'und' without hits), ``n_tokens`` the whitespace token
    count (0 for NULL/empty) and ``stop_ratio`` the English marker
    share of those tokens; the other columns are bit-identical to the
    scalar functions above.

    Why staged: the scalar forms each re-derive the whitespace
    normalization, and conditional branches (when/otherwise) are exempt
    from codegen subexpression elimination, so a wide metrics projection
    pays the normalization ~10× per row. A named non-cheap alias
    referenced more than once is NOT inlined by Catalyst's
    CollapseProject, so each staged column is computed exactly once per
    row regardless of how many metrics consult it. Unused stages are
    removed by column pruning when a caller selects a subset. Measured
    ~3× faster than the naive wide projection on the documents corpus.

    Marker scoring (r18, VERDICT #5): the per-language stopword hits
    are counted over ONE staged token array — ``size(filter(toks,
    t IN markers))`` per language — instead of the retired
    padded-string form, whose 25 ``replace()`` scans each re-walked
    (and re-allocated) the whole document per marker word. Token-
    equality counts are identical by construction (every token is
    whitespace-bounded in the padded form too; marker words are
    distinct within a language), and the token array doubles as the
    token count, saving a separate token-count split. Same counting
    pattern as ``quality._quality_raw_features``. Measured 1.29 s ->
    0.96 s on the sf0.1 documents corpus (text_metrics_docs,
    same-session).
    """
    t = F.col(text_col)
    langs = sorted(LANG_MARKERS)
    s1 = df.withColumns(
        {
            # lowercase split: token BOUNDARIES (hence the count) are
            # unchanged by lower(), so size() below is the whitespace
            # token count; lowercased tokens are what the marker sets
            # match against
            "__tm_toks": F.split(F.lower(F.trim(t)), r"\s+"),
            "__tm_len": F.length(t),
            "__tm_punct": punct_ratio(t),
            "__tm_bpe": bpe_ish_token_count(t),
            "__tm_fp": fingerprint(t),
        }
    )
    s1 = s1.withColumn(
        "__tm_ntok",
        F.coalesce(
            F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
                F.size(F.col("__tm_toks"))
            ),
            F.lit(0),
        ),
    )

    def _hits(words: list[str]):
        return lambda x: x.isin(*words)

    s2 = s1.withColumn(
        "__tm_scores",
        F.array(
            *[
                F.size(F.filter(F.col("__tm_toks"), _hits(LANG_MARKERS[lang])))
                for lang in langs
            ]
        ),
    )
    scores = F.col("__tm_scores")
    s3 = s2.withColumns(
        {
            "__tm_best": F.array_max(scores),
            "__tm_s_en": F.element_at(scores, langs.index("en") + 1),
        }
    )
    best = F.col("__tm_best")
    ntok = F.col("__tm_ntok")
    n = F.col("__tm_len")
    punct_r = F.col("__tm_punct")
    stop_r = F.when(ntok == 0, F.lit(0.0)).otherwise(
        F.col("__tm_s_en").cast("double") / ntok.cast("double")
    )
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    lang_pred = F.when(
        best > 0,
        F.element_at(lang_arr, F.array_position(scores, best).cast("int")),
    ).otherwise(F.lit("und"))
    len_score = F.when((n >= 100) & (n <= 4000), F.lit(1.0)).otherwise(
        F.when(n < 100, n.cast("double") / 100.0).otherwise(
            F.lit(4000.0) / n.cast("double")
        )
    )
    punct_score = 1.0 - F.least(punct_r * 5.0, F.lit(1.0))
    stop_score = F.least(stop_r * 10.0, F.lit(1.0))
    quality = F.round(len_score * 0.5 + punct_score * 0.25 + stop_score * 0.25, 6)
    out = s3.withColumns(
        {
            "lang_pred": lang_pred,
            "n_tokens": ntok,
            "n_bpe": F.col("__tm_bpe"),
            "punct_ratio": punct_r,
            "stop_ratio": stop_r,
            "quality": quality,
            "fp": F.col("__tm_fp"),
        }
    )
    return out.drop(*[c for c in out.columns if c.startswith("__tm_")])
