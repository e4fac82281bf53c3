"""Reference-pinned scalar text semantics.

The 11 mention cases are ported verbatim from
/root/reference/test/firestore/test_chat.py:6-23 (MENTION_RE.findall);
the rewrites pin scrapers/chat.py:21-25,72-74 and bots/base.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from farmrpg_etl_spark.functions import text as T

MENTION_CASES = [
    ("@Hnr: hmmm perhaps", ["Hnr"]),
    ("@caption oblivious: me ROPE", ["caption oblivious"]),
    ("@Rattea um, can you speed type 4 in a row then?", ["Rattea"]),
    ("Can someone @ me please?", []),
    ("A longer and weirder @ embedded with a : later", []),
    ("A longer and weirder @embedded with a : later", ["embedded"]),
    ("Two embedded @one and later @two", ["one", "two"]),
    ("@Rattea: &gt;:( sleep is important. you need some.", ["Rattea"]),
    ("Embedded next to each other @one @two", ["one", "two"]),
    ("Embedded and terminated @one: @two:", ["one", "two"]),
    ("@coderanger: one at the start and @Ffff later", ["coderanger", "Ffff"]),
]


def test_mentions_reference_cases(spark):  # noqa: F811
    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(MENTION_CASES)], "i int, content string"
    )
    got = {
        r["i"]: r["m"]
        for r in df.select("i", T.mentions(F.col("content")).alias("m")).collect()
    }
    for i, (_, expected) in enumerate(MENTION_CASES):
        assert got[i] == expected, f"case {i}: {MENTION_CASES[i][0]!r}"


@pytest.mark.parametrize(
    "content,expected",
    [
        ("<strong>Xpath</strong>", "<strong>Forcepath</strong>"),
        ("<strong>Ypath</strong> ok", "<strong>Forcepath</strong> ok"),
        ("no rewrite", "no rewrite"),
    ],
)
def test_censor_bypass(spark, content, expected):  # noqa: F811
    df = spark.createDataFrame([(content,)], "c string")
    assert df.select(T.censor_bypass_rewrite(F.col("c")).alias("o")).first()["o"] == expected


def test_profile_link_rewrite(spark):  # noqa: F811
    src = (
        '<a class="close-panel" href="profile.php?user_name=Ryber"'
        ' style="color:teal">@Ryber</a> hello'
    )
    df = spark.createDataFrame([(src,)], "c string")
    assert (
        df.select(T.profile_link_rewrite(F.col("c")).alias("o")).first()["o"]
        == "@Ryber: hello"
    )


@pytest.mark.parametrize(
    "txt,n", [("3 flags", 3), ("1 flag", 1), ("no flags", 0), ("12 flags", 12)]
)
def test_flags_count(spark, txt, n):  # noqa: F811
    df = spark.createDataFrame([(txt,)], "c string")
    assert df.select(T.flags_count(F.col("c")).alias("o")).first()["o"] == n


def test_lang_id_ngram_classifies_six_languages(spark):
    samples = [
        ("en", "The cat and the dog are walking in the garden with their friends"),
        ("de", "Der Hund und die Katze gehen durch den Wald und schauen sich um"),
        ("es", "El perro y el gato caminan por el parque que está cerca de la casa"),
        ("fr", "Le chien et le chat marchent dans les beaux jardins aux enfants"),
        ("it", "Il cane e il gatto camminano nel parco vicino alla casa degli amici"),
        ("pt", "O cão e o gato caminham pelo parque com uma alegria que fica perto"),
        ("und", "xxxx qqqq zzzz 12345"),
        ("und", ""),
    ]
    df = spark.createDataFrame(samples, "expected string, text string")
    out = df.select("expected", T.lang_id_ngram(F.col("text")).alias("got")).collect()
    assert all(r["expected"] == r["got"] for r in out), [
        (r["expected"], r["got"]) for r in out
    ]


def test_lang_id_ngram_beats_marker_heuristic_on_morphology(spark):
    # no stopword from LANG_MARKERS appears as a standalone token, so
    # the marker heuristic (text_metrics' lang_pred) has nothing to
    # count — trigram morphology ("sch", "ich", "cht") still
    # identifies the language.
    df = spark.createDataFrame(
        [("Geschichtsschreibung! Wissenschaftliche Nachrichten;",)], "text string"
    )
    row = T.text_metrics(df).select(
        T.lang_id_ngram(F.col("text")).alias("ng"),
        F.col("lang_pred").alias("marker"),
    ).first()
    assert row["ng"] == "de"
    assert row["marker"] == "und"


class TestNormalizeText:
    def _norm(self, spark, s):
        from farmrpg_etl_spark.functions.text import normalize_text

        return (
            spark.createDataFrame([(s,)], "s string")
            .select(normalize_text(F.col("s")).alias("o"))
            .first()["o"]
        )

    def test_quote_dash_ellipsis_folding(self, spark):
        assert (
            self._norm(spark, "“Hi” — it’s fine…")
            == '"Hi" - it\'s fine...'
        )

    def test_control_and_zero_width_removed(self, spark):
        assert self._norm(spark, "a\x07b\u200bc\u200dd\ufeffe") == "abcde"

    def test_whitespace_discipline(self, spark):
        # space runs collapse, line edges trim, blank runs cap at one
        assert self._norm(spark, "a  \t b \n\n\n\n  c") == "a b\n\nc"

    def test_nbsp_variants(self, spark):
        assert self._norm(spark, "a\xa0b\u2009c\u202fd") == "a b c d"

    def test_tab_and_newline_survive_control_strip(self, spark):
        # \t and \n are NOT in the C0 strip class
        assert self._norm(spark, "a\tb\nc") == "a b\nc"

    def test_idempotent(self, spark):
        once = self._norm(spark, "“x”  y… \n\n\n z\x1f")
        assert self._norm(spark, once) == once


def test_lang_id_script_detection(spark):
    """Codepoint-range script detection (lang_id_script): ru/ar/ko by
    direct range counts, the zh/ja discrimination (Han+kana → ja,
    Han-only → zh), Latin fall-through to the trigram profiles, and
    the 20% dominance threshold."""
    from farmrpg_etl_spark.functions.text import lang_id_script

    cases = [
        ("собака и кошка гуляют в парке рядом с домом", "ru"),
        ("الكلب والقطة يمشيان في الحديقة بالقرب من المنزل", "ar"),
        ("개와 고양이가 집 근처 공원에서 산책하며", "ko"),
        ("狗和猫在家附近的公园里散步看着树木和花朵", "zh"),
        # kanji + kana, kana dominant -> ja (NOT zh)
        ("犬と猫は家の近くの公園をさんぽしながらながめています", "ja"),
        # Latin text falls through to the trigram classifier
        ("the cat and the dog are walking in the garden of the town", "en"),
        ("der hund und die katze gehen durch den wald und schauen", "de"),
        # a couple of Cyrillic chars inside a long Latin text stay
        # below the 20% dominance threshold -> trigram path
        ("the cat да the dog are walking in the garden of the town", "en"),
        ("", "und"),
        (None, "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, t string"
    )
    got = {
        r["i"]: r["lang"]
        for r in df.select("i", lang_id_script("t").alias("lang")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i], got[i])


def test_luhn_valid_checksum(spark):
    """Digit-by-digit Luhn pins: classic test PANs validate, a one-digit
    perturbation fails, short/long runs are rejected regardless."""
    from farmrpg_etl_spark.functions.text import luhn_valid

    cases = [
        ("4111111111111111", True),    # Visa test PAN
        ("5500005555555559", True),    # Mastercard test PAN
        ("340000000000009", True),     # Amex test PAN (15 digits)
        ("4111111111111112", False),   # checksum broken
        ("123456789012", False),       # 12 digits: too short even if sum ok
        ("0000000000000", True),       # 13 zeros: trivially valid
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], "i int, s string")
    got = {r["i"]: r["v"] for r in df.select("i", luhn_valid(F.col("s")).alias("v")).collect()}
    for i, (s, want) in enumerate(cases):
        assert got[i] == want, (s, got[i])


def test_card_counts_separators_and_lookalikes(spark):
    from farmrpg_etl_spark.functions.text import card_counts

    df = spark.createDataFrame(
        [(1, "pay 4111 1111 1111 1111 or 5500-0055-5555-5559 "
             "ref 4111111111111112 order 123456")],
        "i int, t string",
    )
    n_cand, n_valid = card_counts(F.col("t"))
    r = df.select(n_cand.alias("c"), n_valid.alias("v")).first()
    assert r["c"] == 3  # the 6-digit order number is not a candidate
    assert r["v"] == 2  # the perturbed PAN fails Luhn


def test_text_metrics_consecutive_marker_tokens(spark):
    # r18: marker hits count over a staged token array. Consecutive
    # equal marker tokens must each count ('the the the' = 3 hits, the
    # case the r17 padded form's double-space normalization existed
    # for), and stop_ratio divides by the same array's token count.
    from farmrpg_etl_spark.functions.text import text_metrics

    df = spark.createDataFrame(
        [(1, "the the the"), (2, "el que y"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text_metrics(df).select(
            "doc_id", "lang_pred", "n_tokens", "stop_ratio"
        ).collect()
    }
    assert out[1].lang_pred == "en"
    assert out[1].n_tokens == 3 and out[1].stop_ratio == 1.0
    assert out[2].lang_pred == "es" and out[2].n_tokens == 3
    assert out[3].lang_pred == "und" and out[3].n_tokens == 0
    assert out[4].lang_pred == "und" and out[4].n_tokens == 0
