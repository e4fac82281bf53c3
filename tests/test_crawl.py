"""Unit tests for robots-rule URL filtering (`operators/crawl.py`) —
RFC 9309 matching: longest prefix wins, allow wins ties, no-match
allows."""

from __future__ import annotations

import re

import pytest

from farmrpg_etl_spark.operators.crawl import robots_filter

SF = "/root/testdata/sf0.001"

RULES = [
    ("a.com", "/private", False),
    ("a.com", "/private/pub", True),   # longer allow carve-out
    ("a.com", "/tmp", False),
    ("a.com", "/tmpx", True),          # tie-length probe vs /tmp on /tmpx...
    ("b.com", "/", False),             # whole-host disallow
]


def _decide(spark, url_rows):
    urls = spark.createDataFrame(
        url_rows, "doc_id long, host string, path string"
    )
    rules = spark.createDataFrame(RULES, "host string, prefix string, allow boolean")
    return {
        r["doc_id"]: (r["allowed"], r["matched_len"])
        for r in robots_filter(urls, rules).collect()
    }


def test_longest_prefix_wins(spark):
    got = _decide(
        spark,
        [
            (1, "a.com", "/private/data"),       # /private (7) -> deny
            (2, "a.com", "/private/pub/data"),   # /private/pub (12) -> allow
            (3, "a.com", "/open/page"),          # no rule -> allow
        ],
    )
    assert got[1] == (False, 8)
    assert got[2] == (True, 12)
    assert got[3] == (True, 0)


def test_allow_wins_specificity_tie(spark):
    # /tmpx matches both /tmp (4, deny) and /tmpx (5, allow): longest
    # wins; craft a true tie with equal-length opposing rules
    rows = [(1, "a.com", "/tmpxy")]
    got = _decide(spark, rows)
    assert got[1] == (True, 5)


def test_true_equal_length_tie_allows(spark):
    urls = [(1, "c.com", "/x/page")]
    import pyspark.sql.functions as F  # noqa: F401

    rules = [("c.com", "/x", False), ("c.com", "/x", True)]
    u = _decide_with(urls, rules)
    assert u[1] == (True, 2)


def test_whole_host_disallow(spark):
    got = _decide(spark, [(1, "b.com", "/anything"), (2, "z.com", "/anything")])
    assert got[1] == (False, 1)
    assert got[2] == (True, 0)   # unknown host: no rules, allowed


def _decide_with(url_rows, rule_rows):
    from farmrpg_etl_spark.session import get_spark

    spark = get_spark("tests")
    urls = spark.createDataFrame(url_rows, "doc_id long, host string, path string")
    rules = spark.createDataFrame(rule_rows, "host string, prefix string, allow boolean")
    return {
        r["doc_id"]: (r["allowed"], r["matched_len"])
        for r in robots_filter(urls, rules).collect()
    }


def test_broadcast_in_plan(spark):
    urls = spark.createDataFrame(
        [(1, "a.com", "/p")], "doc_id long, host string, path string"
    )
    rules = spark.createDataFrame(RULES, "host string, prefix string, allow boolean")
    plan = robots_filter(urls, rules)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


ROBOTS_BODY = """\
# global comment
Disallow: /ignored-pregroup
User-agent: *
Disallow: /private
Allow: /private/ok   # trailing comment
Disallow:
User-Agent: farmbot
user-agent: otherbot
disallow: /bots
Allow: /bots/welcome

User-agent: farmbot
Disallow: /extra
"""


def _parsed(spark):
    from farmrpg_etl_spark.operators.crawl import parse_robots_txt

    docs = spark.createDataFrame(
        [("example.com", ROBOTS_BODY)], "host string, body string"
    )
    return parse_robots_txt(docs)


def test_parse_robots_txt_groups_and_grammar(spark):
    rows = {
        (r["agent"], r["prefix"], r["allow"])
        for r in _parsed(spark).collect()
    }
    assert rows == {
        # group 1: * (pre-group Disallow ignored; empty Disallow dropped)
        ("*", "/private", False),
        ("*", "/private/ok", True),
        # group 2: two consecutive UA lines share the rules
        ("farmbot", "/bots", False),
        ("farmbot", "/bots/welcome", True),
        ("otherbot", "/bots", False),
        ("otherbot", "/bots/welcome", True),
        # group 3: a UA line after rules starts a NEW group
        ("farmbot", "/extra", False),
    }


def test_rules_for_agent_exact_beats_star(spark):
    from farmrpg_etl_spark.operators.crawl import rules_for_agent

    parsed = _parsed(spark)
    farm = {
        (r["prefix"], r["allow"])
        for r in rules_for_agent(parsed, "FarmBot").collect()
    }
    # exact-match groups only (both farmbot groups), star excluded
    assert farm == {
        ("/bots", False), ("/bots/welcome", True), ("/extra", False),
    }
    anon = {
        (r["prefix"], r["allow"])
        for r in rules_for_agent(parsed, "someone-else").collect()
    }
    assert anon == {("/private", False), ("/private/ok", True)}


def test_parse_to_filter_end_to_end(spark):
    """Body -> parse -> agent scoping -> robots_filter: the full RFC
    9309 loop."""
    from farmrpg_etl_spark.operators.crawl import (
        robots_filter,
        rules_for_agent,
    )

    rules = rules_for_agent(_parsed(spark), "farmbot")
    urls = spark.createDataFrame(
        [
            (1, "example.com", "/bots/welcome/page"),  # allow (longest)
            (2, "example.com", "/bots/secret"),        # deny
            (3, "example.com", "/private"),            # no farmbot rule -> allow
            (4, "other.com", "/bots"),                 # unknown host -> allow
        ],
        "doc_id long, host string, path string",
    )
    got = {r["doc_id"]: r["allowed"] for r in robots_filter(urls, rules).collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_rules_for_agent_substring_product_token(spark):
    """RFC 9309 §2.2.1 matching (r12 verdict #3): a group applies when
    its UA token is a case-insensitive SUBSTRING of the crawler's
    product token — versioned crawlers must not silently fall back to
    the * groups — and when several tokens match, the LONGEST wins."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        rules_for_agent,
    )

    body = (
        "User-agent: *\nDisallow: /all\n"
        "User-agent: farm\nDisallow: /farm\n"
        "User-agent: farmbot\nDisallow: /farmbot\n"
    )
    parsed = parse_robots_txt(
        spark.createDataFrame([("h.com", body)], "host string, body string")
    )

    def scope(agent):
        return {
            (r["prefix"], r["allow"])
            for r in rules_for_agent(parsed, agent).collect()
        }

    # versioned UA: 'farmbot' and 'farm' both substrings; longest wins
    assert scope("FarmBot/1.2") == {("/farmbot", False)}
    # exact token, mixed case
    assert scope("FARMBOT") == {("/farmbot", False)}
    # only the short token matches
    assert scope("Farmville/9") == {("/farm", False)}
    # no token matches -> star fallback
    assert scope("unrelated-crawler") == {("/all", False)}


def test_rules_for_agent_matches_product_token_not_version(spark):
    """RFC 9309 §2.2.1 matches group tokens against the PRODUCT TOKEN
    only (r13 verdict #3): the ``/version`` suffix of the crawler's
    identity string must be invisible — a group named ``1.0``, ``0``,
    or ``bot/1`` must NOT capture ``farmbot/1.0``."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        rules_for_agent,
    )

    body = (
        "User-agent: *\nDisallow: /all\n"
        "User-agent: 1.0\nDisallow: /ver\n"
        "User-agent: 0\nDisallow: /zero\n"
        "User-agent: bot/1\nDisallow: /slash\n"
        "User-agent: farmbot\nDisallow: /farmbot\n"
    )
    parsed = parse_robots_txt(
        spark.createDataFrame([("h.com", body)], "host string, body string")
    )

    def scope(agent):
        return {
            (r["prefix"], r["allow"])
            for r in rules_for_agent(parsed, agent).collect()
        }

    # version-ish tokens match the full string but NOT the product token
    assert scope("farmbot/1.0") == {("/farmbot", False)}
    # a crawler whose product token matches nothing falls back to *
    assert scope("stranger/1.0") == {("/all", False)}


def test_rules_for_agent_empty_token_never_matches(spark):
    """A malformed bare ``User-agent:`` line must not create an
    empty token that substring-matches every crawler (ADVICE r13 —
    ``instr(x, '')`` returns 1): the group is unaddressable and the
    crawler falls back to the * group."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        rules_for_agent,
    )

    body = (
        "User-agent:\nDisallow: /hijack\n"
        "User-agent: *\nDisallow: /all\n"
    )
    parsed = parse_robots_txt(
        spark.createDataFrame([("h.com", body)], "host string, body string")
    )
    got = {
        (r["prefix"], r["allow"])
        for r in rules_for_agent(parsed, "farmbot/1.0").collect()
    }
    assert got == {("/all", False)}


def test_rules_for_agent_tie_breaks_to_one_group(spark):
    """Two distinct max-length matching tokens (ADVICE r13): exactly
    ONE group is selected — the lexicographically smallest token —
    instead of merging both groups' rules."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        rules_for_agent,
    )

    body = (
        "User-agent: farmbot\nDisallow: /bot\n"
        "User-agent: farmcat\nDisallow: /cat\n"
    )
    parsed = parse_robots_txt(
        spark.createDataFrame([("h.com", body)], "host string, body string")
    )
    got = {
        (r["prefix"], r["allow"])
        # both 7-char tokens are substrings of the product token
        for r in rules_for_agent(parsed, "farmbot-farmcat/3").collect()
    }
    assert got == {("/bot", False)}


def test_rules_for_agent_longest_match_per_host(spark):
    """Longest-token selection is PER HOST: a host where only the
    short token exists still scopes to it while another host prefers
    its longer token."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        rules_for_agent,
    )

    docs = spark.createDataFrame(
        [
            ("a.com", "User-agent: farm\nDisallow: /f\n"
                      "User-agent: farmbot\nDisallow: /fb\n"),
            ("b.com", "User-agent: farm\nDisallow: /only-short\n"),
        ],
        "host string, body string",
    )
    rules = {
        (r["host"], r["prefix"])
        for r in rules_for_agent(
            parse_robots_txt(docs), "farmbot/2.0"
        ).collect()
    }
    assert rules == {("a.com", "/fb"), ("b.com", "/only-short")}


def test_crawl_loop_over_real_http(spark):
    """Robots BODIES travel the whole loop over real sockets: fake
    site -> executor-side demand_fanout (one GET per host) ->
    parse_robots_txt -> rules_for_agent (substring UA + * fallback)
    -> robots_filter verdicts. Pins the per-host body grammar and the
    one-fetch-per-host shape (the recorded request count equals the
    host count)."""
    from farmrpg_etl_spark.operators.crawl import (
        parse_robots_txt,
        robots_filter,
        rules_for_agent,
    )
    from farmrpg_etl_spark.sources import landing
    from farmrpg_etl_spark.sources.fakesite import serve_game_site
    from farmrpg_etl_spark.sources.http import HttpClientConfig, HttpFetcher
    from pyspark.sql import functions as F

    hosts = spark.createDataFrame(
        [("src3.example.com",), ("src4.example.com",)], "key string"
    )
    srv = serve_game_site(record=True)
    try:
        fetcher = HttpFetcher(
            HttpClientConfig(
                base_url=f"http://127.0.0.1:{srv.server_address[1]}/"
            )
        )
        rows = landing.demand_fanout(hosts, "robots", fetcher=fetcher).collect()
        with srv.lock:
            fetched = [s for s in srv.seen if s["path"] == "/robots.txt"]
    finally:
        srv.shutdown()
        srv.server_close()
    assert len(fetched) == 2  # one fetch per host, no refetch
    assert {s["query"]["host"] for s in fetched} == {
        "src3.example.com", "src4.example.com",
    }
    bodies = spark.createDataFrame(
        [(r["key"], r["body"].decode()) for r in rows],
        "host string, body string",
    )
    rules = rules_for_agent(parse_robots_txt(bodies), "farmbot/1.0")
    got = {
        (r["host"], r["prefix"], r["allow"]) for r in rules.collect()
    }
    assert got == {
        # src3: n%3==0 -> star-only body, farmbot falls back to *
        ("src3.example.com", "/Docs", False),
        # src4: dedicated farmbot group with the allow carve-out
        ("src4.example.com", "/Docs/4", False),
        ("src4.example.com", "/Docs/4/pub", True),
    }
    urls = spark.createDataFrame(
        [
            (1, "src3.example.com", "/Docs/3/pub/1"),   # star deny
            (2, "src4.example.com", "/Docs/4/pub/2"),   # carve-out allow
            (3, "src4.example.com", "/Docs/4/x/3"),     # deny
            (4, "src4.example.com", "/elsewhere"),      # no rule -> allow
        ],
        "doc_id long, host string, path string",
    )
    verdicts = {
        r["doc_id"]: (r["allowed"], r["matched_len"])
        for r in robots_filter(urls, rules).collect()
    }
    assert verdicts == {
        1: (False, 5), 2: (True, 11), 3: (False, 7), 4: (True, 0),
    }


def _live_robots_allowed(doc_id: int, source: str) -> bool:
    """Closed form of the live robots gate (`sources/fakesite.py`):
    hosts whose number is ≡0 mod 3 deny every /Docs path to farmbot;
    the others allow only the /pub/ carve-out that even doc_ids'
    paths enter."""
    n = int(re.search(r"(\d+)", source).group(1))
    return n % 3 != 0 and doc_id % 2 == 0


@pytest.fixture(scope="module")
def v7_interior(spark):
    """The collected v7 interior — the v6 recipe (live robots gate ->
    holdout -> page gate -> line dedup -> census) that v7 cuts per
    language — plus each doc's source, built once for the tests that
    read it."""
    from farmrpg_etl_spark.queries import _v7_interior
    from farmrpg_etl_spark.sources.tables import load_table

    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "source")
        .collect()
    }
    rows = {
        r["doc_id"]: (r["n_kept"], r["out_digest"], r["lang"],
                      r["n_contaminated"])
        for r in _v7_interior(spark, SF).collect()
    }
    return src, rows


def test_v7_interior_membership_invariants(v7_interior):
    """Every interior doc is robots-allowed under the live gate,
    outside the %101 holdout, and carries a sane census; the gates
    really gate (some eligible docs are absent)."""
    src, interior = v7_interior
    for doc_id, (n_kept, digest, lang, n_contaminated) in interior.items():
        assert _live_robots_allowed(doc_id, src[doc_id]), doc_id
        assert doc_id % 101 != 0
        assert n_kept >= 0 and n_contaminated >= 0
        assert len(digest) == 32
        assert isinstance(lang, str) and len(lang) in (2, 3)
    eligible = {
        d for d, s in src.items() if _live_robots_allowed(d, s) and d % 101
    }
    assert 0 < len(interior) < len(eligible)


def test_pipeline_v7_composes_per_lang_cut_over_v6(spark, v7_interior):
    """v7 = v6 + the per-language CCNet cut, where the v6 recipe now
    runs as `_v7_interior`: v7's survivors are a subset of the
    interior's rows (same doc_id/n_kept/out_digest/lang/census),
    every survivor carries its own language's nll/bucket, and the
    tail is gone."""
    from farmrpg_etl_spark.queries import training_data_pipeline_v7

    _, interior = v7_interior
    v7 = training_data_pipeline_v7(spark, SF).collect()
    assert 0 < len(v7) <= len(interior)
    for r in v7:
        assert interior[r["doc_id"]] == (
            r["n_kept"], r["out_digest"], r["lang"], r["n_contaminated"]
        )
        assert r["bucket"] in ("head", "middle")
        assert r["nll"] >= 0.0
    # the per-language split is real: >1 language among survivors
    assert len({r["lang"] for r in v7}) > 1


def test_v7_interior_pages_materialize_once_no_cartesian(spark):
    """The structured-pages relation inside the v7 interior
    materializes ONCE (an eager localCheckpoint leaf — r14: a persist
    here had no release path and leaked a cache entry per pipeline
    call) and every gate and dedup branch reads that one RDD;
    rules/eval-gram joins never degrade to cartesian products. The
    check runs on `_v7_interior` because the v7 row returns a
    checkpointed leaf whose plan shows none of this."""
    from farmrpg_etl_spark.queries import _v7_interior

    df = _v7_interior(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    rdds = {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }
    assert len(rdds) == 1
    assert "CartesianProduct" not in plan.toString()
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in phys


def test_pipeline_v8_selects_target_like_v7_survivors(spark):
    """v8 = DSIR selection over v7's survivors: every selected row IS
    a v7 survivor (same lang/bucket), the selection is deterministic
    (md5-Gumbel keys — identical across runs), k rows come back, and
    the selection is a genuine top-k: every selected gkey beats every
    unselected survivor's implied floor (the k-th selected gkey)."""
    from farmrpg_etl_spark.queries import (
        training_data_pipeline_v7,
        training_data_pipeline_v8,
    )

    sf = "/root/testdata/sf0.001"
    surv = {
        r["doc_id"]: (r["lang"], r["bucket"])
        for r in training_data_pipeline_v7(spark, sf).collect()
    }
    v8a = training_data_pipeline_v8(spark, sf).collect()
    v8b = training_data_pipeline_v8(spark, sf).collect()
    assert sorted(map(tuple, v8a)) == sorted(map(tuple, v8b))
    assert len(v8a) == 50 < len(surv)
    for r in v8a:
        assert surv[r["doc_id"]] == (r["lang"], r["bucket"])
    # a genuine top-k: the gkeys are distinct (6-decimal rounding of a
    # Gumbel perturbation — collisions would make the cut ambiguous)
    # and the logw spread is real (selection had something to rank)
    gkeys = [r["gkey"] for r in v8a]
    assert len(set(gkeys)) == len(gkeys)
    assert max(r["logw"] for r in v8a) > min(r["logw"] for r in v8a)


