"""Crawl-politeness operators: robots.txt-style URL filtering.

A web-scale corpus pipeline must honor (or at least record) robots
rules before a page enters the training set. This module implements
the rule-evaluation half — the REP matching semantics published in
RFC 9309: per host, the matching rule with the LONGEST path prefix
wins; on a specificity tie, ``allow`` wins; a URL matching no rule is
allowed. (Fetching/parsing robots.txt bodies is the deployment-side
fetcher's job — the landing-zone seam, like `sources/http.py`; this
operator consumes the parsed rules relation.)

No reference-repo counterpart — extends the LLM-pipeline surface
(like operators.curation / functions.urls).

Scale design (100 TB): the rules relation is dimension-sized (a few
rules per crawled host) and is BROADCAST — the URL corpus never
shuffles for the join. The longest-match argmax is a single partial
aggregation keyed by the URL row (uniform key, no skew pivot), and
the specificity/allow ordering rides one ``max(struct(...))`` so no
window or second shuffle is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["robots_filter", "parse_robots_txt", "rules_for_agent"]


def parse_robots_txt(
    docs: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """Parse robots.txt BODIES into the rules relation
    :func:`robots_filter` consumes — the other half of the RFC 9309
    story (fetch the bodies with `sources/http.py`, parse here,
    filter with `robots_filter`). One input row per host; output
    ``(host, agent, prefix, allow)``, one row per (group agent ×
    group rule).

    Grammar handled (RFC 9309 §2.2): ``#`` comments stripped; blank
    lines ignored; directives case-insensitive with optional
    whitespace around ``:``; a GROUP is one-or-more consecutive
    ``User-agent`` lines followed by its rules — a ``User-agent``
    line after a rule line starts a NEW group; rules before any
    ``User-agent`` line are ignored (no group); empty-pattern rules
    ("``Disallow:``") match nothing and are dropped, per §2.2.2.

    Shape: ROW-LOCAL — one robots body is one row, so the whole
    grammar (line split, comment strip, directive extraction, the
    running group-id count, the agent x group-rule pairing) is a
    single projection of higher-order array expressions followed by
    ONE explode: zero shuffles, zero windows. The r12-r16 form
    posexploded the lines and derived the group id with a per-host
    window, then equi-joined agents to rules — 2 shuffles plus a
    window sort that, on a dimension-sized bodies relation, were
    pure stage overhead (~2-3 s per pipeline action at 20 hosts,
    r17). The group-id scan is one pass building the group-start
    index array plus an O(#groups) count per line (r18, ADVICE r17:
    the index-slice form was O(lines²) per body, which matters for
    real-world robots.txt files of tens of thousands of lines) —
    bounded by robots-file length, never corpus-wide."""
    pairs = _robots_pairs_expr(F.col(body_col))
    return docs.select(
        F.col(host_col).alias("host"), F.explode(pairs).alias("__r")
    ).select(
        "host",
        F.col("__r.agent").alias("agent"),
        F.col("__r.prefix").alias("prefix"),
        F.col("__r.allow").alias("allow"),
    )


def _robots_pairs_expr(body):
    """``array<struct<agent,prefix,allow>>`` parsed from ONE robots.txt
    body string — the row-local RFC 9309 §2.2 grammar shared by
    :func:`parse_robots_txt`. Every intermediate is let_-bound (see
    ``functions.hashing.let_``) so the line/directive arrays are
    evaluated once per row."""
    from farmrpg_etl_spark.functions.hashing import let_

    lines = F.transform(
        F.split(body, "\n"),
        lambda ln: F.trim(F.regexp_replace(ln, "#.*$", "")),
    )
    dirs = F.filter(
        F.transform(
            F.filter(lines, lambda ln: ln != ""),
            lambda ln: F.struct(
                F.lower(
                    F.regexp_extract(
                        ln, r"(?i)^(user-agent|allow|disallow)\s*:", 1
                    )
                ).alias("directive"),
                F.trim(
                    F.regexp_extract(
                        ln, r"(?i)^(?:user-agent|allow|disallow)\s*:(.*)$", 1
                    )
                ).alias("value"),
            ),
        ),
        lambda x: x["directive"] != "",
    )

    def _with_dirs(d):
        uas = F.transform(d, lambda x: x["directive"] == F.lit("user-agent"))

        def _with_uas(u):
            # grp at 0-based index i = count of group-STARTING ua lines
            # in [0..i] (ua at j whose previous directive-line is not
            # ua). The start indices are computed ONCE into a
            # groups-sized array, so each element's count is an
            # O(#groups) scan — the r17 form materialized
            # sequence(0, i) and re-tested the start condition per
            # index, O(lines²) element allocations per body (ADVICE
            # r17: real robots.txt files run to tens of thousands of
            # lines). Bound: the count below scans all of ``st`` for
            # every line, O(lines × groups) per body — linear in lines
            # while a file has few User-agent groups, quadratic only
            # when nearly every line starts a group. A prefix sum over
            # the lines with ``aggregate``/``concat`` is no cheaper in
            # Catalyst: it copies the accumulator array at each step,
            # O(lines²) always, and arrays have no binary search.
            starts = F.filter(
                F.transform(d, lambda x, i: i),
                lambda j: F.element_at(u, j + 1)
                & F.when(j == 0, F.lit(True)).otherwise(
                    ~F.element_at(u, j)
                ),
            )

            def _with_starts(st):
                elems = F.transform(
                    d,
                    lambda x, i: F.struct(
                        x["directive"].alias("directive"),
                        x["value"].alias("value"),
                        F.size(F.filter(st, lambda s: s <= i)).alias(
                            "grp"
                        ),
                    ),
                )

                def _with_elems(e):
                    # empty User-agent values (a bare "User-agent:"
                    # line) are dropped like empty rule patterns — an
                    # empty token would substring-match every crawler
                    # and hijack the host's scope (ADVICE r13)
                    agents = F.transform(
                        F.filter(
                            e,
                            lambda x: (x["directive"] == "user-agent")
                            & (x["value"] != ""),
                        ),
                        lambda x: F.struct(
                            F.lower(x["value"]).alias("agent"),
                            x["grp"].alias("grp"),
                        ),
                    )
                    rules = F.filter(
                        e,
                        lambda x: (x["directive"] != "user-agent")
                        & (x["value"] != ""),
                    )
                    # agent x same-group-rule pairing (the old equi-join
                    # on (host, grp)); pre-group rules (grp 0) pair with
                    # no agent and drop naturally
                    return F.flatten(
                        F.transform(
                            agents,
                            lambda a: F.transform(
                                F.filter(
                                    rules, lambda r: r["grp"] == a["grp"]
                                ),
                                lambda r: F.struct(
                                    a["agent"].alias("agent"),
                                    r["value"].alias("prefix"),
                                    (r["directive"] == "allow").alias(
                                        "allow"
                                    ),
                                ),
                            ),
                        )
                    )

                return let_(elems, _with_elems)

            return let_(starts, _with_starts)

        return let_(uas, _with_uas)

    return let_(dirs, _with_dirs)


def rules_for_agent(parsed: DataFrame, agent: str) -> DataFrame:
    """Scope a :func:`parse_robots_txt` relation to one crawler with
    RFC 9309 §2.2.1 product-token matching (r12 verdict #3): a group
    applies when its ``User-agent`` token is a case-insensitive
    SUBSTRING of the crawler's PRODUCT TOKEN — the part of the
    identity string before any ``/version`` suffix (r13 verdict #3:
    matching against the full ``name/version`` string would let a
    group token ``1.0`` or ``bot/1`` spuriously capture
    ``farmbot/1.0``). So a crawler identifying as ``FooBar/1.2``
    obeys a ``User-agent: FooBar`` group (and a ``foo`` group), never
    a ``1.2`` group. When several tokens match, only the LONGEST
    (most specific) token's group applies per host — a max-length tie
    between distinct tokens breaks to the lexicographically smallest
    token, so exactly ONE group is selected (RFC 9309 picks a single
    most-specific group; the tie order is our deterministic choice).
    Hosts with no matching token fall back to their ``*`` groups; a
    host with neither contributes no rules (everything allowed, the
    RFC default). Empty ``User-agent`` tokens (a malformed bare
    ``User-agent:`` line) never match — substring-of-everything would
    otherwise hijack every host's scope (ADVICE r13).

    Returns ``(host, prefix, allow)`` ready for :func:`robots_filter`.
    The matching predicate runs on the parsed RULES relation —
    dimension-sized — never on the URL corpus.

    Shape (r17): ONE shuffle — collect each host's parsed rows into an
    array, then the token match / longest-then-lexicographic winner /
    star fallback / dedup are row-local array expressions. The old
    form (filter → per-host groupBy → two joins → union → distinct)
    was 3-4 shuffles of a dimension-sized relation: pure stage
    overhead. Same output set by construction.
    """
    from farmrpg_etl_spark.functions.hashing import let_

    a = agent.lower().split("/", 1)[0].strip()
    g = parsed.groupBy("host").agg(
        F.collect_list(F.struct("agent", "prefix", "allow")).alias("__rs")
    )

    def _pick(rs):
        def _with_matched(m):
            # one winning token per host: longest, then lexicographically
            # smallest (min over (-len, token) picks exactly that)
            def _with_best(b):
                exact = F.filter(m, lambda x: x["agent"] == b["tok"])
                star = F.filter(rs, lambda x: x["agent"] == "*")
                sel = F.when(F.size(m) > 0, exact).otherwise(star)
                return F.array_distinct(
                    F.transform(
                        sel,
                        lambda x: F.struct(
                            x["prefix"].alias("prefix"),
                            x["allow"].alias("allow"),
                        ),
                    )
                )

            best = F.array_min(
                F.transform(
                    m,
                    lambda x: F.struct(
                        (-F.length(x["agent"])).alias("nl"),
                        x["agent"].alias("tok"),
                    ),
                )
            )
            return let_(best, _with_best)

        matched = F.filter(
            rs,
            lambda x: (x["agent"] != "*")
            & (F.length(x["agent"]) > 0)
            & (F.instr(F.lit(a), x["agent"]) > 0),
        )
        return let_(matched, _with_matched)

    out = g.select("host", F.explode(_pick(F.col("__rs"))).alias("__p"))
    return out.select(
        "host",
        F.col("__p.prefix").alias("prefix"),
        F.col("__p.allow").alias("allow"),
    )


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Decide allow/deny per URL row under RFC 9309 matching.

    ``urls``: one row per URL with ``id_col``, ``host_col``,
    ``path_col`` (use `functions.urls.url_host` / ``url_path`` to
    derive them from raw URLs).
    ``rules``: ``(host, prefix, allow boolean)`` — one row per
    robots rule, already scoped to the relevant user-agent.

    Returns the ``urls`` rows plus ``matched_len`` (longest matching
    prefix length, 0 when no rule matched) and ``allowed``.

    Tie semantics: ``max(struct(len, allow))`` — equal-length rules
    sort the allow=true rule last, so allow wins the tie exactly as
    RFC 9309 §2.2.2 specifies.
    """
    winner = _rule_winner(urls, rules, id_col, host_col, path_col)
    out = urls.join(winner, urls[id_col] == winner["__id"], "left")
    return out.select(
        *[urls[c] for c in urls.columns],
        F.coalesce(F.col("__w.l"), F.lit(0)).cast("long").alias("matched_len"),
        F.coalesce(F.col("__w.a"), F.lit(True)).alias("allowed"),
    )


def _rule_winner(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str,
    host_col: str,
    path_col: str,
) -> DataFrame:
    """The ONE winning-rule construction shared by
    :func:`robots_filter` and :func:`robots_denied_ids` (so the gate
    arithmetic cannot fork): per URL id, ``max(struct(prefix_len,
    allow))`` over the matching rules — ``(__id, __w)``."""
    cand = urls.join(
        F.broadcast(rules), urls[host_col] == rules["host"], "inner"
    ).filter(F.col(path_col).startswith(F.col("prefix")))
    return cand.groupBy(urls[id_col].alias("__id")).agg(
        F.max(
            F.struct(
                F.length("prefix").alias("l"),
                F.col("allow").alias("a"),
            )
        ).alias("__w")
    )


def robots_denied_ids(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """IDs whose winning rule DENIES — the exact complement of
    ``robots_filter(urls, rules).filter('allowed')`` over the same
    urls (unmatched URLs default to allowed per RFC 9309, so only a
    matched deny-winner lands here). Gate consumers that only need
    the allow/deny split should anti-join this relation instead of
    re-joining the full ``robots_filter`` output: the denied set is
    rule-match-sized (never corpus-sized) and the urls relation is
    scanned ONCE — measured 0.9-1.3 s -> 0.7-1.0 s for the v5-v10
    pipelines' page-gate stage at sf0.1 (r17), identical survivors.

    COVERAGE CONTRACT (ADVICE r17): the anti-join is equivalent to the
    inner-join-on-allowed form only when the relation being gated
    contains each doc id AT MOST ONCE AND every gated doc id appears
    in ``urls`` — a doc id missing from ``urls`` has no winner row, so
    the anti-join PASSES it (the RFC "no rule matched" default), where
    the old inner join on the filtered output would have dropped it.
    Callers must gate against the same one-row-per-id urls relation
    they derived the ids from (all current call sites do)."""
    winner = _rule_winner(urls, rules, id_col, host_col, path_col)
    return winner.filter(~F.col("__w.a")).select(
        F.col("__id").alias(id_col)
    )
