"""Real-socket tests for the HTTP fetch layer (`sources/http.py`).

The shared fake site (`sources/fakesite.py`) records every request's
path, query string, and headers, and serves per-endpoint canned
bodies — so the reference's client semantics
(auth cookie, UA/Referer, cachebuster, flag=1, land-and-skip on
non-200 / b"no access") are pinned against real HTTP, not a stub.
The demand fan-out test drives executor-side fetches through Spark's
Python workers over the same server.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from farmrpg_etl_spark.operators.filters import http_guard
from farmrpg_etl_spark.sources.fakesite import serve_game_site
from farmrpg_etl_spark.sources import landing
from farmrpg_etl_spark.sources.http import ENDPOINTS, HttpClientConfig, HttpFetcher


@pytest.fixture()
def site():
    srv = serve_game_site(record=True)
    try:
        yield srv
    finally:
        srv.shutdown()
        srv.server_close()


def _cfg(srv, **kw):
    return HttpClientConfig(
        base_url=f"http://127.0.0.1:{srv.server_address[1]}/",
        cookie="s3cret",
        **kw,
    )


def test_poll_sweep_over_real_http(spark, site, tmp_path):
    fetcher = HttpFetcher(_cfg(site), clock=lambda: 1717243200.0)
    d = str(tmp_path / "landing")
    n = landing.land_poll_sweep(
        spark, d, fetcher=fetcher, fetch_ts=datetime(2024, 6, 1, 12, 0)
    )
    assert n == len(landing.REFERENCE_POLLS) == 17
    rows = {
        (r["source"], r["key"]): r
        for r in landing.read_landing(spark, d).collect()
    }
    assert rows[("chat", "help")]["body"] == b"chat|help"
    assert rows[("flags", "trade")]["body"] == b"flags|trade"
    assert rows[("mailbox", None)]["body"] == b"mailbox|"
    assert rows[("staff", None)]["body"] == b"staff|"
    assert all(r["status"] == 200 for r in rows.values())

    # every request authenticated + identified (reference http.py:8-14)
    assert len(site.seen) == 17
    for req in site.seen:
        assert req["headers"]["Cookie"] == "HighwindFRPG=s3cret"
        assert req["headers"]["User-Agent"] == "farmrpg-etl (contact coderanger)"
        assert req["headers"]["Referer"].startswith("http://127.0.0.1:")
    # chat carries the cachebuster, flags carries flag=1 (chat.py:127-142)
    chat = [r for r in site.seen if r["path"] == "/worker.php"]
    flags = [r for r in site.seen if r["path"] == "/log.php"]
    assert len(chat) == 7 and len(flags) == 7
    assert all(r["query"]["cachebuster"] == "1717243200.0" for r in chat)
    assert all(r["query"]["go"] == "getchat" for r in chat)
    assert all(r["query"] == {"type": "chat", "room": r["query"]["room"], "flag": "1"} for r in flags)


def test_guard_lands_then_drops_auth_failures(spark, site, tmp_path):
    """The 'no access' body lands in the zone verbatim and the F1
    guard removes it — the engine's form of chat.py:151-154."""
    bad = HttpFetcher(HttpClientConfig(base_url=_cfg(site).base_url, cookie="wrong"))
    d = str(tmp_path / "landing")
    landing.land_poll_sweep(
        spark, d, specs=[landing.PollSpec("chat", "help", 1)], fetcher=bad,
        fetch_ts=datetime(2024, 6, 1, 12, 0),
    )
    zone = landing.read_landing(spark, d)
    assert zone.count() == 1  # recorded for audit...
    assert zone.first()["body"] == b"no access"
    assert http_guard(zone).count() == 0  # ...dropped from the pipeline


def test_http_error_status_lands_and_guard_drops(spark, site, tmp_path):
    fetcher = HttpFetcher(_cfg(site))
    site.fail_budget = 10**6  # always 503
    d = str(tmp_path / "landing")
    landing.land_poll_sweep(
        spark, d, specs=[landing.PollSpec("online", None, 600)], fetcher=fetcher,
        fetch_ts=datetime(2024, 6, 1, 12, 0),
    )
    zone = landing.read_landing(spark, d)
    row = zone.first()
    assert row["status"] == 503 and row["body"] == b"upstream sad"
    assert http_guard(zone).count() == 0


def test_retry_heals_transient_5xx(site):
    site.fail_budget = 2
    fetcher = HttpFetcher(_cfg(site, retries=3, backoff_sec=0.01))
    status, body = fetcher(landing.PollSpec("online", None, 600))
    assert (status, body) == (200, b"online|")
    assert len(site.seen) == 3  # 2 failures + 1 success


def test_no_retry_by_default_matches_reference(site):
    site.fail_budget = 1
    fetcher = HttpFetcher(_cfg(site))
    status, _ = fetcher(landing.PollSpec("online", None, 600))
    assert status == 503
    assert len(site.seen) == 1


def test_connection_refused_lands_status_zero():
    fetcher = HttpFetcher(
        HttpClientConfig(base_url="http://127.0.0.1:9/", timeout_sec=0.2)
    )
    status, body = fetcher(landing.PollSpec("online", None, 600))
    assert status == 0 and body  # error text, visible in the zone


def test_demand_fanout_executor_side_http(spark, site):
    """S4/S7 over real sockets: the fetcher pickles into Spark's Python
    workers and each partition issues its own HTTP requests."""
    fetcher = HttpFetcher(_cfg(site))
    keys = spark.range(0, 40).selectExpr("cast(id as string) as key").repartition(4)
    out = landing.demand_fanout(keys, "message", fetcher=fetcher)
    got = {(r["key"], r["status"], bytes(r["body"])) for r in out.collect()}
    assert got == {(str(i), 200, f"message:{i}".encode()) for i in range(40)}
    assert len(site.seen) == 40
    assert {r["query"]["id"] for r in site.seen} == {str(i) for i in range(40)}


def test_unknown_source_raises():
    fetcher = HttpFetcher(HttpClientConfig(base_url="http://127.0.0.1:9/"))
    with pytest.raises(ValueError):
        fetcher(landing.PollSpec("nope", None, 1))


def test_endpoint_map_matches_reference():
    """Pin the full endpoint map (scrapers/{chat,mailbox,user}.py)."""
    assert ENDPOINTS["chat"][0] == "worker.php"
    assert ENDPOINTS["flags"][0] == "log.php"
    assert ENDPOINTS["mailbox"][0] == "messages.php"
    assert ENDPOINTS["message"][0] == "message.php"
    assert ENDPOINTS["profile"][0] == "profile.php"
    assert ENDPOINTS["online"][0] == "online.php"
    assert ENDPOINTS["staff"][0] == "members.php"
    assert ENDPOINTS["profile"][1]("bob", 0.0) == {"user_name": "bob"}
    assert ENDPOINTS["staff"][1](None, 0.0) == {"type": "staff"}


# ---------------------------------------------------------------- POST


def test_post_sendmessage_exact_reference_shape(spark, site):
    """K7 real send path: reply_sink → form POST worker.php?go=sendmessage
    with in_reply_to/to/subject/body (reference bots/base.py:23-33)."""
    from farmrpg_etl_spark.bots.commands import (
        make_http_reply_sender,
        reply_sink,
    )

    replies = spark.createDataFrame(
        [(42, "alice", "RE: hi", "pong")],
        "reply_to_id bigint, username string, subject string, body string",
    )
    log: set = set()
    assert reply_sink(replies, make_http_reply_sender(HttpFetcher(_cfg(site))), log) == 1
    # replay is a no-op
    assert reply_sink(replies, make_http_reply_sender(HttpFetcher(_cfg(site))), log) == 0
    with site.lock:
        posts = [s for s in site.seen if s.get("form")]
    assert len(posts) == 1
    p = posts[0]
    assert p["path"] == "/worker.php"
    assert p["query"] == {"go": "sendmessage"}
    assert p["form"] == {
        "in_reply_to": "42", "to": "alice", "subject": "RE: hi", "body": "pong",
    }
    assert p["headers"]["Content-Type"] == "application/x-www-form-urlencoded"
    assert p["headers"]["Cookie"] == "HighwindFRPG=s3cret"


def test_post_sendmessage_auth_failure_raises(spark, site):
    """A 'no access' reply body must raise so the idempotency log never
    records a failed send."""
    from farmrpg_etl_spark.bots.commands import (
        make_http_reply_sender,
        reply_sink,
    )

    replies = spark.createDataFrame(
        [(1, "bob", "RE: x", "pong")],
        "reply_to_id bigint, username string, subject string, body string",
    )
    bad = HttpFetcher(
        HttpClientConfig(
            base_url=f"http://127.0.0.1:{site.server_address[1]}/",
            cookie="wrong",
        )
    )
    log: set = set()
    with pytest.raises(RuntimeError, match="sendmessage failed"):
        reply_sink(replies, make_http_reply_sender(bad), log)
    assert log == set()  # nothing recorded as sent


def test_post_accounts_update_json_bearer(spark, site):
    """K6 real send path: JSON POST v1/accounts:update with Bearer auth
    (reference firebase.py:27-36); payload is localId + the claims doc
    as a JSON string in customAttributes."""
    from farmrpg_etl_spark.bots.commands import push_claims_distributed

    changes = spark.createDataFrame(
        [("UID7", '{"farmhand":"true","ranger":"false"}')],
        "firebase_uid string, claims string",
    )
    push_claims_distributed(changes, HttpFetcher(_cfg(site)), bearer="tok-123")
    with site.lock:
        posts = [s for s in site.seen if s["path"] == "/v1/accounts:update"]
    assert len(posts) == 1
    p = posts[0]
    assert p["form"] == {
        "localId": "UID7",
        "customAttributes": '{"farmhand":"true","ranger":"false"}',
    }
    assert p["headers"]["Authorization"] == "Bearer tok-123"
    assert p["headers"]["Content-Type"] == "application/json"


def test_post_accounts_update_missing_bearer_401(spark, site):
    """A non-200 fails the sending task, and the error reaches the
    driver with the status in it."""
    from farmrpg_etl_spark.bots.commands import push_claims_distributed

    changes = spark.createDataFrame(
        [("UID7", "{}")], "firebase_uid string, claims string"
    )
    with pytest.raises(Exception, match="accounts:update failed: status=401"):
        push_claims_distributed(changes, HttpFetcher(_cfg(site)), bearer="")


def test_push_claims_distributed_per_uid_order_and_nonce(spark, site):
    """Distributed K6 with order_col: each uid's changes post from ONE
    task in change order (final receiver state = latest change), and
    with send_change_id=True the change id rides as a changeId query
    param for receiver-side retry dedupe."""
    from farmrpg_etl_spark.bots.commands import push_claims_distributed

    rows = [
        (f"UID{u}", '{"v":"%d"}' % e, u * 100 + e)
        for u in range(4)
        for e in (3, 1, 2)  # shuffled per-uid change order
    ]
    changes = spark.createDataFrame(
        rows, "firebase_uid string, claims string, event_id int"
    )
    push_claims_distributed(
        changes, HttpFetcher(_cfg(site)), bearer="tok",
        parallelism=4, order_col="event_id", send_change_id=True,
    )
    with site.lock:
        posts = [
            (s["form"]["localId"], s["form"]["customAttributes"],
             s["query"].get("changeId"))
            for s in site.seen
            if s["path"] == "/v1/accounts:update"
        ]
    assert len(posts) == 12
    by_uid: dict = {}
    for uid, claims, cid in posts:
        by_uid.setdefault(uid, []).append((claims, cid))
    for u in range(4):
        got = by_uid[f"UID{u}"]
        # per-uid arrival order == event order; nonce = the event id
        assert got == [
            ('{"v":"%d"}' % e, str(u * 100 + e)) for e in (1, 2, 3)
        ]


def test_push_claims_distributed_null_order_value_posts_without_nonce(spark, site):
    """A null order value must not fail the push: its row still posts,
    and carries no changeId (never the string "None")."""
    from farmrpg_etl_spark.bots.commands import push_claims_distributed

    changes = spark.createDataFrame(
        [("UID1", "{}", None), ("UID1", '{"x":"1"}', 5)],
        "firebase_uid string, claims string, event_id int",
    )
    push_claims_distributed(
        changes, HttpFetcher(_cfg(site)), bearer="tok",
        parallelism=2, order_col="event_id", send_change_id=True,
    )
    with site.lock:
        posts = sorted(
            (s["form"]["customAttributes"], s["query"].get("changeId"))
            for s in site.seen
            if s["path"] == "/v1/accounts:update"
        )
    assert posts == [('{"x":"1"}', "5"), ("{}", None)]


def test_push_claims_distributed_no_nonce_by_default(spark, site):
    """send_change_id defaults OFF (r12 advice #3): the real
    identitytoolkit endpoint defines no changeId param, so ordering
    alone must not attach one."""
    from farmrpg_etl_spark.bots.commands import push_claims_distributed

    changes = spark.createDataFrame(
        [("UID1", "{}", 1)],
        "firebase_uid string, claims string, event_id int",
    )
    push_claims_distributed(
        changes, HttpFetcher(_cfg(site)), bearer="tok",
        parallelism=2, order_col="event_id",
    )
    with site.lock:
        posts = [
            s for s in site.seen if s["path"] == "/v1/accounts:update"
        ]
    assert len(posts) == 1
    assert "changeId" not in posts[0]["query"]
