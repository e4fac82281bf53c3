"""End-to-end Spark parse stage over the reference golden fixtures:
raw payload frame → mapInPandas parse → typed rows + quarantine.
"""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from pyspark.sql import functions as F

from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows, quarantine
from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA

FIXTURES = os.environ.get(
    "REFERENCE_FIXTURES", "/root/reference/test/scrapers/fixtures"
)

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not available"
)

T = datetime(2022, 4, 17, 23, 59, 59)


def load(name: str) -> bytes:
    with open(os.path.join(FIXTURES, f"{name}.html"), "rb") as f:
        return f.read()


@needs_fixtures
def test_chat_stage_end_to_end(spark):
    payloads = spark.createDataFrame(
        [
            ("chat", "help", T, 200, load("chat_help")),
            ("chat", "trade", T, 200, load("chat_complex")),
            ("chat", "global", T, 404, b"server error"),     # F1: dropped
            ("chat", "spoilers", T, 200, b"no access"),      # F1: dropped
            ("chat", "trivia", T, 200, b"<div>not a chat payload</div>"),
        ],
        PAYLOAD_SCHEMA,
    )
    parsed = parse_payloads(payloads, "chat")
    ok = parsed_rows(parsed)
    assert ok.count() == 102  # 100 help + 2 complex
    help_first = (
        ok.filter((F.col("_key") == "help") & (F.col("pos") == 0)).first()
    )
    assert help_first["id"] == "5364278"
    assert help_first["username"] == "Nubishi"
    assert help_first["ts"] == datetime(2022, 4, 17, 1, 44, 56)
    assert help_first["room"] == "help"
    # trivia payload has no messages → zero rows, but no error either
    # (an empty chat div is a valid empty payload)
    bad = quarantine(parsed).collect()
    assert [r["key"] for r in bad] == []


def test_quarantine_on_parse_error(spark):
    # a chat-txt div missing its timestamp span → ParseError → quarantined
    html = b'<div class="chat-txt"><div class="chip"></div></div>'
    payloads = spark.createDataFrame(
        [("chat", "help", T, 200, html)], PAYLOAD_SCHEMA
    )
    parsed = parse_payloads(payloads, "chat")
    assert parsed_rows(parsed).count() == 0
    bad = quarantine(parsed).collect()
    assert len(bad) == 1
    assert "timestamp" in bad[0]["error"]


@needs_fixtures
def test_profile_and_online_stages(spark):
    payloads = spark.createDataFrame(
        [
            ("profile", "RybeR", T, 200, load("profile_ryber")),
            ("online", None, T, 200, load("online")),
            ("staff", None, T, 200, load("members_staff")),
        ],
        PAYLOAD_SCHEMA,
    )
    snaps = parsed_rows(parse_payloads(payloads, "profile")).collect()
    assert len(snaps) == 1
    assert snaps[0]["user_id"] == 4153
    assert snaps[0]["is_ranger"] is True
    online = parsed_rows(parse_payloads(payloads, "online"))
    assert online.count() == 1626
    staff = parsed_rows(parse_payloads(payloads, "staff"))
    assert staff.count() == 25


@needs_fixtures
def test_mailbox_and_message_stages(spark):
    t_mail = datetime(2022, 6, 16, 23, 59, 59)
    payloads = spark.createDataFrame(
        [
            ("mailbox", None, t_mail, 200, load("mailbox")),
            ("message", "100", t_mail, 200, load("message")),
        ],
        PAYLOAD_SCHEMA,
    )
    rows = parsed_rows(parse_payloads(payloads, "mailbox")).collect()
    assert len(rows) == 5
    assert sum(1 for r in rows if r["unread"]) == 2
    msg = parsed_rows(parse_payloads(payloads, "message")).first()
    assert msg["id"] == 100
    assert msg["username"] == "Lazyforlife"
    assert msg["ts"] == datetime(2022, 5, 25, 18, 29, 59)
    assert msg["subject"] == "trade ratio bot"


@needs_fixtures
def test_flags_stage(spark):
    payloads = spark.createDataFrame(
        [("flags", "help", T, 200, load("flags"))], PAYLOAD_SCHEMA
    )
    rows = parsed_rows(parse_payloads(payloads, "flags"))
    assert rows.count() == 59
    first = rows.filter(F.col("pos") == 0).first()
    assert first["username"] == "k-swag"
    assert first["flags"] == 2
