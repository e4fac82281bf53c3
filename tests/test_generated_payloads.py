"""Parser, parse-stage and E3 tests fed by generated payloads.

``perfbench.gen.ChatWorld`` emits seeded chat, flag-log and profile
HTML together with the ground truth of what each payload holds. These
tests run that HTML through the parsers, the Spark parse stage and the
user pipeline, so they need no reference fixture files. They are the
generated twins of the fixture tests in ``test_parsers.py``,
``test_parse_stage.py`` and ``test_topology.py::test_user_pipeline``,
which skip where the fixtures are absent. The generator has no online,
mailbox or mail pages; those payloads are built here from a sweep's
chat messages, in the markup the parsers read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from farmrpg_etl_spark.parse import parsers
from farmrpg_etl_spark.parse.stage import parse_payloads, parsed_rows, quarantine
from farmrpg_etl_spark.plans.topology import user_pipeline_batch
from farmrpg_etl_spark.sinks.writers import ParquetTable
from farmrpg_etl_spark.sources.landing import PAYLOAD_SCHEMA
from perfbench.gen import CHICAGO, FLAGS_PER_POLL, ChatWorld, _naive_utc


def _malformed_sweep():
    """The first sweep of seed 3 that holds a chat payload the parser
    must reject (the generator breaks ~1% of them)."""
    world = ChatWorld(3)
    for _ in range(60):
        sw = world.sweep()
        if sw.quarantined:
            return world, sw
    raise AssertionError("no malformed chat payload in 60 sweeps")


def _payloads(spark, sw, source, extra=()):
    rows = [
        (spec.source, spec.key, _naive_utc(sw.fetch_ts), 200,
         sw.bodies[(spec.source, spec.key)])
        for spec in sw.specs if spec.source == source
    ]
    return spark.createDataFrame(rows + list(extra), PAYLOAD_SCHEMA)


def _window_rows(world, room):
    """What a parseable chat payload of ``room`` holds, newest first."""
    return [
        (room, m.id, _naive_utc(m.ts), m.emblem, m.username, m.content,
         m.deleted, pos)
        for pos, m in enumerate(world.rooms[room])
    ]


def _role(world, uid):
    role = world.user_roles[uid]
    return role == "Farm Hand", role == "Ranger"


def _flag_rows(world):
    """Rows of one sweep's flag logs: each lists FLAGS_PER_POLL of the
    messages its room has shown (a room's first sweep shows 100)."""
    return sum(min(FLAGS_PER_POLL, len(ids)) for ids in world.observed.values())


def _profile_uids(sw):
    return {
        spec.key: int(spec.key[len("user"):])
        for spec in sw.specs if spec.source == "profile"
    }


# -- pure parsers -------------------------------------------------------------


def test_parse_chat_generated():
    world, sw = _malformed_sweep()
    parsed, rejected = [], []
    for spec in sw.specs:
        if spec.source != "chat":
            continue
        try:
            rows = parsers.parse_chat(spec.key, sw.bodies[("chat", spec.key)], sw.fetch_ts)
        except parsers.ParseError as e:
            assert "message ID" in str(e)
            rejected.append(spec.key)
            continue
        assert [
            (r["room"], r["id"], _naive_utc(r["ts"]), r["emblem"], r["username"],
             r["content"], r["deleted"], r["pos"])
            for r in rows
        ] == _window_rows(world, spec.key)
        assert all(r["flags"] == 0 and r["deleted_ts"] is None for r in rows)
        parsed.extend(rows)
    assert len(rejected) == sw.quarantined == 1
    assert len(parsed) == sw.observations
    assert any(r["deleted"] for r in parsed)


def test_parse_flags_generated():
    world = ChatWorld(5)
    sw = world.sweep()
    messages = world.truth.messages
    by_key = {(m["room"], m["ts"], m["username"]): m for m in messages.values()}
    n = 0
    for spec in sw.specs:
        if spec.source != "flags":
            continue
        rows = parsers.parse_flags(spec.key, sw.bodies[("flags", spec.key)], sw.fetch_ts)
        assert [r["pos"] for r in rows] == list(range(len(rows)))
        assert len({r["id"] for r in rows}) == len(rows)
        for r in rows:
            m = by_key[(spec.key, _naive_utc(r["ts"]), r["username"])]
            assert (r["content"], r["flags"]) == (m["content"], m["flags"])
        n += len(rows)
    assert n == _flag_rows(world)


def test_parse_profile_generated():
    world = ChatWorld(5)
    for _ in range(4):
        sw = world.sweep()
        for username, uid in _profile_uids(sw).items():
            (r,) = parsers.parse_profile(username, sw.bodies[("profile", username)], sw.fetch_ts)
            assert (r["user_id"], r["username"], r["ts"]) == (uid, username, sw.fetch_ts)
            assert (r["is_farmhand"], r["is_ranger"]) == _role(world, uid)


# -- Spark parse stage (twins of test_parse_stage.py) --------------------------


def test_chat_stage_end_to_end_generated(spark):
    world, sw = _malformed_sweep()
    t = _naive_utc(sw.fetch_ts)
    parsed = parse_payloads(
        _payloads(spark, sw, "chat", extra=[
            ("chat", "help", t, 404, b"server error"),  # F1: dropped
            ("chat", "help", t, 200, b"no access"),     # F1: dropped
        ]),
        "chat",
    )
    bad = quarantine(parsed).collect()
    assert len(bad) == sw.quarantined == 1
    assert "message ID" in bad[0]["error"]
    assert bad[0]["fetch_ts"] == t
    got = sorted(
        tuple(r) for r in parsed_rows(parsed).select(
            "room", "id", "ts", "emblem", "username", "content", "deleted", "pos"
        ).collect()
    )
    rooms = [s.key for s in sw.specs if s.source == "chat" and s.key != bad[0]["key"]]
    assert got == sorted(row for room in rooms for row in _window_rows(world, room))
    assert len(got) == sw.observations


def test_profile_and_online_stages_generated(spark):
    world, sw = _malformed_sweep()
    senders = sorted({m.username for msgs in world.rooms.values() for m in msgs})
    online = "".join(
        f'<a href="profile.php?user_name={u}">{u}</a>' for u in senders
    ).encode()
    t = _naive_utc(sw.fetch_ts)
    payloads = _payloads(spark, sw, "profile", extra=[
        ("online", None, t, 200, online),
        ("staff", None, t, 200, online),
    ])
    snaps = parsed_rows(parse_payloads(payloads, "profile")).collect()
    uids = _profile_uids(sw)
    assert {r["username"]: r["user_id"] for r in snaps} == uids
    for r in snaps:
        assert r["ts"] == t
        assert (r["is_farmhand"], r["is_ranger"]) == _role(world, r["user_id"])
    for source in ("online", "staff"):
        rows = parsed_rows(parse_payloads(payloads, source)).collect()
        assert sorted(r["username"] for r in rows) == senders


def _mail_html(m) -> bytes:
    stamp = m.ts.astimezone(CHICAGO).strftime("%b %d, %I:%M:%S %p")
    return (
        f'<div class="card-header">RE: {m.room}</div>'
        f'<div class="card-content-inner">{m.content}</div>'
        f'<div class="card-content-inner">From '
        f'<a href="profile.php?user_name={m.username}">{m.username}</a>'
        f" on {stamp}</div>"
    ).encode()


BOLD = ' style="font-weight:bold"'


def test_mailbox_and_message_stages_generated(spark):
    """A sweep's first chat message of each room, delivered as mail;
    every other one unread."""
    world, sw = _malformed_sweep()
    mail = [msgs[0] for msgs in world.rooms.values()]
    inbox = "".join(
        f'<a class="item-link" href="message.php?id={m.id}">'
        f'<div class="item-title"{BOLD if j % 2 == 0 else ""}>'
        f"{m.username}</div></a>"
        for j, m in enumerate(mail)
    )
    t = _naive_utc(sw.fetch_ts)
    payloads = spark.createDataFrame(
        [("mailbox", None, t, 200, f'<div id="inbox">{inbox}</div>'.encode())]
        + [("message", m.id, t, 200, _mail_html(m)) for m in mail],
        PAYLOAD_SCHEMA,
    )
    box = parsed_rows(parse_payloads(payloads, "mailbox")).collect()
    assert [(r["id"], r["unread"]) for r in box] == [
        (int(m.id), j % 2 == 0) for j, m in enumerate(mail)
    ]
    got = {
        r["id"]: r
        for r in parsed_rows(parse_payloads(payloads, "message")).collect()
    }
    assert set(got) == {int(m.id) for m in mail}
    for m in mail:
        r = got[int(m.id)]
        assert (r["username"], r["ts"], r["subject"], r["content"]) == (
            m.username, _naive_utc(m.ts), f"RE: {m.room}", m.content
        )


def test_flags_stage_generated(spark):
    world = ChatWorld(5)
    sw = world.sweep()
    rows = parsed_rows(parse_payloads(_payloads(spark, sw, "flags"), "flags"))
    truth = {
        (m["room"], m["ts"], m["username"]): (m["content"], m["flags"])
        for m in world.truth.messages.values()
    }
    got = rows.select("room", "ts", "username", "content", "flags", "pos").collect()
    assert len(got) == _flag_rows(world)
    for r in got:
        assert truth[(r["room"], r["ts"], r["username"])] == (r["content"], r["flags"])
    firsts = rows.filter(F.col("pos") == 0).select("room").collect()
    assert sorted(r["room"] for r in firsts) == sorted(
        s.key for s in sw.specs if s.source == "flags"
    )


# -- E3 (twin of test_topology.py::test_user_pipeline) --------------------------


def test_user_pipeline_generated(spark, tmp_path):
    """Profile payloads of six sweeps, one batch each: the users table
    and the snapshot log end as the generator's reference model says,
    and a redelivered batch appends nothing."""
    users = ParquetTable(spark, str(tmp_path / "users"))
    snaps = ParquetTable(spark, str(tmp_path / "snaps"))
    world = ChatWorld(5)
    for batch_id in range(6):
        payloads = _payloads(spark, world.sweep(), "profile")
        user_pipeline_batch(payloads, users, snaps, batch_id=batch_id)
    truth = world.truth
    assert {r["id"] for r in users.read().collect()} == truth.users
    want = sorted(
        (s["user_id"], s["ts"], s["username"], s["is_farmhand"], s["is_ranger"])
        for s in truth.snapshots
    )
    cols = ["user_id", "ts", "username", "is_farmhand", "is_ranger"]
    assert sorted(tuple(r) for r in snaps.read().select(*cols).collect()) == want
    user_pipeline_batch(payloads, users, snaps, batch_id=batch_id)
    assert snaps.read().count() == len(want)
