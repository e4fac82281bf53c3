"""Seeded inputs for the benchmark, with their ground truth.

Everything here is a pure function of the seed: the same seed gives
byte-identical payloads and the same expected sink end state.

* :class:`ChatWorld` simulates the game's chat rooms, flag log and
  profile pages. Each :meth:`ChatWorld.sweep` returns the payload of
  every poll in one sweep (the reference's 7 chat rooms, 7 flag logs
  and a few profile pages) and advances a reference model of the
  service: what the parsers see, which observations the CDC operator
  turns into changes, and what the K1/K2/K4/K3 sinks must hold after
  the sweep is processed.
* :func:`history_frames` builds the pre-existing ``messages`` /
  ``chat_docs`` history the service workload seeds its sinks with.
* :func:`write_tables` writes TPC-H-shaped tables plus the ``events``,
  ``documents`` and ``embeddings`` tables the headline queries read.
"""

from __future__ import annotations

import os
import random
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

from farmrpg_etl_spark.functions.text import MENTION_PATTERN
from farmrpg_etl_spark.sources.landing import ROOMS, PollSpec

CHICAGO = ZoneInfo("America/Chicago")  # the game renders Chicago wall time
T0 = datetime(2024, 1, 10, 12, 0, 0, tzinfo=timezone.utc)  # no DST nearby
# Traffic of one sweep: one poll of each chat room, flag log and a share
# of the profile fan-out. Figures of the reference service are cited from
# BASELINE.md; the others are assumed, as marked.
WINDOW = 100  # messages per chat payload, newest first (reference chat fixture)
FLAGS_PER_POLL = 59  # rows per flag-log payload (reference flags fixture)
# the reference polls each chat room every 1 s and fetches ~1,626 profiles
# per 600 s sweep, i.e. ~2.7 profiles per chat poll of the rooms
PROFILES_PER_SWEEP = 3
NEW_PER_POLL = 5  # assumed: no reference figure for the chat message rate
DELETE_P = 0.3  # assumed: chance a room deletes one visible message per sweep
MALFORMED_P = 0.01  # assumed: share of chat payloads that fail to parse
# The simulated clock advances a minute per sweep, so that every new
# message of a room has its own whole-second timestamp: flag-log rows
# resolve on (room, ts, username).
SWEEP_STEP = timedelta(seconds=60)
N_USERS = 24
LIVE_ID_BASE = 10_000_000  # live message ids; history ids are below

WORDS = (
    "carrot seed water crop farm sell trade bait fish river mine ore iron "
    "wood board rope stone coin pet cow pig horse apple grape orange"
).split()
USERNAMES = [f"farmer{i:02d}" for i in range(40)]
ROLES = (None, "Farm Hand", "Ranger")

CHAT_DIV = (
    '<div class="chat-txt%(cls)s"><span>%(t)s</span>'
    '<div class="chip"><div class="chip-media">'
    '<img data-username="%(u)s" src="/img/emblems/%(e)s"></div></div>'
    '<a href="javascript:delChat(%(i)s)">x</a>'
    '<i class="f7-icons">flag</i><span>%(c)s</span></div>'
)
FLAGS_LI = (
    '<li><div class="item-title">%(t)s<br><b>%(u)s</b><br>- %(c)s</div>'
    '<div class="item-after">%(n)d flag%(s)s</div></li>'
)
PROFILE_HTML = (
    "<html><body>%(card)s<div class=\"list\">"
    '<a href="members.php?type=friended&amp;id=%(id)d">Friends</a>'
    "</div></body></html>"
)
ROLE_CARD = (
    '<div class="card"><img src="/img/items/admin.png"> '
    "<strong>%s</strong></div>"
)

_MENTION = re.compile(MENTION_PATTERN)


def _naive_utc(ts: datetime) -> datetime:
    return ts.astimezone(timezone.utc).replace(tzinfo=None)


@dataclass
class Message:
    room: str
    id: str
    ts: datetime  # aware UTC, whole seconds
    username: str
    emblem: str
    content: str
    deleted: bool = False


@dataclass
class Sweep:
    """One poll sweep: the specs to land, their bodies, and the fetch time."""

    fetch_ts: datetime
    specs: list[PollSpec]
    bodies: dict[tuple[str, str], bytes]
    observations: int = 0  # messages inside parseable chat payloads
    quarantined: int = 0  # chat payloads that fail to parse
    changes: int = 0  # CDC changes the chat observations must emit

    def fetcher(self, spec: PollSpec) -> tuple[int, bytes]:
        return 200, self.bodies[(spec.source, spec.key)]

    @property
    def payload_bytes(self) -> int:
        return sum(len(b) for b in self.bodies.values())


@dataclass
class Truth:
    """Expected sink end state for the live (non-history) rows."""

    messages: dict[str, dict] = field(default_factory=dict)  # K1 + K2
    docs: dict[str, dict] = field(default_factory=dict)  # K4
    users: set[int] = field(default_factory=set)  # K3 upsert
    snapshots: list[dict] = field(default_factory=list)  # K3 append

    def deleted_ids(self) -> set[str]:
        return {i for i, d in self.docs.items() if d["deleted"]}

    def flags(self) -> dict[str, int]:
        return {i: m["flags"] for i, m in self.messages.items() if m["flags"]}


class ChatWorld:
    """The simulated game plus a reference model of the service.
    ``window`` is the number of messages a chat payload shows."""

    def __init__(self, seed: int, window: int = WINDOW):
        self.rng = random.Random(seed)
        self.window = window
        self.n_sweeps = 0
        self.next_id = LIVE_ID_BASE
        self.rooms: dict[str, list[Message]] = {}
        # CDC state per (room, id): the last observed compare tuple
        self.cdc_state: dict[tuple[str, str], tuple] = {}
        self.observed: dict[str, list[str]] = {r: [] for r in ROOMS}
        self.truth = Truth()
        self.user_roles = {1000 + j: self.rng.choice(ROLES) for j in range(N_USERS)}
        self.last_snapshot: dict[int, tuple] = {}
        # running totals over every sweep so far
        self.observations = self.changes = self.quarantined = 0
        oldest = T0 - SWEEP_STEP
        for room in ROOMS:
            self.rooms[room] = [
                self._new_message(room, oldest - timedelta(seconds=1 + 10 * j))
                for j in range(window)
            ]  # newest first

    # -- simulation -------------------------------------------------------

    def _new_message(self, room: str, ts: datetime) -> Message:
        rng = self.rng
        words = rng.sample(WORDS, rng.randint(2, 7))
        if rng.random() < 0.2:
            words.insert(rng.randrange(len(words) + 1), f"@{rng.choice(USERNAMES)}:")
        msg = Message(
            room=room,
            id=str(self.next_id),
            ts=ts,
            username=rng.choice(USERNAMES),
            emblem=f"e{rng.randrange(8)}.png",
            content=" ".join(words),
        )
        self.next_id += 1
        return msg

    def sweep(self) -> Sweep:
        rng = self.rng
        fetch_ts = T0 + self.n_sweeps * SWEEP_STEP
        self.n_sweeps += 1
        specs: list[PollSpec] = []
        bodies: dict[tuple[str, str], bytes] = {}
        out = Sweep(fetch_ts, specs, bodies)
        for room in ROOMS:
            window = self.rooms[room]
            if rng.random() < DELETE_P:
                live = [m for m in window if not m.deleted]
                rng.choice(live).deleted = True
            offsets = sorted(rng.sample(range(1, 60), NEW_PER_POLL))
            fresh = [self._new_message(room, fetch_ts - timedelta(seconds=s)) for s in offsets]
            window = (fresh + window)[:self.window]
            self.rooms[room] = window
            specs.append(PollSpec("chat", room, 1))
            if rng.random() < MALFORMED_P:
                bodies[("chat", room)] = self._chat_html(window, broken=rng.randrange(len(window)))
                out.quarantined += 1
            else:
                bodies[("chat", room)] = self._chat_html(window)
                out.observations += len(window)
                out.changes += self._observe(window, fetch_ts)
        for room in ROOMS:
            specs.append(PollSpec("flags", room, 30))
            bodies[("flags", room)] = self._flags_html(room)
        for uid in rng.sample(sorted(self.user_roles), PROFILES_PER_SWEEP):
            username = f"user{uid}"
            specs.append(PollSpec("profile", username, 0))
            bodies[("profile", username)] = self._profile_html(uid, username, fetch_ts)
        self.observations += out.observations
        self.changes += out.changes
        self.quarantined += out.quarantined
        return out

    def _observe(self, window: list[Message], fetch_ts: datetime) -> int:
        """Fold one parseable chat payload through the CDC model and the
        K1/K4 sink model; return the number of changes emitted."""
        emitted = 0
        obs_ts = _naive_utc(fetch_ts)
        for m in window:
            key = (m.room, m.id)
            cur = (m.content, m.deleted, m.ts, m.username)
            prior = self.cdc_state.get(key)
            self.cdc_state[key] = cur
            if prior == cur:
                continue
            emitted += 1
            if prior is None:
                self.observed[m.room].append(m.id)
                self.truth.messages[m.id] = {
                    "room": m.room, "id": m.id, "ts": _naive_utc(m.ts),
                    "emblem": "", "username": m.username, "content": m.content,
                    "flags": 0, "deleted": m.deleted, "deleted_ts": None,
                }
            # K4 writes deleted_ts only with a deletion; a False→True flip
            # of a known message is stamped with the poll time
            doc = self.truth.docs.get(m.id)
            if m.deleted:
                deleted_ts = obs_ts if prior is not None and not prior[1] else None
            else:
                deleted_ts = doc["deleted_ts"] if doc else None
            self.truth.docs[m.id] = {
                "room": m.room, "id": m.id, "ts": _naive_utc(m.ts),
                "username": m.username,
                "mentions": ",".join(_MENTION.findall(m.content)),
                "content": m.content, "deleted": m.deleted,
                "deleted_ts": deleted_ts, "flags": None,
            }
        return emitted

    def _chat_html(self, window: list[Message], broken: int | None = None) -> bytes:
        parts = []
        for j, m in enumerate(window):
            parts.append(CHAT_DIV % {
                "cls": " redstripes" if m.deleted else "",
                "t": m.ts.astimezone(CHICAGO).strftime("%I:%M:%S %p"),
                "u": m.username,
                "e": m.emblem,
                # an id link the parser cannot read quarantines the payload
                "i": "x" + m.id if j == broken else m.id,
                "c": m.content,
            })
        return "".join(parts).encode()

    def _flags_html(self, room: str) -> bytes:
        ids = self.observed[room][-self.window:]
        picked = self.rng.sample(ids, min(FLAGS_PER_POLL, len(ids)))
        parts = []
        for mid in picked:
            msg = self.truth.messages[mid]
            n = self.rng.randint(1, 5)
            msg["flags"] = n
            ts = msg["ts"].replace(tzinfo=timezone.utc).astimezone(CHICAGO)
            parts.append(FLAGS_LI % {
                "t": ts.strftime("%b %d, %I:%M:%S %p"),
                "u": msg["username"], "c": msg["content"],
                "n": n, "s": "" if n == 1 else "s",
            })
        return ("<ul>%s</ul>" % "".join(parts)).encode()

    def _profile_html(self, uid: int, username: str, fetch_ts: datetime) -> bytes:
        if self.rng.random() < 0.15:
            self.user_roles[uid] = self.rng.choice(ROLES)
        role = self.user_roles[uid]
        snap = (username, role == "Farm Hand", role == "Ranger")
        self.truth.users.add(uid)
        if self.last_snapshot.get(uid) != snap:
            self.last_snapshot[uid] = snap
            self.truth.snapshots.append({
                "user_id": uid, "ts": _naive_utc(fetch_ts), "username": username,
                "is_farmhand": snap[1], "is_ranger": snap[2],
            })
        card = ROLE_CARD % role if role else ""
        return (PROFILE_HTML % {"card": card, "id": uid}).encode()


# -- sink history ------------------------------------------------------------

HISTORY_EPOCH_S = 1_685_577_600  # 2023-06-01 00:00:00 UTC


def history_frames(spark, n: int, seed: int):
    """``(messages, chat_docs)`` history of ``n`` rows each, in the
    sinks' own schemas, with ids below :data:`LIVE_ID_BASE` and
    timestamps months before the live traffic (so flag resolution on
    (room, ts, username) never matches history)."""
    from pyspark.sql import functions as F

    rooms = F.element_at(F.array(*[F.lit(r) for r in ROOMS]), (F.col("id") % len(ROOMS) + 1).cast("int"))
    salt = F.xxhash64(F.col("id"), F.lit(seed))
    base = spark.range(n).select(
        rooms.alias("room"),
        F.col("id").cast("string").alias("sid"),
        F.timestamp_seconds(F.lit(HISTORY_EPOCH_S) + F.col("id") * 7).alias("ts"),
        F.concat(F.lit("e"), F.pmod(salt, F.lit(8)).cast("string"), F.lit(".png")).alias("emblem"),
        F.concat(F.lit("hist"), F.pmod(salt, F.lit(997)).cast("string")).alias("username"),
        F.concat(F.lit("old message "), F.col("id").cast("string")).alias("content"),
        (F.col("id") % 3).cast("int").alias("flags"),
        (F.col("id") % 50 == 0).alias("deleted"),
    ).withColumn(
        "deleted_ts",
        F.when(F.col("deleted"), F.col("ts") + F.expr("INTERVAL 1 HOUR")),
    ).withColumnRenamed("sid", "id")
    messages = base.select(
        "room", "id", "ts", "emblem", "username", "content", "flags", "deleted", "deleted_ts"
    )
    docs = base.select(
        "room", "id", "ts", "username", F.lit("").alias("mentions"), "content",
        "deleted", "deleted_ts", F.lit(None).cast("int").alias("flags"),
    )
    return messages, docs


# -- headline tables ---------------------------------------------------------


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten TPC-H-shaped tables the registry reads, at scale
    ``sf`` (lineitem ≈ 6·10⁶·sf rows), as ``<out_dir>/<name>.parquet``.
    Shapes and value domains follow the registry's test data: the
    headline queries' predicates (event types, languages, near-duplicate
    documents, labelled embeddings) all select non-empty sets."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = np.array(["small", "red", "large", "blue", "green", "shiny"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 6, n_part)], " "),
                              nouns[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day = np.timedelta64(1, "D")
    epoch = np.datetime64("1992-01-01", "us")
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": epoch + rng.integers(0, 2400, n_orders) * day,
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": epoch + rng.integers(0, 3650, n_li) * day,
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(1, n_events // 100), n_events, dtype=np.int64),
        "event_type": np.array(["click", "view", "purchase", "error", "login"])[
            rng.choice(5, n_events, p=[0.35, 0.35, 0.1, 0.05, 0.15])],
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    vocab = np.array((
        "key agg row scan slow fast table value part hash merge batch spark a the line "
        "sort window data column join small customer query order group filter stream big"
    ).split())
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:  # near or exact duplicate of an earlier doc
            src = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 80))]))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr"])[rng.choice(3, n_docs, p=[0.8, 0.1, 0.1])],
        "source": np.char.add("src", rng.integers(0, 5, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0, 0.15, (n_vecs, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 4, n_vecs, dtype=np.int32),
    })
