"""The generator's payloads parse to exactly its ground truth.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from farmrpg_etl_spark.parse import parsers  # noqa: E402
from perfbench.gen import ChatWorld, _naive_utc  # noqa: E402


def _replay(world: ChatWorld, n_sweeps: int):
    """Parse every payload of ``n_sweeps`` sweeps and fold the parsed
    rows through an independent CDC / sink model built from parser
    output only."""
    state: dict[tuple, tuple] = {}
    first: dict[str, dict] = {}
    flags: dict[str, int] = {}
    users: set[int] = set()
    last_snap: dict[int, tuple] = {}
    snaps = 0
    quarantined = observations = changes = 0
    for _ in range(n_sweeps):
        sw = world.sweep()
        for spec in sw.specs:
            body = sw.bodies[(spec.source, spec.key)]
            if spec.source == "chat":
                try:
                    rows = parsers.parse_chat(spec.key, body, sw.fetch_ts)
                except parsers.ParseError:
                    quarantined += 1
                    continue
                observations += len(rows)
                for r in rows:
                    cur = (r["content"], r["deleted"], r["ts"], r["username"])
                    if state.get((r["room"], r["id"])) != cur:
                        changes += 1
                        first.setdefault(r["id"], r)
                    state[(r["room"], r["id"])] = cur
            elif spec.source == "flags":
                by_key = {(m["room"], m["ts"], m["username"]): i for i, m in first.items()}
                for r in parsers.parse_flags(spec.key, body, sw.fetch_ts):
                    flags[by_key[(r["room"], r["ts"], r["username"])]] = r["flags"]
            else:
                (r,) = parsers.parse_profile(spec.key, body, sw.fetch_ts)
                users.add(r["user_id"])
                snap = (r["username"], r["is_farmhand"], r["is_ranger"])
                if last_snap.get(r["user_id"]) != snap:
                    snaps += 1
                last_snap[r["user_id"]] = snap
    return first, flags, users, snaps, quarantined, observations, changes


@pytest.mark.parametrize("seed", [0, 1, 7])
def test_payloads_parse_to_ground_truth(seed):
    world = ChatWorld(seed)
    first, flags, users, snaps, quarantined, observations, changes = _replay(world, 30)
    truth = world.truth
    assert set(first) == set(truth.messages)
    for mid, r in first.items():
        want = truth.messages[mid]
        assert _naive_utc(r["ts"]) == want["ts"]
        assert (r["room"], r["username"], r["content"], r["deleted"]) == (
            want["room"], want["username"], want["content"], want["deleted"])
    assert flags == truth.flags()
    assert users == truth.users
    assert snaps == len(truth.snapshots)
    assert quarantined == world.quarantined
    assert observations == world.observations
    assert changes == world.changes


def test_quarantine_is_exercised():
    world = ChatWorld(3)
    for _ in range(100):
        world.sweep()
    assert world.quarantined > 0
    assert world.truth.deleted_ids()


def test_same_seed_same_payloads():
    a, b = ChatWorld(5), ChatWorld(5)
    for _ in range(5):
        assert a.sweep().bodies == b.sweep().bodies
