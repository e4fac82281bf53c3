"""Registry invariants the driver contract depends on."""

import re

import farmrpg_etl_spark.ledger as L
import farmrpg_etl_spark.oracles as O
import farmrpg_etl_spark.queries as Q


def test_order_is_ledger_derived():
    """The driver verifies the FIRST 50 registry entries, so iteration
    order IS the coverage rotation. It must be computed from the
    CORRECTNESS-artifact ledger, not hand-sorted (r16 verdict #7: a
    mis-ordered edit could silently starve a row of re-verification
    — the r5 incident left two rows unchecked for five rounds)."""
    assert list(Q.QUERIES) == L.rotation_order(Q.QUERIES)


def test_prefix_is_stalest_first():
    """Every row in the verified prefix must be at least as stale as
    every row below the cut — the property the rotation exists for."""
    names = list(Q.QUERIES)
    cur = max(L.LAST_VERIFIED.values())
    rnd = lambda n: L.LAST_VERIFIED.get(n, 0)  # noqa: E731
    oldest_below = min((rnd(n) for n in names[L.PREFIX_N:]), default=cur)
    newest_above = max(rnd(n) for n in names[: L.PREFIX_N])
    assert newest_above <= oldest_below


def test_ledger_covers_registry():
    """A registry row missing from the ledger is NEW and must sit in
    the verified prefix of its debut round; a ledger row missing from
    the registry is a deleted query whose record should be purged."""
    names = list(Q.QUERIES)
    never = [n for n in names if n not in L.LAST_VERIFIED]
    assert set(never) <= set(names[: L.PREFIX_N]), (
        f"never-verified rows below the driver cut: "
        f"{sorted(set(never) - set(names[:L.PREFIX_N]))}"
    )
    orphans = [n for n in L.LAST_VERIFIED if n not in Q.QUERIES]
    assert orphans == [], orphans


def test_readme_registry_count_matches():
    """README's "(N entries" claim is derived from the registry, not
    hand-maintained (r13 verdict #7: README said 242 while the
    registry held 246 — counts must match artifacts)."""
    import os

    readme = os.path.join(os.path.dirname(Q.__file__), "..", "README.md")
    m = re.search(r"\((\d+) entries", open(readme).read())
    assert m, "README no longer states the registry entry count"
    assert int(m.group(1)) == len(Q.QUERIES), (
        f"README says {m.group(1)} entries, registry has {len(Q.QUERIES)}"
    )


def test_every_query_has_an_oracle():
    missing = [k for k in Q.QUERIES if k not in O.ORACLES]
    assert missing == [], missing


def test_no_orphan_oracles():
    orphans = [k for k in O.ORACLES if k not in Q.QUERIES]
    assert orphans == [], orphans


def test_tws_rows_lead_any_prefix():
    """TWS rows must run FIRST in the driver prefix (fresh session):
    the r10 red row was a TWS driver-worker crash 50 rows deep. Any
    prefix row using transformWithStateInPandas sits at the head."""
    names = list(Q.QUERIES)[: L.PREFIX_N]
    tws_in = [n for n in names if n in L.TWS_ROWS]
    assert names[: len(tws_in)] == tws_in
    # and the TWS_ROWS list itself stays exhaustive: every registry row
    # whose name marks it as transformWithStateInPandas is declared
    tws_markers = ("_tws_", "session_timeout")
    undeclared = [
        n
        for n in Q.QUERIES
        if any(m in n for m in tws_markers) and n not in L.TWS_ROWS
    ]
    assert undeclared == [], undeclared


def _repo_file(*parts):
    import os

    return os.path.join(os.path.dirname(Q.__file__), "..", *parts)


def test_update_ledger_skips_rows_not_in_registry(tmp_path, monkeypatch):
    """A CORRECTNESS record for a deleted row must not come back into
    the ledger on the next regeneration (it would fail
    test_ledger_covers_registry as an orphan)."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "update_ledger", _repo_file("scripts", "update_ledger.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    live = next(iter(Q.QUERIES))
    green = {"rows_match": True, "hash_match": True}
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({live: green, "row_deleted_from_registry": green})
    )
    monkeypatch.setattr(mod, "REPO", str(tmp_path))
    assert mod.last_verified() == {live: 99}


def test_bench_rows_are_registry_rows():
    """Every row bench.py names is a registry key — otherwise a deleted
    row only shows up as a KeyError minutes into a bench run."""
    import bench

    stretch = {**bench.SF1_STRETCH_ROWS, **bench.SF10_STRETCH_ROWS}
    names = (
        set(bench.HEADLINE) | set(bench.EXTENDED) | {bench.WARMUP_ROW}
        | {row for row, _, _ in stretch.values()}
    )
    assert sorted(names - set(Q.QUERIES)) == []
