"""Regenerate ``farmrpg_etl_spark/ledger.py`` from the driver's
CORRECTNESS artifacts.

Run after each round's ``CORRECTNESS_r{N}.json`` lands:

    python scripts/update_ledger.py

The ledger records, per registry row, the NEWEST round with a green
driver record (rows/schema/hash all matching — or rows-only for the
oracle-less rows, which is the strongest record the driver emits for
them). Names that are no longer ``queries.QUERIES`` keys are left
out, so a deleted row's old records cannot come back as orphans.
``farmrpg_etl_spark.ledger.rotation_order`` derives the driver-visible
registry order from this data structure, so the rotation contract can
no longer be broken by a mis-ordered hand edit (r16 verdict #7).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def last_verified() -> dict[str, int]:
    from farmrpg_etl_spark.queries import QUERIES

    out: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name, rec in json.load(open(f)).items():
            if name not in QUERIES:
                continue
            if not isinstance(rec, dict) or rec.get("err"):
                continue
            if not rec.get("rows_match"):
                continue
            # hash_match False with an oracle present is a RED row;
            # oracle-less rows record hash_match None/absent
            if rec.get("hash_match") is False:
                continue
            out[name] = max(out.get(name, 0), rnd)
    return out


def main() -> None:
    lv = last_verified()
    path = os.path.join(REPO, "farmrpg_etl_spark", "ledger.py")
    body = open(path).read()
    gen = "".join(
        f'    "{n}": {r},\n' for n, r in sorted(lv.items())
    )
    new = re.sub(
        r"(# --- BEGIN GENERATED LAST_VERIFIED ---\n).*?"
        r"(# --- END GENERATED LAST_VERIFIED ---)",
        r"\g<1>" + gen + r"\g<2>",
        body,
        flags=re.S,
    )
    open(path, "w").write(new)
    print(f"ledger: {len(lv)} rows, newest round "
          f"{max(lv.values()) if lv else 0}")


if __name__ == "__main__":
    main()
