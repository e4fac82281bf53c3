"""Invariants of the repository's entry scripts that need no Spark
session: the script directories must not shadow stdlib modules, and
``import bench`` must stay cheap for the benchmark harness."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_no_script_shadows_a_stdlib_module():
    """A script's directory is ``sys.path[0]`` when it runs, so a
    ``scripts/profile.py`` shadowed the stdlib ``profile`` that
    pyspark's import of ``cProfile`` needs, and every script there died
    at ``import pyspark``."""
    clashes = [
        os.path.join(d, name)
        for d in (ROOT, os.path.join(ROOT, "scripts"))
        for name in os.listdir(d)
        if name.endswith(".py") and name[:-3] in sys.stdlib_module_names
    ]
    assert clashes == []


def test_import_bench_loads_no_pyspark():
    """perfbench imports ``bench.HEADLINE``; the module level of
    bench.py must not pull in pyspark or the registry."""
    code = (
        "import sys, bench; "
        "print(sorted(m for m in sys.modules "
        "if m.split('.')[0] in ('pyspark', 'farmrpg_etl_spark')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    )
    assert out.stdout.strip() == "[]"
