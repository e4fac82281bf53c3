"""Invariants of the repository that need no Spark session: the script
directories must not shadow stdlib modules, ``import bench`` must stay
cheap for the benchmark harness, and no library code is reached only
by its own tests."""

from __future__ import annotations

import ast
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


# Single-implementation capabilities that only tests call today; each is
# the one form of its operator, kept as library surface.
TEST_ONLY_EXEMPT = {
    "bots/commands.py:push_claims",
    "operators/rollup.py:hll_distinct_rollup",
    "operators/curation.py:bpe_vocab_ids",
    "sinks/bucketing.py:write_bucketed",
    # exported sink/layout operations of the service-path modules
    # (listed in their ``__all__``)
    "sinks/docstore.py:ensure_docs",
    "sinks/sqldb.py:partial_doc_update",
    "operators/zorder.py:zorder_write",
}


def _py_files(top, skip=()):
    for d, dirs, files in os.walk(top):
        dirs[:] = [
            x for x in dirs
            if not x.startswith(".") and os.path.join(d, x) not in skip
        ]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def test_every_library_definition_is_used_outside_tests():
    """Every top-level function and class in ``farmrpg_etl_spark/``
    must be referenced by an AST name (a load, an attribute or an
    import) somewhere outside ``tests/`` and ``perfbench/tests/``. A
    second form of an operator that only its own tests run fails here;
    docstring mentions do not count. The vendored protobuf runtime is
    third-party code and is not scanned. Matching is by bare name, so
    the check can miss dead code whose name is reused, never the
    other way round."""
    pkg = os.path.join(ROOT, "farmrpg_etl_spark")
    defined = {}
    for path in _py_files(pkg, skip={os.path.join(pkg, "vendor")}):
        with open(path) as f:
            body = ast.parse(f.read()).body
        rel = os.path.relpath(path, pkg)
        for node in body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defined[f"{rel}:{node.name}"] = node.name
    used = set()
    skip = {os.path.join(ROOT, "tests"), os.path.join(ROOT, "perfbench", "tests")}
    for path in _py_files(ROOT, skip):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
    unused = sorted(
        key for key, name in defined.items()
        if name not in used and key not in TEST_ONLY_EXEMPT
    )
    assert unused == []
    assert TEST_ONLY_EXEMPT <= defined.keys()


def test_profile_plans_masks_session_counters(monkeypatch):
    """Two builds of one query in one session differ only in these
    counters; masked, their plans diff empty."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "scripts"))
    from profile_plans import mask_counters

    plan = (
        "HashAggregate [keys=[l_returnflag#12], functions=[sum(x#7L)]]\n"
        "Arguments: hashpartitioning(k#3, 4), ENSURE_REQUIREMENTS, [plan_id=41]\n"
        "transform(a#5, lambdafunction((x_19 + y_20), x_19, y_20)) AS x_ntok#9"
    )
    assert mask_counters(plan) == (
        "HashAggregate [keys=[l_returnflag#<n>], functions=[sum(x#<n>L)]]\n"
        "Arguments: hashpartitioning(k#<n>, 4), ENSURE_REQUIREMENTS, [plan_id=<n>]\n"
        "transform(a#<n>, lambdafunction((x_<n> + y_<n>), x_<n>, y_<n>)) AS x_ntok#<n>"
    )
