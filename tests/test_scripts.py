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


def _py_files(top, skip=()):
    for d, dirs, files in os.walk(top):
        dirs[:] = [
            x for x in dirs
            if not x.startswith(".") and os.path.join(d, x) not in skip
        ]
        yield from (os.path.join(d, f) for f in files if f.endswith(".py"))


def _top_level_names(node):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, ast.AnnAssign)
        else []
    )
    return [
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def dead_library_names(root):
    """``<path>:<name>`` for every top-level function, class or
    assigned name (dunders excepted) in ``<root>/farmrpg_etl_spark/``
    that no code outside ``tests/`` and ``perfbench/tests/`` reads:
    a load, an attribute or an import. A package ``__init__.py``
    importing a name is a re-export, not a use. Matching is by bare
    name, so the scan can miss dead code whose name is reused, never
    the other way round. The vendored protobuf runtime is third-party
    code and is not scanned."""
    pkg = os.path.join(root, "farmrpg_etl_spark")
    defined = {}
    for path in _py_files(pkg, skip={os.path.join(pkg, "vendor")}):
        with open(path) as f:
            body = ast.parse(f.read()).body
        rel = os.path.relpath(path, pkg)
        for node in body:
            for name in _top_level_names(node):
                defined[f"{rel}:{name}"] = name
    used = set()
    skip = {os.path.join(root, "tests"), os.path.join(root, "perfbench", "tests")}
    for path in _py_files(root, skip):
        reexport = (
            os.path.basename(path) == "__init__.py"
            and os.path.commonpath([path, pkg]) == pkg
        )
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias) and not reexport:
                used.add(node.name.rsplit(".", 1)[-1])
    return sorted(key for key, name in defined.items() if name not in used)


def test_every_library_definition_is_used_outside_tests():
    """A second form of an operator that only its own tests run, a
    constant nothing reads, or a function only a package re-exports
    fails here; docstring mentions do not count."""
    assert dead_library_names(ROOT) == []


def test_dead_name_scan_reports_each_kind(tmp_path):
    """The three kinds of dead name: reached only by a test, only by
    a package re-export, or never read. Names that code reads, in
    their own module or elsewhere, are not reported."""
    files = {
        "farmrpg_etl_spark/__init__.py": "",
        "farmrpg_etl_spark/ops.py": (
            "__all__ = ['reexported']\n"
            "LIMIT = 3\n"
            "UNREAD = 4\n"
            "def only_tested(): return LIMIT\n"
            "def reexported(): pass\n"
            "def run(): pass\n"
        ),
        "farmrpg_etl_spark/sub/__init__.py": (
            "from farmrpg_etl_spark.ops import reexported\n"
        ),
        "farmrpg_etl_spark/vendor/lib.py": "def third_party(): pass\n",
        "app.py": "from farmrpg_etl_spark import ops\nops.run()\n",
        "tests/test_ops.py": (
            "from farmrpg_etl_spark.ops import UNREAD, only_tested, reexported\n"
        ),
    }
    for rel, text in files.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    assert dead_library_names(str(tmp_path)) == [
        "ops.py:UNREAD", "ops.py:only_tested", "ops.py:reexported",
    ]


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
