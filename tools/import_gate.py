#!/usr/bin/env python
"""Fresh-interpreter import-integrity gate (VERDICT r8 task #2).

Two consecutive rounds hit the same incident class: module-header
surgery dropped an import that a DIFFERENT query consumed hundreds of
lines below (r7 fa12e18: a windows import; r8: the sampling-module
rewrite broke ``sampling_certificate`` 300 lines down), and targeted
verifies of the edited query stayed green. In ONE fresh interpreter,
with no Spark session, this gate

1. imports the driver contract (``__spark_entry__``) cold — any
   module-level NameError/ImportError in the plan packages fails here;
2. binder-validates every ``oracle_sql()`` string with DuckDB
   ``EXPLAIN`` against views of the sf0.001 tables — SQL typos and
   missing-column references fail without executing anything;
3. names every top-level engine def or constant that no non-test root
   reaches (``check_reachability``): engine code must have a caller
   outside ``tests/``;
4. names every imported name its module never reads
   (``check_unused_imports``).

A helper import dropped inside a query function only fails when that
function runs: ``tests/test_oracle.py`` builds and executes every
registry query at sf0.001 in the same Tier-1 run and names the query
that fails.

Run standalone before committing any plan-module surgery:

    python tools/import_gate.py          # a few seconds, no JVM

pytest runs it first via tests/test_aaa_import_gate.py.
"""

from __future__ import annotations

import ast
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "ecommerce_data_pipeline_spark"
# Non-engine code whose every name reference is a root.
ROOT_PATHS = ("bench.py", "__spark_entry__.py", "perfbench", "tools")
# The reference's own S5 CSV landing format (the sources/readers.py
# module docstring): kept as the format's reader and writer although
# only tests land or read CSV.
REACH_EXEMPT = ("read_transactions_csv", "write_partitioned_csv")
# Code whose imports must all be read (perfbench/ keeps its own idiom).
IMPORT_PATHS = (ENGINE, "tests", "tools", "bench.py", "__spark_entry__.py")


def check_oracles() -> int:
    """DuckDB EXPLAIN (bind-only) every oracle string; return #failures."""
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod  # first: the cold import under test

    from tests.conftest import SF_SMOKE
    from tests.oracle_harness import duckdb_connection

    con = duckdb_connection(SF_SMOKE)
    failures = 0
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            failures += 1
            print(f"GATE FAIL oracle [{name}]: {exc}", flush=True)
    return failures


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _refs(node: ast.AST) -> set[str]:
    """Every name ``node`` reads: Name loads and Attribute attrs. String
    constants (docstrings included) are not references."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def check_reachability() -> int:
    """Name every top-level engine def or constant no root reaches.

    Roots: registered queries (``@register(...)`` defs and ``name =
    register(...)(fn)`` assignments), the engine's other module-level
    statements, every ``ROOT_PATHS`` file and the ``REACH_EXEMPT``
    defs. A reference is resolved by name alone, so a def is reached
    when any reached code reads a name it shares: a name collision can
    hide dead code, and a def called only through a string (``getattr``)
    reads as unreached. Returns #failures."""
    nodes: dict[str, list[tuple[str, set[str]]]] = {}  # name -> [(where, refs)]
    roots = set(REACH_EXEMPT)
    for path in _py_files(os.path.join(REPO, ENGINE)):
        where = os.path.relpath(path, REPO)
        for st in ast.parse(open(path).read()).body:
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                names = [st.name]
                is_root = any("register" in _refs(d) for d in st.decorator_list)
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                names = [
                    t.id for t in targets
                    if isinstance(t, ast.Name) and not t.id.startswith("__")
                ]
                is_root = not names or "register" in _refs(st)
            elif isinstance(st, (ast.Import, ast.ImportFrom)) or (
                isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant)
            ):
                continue  # an import or a docstring reads nothing
            else:
                names, is_root = [], True
            if is_root:
                roots |= _refs(st) | set(names)
            for name in names:
                nodes.setdefault(name, []).append((where, _refs(st)))
    for path in ROOT_PATHS:
        for f in _py_files(os.path.join(REPO, path)):
            roots |= _refs(ast.parse(open(f).read()))
    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _where, refs in nodes.get(name, ()):
                todo.extend(refs)
    failures = 0
    for name, defs in sorted(nodes.items()):
        for where, _ in defs:
            if name in REACH_EXEMPT:
                print(f"gate exempt [{where}::{name}] (REACH_EXEMPT)", flush=True)
            elif name not in reached:
                failures += 1
                print(f"GATE FAIL unreached [{where}::{name}]", flush=True)
    return failures


def check_unused_imports() -> int:
    """Name every imported name that no Name in its module reads, at any
    scope. ``__init__.py`` files are skipped: their imports (and
    ``__all__``) are the package's re-exports. Returns #failures."""
    failures = 0
    for path in IMPORT_PATHS:
        for f in _py_files(os.path.join(REPO, path)):
            if os.path.basename(f) == "__init__.py":
                continue
            tree = ast.parse(open(f).read())
            read = {
                n.id for n in ast.walk(tree)
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
            }
            for n in ast.walk(tree):
                if not isinstance(n, (ast.Import, ast.ImportFrom)) or (
                    isinstance(n, ast.ImportFrom) and n.module == "__future__"
                ):
                    continue
                for a in n.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in read:
                        failures += 1
                        where = os.path.relpath(f, REPO)
                        print(f"GATE FAIL unused import [{where}:{n.lineno}::{bound}]", flush=True)
    return failures


def main() -> int:
    t0 = time.perf_counter()
    failures = check_reachability() + check_unused_imports() + check_oracles()
    wall = time.perf_counter() - t0
    status = "GREEN" if failures == 0 else f"{failures} FAILURES"
    print(f"import gate: {status} ({wall:.1f}s)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
