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
   missing-column references fail without executing anything.

A helper import dropped inside a query function only fails when that
function runs: ``tests/test_oracle.py`` builds and executes every
registry query at sf0.001 in the same Tier-1 run and names the query
that fails.

Run standalone before committing any plan-module surgery:

    python tools/import_gate.py          # a few seconds, no JVM

pytest runs it first via tests/test_aaa_import_gate.py.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def check_oracles() -> int:
    """DuckDB EXPLAIN (bind-only) every oracle string; return #failures."""
    import duckdb

    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod  # first: the cold import under test

    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    failures = 0
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            failures += 1
            print(f"GATE FAIL oracle [{name}]: {exc}", flush=True)
    return failures


def main() -> int:
    t0 = time.perf_counter()
    failures = check_oracles()
    wall = time.perf_counter() - t0
    status = "GREEN" if failures == 0 else f"{failures} FAILURES"
    print(f"import gate: {status} ({wall:.1f}s)", flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
