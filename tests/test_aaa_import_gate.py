"""Fresh-interpreter import-integrity gate (VERDICT r8 task #2).

Named ``test_aaa_*`` so pytest's alphabetical collection runs it FIRST:
a dropped module-level import (the r7/r8 module-surgery incident class),
an oracle string DuckDB cannot bind, or an engine def or constant that
no non-test code reaches fails the suite within seconds, instead of
surfacing at the full oracle pass. The gate must run in a
FRESH interpreter: the pytest session's own module cache can mask a
broken import order (the module that defines the missing name may
already be imported by conftest before the broken module loads).

The gate itself lives in tools/import_gate.py so it is also runnable
standalone before committing plan-module surgery.
"""

from __future__ import annotations

import os
import subprocess
import sys

GATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "import_gate.py",
)


def test_import_gate_fresh_interpreter():
    r = subprocess.run(
        [sys.executable, GATE],
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert r.returncode == 0, (
        f"import gate failed:\n{r.stdout}\n{r.stderr[-2000:]}"
    )
    assert "GREEN" in r.stdout
