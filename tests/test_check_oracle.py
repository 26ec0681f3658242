"""tools/check_oracle.py refuses query names the registry does not know,
before it starts a Spark session: a misspelled name must not read as a
green ``0/0 ok``."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_name_exits_nonzero():
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"),
         SF_DIR, "graph_connected_components",
         "graph_connected_componentz"],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert out.returncode == 1, out.stdout[-2000:] + out.stderr[-2000:]
    assert "unknown query names: ['graph_connected_componentz']" in out.stdout
    assert " ok; failures:" not in out.stdout  # nothing was checked
