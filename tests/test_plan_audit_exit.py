"""tools/plan_audit.py fails loud: a query that cannot build, or a name
the registry does not know, must not read as a clean audit with exit 0."""

from __future__ import annotations

import os
import subprocess
import sys

from conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit(*args):
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_audit.py"), *args],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )


def test_unknown_query_name_exits_before_spark():
    out = _audit(SF_DIR, "graph_triangle_count", "graph_triangle_countz")
    assert out.returncode == 1, out.stdout[-2000:] + out.stderr[-2000:]
    assert "unknown query names: ['graph_triangle_countz']" in out.stdout
    assert "# flagged:" not in out.stdout  # nothing was audited


def test_build_error_exits_nonzero(tmp_path):
    # an SF directory without the part table: the query cannot build
    out = _audit(str(tmp_path), "graph_triangle_count")
    assert "graph_triangle_count: BUILD-ERROR" in out.stdout, out.stdout[-2000:]
    assert "build errors: 1" in out.stdout
    assert out.returncode == 1, out.stdout[-2000:] + out.stderr[-2000:]
