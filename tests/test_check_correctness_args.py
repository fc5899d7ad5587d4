"""The local correctness gate fails loudly on operator error instead of
turning a mistyped argument into an empty query filter that exits 0."""

import os
import subprocess
import sys

from tests.conftest import REPO

GATE = os.path.join(REPO, "tools", "check_correctness.py")


def _gate(*args):
    return subprocess.run([sys.executable, GATE, *args], cwd=REPO,
                          capture_output=True, text=True, timeout=300)


def test_gate_rejects_path_that_is_not_a_directory(tmp_work):
    missing = os.path.join(tmp_work, "no_such_sf")
    r = _gate(missing, "cdc_lww_collapse")
    assert r.returncode != 0
    assert "not a directory" in r.stderr and missing in r.stderr


def test_gate_rejects_query_filter_matching_nothing():
    r = _gate("cdc_lww_colapse")
    assert r.returncode != 0
    assert "no registered query" in r.stderr and "cdc_lww_colapse" in r.stderr
