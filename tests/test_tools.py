"""Tests of the command-line tools under tools/."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_oracle_refuses_unknown_query_names():
    """A short or mistyped query name matches no registered query; the
    checker must say so and exit non-zero before starting Spark rather
    than check nothing and report 0 failures."""
    out = subprocess.run(
        [sys.executable, "tools/check_oracle.py", "/nonexistent",
         "q126", "q73_pq_topk", "q73_pq_topk_typo"],
        cwd=ROOT, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert "q126" in out.stdout and "q73_pq_topk_typo" in out.stdout
    assert "failures" not in out.stdout
