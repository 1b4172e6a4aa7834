"""tools/verify_local.py run the way an outside consumer loads the entry
module: by file path, in a fresh process, from a working directory outside
the checkout and without PYTHONPATH."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "verify_local.py"
)


def _verify(cwd, *args):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, TOOL, *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_named_query_hash_matches(tmp_path):
    run = _verify(tmp_path, SF_SMOKE, "q01_pricing_summary")
    assert run.returncode == 0, run.stdout + run.stderr
    assert "OK q01_pricing_summary:" in run.stdout


def test_unknown_name_fails_naming_it(tmp_path):
    run = _verify(tmp_path, SF_SMOKE, "q01_pricing_summary", "q_no_such_query")
    out = run.stdout + run.stderr
    assert run.returncode != 0
    assert "q_no_such_query" in out
    assert "Traceback" not in out
