"""The slow-tier switch accepts exactly unset, "", "0" and "1": any other
value of ``SPARK_GRAFT_SLOW_TESTS`` stops the run with a usage error that
names the variable, instead of silently picking a tier."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

TESTS = os.path.dirname(os.path.abspath(__file__))


def _collect(tmp_path, value: str | None) -> subprocess.CompletedProcess:
    shutil.copy(os.path.join(TESTS, "conftest.py"), tmp_path / "conftest.py")
    (tmp_path / "test_one.py").write_text("def test_one():\n    pass\n")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SLOW_TESTS"}
    if value is not None:
        env["SPARK_GRAFT_SLOW_TESTS"] = value
    return subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", "test_one.py"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )


@pytest.mark.parametrize("value", [None, "", "0", "1"])
def test_accepted_values_collect(tmp_path, value):
    res = _collect(tmp_path, value)
    assert res.returncode == 0, res.stdout + res.stderr
    assert "test_one.py::test_one" in res.stdout


@pytest.mark.parametrize("value", ["false", "true"])
def test_other_values_are_a_usage_error(tmp_path, value):
    res = _collect(tmp_path, value)
    assert res.returncode == pytest.ExitCode.USAGE_ERROR, res.stdout + res.stderr
    assert f"SPARK_GRAFT_SLOW_TESTS={value!r}" in res.stdout + res.stderr
