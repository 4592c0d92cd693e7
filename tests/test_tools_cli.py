"""The tools' command lines are checked before any Spark session starts.

No Spark: each case runs the script in a subprocess and reads its exit
code and output. ``--help`` prints the usage and exits 0; an unknown
flag, a missing scale-factor dir, or one that is not a directory exits
2 with a usage error — none of them may start a JVM (whose log4j banner
would show on stderr) or reach DuckDB.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
SCRIPTS = ["check_oracle.py", "plan_report.py"]


def _run(script: str, *args: str, cwd=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(TOOLS, script), *args],
        capture_output=True, text=True, timeout=120, cwd=cwd,
    )


@pytest.mark.parametrize("script", SCRIPTS)
def test_help_prints_usage_and_exits_0(script):
    r = _run(script, "--help")
    assert r.returncode == 0, r.stderr
    assert r.stdout.startswith(f"usage: {script}")
    assert "sf_dir" in r.stdout
    assert "log4j" not in r.stderr


@pytest.mark.parametrize("script", SCRIPTS)
@pytest.mark.parametrize(
    "args, says",
    [
        (("--no-such-flag", "."), "unrecognized arguments: --no-such-flag"),
        ((), "required: sf_dir"),
        (("no-such-dir",), "'no-such-dir' is not a directory"),
    ],
)
def test_bad_command_lines_exit_2_before_spark(script, args, says, tmp_path):
    r = _run(script, *args, cwd=tmp_path)  # "no-such-dir" is relative
    assert r.returncode == 2, (r.stdout, r.stderr)
    assert says in r.stderr
    assert r.stderr.startswith(f"usage: {script}")
    assert "log4j" not in r.stderr and "duckdb" not in r.stderr.lower()
