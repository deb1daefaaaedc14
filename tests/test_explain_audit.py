"""scripts/explain_audit.py rejects bad arguments before any JVM starts."""

import os
import subprocess
import sys

import pytest

SCRIPT = os.path.join(os.path.dirname(__file__), "..", "scripts", "explain_audit.py")


@pytest.mark.parametrize(
    "args",
    [
        ["--help"],
        ["--bogus"],
        ["/nonexistent/fixture"],
        ["--sweep"],
        ["--sweep", "out.json", "/nonexistent/fixture"],
        ["--windows", "--full"],
        ["--diff", "only_one.json"],
    ],
)
def test_bad_arguments_print_usage_and_exit_2(args, tmp_path):
    # With no java to run, a start of Spark would fail another way.
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    proc = subprocess.run(
        [sys.executable, SCRIPT, *args],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        env=env,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert "usage:" in proc.stderr
    assert "explain_audit.py --sweep OUT.json" in proc.stderr
    assert proc.stdout == ""
