"""Scripts under tools/ run as ``python tools/X.py``, which puts tools/ at the
head of sys.path: a file there named after a standard-library module
shadows that module for every script, pyspark's own imports included."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")


def test_no_tool_shadows_a_stdlib_module():
    names = {f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py")}
    assert not names & set(sys.stdlib_module_names)


@pytest.mark.parametrize("script", ["compare_oracle.py", "plan_lint.py"])
def test_gate_script_starts(script):
    subprocess.run(
        [sys.executable, os.path.join(TOOLS, script), "--help"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL, timeout=120,
    )
