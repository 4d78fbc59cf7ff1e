"""docs/API.md must match the contract registry it is generated from:
a rename or removal of an entry point fails here instead of leaving the
index stale.  Runs the generator's own ``--check`` mode; no Spark."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_api_index_is_current():
    tool = os.path.join(REPO, "tools", "gen_api_index.py")
    proc = subprocess.run(
        [sys.executable, tool, "--check"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
