"""Structural contract checks: SURVEY §2 ↔ queries() ↔ oracle_sql()
drift and the streaming §2.4 rows (every stream job's batch twin is a
``queries()`` key with an ``oracle_sql()`` twin).

Keeping this inside pytest makes the invariants structural: a refactor
that breaks any of them fails the suite, not just a tool nobody ran.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_survey_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_survey.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
