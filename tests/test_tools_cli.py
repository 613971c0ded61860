"""Command-line edge cases of the tools that do not need a session."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_check_contract_json_out_without_path_is_a_usage_error():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_contract.py"), "--json-out"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert "Usage:" in proc.stderr
    assert "Traceback" not in proc.stderr
