"""Without the program next to it the benchmark fails and prints no result."""

import shutil
import subprocess
import sys
from pathlib import Path

PERFBENCH = Path(__file__).resolve().parents[1]


def test_fails_without_program(tmp_path):
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    done = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "verbs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert done.returncode != 0
    assert done.stdout == ""
    assert "kukur_spark" in done.stderr
