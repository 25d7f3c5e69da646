"""The benchmark's own test: smoke mode runs every workload once at minimal
size, untraced and traced, and fails unless every metric named in
BENCHMARK.json is printed with its unit and every job matches its oracle.

    python3 -m pytest perfbench/test_smoke.py -q
"""

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def test_smoke_mode_prints_every_metric_and_passes_the_oracle_gate():
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=1200,
    )
    assert p.returncode == 0, p.stdout + p.stderr[-4000:]
