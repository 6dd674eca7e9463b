"""The benchmark contract: ``python3 perfbench/smoke.py`` passes.

The smoke check runs both workloads of BENCHMARK.json traced and untraced
at the smallest sizes, and checks that every end-to-end and per-layer
metric is measured and that the benchmark fails without the program.  A
change that leaves a metric without a sample (say, a query path that no
longer runs a Spark scoring stage) fails here."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_smoke_passes():
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "smoke.py")],
        cwd=REPO, capture_output=True, text=True, timeout=1500,
    )
    assert p.returncode == 0, (p.stdout[-3000:], p.stderr[-3000:])
