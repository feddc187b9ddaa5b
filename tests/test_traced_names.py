"""The traced benchmark (perfbench/spans.py) wraps program functions by
module attribute name.  Installing its wrappers must succeed, so that
renaming or deleting a wrapped name fails this suite, not a benchmark
run."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_traced_benchmark_wraps_existing_names():
    code = ("import sys; sys.path[:0] = [sys.argv[1], sys.argv[2]]\n"
            "import spans; spans.install(spans.Tracer())\n")
    proc = subprocess.run(
        [sys.executable, "-c", code, str(REPO / "perfbench"), str(REPO)],
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
