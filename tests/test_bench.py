"""``bench.py [query ...]`` rejects an unknown name before it starts a
session, so a typo costs no JVM start, warm-up or index build. Runs
``bench.py`` in a subprocess whose JVM launch is replaced by a failure.
Spark-free."""

from __future__ import annotations

import pathlib
import subprocess
import sys

import automotive_big_data_analysis_spark as pkg

BENCH = pathlib.Path(pkg.__file__).parent.parent / "bench.py"

# Every SparkContext (and so every session) launches its JVM through
# _ensure_initialized; replacing it makes a launch attempt exit with
# code 3 and a marker on stderr instead of starting a JVM.
_NO_JVM = """
import runpy, sys
from pyspark.core.context import SparkContext

def _no_jvm(*args, **kwargs):
    sys.stderr.write("JVM LAUNCH ATTEMPTED\\n")
    sys.exit(3)

SparkContext._ensure_initialized = classmethod(_no_jvm)
sys.argv = [sys.argv[1], *sys.argv[2:]]
runpy.run_path(sys.argv[0], run_name="__main__")
"""


def test_unknown_query_name_fails_before_a_session():
    proc = subprocess.run(
        [sys.executable, "-c", _NO_JVM, str(BENCH), "pricing_summary", "no_such_query"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode not in (0, 3), proc.stderr
    assert "JVM LAUNCH ATTEMPTED" not in proc.stderr
    assert "no_such_query" in proc.stderr
    assert "pricing_summary" not in proc.stderr
