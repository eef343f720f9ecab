"""Coverage for the round-6 python-worker bootstrap
(abwcf_spark/worker_daemon.py, installed via spark.python.daemon.module
in session.get_spark).

The daemon wrapper must be invisible semantically: UDF results flow
through unchanged and worker exceptions still propagate.  Runs in a
SUBPROCESS because the suite's shared session (tests/conftest.py) uses
its own builder, and a second SparkContext in one python process breaks
PySpark's accumulator server.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import subprocess
import sys

_PROBE = r"""
import sys
sys.path.insert(0, {root!r})
from abwcf_spark.session import get_spark
from pyspark.sql import functions as F
import pandas as pd

spark = get_spark(app_name="daemon-probe", cpus=2)
assert (
    spark.conf.get("spark.python.daemon.module") == "abwcf_spark.worker_daemon"
)

@F.pandas_udf("long")
def double(a: pd.Series) -> pd.Series:
    return a * 2

got = sorted(
    r[0] for r in spark.range(0, 50, 1, 8).select(double(F.col("id"))).collect()
)
assert got == [i * 2 for i in range(50)], got[:5]

@F.pandas_udf("long")
def boom(a: pd.Series) -> pd.Series:
    raise RuntimeError("daemon-probe-expected-error")

try:
    spark.range(0, 10).select(boom(F.col("id"))).collect()
    raise SystemExit("worker exception did not propagate")
except Exception as e:
    assert "daemon-probe-expected-error" in str(e), str(e)[:200]

print("DAEMON-PROBE-OK")
spark.stop()
"""


def test_worker_daemon_results_and_errors():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=root)],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "DAEMON-PROBE-OK" in out.stdout


_RUNTIME_PYFILES_CALLS = {"addPyFile", "addArchive"}
_PYFILES_CONF = "spark.submit.pyFiles"


def _runtime_pyfiles_uses(source: str) -> list[int]:
    """Line numbers where python ``source`` adds python files to a running
    session: an ``addPyFile``/``addArchive`` call, or the
    ``spark.submit.pyFiles`` key as a code string (docstrings excluded)."""
    tree = ast.parse(source)
    docstrings = {
        id(n.value) for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    hits = []
    for n in ast.walk(tree):
        if (
            isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
            and n.func.attr in _RUNTIME_PYFILES_CALLS
        ) or (
            isinstance(n, ast.Constant) and id(n) not in docstrings
            and isinstance(n.value, str) and _PYFILES_CONF in n.value
        ):
            hits.append(n.lineno)
    return hits


def test_no_runtime_python_files():
    """worker_daemon patches zipimporter.invalidate_caches to a no-op.  That
    is only safe while nothing adds python files to a running session: the
    package ships once, before the JVM starts (--py-files), so the worker's
    zip caches can never go stale.  Pure source scan, no Spark session."""
    assert _runtime_pyfiles_uses("sc.addPyFile('x.zip')") == [1]
    assert _runtime_pyfiles_uses("b.config('spark.submit.pyFiles', z)") == [1]
    assert _runtime_pyfiles_uses('"""mentions addPyFile()"""') == []

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py = glob.glob(os.path.join(root, "abwcf_spark", "**", "*.py"), recursive=True)
    py += glob.glob(os.path.join(root, "scripts", "**", "*.py"), recursive=True)
    py += [os.path.join(root, "bench.py"), os.path.join(root, "bench_extra.py")]
    sh = glob.glob(os.path.join(root, "scripts", "**", "*.sh"), recursive=True)
    assert len(py) > 20 and sh
    bad = []
    for path in py:
        with open(path) as f:
            bad += [f"{path}:{ln}" for ln in _runtime_pyfiles_uses(f.read())]
    shell_use = re.compile(
        "|".join(map(re.escape, [*_RUNTIME_PYFILES_CALLS, _PYFILES_CONF]))
    )
    for path in sh:
        with open(path) as f:
            for ln, line in enumerate(f, 1):
                if shell_use.search(line.split("#", 1)[0]):
                    bad.append(f"{path}:{ln}")
    assert not bad, bad
