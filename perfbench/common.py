"""Shared plumbing for the benchmark: the working directory, the Spark
session, summary statistics and the result line.

Everything the benchmark writes goes under ``.bench_work/`` at the root of
the checkout it runs in: Spark's local and temp directories, the JVM's
``java.io.tmpdir``, the engine workload's store and the span dumps.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time

#: Spark runs ``local[CPUS]``: one process, one client thread.
CPUS = 4


class BenchError(Exception):
    """The benchmark cannot run here; no result line is printed."""


def checkout_root() -> str:
    """The repository checkout the benchmark measures: the parent of this
    package.  It must hold the ``edgy_spark`` sources."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "edgy_spark", "__init__.py")):
        raise BenchError(f"no edgy_spark package under {root}")
    return root


def prepare_workdir(root: str, workload: str, seed: int) -> str:
    """Create a fresh per-run working directory and point every temp and
    scratch location of Python, Spark and the JVM at it.  Must run before
    the JVM starts."""
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # every JVM (the launcher and Spark's): temp files in the work dir, and
    # no hsperfdata file, which HotSpot puts in the system temp directory
    # whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf spark.local.dir={local}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp
    return work


def start_session():
    """The engine's own session factory at ``local[CPUS]``."""
    from edgy_spark.session import get_spark

    spark = get_spark("edgy-spark-perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values, min_beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    ``min_beyond`` samples above it, by the nearest-rank rule.  With fewer
    than ``min_beyond + 1`` samples there is no such percentile; the
    maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= min_beyond:
        return 100.0, xs[-1]
    k = n - min_beyond  # rank whose value has min_beyond samples above it
    return 100.0 * k / n, xs[k - 1]


class Clock:
    """Wall-clock stopwatch on ``time.perf_counter``."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0


def metric(value: float, unit: str) -> dict:
    if not isinstance(value, (int, float)) or math.isnan(value):
        raise BenchError(f"metric value {value!r} is not a number")
    return {"value": value, "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result: the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }), flush=True)
