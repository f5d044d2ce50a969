"""Spark-side counters for the traced run.

Job, stage and task figures come from ``SparkContext.statusTracker()`` (job
ids of a job group, stage ids of a job) and from the application status
store (per-stage executor run time, shuffle and spill bytes).  The status
store keeps only the newest ``spark.ui.retainedStages`` stages, so each
group is read right after the call that launched it, and a stage whose
record is already gone is counted in ``stages_missing`` instead of being
silently left out.

Arrow-boundary figures come from the SQL metrics of the executed plan's
Python-exec nodes (``MapInPandasExec`` and its siblings: ``pythonTotalTime``
in ms summed over tasks, ``pythonDataSent`` and ``pythonDataReceived`` in
bytes).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, fields

#: plan nodes that run Python workers (the concrete classes under
#: org.apache.spark.sql.execution.python in Spark 4.1)
PYTHON_EXEC_NODES = frozenset({
    "ArrowAggregatePythonExec",
    "ArrowEvalPythonExec",
    "ArrowEvalPythonUDTFExec",
    "ArrowWindowPythonExec",
    "BatchEvalPythonExec",
    "BatchEvalPythonUDTFExec",
    "FlatMapCoGroupsInArrowExec",
    "FlatMapCoGroupsInPandasExec",
    "FlatMapGroupsInArrowExec",
    "FlatMapGroupsInPandasExec",
    "MapInArrowExec",
    "MapInPandasExec",
})


@dataclass
class SparkCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    stages_missing: int = 0
    executor_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0

    def __iadd__(self, other: "SparkCounts") -> "SparkCounts":
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        return self


@dataclass
class ArrowCounts:
    nodes: int = 0
    python_s: float = 0.0
    bytes_to_python: int = 0
    bytes_from_python: int = 0


class Ledger:
    """Reads what a job group launched.  The caller sets a group around
    each traced call (``set_group``)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def set_group(self, group: str | None) -> None:
        """Make ``group`` this thread's job group (None clears it)."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def current_group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self._bus.waitUntilEmpty()

    def counts(self, group: str) -> SparkCounts:
        """Jobs, stages and tasks of one group; call ``drain`` first."""
        out = SparkCounts()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out.jobs += 1
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            for stage_id in info.stageIds:
                try:
                    sd = self._store.lastStageAttempt(int(stage_id))
                except Exception as e:  # py4j wraps NoSuchElementException
                    if "NoSuchElementException" not in str(e):
                        raise
                    out.stages_missing += 1
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += sd.numCompleteTasks()
                out.executor_run_s += sd.executorRunTime() / 1000.0
                out.shuffle_write_bytes += sd.shuffleWriteBytes()
                out.shuffle_read_bytes += sd.shuffleReadBytes()
                out.spill_bytes += sd.diskBytesSpilled()
        return out

    def arrow(self, df) -> ArrowCounts:
        """Sum the Python-exec node metrics of ``df``'s executed plan,
        descending through adaptive plans and query stages."""
        out = ArrowCounts()
        todo = [df._jdf.queryExecution().executedPlan()]
        while todo:
            node = todo.pop()
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if name.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if name.startswith("Reused"):
                continue  # the reused subtree is counted where it first appears
            if name in PYTHON_EXEC_NODES:
                m = {k: v.value() for k, v in self._conv.asJava(node.metrics()).items()}
                out.nodes += 1
                out.python_s += m.get("pythonTotalTime", 0) / 1000.0
                out.bytes_to_python += m.get("pythonDataSent", 0)
                out.bytes_from_python += m.get("pythonDataReceived", 0)
            todo.extend(self._conv.asJava(node.children()))
            todo.extend(self._conv.asJava(node.innerChildren()))
        return out

    def jvm_peak_rss_mb(self) -> float:
        """The JVM's peak resident set (``VmHWM``) in MiB."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def file_sizes(path: str) -> dict[str, int]:
    """{path: bytes} of the regular files under ``path``."""
    out = {}
    for d, _, files in os.walk(path):
        for name in files:
            p = os.path.join(d, name)
            if os.path.isfile(p) and not os.path.islink(p):
                out[p] = os.path.getsize(p)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) of the regular files under ``path``."""
    sizes = file_sizes(path)
    return len(sizes), sum(sizes.values())
