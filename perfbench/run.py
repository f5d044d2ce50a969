"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 5 --trace 0

Runs one workload against the edgy_spark sources of the checkout this file
sits in, checks every result, prints a one-line summary and, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  Exits non-zero without a result
line when the workload cannot run.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BenchError,
    Clock,
    checkout_root,
    emit,
    metric,
    prepare_workdir,
    start_session,
)

WORKLOADS = ("analytics", "engine_txn")


class Context:
    """What a workload gets from the runner: the set-up clock (started
    before anything is imported), its working directory, the session and,
    for traced runs, the tracer."""

    def __init__(self, setup_clock: Clock, workdir: str) -> None:
        self.setup_clock = setup_clock
        self.workdir = workdir
        self.spark = None
        self._tracer = None

    def session(self):
        self.spark = start_session()
        return self.spark

    def tracer(self, spark):
        from perfbench.ledger import Ledger
        from perfbench.trace import Tracer

        self._tracer = Tracer(Ledger(spark))
        return self._tracer

    def close(self, spans_path: str) -> None:
        """Write the spans, stop Spark, and wait until the JVM and the
        Python workers it started have exited."""
        if self._tracer is not None:
            self._tracer.dump(spans_path)
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = descendants(proc.pid) if proc is not None else []
        self.spark.stop()
        self.spark = None
        if proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while any(os.path.exists(f"/proc/{pid}") for pid in started):
            if time.monotonic() > deadline:
                raise BenchError(f"processes {started} outlived the JVM")
            time.sleep(0.1)


def descendants(pid: int) -> list[int]:
    """Pids of every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process exited while we looked
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def per_layer_names() -> list[tuple[str, str]]:
    """The per-layer metric names declared in BENCHMARK.json."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def main(argv=None) -> int:
    setup_clock = Clock()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        root = checkout_root()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    workdir = prepare_workdir(root, args.workload, args.seed)
    spans_dir = os.path.join(root, ".bench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    ctx = Context(setup_clock, workdir)
    traced = bool(args.trace)
    try:
        if args.workload == "analytics":
            from perfbench import analytics as workload
        else:
            from perfbench import engine_txn as workload
        out = workload.run(args.workload, args.seed, args.seconds, traced, ctx)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.close(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps({"summary": out["summary"]}), flush=True)
    if traced:
        declared = per_layer_names()
        unknown = set(out["layers"]) - {name for name, _ in declared}
        if unknown:
            print(f"perfbench: undeclared per-layer metrics {sorted(unknown)}",
                  file=sys.stderr)
            return 2
        # a layer the workload does not exercise reads 0
        metrics = {
            name: metric(out["layers"].get(name, 0), unit) for name, unit in declared
        }
    else:
        metrics = out["end_to_end"]
    emit(out["failed"] == 0, out["attempted"], out["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
