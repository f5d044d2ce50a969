"""The ``analytics`` workload: closed-loop passes over catalog queries at
sf0.1.

A pass runs each of the workload's queries once, in an order drawn from
the seed, each fully executed by ``collect()`` like ``bench.py`` does.
Set-up loads the catalog and starts the session, then sets the workload
up ``SETUP_ROUNDS`` times: each round drops Spark's cached data and runs
one untimed pass at the timed scale, so caches and JIT warm-up land in
set-up, not in the timed passes.  Every result, set-up included, is
checked against the query's DuckDB oracle after the timed window closes.
"""

from __future__ import annotations

import gc
import os
import random
import sys
from collections import defaultdict
from contextlib import nullcontext

from perfbench import check
from perfbench.common import (
    CPUS,
    BenchError,
    Clock,
    median,
    metric,
)

#: one query per cost regime: a fixpoint bound by Spark job count, a
#: shuffle-bound as-of join, and a decode gate whose work is in Python
#: workers behind the Arrow boundary
QUERY_NAMES = (
    "graph_ktruss_edges",
    "asof_purchase_last_error",
    "multimodal_jpeg_block_stats",
)
#: untimed set-up passes, in catalog order: the first pays caches and
#: code generation, the rest let the JIT settle before timing starts;
#: ``setup_s`` counts the median one
SETUP_ROUNDS = 3
#: timed passes per run, at least; each query's latency is the median
#: over them.  A traced run alternates untraced and traced passes and
#: runs two of each, so job counts can be compared between traced passes.
MIN_PASSES = 3
MIN_PASSES_TRACED = 4


class Results:
    """Each query's first normalised result is compared to the oracle;
    every later execution must reproduce it exactly."""

    def __init__(self) -> None:
        self.first: dict[str, tuple] = {}
        self.runs: dict[str, int] = defaultdict(int)
        self.differs: dict[str, int] = defaultdict(int)
        self.raised: dict[str, int] = defaultdict(int)

    def add_error(self, name: str, error: Exception) -> None:
        """An execution that raised: attempted and failed."""
        self.runs[name] += 1
        self.raised[name] += 1
        print(f"perfbench: {name} raised {error!r}", file=sys.stderr)

    def add(self, name: str, columns: list[str], rows) -> None:
        got = check.normalize(columns, rows)
        self.runs[name] += 1
        if name not in self.first:
            self.first[name] = got
        elif check.mismatch(got, self.first[name]) is not None:
            self.differs[name] += 1

    def failures(self, oracle: check.Oracle, specs: dict) -> dict[str, str]:
        """{query: reason} for every query with a wrong execution."""
        bad = {}
        for name, got in self.first.items():
            why = check.mismatch(got, oracle.result(name, specs[name].oracle))
            if why is not None:
                bad[name] = why
            elif self.differs[name]:
                bad[name] = f"{self.differs[name]} execution(s) changed rows"
        return bad

    def failed_count(self, bad: dict[str, str]) -> int:
        """Raised executions, plus every execution of a query whose rows
        disagree with the oracle, or else each one that changed rows."""
        wrong = sum(
            self.runs[n] - self.raised[n] if self.differs[n] == 0 else self.differs[n]
            for n in bad
        )
        return wrong + sum(self.raised.values())


def run(workload: str, seed: int, seconds: float, traced: bool, ctx) -> dict:
    from edgy_spark.catalog import QUERIES, load_all_registrations
    from edgy_spark.session import DEFAULT_SF_DIR

    # the fixture tables bench.py times: sf0.1 unless SPARK_GRAFT_SF_DIR says
    sf_dir = DEFAULT_SF_DIR
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        raise BenchError(f"fixture tables not found under {sf_dir}")
    c = Clock()
    load_all_registrations()
    catalog_s = c.elapsed()
    c = Clock()
    spark = ctx.session()
    session_s = c.elapsed()
    names = list(QUERY_NAMES)
    specs = {n: QUERIES[n] for n in names}
    missing = [n for n in names if specs[n].oracle is None]
    if missing:
        raise BenchError(f"queries without an oracle: {missing}")
    rng = random.Random(seed)
    results = Results()

    def build(name: str):
        return specs[name].fn(spark, sf_dir)

    start_s = ctx.setup_clock.elapsed()  # process start to a ready session
    rounds = []
    for _ in range(SETUP_ROUNDS):
        spark.catalog.clearCache()
        c = Clock()
        _pass(build, results, names, None, specs)
        rounds.append(c.elapsed())
    setup_s = start_s + median(rounds)

    tracer = ctx.tracer(spark) if traced else None
    passes: list[dict] = []
    window = Clock()
    min_passes = MIN_PASSES_TRACED if traced else MIN_PASSES
    while len(passes) < min_passes or window.elapsed() < seconds:
        trace_this = traced and len(passes) % 2 == 1
        passes.append(_pass(build, results, rng.sample(names, len(names)),
                            tracer if trace_this else None, specs))
    window_s = window.elapsed()

    c = Clock()
    oracle = check.Oracle(sf_dir, ctx.workdir)
    try:
        bad = results.failures(oracle, specs)
    finally:
        oracle.close()
    for name, why in bad.items():
        print(f"perfbench: {name}: {why}", file=sys.stderr)
    check_s = c.elapsed()
    attempted = sum(results.runs.values())
    failed = results.failed_count(bad)

    plain = [p for p in passes if not p["traced"]]
    pass_s = _pass_estimate(plain, names)
    summary = {
        "workload": workload,
        "tables": sf_dir,
        "passes": len(plain),
        "window_s": round(window_s, 3),
        "setup": {"start_s": round(start_s, 3), "catalog_s": round(catalog_s, 3),
                  "session_s": round(session_s, 3),
                  "rounds_s": [round(r, 3) for r in rounds]},
        "setup_s": round(setup_s, 3),
        "check_s": round(check_s, 3),
        "pass_s": round(pass_s, 4),
        "error_rate": failed / attempted,
        "query_s": {n: [round(p["queries"][n], 4) for p in plain if n in p["queries"]]
                    for n in names},
    }
    end_to_end = {"setup_s": metric(setup_s, "s"), "pass_s": metric(pass_s, "s")}
    layers = {}
    if traced:
        layers = _layers(passes, names, specs, tracer)
        layers.update({
            "session.start_s": session_s,
            "catalog.load_s": catalog_s,
            "warmup_s": rounds[0] - median(rounds),
        })
    return {
        "attempted": attempted,
        "failed": failed,
        "summary": summary,
        "end_to_end": end_to_end,
        "layers": layers,
    }


def _pass(build, results: Results, order: list[str], tracer, specs) -> dict:
    """Run each query of ``order`` once; with a tracer, record its spans,
    Spark counts and Arrow-boundary metrics."""
    out = {"traced": tracer is not None, "queries": {}, "spans": [], "arrow": {}}
    span = tracer.span if tracer is not None else (lambda name: nullcontext())
    if tracer is not None:
        tracer.enabled = True
    for name in order:
        if tracer is not None:
            tracer.begin(name)
        c = Clock()
        try:
            with span("query"):
                with span("query.build"):
                    df = build(name)
                with span("query.collect"):
                    rows = df.collect()
        except Exception as e:  # a raising query is a failed one
            results.add_error(name, e)
            if tracer is not None:
                tracer.settle()
            continue
        out["queries"][name] = c.elapsed()
        if tracer is not None:
            out["spans"].append((name, tracer.settle()))
            arrow = tracer.ledger.arrow(df)
            if "multimodal" in specs[name].tags and arrow.nodes == 0:
                raise BenchError(
                    f"{name}: no Python-exec node in the executed plan; "
                    "Arrow-boundary metrics would read 0"
                )
            out["arrow"][name] = arrow
        results.add(name, df.columns, rows)
        del df, rows
        # fixpoints keep checkpointed blocks alive until their DataFrames
        # are collected; release them outside the timed interval
        gc.collect()
    if tracer is not None:
        tracer.enabled = False
    return out


def _pass_estimate(passes: list[dict], names: list[str]) -> float:
    """One pass's time: the sum over queries of each one's median latency
    (over the executions that did not raise)."""
    return sum(
        median(p["queries"][n] for p in passes if n in p["queries"]) for n in names
    )


def _layers(passes, names, specs, tracer) -> dict:
    from perfbench.ledger import SparkCounts
    from perfbench.trace import inclusive_counts, self_times

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    per_pass: dict[str, list[float]] = defaultdict(list)
    q_wall: dict[str, list[float]] = defaultdict(list)
    q_jobs: dict[str, list[int]] = defaultdict(list)
    for p in traced:
        total = SparkCounts()
        spans = []
        for name, recs in p["spans"]:
            spans.extend(recs)
            root = next(r for r in recs if r["name"] == "query")
            counts = inclusive_counts(recs)[root["id"]]
            total += counts
            q_wall[name].append(p["queries"][name])
            q_jobs[name].append(counts.jobs)
        wall = sum(p["queries"].values())
        for k, v in vars(total).items():
            per_pass[f"spark.{k}"].append(v)
        per_pass["spark.busy_frac"].append(total.executor_run_s / (wall * CPUS))
        arrow = list(p["arrow"].values())
        per_pass["arrow.python_s"].append(sum(a.python_s for a in arrow))
        per_pass["arrow.bytes_to_python"].append(sum(a.bytes_to_python for a in arrow))
        per_pass["arrow.bytes_from_python"].append(sum(a.bytes_from_python for a in arrow))
        st = self_times(spans)
        per_pass["self.build_s"].append(st.get("query.build", 0.0))
        per_pass["self.collect_s"].append(st.get("query.collect", 0.0))
        per_pass["trace.spans"].append(len(spans))
    out = {k: median(v) for k, v in per_pass.items()}
    out["spark.stages_missing"] = sum(per_pass["spark.stages_missing"])
    out["spark.jobs_unrepeated"] = sum(len(set(q_jobs[n])) > 1 for n in names)
    for name in names:
        out[f"q.{name}.wall_s"] = median(q_wall[name])
        out[f"q.{name}.jobs"] = median(q_jobs[name])
    out["trace.overhead_s"] = _pass_estimate(traced, names) - _pass_estimate(plain, names)
    out["jvm.peak_rss_mb"] = tracer.ledger.jvm_peak_rss_mb()
    return out
