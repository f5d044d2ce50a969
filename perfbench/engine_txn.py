"""The ``engine_txn`` workload: the paper's own surface on the demo schema.

Set-up bulk-loads a seeded graph (20,000 persons, about 182,000 edges)
into a store configured as a long-running one (bucketed edges and nodes,
a ``Person.name`` index, change capture, maintenance every
``COMPACT_EVERY`` versions), ``SETUP_ROUNDS`` times, each into a new
store; the last one is used, and the first one warms the JIT.  The timed
window then runs blocks of ten operations from a seeded sequence, closed
loop: four write transactions through ``Engine.run``, five point reads
and one ``demo.missing_tools`` traversal, shuffled within the block.

Every operation is replayed on an in-memory model of the graph; each read
and traversal result is compared to it, and so are the final node and
edge counts.  A raising operation or a wrong result counts as failed.
"""

from __future__ import annotations

import os
import random
import sys
from collections import Counter, defaultdict
from contextlib import nullcontext

from perfbench.common import (
    CPUS,
    BenchError,
    Clock,
    median,
    metric,
    tail,
)
from perfbench.ledger import dir_stats, file_sizes

#: graph size: persons, activities, objects; edges per source node
PERSONS, ACTIVITIES, OBJECTS = 20_000, 200, 2_000
FRIENDS_PER_PERSON, HOBBIES_PER_PERSON, POSSESSIONS_PER_PERSON = 4, 2, 3
TOOLS_PER_ACTIVITY = 10
#: maintenance (compact + vacuum) runs on every COMPACT_EVERY-th version
COMPACT_EVERY = 10
#: bulk loads per run, each into a fresh store; ``setup_s`` counts their
#: median (with two, their mean)
SETUP_ROUNDS = 2
#: timed blocks per run, at least: twelve commits, so the maintenance
#: commit lands in the window.  A traced run alternates traced and
#: untraced blocks, traced first, so the third block, which holds the
#: maintenance commit, is traced.
MIN_BLOCKS = 3
MIN_BLOCKS_TRACED = 4

#: a block is 4 write transactions, 5 point reads and 1 traversal; the
#: kinds are fixed per block (node and edge writes rotate from block to
#: block) so every block does comparable work; the seed draws the nodes,
#: values, the fifth read and the order
NODE_WRITES = ("new_node", "delete_node")
EDGE_WRITES = ("remove_related", "set_related", "clear_related")
READ_KINDS = ("get_attribute", "get_related", "is_related", "lookup")
#: relations per source type, as the demo schema declares them
RELATIONS = {
    "friend": ("Person", "Person"),
    "hobby": ("Person", "Activity"),
    "possession": ("Person", "Object"),
    "tool": ("Activity", "Object"),
}


class Model:
    """The expected graph: node attributes and each relation's forward
    adjacency lists in read order (newest first; a bulk batch lists its
    targets ascending)."""

    def __init__(self) -> None:
        self.nodes: dict[str, dict[int, dict]] = defaultdict(dict)
        self.adj: dict[str, dict[int, list[int]]] = defaultdict(lambda: defaultdict(list))

    def add_node(self, node_type: str, nid: int, attrs: dict) -> None:
        self.nodes[node_type][nid] = dict(attrs)

    def bulk(self, rel: str, pairs) -> None:
        grouped = defaultdict(list)
        for s, d in pairs:
            grouped[s].append(d)
        for s, ds in grouped.items():
            self.adj[rel][s] = sorted(ds) + self.adj[rel][s]

    def add(self, rel: str, s: int, d: int) -> None:
        self.adj[rel][s].insert(0, d)

    def remove(self, rel: str, s: int, d: int) -> None:
        self.adj[rel][s] = [x for x in self.adj[rel][s] if x != d]

    def set(self, rel: str, s: int, ds: list[int]) -> None:
        self.adj[rel][s] = list(ds)

    def clear(self, rel: str, s: int) -> None:
        self.adj[rel][s] = []

    def delete(self, node_type: str, nid: int) -> None:
        del self.nodes[node_type][nid]
        for rel, (src, dst) in RELATIONS.items():
            if src == node_type:
                self.adj[rel].pop(nid, None)
            if dst == node_type:
                for s, ds in self.adj[rel].items():
                    if nid in ds:
                        self.adj[rel][s] = [x for x in ds if x != nid]

    def missing_tools(self, pid: int) -> list[str]:
        needed = Counter(o for a in self.adj["hobby"][pid] for o in self.adj["tool"][a])
        have = Counter(self.adj["possession"][pid])
        for f in self.adj["friend"][pid]:
            have.update(self.adj["possession"][f])
        names = self.nodes["Object"]
        return sorted(names[o]["name"] for o in (needed - have).elements())

    def edge_count(self, rel: str) -> int:
        return sum(len(ds) for ds in self.adj[rel].values())

    def logical_bytes(self) -> int:
        """Bytes of the live user rows at 8 bytes per integer and UTF-8
        string length: the base of ``storage.space_amp``."""
        total = 0
        for rows in self.nodes.values():
            for nid, attrs in rows.items():
                total += 8 + sum(
                    8 if isinstance(v, int) else len(str(v).encode()) for v in attrs.values()
                )
        edges = sum(self.edge_count(rel) for rel in RELATIONS)
        return total + 16 * edges


class Workload:
    """The store under test, its model and the seeded operation stream."""

    def __init__(self, spark, root: str, seed: int) -> None:
        from edgy_spark.demo import demo_schema
        from edgy_spark.graph import Engine

        self.spark = spark
        self.root = root
        self.rng = random.Random(seed)
        self.model = Model()
        self.tracer = None  # set for traced blocks
        # a long-running store: point reads prune to one of four buckets
        self.engine = Engine(
            spark, root, demo_schema(),
            bucket_edges=4, bucket_nodes=4,
            index_attrs={"Person": ["name"]},
            capture_cdc=True, compact_every=COMPACT_EVERY,
        )
        self.space_amp: list[float] = []
        self.bytes_written: list[int] = []
        self.attempted = 0
        self.failed = 0
        self._new = 0
        self._blocks = 0
        self._paired = False

    # -- set-up ------------------------------------------------------------

    def bulk_load(self) -> None:
        import pandas as pd

        rng = self.rng
        people = [(f"person-{i}", rng.randrange(100)) for i in range(PERSONS)]
        made: dict[str, list] = {}

        def load(txn):
            made["Person"] = [txn.new_node("Person", name=n, age=a) for n, a in people]
            made["Activity"] = [
                txn.new_node("Activity", name=f"activity-{i}") for i in range(ACTIVITIES)
            ]
            made["Object"] = [
                txn.new_node("Object", name=f"object-{i}") for i in range(OBJECTS)
            ]
            for rel, per in (("friend", FRIENDS_PER_PERSON), ("hobby", HOBBIES_PER_PERSON),
                             ("possession", POSSESSIONS_PER_PERSON),
                             ("tool", TOOLS_PER_ACTIVITY)):
                src, dst = RELATIONS[rel]
                pairs = [(s.id, rng.choice(made[dst]).id) for s in made[src] for _ in range(per)]
                made[rel] = pairs
                txn.bulk_add_edges(
                    rel, self.spark.createDataFrame(pd.DataFrame(pairs, columns=["src", "dst"]))
                )

        self.engine.run(load)
        for (name, age), node in zip(people, made["Person"]):
            self.model.add_node("Person", node.id, {"name": name, "age": age})
        for t in ("Activity", "Object"):
            for i, node in enumerate(made[t]):
                self.model.add_node(t, node.id, {"name": f"{t.lower()}-{i}"})
        for rel in RELATIONS:
            self.model.bulk(rel, made[rel])

    # -- operations ----------------------------------------------------------

    def pair_blocks(self) -> None:
        """From the next block on, give each two consecutive blocks the same
        write kinds, so a traced run's traced and untraced blocks differ
        only by the tracing."""
        self._blocks *= 2
        self._paired = True

    def block(self) -> list[tuple[str, str]]:
        """The next block's (kind, operation) pairs in run order."""
        b = self._blocks // 2 if self._paired else self._blocks
        self._blocks += 1
        ops = [("write", w) for w in ("set_attribute", "add_related",
                                      NODE_WRITES[b % len(NODE_WRITES)],
                                      EDGE_WRITES[b % len(EDGE_WRITES)])]
        ops += [("read", r) for r in READ_KINDS + (self.rng.choice(READ_KINDS),)]
        ops.append(("traverse", "missing_tools"))
        self.rng.shuffle(ops)
        return ops

    def op(self, kind: str, name: str) -> float:
        """Run one operation and check it; returns its latency in seconds."""
        if kind == "write":
            fn, apply = self._write(name)

            def call():
                return self.engine.run(fn)
        elif kind == "read":
            call, want = self._read(name)
        else:
            call, want = self._traverse()
        if self.tracer is not None:
            self.tracer.begin(name)
        span = self.tracer.span if self.tracer is not None else (lambda n: nullcontext())
        if kind == "write":
            version = self.engine.store.current_version()
            before = file_sizes(self.root) if self.tracer is not None else None
        self.attempted += 1
        c = Clock()
        try:
            with span(f"op.{kind}"):
                got = call()
        except Exception as e:  # a raising operation is a failed one
            elapsed = c.elapsed()
            self.failed += 1
            print(f"perfbench: {name} raised {e!r}", file=sys.stderr)
            return elapsed
        elapsed = c.elapsed()
        if kind == "write":
            apply(got)
            if before is not None:
                after = file_sizes(self.root)
                self.bytes_written.append(
                    sum(n for f, n in after.items() if before.get(f) != n)
                )
            if (version + 1) % COMPACT_EVERY == 0:  # this commit ran maintenance
                self.space_amp.append(self.store_bytes() / self.model.logical_bytes())
        elif got != want:
            self.failed += 1
            print(f"perfbench: {name}: got {got!r}, expected {want!r}", file=sys.stderr)
        return elapsed

    def _pick(self, node_type: str) -> int:
        return self.rng.choice(list(self.model.nodes[node_type]))

    def _write(self, name: str):
        from edgy_spark.graph import Node

        m, rng = self.model, self.rng
        p = self._pick("Person")
        P = Node("Person", p)
        if name == "new_node":
            self._new += 1
            attrs = {"name": f"new-{self._new}", "age": rng.randrange(100)}
            return (lambda t: t.new_node("Person", **attrs),
                    lambda node: m.add_node("Person", node.id, attrs))
        if name == "set_attribute":
            age = rng.randrange(100)
            return (lambda t: t.set_attribute(P, "age", age),
                    lambda _: m.nodes["Person"][p].__setitem__("age", age))
        if name == "add_related":
            rel = rng.choice(("friend", "hobby", "possession"))
            d = self._pick(RELATIONS[rel][1])
            D = Node(RELATIONS[rel][1], d)
            return (lambda t: t.add_related(P, rel, D), lambda _: m.add(rel, p, d))
        if name == "remove_related":
            ds = m.adj["friend"][p]
            d = rng.choice(ds) if ds else self._pick("Person")
            return (lambda t: t.remove_related(P, "friend", Node("Person", d)),
                    lambda _: m.remove("friend", p, d))
        if name == "set_related":
            ds = [self._pick("Object") for _ in range(rng.randrange(1, 4))]
            return (lambda t: t.set_related(P, "possession", [Node("Object", d) for d in ds]),
                    lambda _: m.set("possession", p, ds))
        if name == "clear_related":
            return (lambda t: t.clear_related(P, "hobby"), lambda _: m.clear("hobby", p))
        if name == "delete_node":
            return (lambda t: t.delete_node(P), lambda _: m.delete("Person", p))
        raise BenchError(f"unknown write {name!r}")

    def _read(self, name: str):
        # demo functions are looked up per call, so a traced run sees the
        # instrumented ones
        from edgy_spark.demo import lookup
        from edgy_spark.graph import Node

        m, e = self.model, self.engine
        p = self._pick("Person")
        P = Node("Person", p)
        if name == "get_attribute":
            return lambda: e.read().get_attribute(P, "age"), m.nodes["Person"][p]["age"]
        if name == "get_related":
            return (lambda: [n.id for n in e.read().get_related(P, "friend")],
                    list(m.adj["friend"][p]))
        if name == "is_related":
            ds = m.adj["possession"][p]
            o = self.rng.choice(ds) if ds and self.rng.random() < 0.5 else self._pick("Object")
            return (lambda: e.read().is_related(P, "possession", Node("Object", o)),
                    o in ds)
        if name == "lookup":
            attrs = m.nodes["Person"][p]
            return lambda: lookup(e, "Person", attrs["name"]), {"id": p, **attrs}
        raise BenchError(f"unknown read {name!r}")

    def _traverse(self):
        from edgy_spark.demo import missing_tools

        p = self._pick("Person")
        name = self.model.nodes["Person"][p]["name"]
        return lambda: missing_tools(self.engine, name), self.model.missing_tools(p)

    # -- end-of-run checks ------------------------------------------------------

    def store_bytes(self) -> int:
        return dir_stats(self.root)[1]

    def final_check(self) -> int:
        """Compare node and edge counts with the model; returns mismatches."""
        snap = self.engine.snapshot()
        bad = 0
        for t in ("Person", "Activity", "Object"):
            got, want = snap.nodes(t).count(), len(self.model.nodes[t])
            if got != want:
                bad += 1
                print(f"perfbench: {t} nodes {got} != model {want}", file=sys.stderr)
        for rel in RELATIONS:
            got, want = snap.edge_table(rel).count(), self.model.edge_count(rel)
            if got != want:
                bad += 1
                print(f"perfbench: {rel} edges {got} != model {want}", file=sys.stderr)
        return bad


def run(workload: str, seed: int, seconds: float, traced: bool, ctx) -> dict:
    c = Clock()
    import edgy_spark.graph  # noqa: F401  (the engine's import cost is set-up)

    catalog_s = c.elapsed()
    c = Clock()
    spark = ctx.session()
    session_s = c.elapsed()
    start_s = ctx.setup_clock.elapsed()  # process start to a ready session
    loads = []
    for i in range(SETUP_ROUNDS):
        c = Clock()
        w = Workload(spark, os.path.join(ctx.workdir, f"store-{i}"), seed)
        w.bulk_load()
        loads.append(c.elapsed())
    setup_s = start_s + median(loads)

    tracer = ctx.tracer(spark) if traced else None
    if tracer is not None:
        _instrument(tracer)
        w.pair_blocks()
    blocks: list[dict] = []
    window = Clock()
    min_blocks = MIN_BLOCKS_TRACED if traced else MIN_BLOCKS
    while len(blocks) < min_blocks or window.elapsed() < seconds:
        trace_this = traced and len(blocks) % 2 == 0
        w.tracer = tracer if trace_this else None
        if tracer is not None:
            tracer.enabled = trace_this
        b = {"traced": trace_this, "ops": [], "spans": []}
        c = Clock()
        for kind, name in w.block():
            dt = w.op(kind, name)
            b["ops"].append((kind, name, dt))
            if trace_this:
                b["spans"].append((kind, name, tracer.settle()))
        b["wall"] = c.elapsed()
        blocks.append(b)
    if tracer is not None:
        tracer.enabled = False
    w.tracer = None

    maintenance = len(w.space_amp)
    bad = w.final_check()
    attempted = w.attempted + 1
    failed = w.failed + (1 if bad else 0)
    if not w.space_amp:
        w.space_amp.append(w.store_bytes() / w.model.logical_bytes())

    plain = [b for b in blocks if not b["traced"]]
    lat = defaultdict(list)
    for b in plain:
        for kind, _, dt in b["ops"]:
            lat[kind].append(1000.0 * dt)
    commit_pct, commit_tail = tail(lat["write"])
    read_pct, read_tail = tail(lat["read"])
    summary = {
        "workload": workload,
        "blocks": len(plain),
        "ops_per_block": len(plain[0]["ops"]),
        "window_s": round(window.elapsed(), 3),
        "error_rate": failed / attempted,
        "setup": {"start_s": round(start_s, 3), "session_s": round(session_s, 3),
                  "loads_s": [round(x, 3) for x in loads]},
        "setup_s": round(setup_s, 3),
        "commit_p50_ms": round(median(lat["write"]), 1),
        "commit_tail_ms": round(commit_tail, 1),
        "commit_tail_pct": round(commit_pct, 1),
        "commits": len(lat["write"]),
        "read_p50_ms": round(median(lat["read"]), 1),
        "read_tail_ms": round(read_tail, 1),
        "read_tail_pct": round(read_pct, 1),
        "reads": len(lat["read"]),
        "traverse_p50_ms": round(median(lat["traverse"]), 1),
        "traversals": len(lat["traverse"]),
        "space_amp": round(median(w.space_amp), 3),
        "maintenance_commits": maintenance,
    }
    end_to_end = {"setup_s": metric(setup_s, "s"), "pass_s": metric(_block_estimate(plain), "s")}
    layers = {}
    if traced:
        layers = _layers(blocks, w, tracer)
        layers.update({
            "session.start_s": session_s,
            "catalog.load_s": catalog_s,
            "storage.load_s": median(loads),
            "warmup_s": loads[0] - median(loads),
        })
    return {
        "attempted": attempted,
        "failed": failed,
        "summary": summary,
        "end_to_end": end_to_end,
        "layers": layers,
    }


def _block_estimate(blocks: list[dict]) -> float:
    """One block's time: the summed latency of the blocks' operations over
    the number of blocks.  Every block holds the same mix, so this is the
    closed-loop time of that mix; a mean, not a per-class median, because
    commit latencies cluster by operation and the median of a dozen jumps
    between clusters from seed to seed."""
    return sum(dt for b in blocks for _, _, dt in b["ops"]) / len(blocks)


def _instrument(tracer) -> None:
    """Record spans around the engine's public calls, from outside it."""
    import edgy_spark.demo as demo
    from edgy_spark.graph import Engine, Transaction
    from edgy_spark.storage import GraphStore

    tracer.wrap(Engine, "run", "graph.run")
    for attr in ("get_attribute", "get_related", "is_related"):
        tracer.wrap(Transaction, attr, "graph.read")
    tracer.wrap(GraphStore, "commit", "storage.commit")
    tracer.wrap(GraphStore, "snapshot", "storage.snapshot")
    tracer.wrap(GraphStore, "compact", "storage.maintenance")
    tracer.wrap(GraphStore, "vacuum", "storage.maintenance")
    tracer.wrap(demo, "lookup", "query.lookup")
    tracer.wrap(demo, "missing_tools", "query.traverse")


def _layers(blocks, w: Workload, tracer) -> dict:
    from perfbench.ledger import SparkCounts
    from perfbench.trace import duration, inclusive_counts, self_times

    traced = [b for b in blocks if b["traced"]]
    per_block: dict[str, list[float]] = defaultdict(list)
    # span name -> (span, inclusive counts, parent span)
    spans_by_name: dict[str, list[tuple]] = defaultdict(list)
    for b in traced:
        total = SparkCounts()
        spans = []
        for _, _, recs in b["spans"]:
            spans.extend(recs)
            inc = inclusive_counts(recs)
            for r in recs:
                if r["parent"] is None:
                    total += inc[r["id"]]
                parent = next((x for x in recs if x["id"] == r["parent"]), None)
                spans_by_name[r["name"]].append((r, inc[r["id"]], parent))
        for k, v in vars(total).items():
            per_block[f"spark.{k}"].append(v)
        per_block["spark.busy_frac"].append(total.executor_run_s / (b["wall"] * CPUS))
        st = self_times(spans)
        for layer in ("graph", "storage", "query"):
            per_block[f"self.{layer}_s"].append(
                sum(v for k, v in st.items() if k.startswith(layer + "."))
            )
        per_block["trace.spans"].append(len(spans))
    out = {k: median(v) for k, v in per_block.items()}
    out["spark.stages_missing"] = sum(per_block["spark.stages_missing"])

    def pick(name, parent_name=None):
        return [
            (r, inc) for r, inc, parent in spans_by_name[name]
            if parent_name is None or (parent and parent["name"] == parent_name)
        ]

    runs = pick("graph.run")
    commits = pick("storage.commit", "graph.run")
    maint = [r for r, _ in pick("storage.maintenance")]
    out["graph.run_ms"] = 1000.0 * median(duration(r) for r, _ in runs)
    out["graph.read_ms"] = 1000.0 * median(duration(r) for r, _ in pick("graph.read"))
    out["graph.read_jobs"] = median(inc.jobs for _, inc in pick("graph.read"))
    out["storage.commit_ms"] = 1000.0 * median(duration(r) for r, _ in commits)
    out["storage.commit_jobs"] = median(inc.jobs for _, inc in commits)
    out["storage.snapshot_ms"] = 1000.0 * median(duration(r) for r, _ in pick("storage.snapshot"))
    by_request = defaultdict(float)
    for r in maint:
        by_request[r["request"]] += duration(r)
    out["storage.maintenance_ms"] = 1000.0 * median(by_request.values())
    out["storage.maintenance_runs"] = len(by_request)
    out["query.traverse_ms"] = 1000.0 * median(duration(r) for r, _ in pick("query.traverse"))
    out["query.traverse_jobs"] = median(inc.jobs for _, inc in pick("query.traverse"))
    out["storage.bytes_written"] = median(w.bytes_written)
    files, _ = dir_stats(w.root)
    out["storage.files"] = files
    out["storage.space_amp"] = median(w.space_amp)
    # the first pair: same operation kinds, and no maintenance commit,
    # which lands in the second traced block
    out["trace.overhead_s"] = _block_estimate(blocks[:1]) - _block_estimate(blocks[1:2])
    out["jvm.peak_rss_mb"] = tracer.ledger.jvm_peak_rss_mb()
    return out
