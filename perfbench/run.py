"""The repository benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload mixed_rw --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. Each run starts its own local Spark session
on every core, generates the input tables (``datagen``, once per checkout),
builds the graph with ``sources.tpch.graph_from_tpch``, saves it with
``store.save_snapshot(columns="all")`` and loads it with
``store.load_snapshot(schema="infer")`` into a directory private to the run
(``setup_s`` is the Spark start plus this set-up), then runs one
closed-loop, single-client workload in whole units until ``--seconds`` have
passed (each unit starts from the loaded graph, so every unit holds the
same mix of calls), and checks every answer. The last stdout line is one
JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``detail: {...}``) has every
per-class metric with its sample count. ``--workload all`` runs both
workloads untraced and traced and prints both, with the tracing overhead.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import copy
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from itertools import islice
from typing import Callable

ROOT = os.getcwd()
# the workloads BENCHMARK.json lists; run.py also runs the others in RUNNERS
WORKLOADS = ("mixed_rw", "batch_ingest")
E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "op_geomean_ms": "ms",
}
# driver memory: the program's default is a 16g cap, under which one run's
# JVM grew to 7.4 GB resident on a 4-core, 15 GB host; 4g holds the 4 MB
# sf0.01 snapshot many times over
DRIVER_MEM = "4g"
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "akka_graph_db_spark")
    )


def pct(xs: list[float], q: int) -> float:
    """The q-th percentile, interpolated between closest ranks."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


@dataclass
class Outcome:
    """What one workload run measured: timed op latencies by class."""

    samples: list[tuple[str, float]] = field(default_factory=list)  # (class, ms)
    elapsed_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)  # per-class extras
    layer: dict = field(default_factory=dict)  # workload-owned per-layer values

    def check(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def ms(self, cls: str) -> list[float]:
        return [ms for c, ms in self.samples if c == cls]


# ---------------------------------------------------------------------------
# Spark session and set-up
# ---------------------------------------------------------------------------

def start_spark(work: str, trace: bool):
    """A local session on every core, with all its files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    from akka_graph_db_spark.session import get_spark

    return get_spark(cpus=len(os.sched_getaffinity(0)))


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            proc.wait(timeout=60)


def ensure_inputs() -> tuple[str, dict]:
    """Input tables and batch-job oracle answers, built once per checkout."""
    import hashlib

    import __spark_entry__

    from perfbench import checks, datagen

    h = hashlib.sha256(open(datagen.__file__, "rb").read())
    sql = __spark_entry__.oracle_sql()
    h.update(json.dumps([sql[q] for q in checks.BATCH_ORACLES.values()]).encode())
    key = h.hexdigest()[:16]
    data_dir = os.path.join(CACHE_DIR, f"data-{key}")
    oracle_path = os.path.join(CACHE_DIR, f"oracle-{key}.json")
    if not os.path.isdir(data_dir):
        os.makedirs(CACHE_DIR, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=CACHE_DIR)
        datagen.write_tables(tmp)
        os.replace(tmp, data_dir)
    if not os.path.isfile(oracle_path):
        answers = checks.batch_oracles(data_dir)
        with open(oracle_path + ".tmp", "w") as f:
            json.dump(answers, f)
        os.replace(oracle_path + ".tmp", oracle_path)
    with open(oracle_path) as f:
        oracles = {k: [tuple(r) for r in v] for k, v in json.load(f).items()}
    return data_dir, oracles


def set_up(spark, data_dir: str, work: str):
    """Build, save and load the graph; return it, its root, the seconds
    taken and the per-layer split."""
    from akka_graph_db_spark import store
    from akka_graph_db_spark.sources.tpch import graph_from_tpch

    root = os.path.join(work, "snapshot")
    t0 = time.perf_counter()
    store.save_snapshot(graph_from_tpch(spark, data_dir), root, columns="all")
    t1 = time.perf_counter()
    g = store.load_snapshot(spark, root, schema="infer")
    t2 = time.perf_counter()
    layer = {
        "store.save_snapshot_s": t1 - t0,
        "store.load_snapshot_s": t2 - t1,
        "store.snapshot_bytes": dir_bytes(root),
    }
    return g, root, t2 - t0, layer


# ---------------------------------------------------------------------------
# point_reads / mixed_rw: one client on one GraphDB handle
# ---------------------------------------------------------------------------

FACADE = {
    "get_node": "api.GraphDB.get_node",
    "get_edge": "api.GraphDB.get_edge",
    "get_nodes": "api.GraphDB.get_nodes",
    "egress": "api.GraphDB.get_egress_edges",
    "ingress": "api.GraphDB.get_ingress_edges",
    "paths_to": "api.GraphDB.paths_to",
    "add_node": "api.GraphDB.add_node",
    "add_edge": "api.GraphDB.add_edge",
    "update_node": "api.GraphDB.update_node",
    "remove_node": "api.GraphDB.remove_node",
}


def _node(row):
    if row is None:
        return None
    return (row["label"], {k: json.loads(v) for k, v in row["props"].items()})


def execute(db, model, op: tuple):
    """Issue one facade call and return its answer in the model's form."""
    kind = op[0]
    if kind == "get_node":
        return _node(db.get_node(op[1]))
    if kind == "get_edge":
        r = db.get_edge(op[1])
        return None if r is None else (
            r["label"], r["src"], r["dst"], r["src_label"], r["dst_label"])
    if kind == "get_nodes":
        return db.get_nodes("customer", {"mktsegment": op[1]}).count()
    if kind == "egress":
        return sorted(r["id"] for r in db.get_egress_edges(op[1], "placed").collect())
    if kind == "ingress":
        return sorted(r["id"] for r in db.get_ingress_edges(op[1], "placed").collect())
    if kind == "paths_to":
        paths = db.paths_to(op[1], model.region_of(op[1]), directed=True, max_depth=4)
        return sorted(list(r["node_path"]) for r in paths.collect())
    if kind == "add_node":
        return db.add_node(op[2], op[3], node_id=op[1])
    if kind == "add_edge":
        return db.add_edge(op[2], op[3], op[4], op[5], edge_id=op[1])
    if kind == "update_node":
        return db.update_node(op[1], op[2])
    if kind == "remove_node":
        return db.remove_node(op[1])
    raise ValueError(f"unknown op {op!r}")


def _op_class(kind: str) -> str:
    from perfbench.workloads import HOPS, LOOKUPS

    return "lookup" if kind in LOOKUPS else "hop" if kind in HOPS else "write"


def repeat_units(seconds: float, unit: Callable[[], None], warn: str = "") -> None:
    """Run ``unit`` at least once and until ``seconds`` have passed; print
    ``warn`` when a second unit starts."""
    t_start = time.perf_counter()
    n = 0
    while n == 0 or time.perf_counter() - t_start < seconds:
        if n == 1 and warn:
            print(f"perfbench: {warn}", file=sys.stderr)
        unit()
        n += 1


def _client(ctx, ops, round_ops: int, seconds: float) -> Outcome:
    """Issue ``ops`` one at a time, in rounds of ``round_ops``, until
    ``seconds`` have passed; check every answer. Each round starts on a new
    handle over the loaded graph and a new copy of the model, so the writes
    of one round never reach the next and every round holds the same mix."""
    from akka_graph_db_spark.api import GraphDB
    from perfbench import checks, workloads

    out = Outcome()
    db = GraphDB(ctx.graph)
    # warm-up: each read kind once, answers checked, latencies dropped
    for op in islice(workloads.read_ops(ctx.seed + 10**6), len(workloads.READS)):
        out.check(checks.same_answer(op, execute(db, ctx.model, op), ctx.model.expect(op)))
    issued: list[tuple] = []

    def one_round() -> None:
        nonlocal db
        db = GraphDB(ctx.graph)
        model = copy.deepcopy(ctx.model)
        t_round = time.perf_counter()
        for op in islice(ops, round_ops):
            issued.append(op)
            is_read = op[0] in workloads.READS
            want = model.expect(op) if is_read else None
            try:
                with ctx.tracer.op(FACADE[op[0]]):
                    t0 = time.perf_counter()
                    got = execute(db, model, op)
                    dt = time.perf_counter() - t0
            except Exception as e:  # a failed op counts as failed, the run goes on
                print(f"op {op!r} failed: {e!r}", file=sys.stderr)
                out.check(False)
                continue
            if ctx.tracer.enabled and op[0] in workloads.LOOKUPS:
                ctx.tracer.ops[-1].rows = got if op[0] == "get_nodes" else int(got is not None)
            if is_read:
                out.check(checks.same_answer(op, got, want))
            else:
                model.apply(op)
                out.check(True)
            out.samples.append((_op_class(op[0]), dt * 1e3))
        out.elapsed_s += time.perf_counter() - t_round

    repeat_units(seconds, one_round)
    out.detail["repeated_key_share"] = (workloads.repeated_key_share(issued), "ratio", len(issued))
    out.layer["api.plan_lines_end"] = _plan_lines(db.graph)
    return out


def _plan_lines(g) -> int:
    return sum(
        len(df._jdf.queryExecution().analyzed().toString().splitlines())
        for df in (g.nodes, g.edges)
    )


def run_point_reads(ctx, seconds: float) -> Outcome:
    from perfbench import workloads

    return _client(ctx, workloads.read_ops(ctx.seed), len(workloads.READS), seconds)


def run_mixed_rw(ctx, seconds: float) -> Outcome:
    from perfbench import workloads

    return _client(ctx, workloads.mixed_ops(ctx.seed), workloads.ROUND_OPS, seconds)


# ---------------------------------------------------------------------------
# batch_jobs: the registered entry queries' analytics, fixed parameters
# ---------------------------------------------------------------------------

# a second pass runs on a warm JVM, so it is faster than the first
WARM_PASS = (
    "a second batch pass started; it runs warm, so this run's mix of calls "
    "differs from a one-pass run's (see perfbench/README.md)"
)


def _batch_jobs(ctx) -> list[tuple[str, str, object]]:
    """(span name, oracle key, thunk returning the result DataFrame).

    The entry queries are called as registered; pagerank and components
    run the same code on the loaded snapshot instead of a fresh build.
    """
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from akka_graph_db_spark.operators import analytics

    g, spark, data = ctx.graph, ctx.spark, ctx.data_dir

    def pagerank():
        return (
            analytics.pagerank(g, n_iter=10)
            .orderBy(F.col("rank").desc(), F.col("id")).limit(20)
            .select("id", F.round("rank", 6).alias("rank"))
        )

    def components():
        e = g.edges.where(F.col("label").isin("in_region", "located_in"))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        geo = g.nodes.where(
            F.col("label").isin("region", "nation", "customer", "supplier")
        ).select("id")
        return analytics.connected_components_two_phase(geo, pairs).select("id", "component")

    return [
        ("operators.analytics.pagerank", "pagerank", pagerank),
        ("operators.analytics.connected_components_two_phase",
         "connected_components_two_phase", components),
        ("operators.analytics.triangle_count", "triangle_count",
         lambda: entry.q_triangles_coorder(spark, data)),
        ("operators.analytics.kcore", "kcore", lambda: entry.q_kcore_parts(spark, data)),
        ("functions.dedup.minhash_dedup_pairs", "minhash_dedup_pairs",
         lambda: entry.q_dedup_minhash(spark, data)),
        ("functions.similarity.topk_bruteforce", "topk_bruteforce",
         lambda: entry.q_similarity_topk(spark, data)),
    ]


def _batch_pass(ctx, jobs, out: Outcome) -> float:
    """One pass over the job list, answers checked; returns its seconds."""
    from perfbench import checks

    t_pass = time.perf_counter()
    for name, key, thunk in jobs:
        try:
            with ctx.tracer.op(name):
                t0 = time.perf_counter()
                rows = [tuple(r) for r in thunk().collect()]
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed job counts as failed, the run goes on
            print(f"job {name} failed: {e!r}", file=sys.stderr)
            out.check(False)
            continue
        out.check(checks.same_rows(rows, ctx.oracles[key]))
        out.samples.append((name, dt * 1e3))
    dt = time.perf_counter() - t_pass
    out.elapsed_s += dt
    return dt


def run_batch_jobs(ctx, seconds: float) -> Outcome:
    """Whole passes over the job list; the first pass is timed too, as a
    scheduled pipeline in a fresh session would run it."""
    out = Outcome()
    jobs = _batch_jobs(ctx)
    passes: list[float] = []
    repeat_units(seconds, lambda: passes.append(_batch_pass(ctx, jobs, out)), WARM_PASS)
    out.detail["batch_pass_s"] = (statistics.median(passes), "s", len(passes))
    out.layer["api.plan_lines_end"] = _plan_lines(ctx.graph)
    return out


# ---------------------------------------------------------------------------
# log_ingest: durable mutation-log fold
# ---------------------------------------------------------------------------

STORE_EVERY = 1
COMPACT_EVERY = 2


@dataclass
class Cycle:
    """What one log_ingest compaction cycle wrote."""

    steps_ms: list[float]
    mutations: int
    store_bytes: int
    elapsed_s: float


def _ingest_cycle(ctx, batches, out: Outcome, n: int) -> Cycle:
    """One compaction cycle — ``COMPACT_EVERY`` batches — on a new copy of
    the base snapshot and a new copy of the model, so every cycle holds the
    same mix of steps; the first step is the resumed fold's first persist,
    which diffs the whole graph against the store. Afterwards the store is
    reloaded and checked against the model."""
    from pyspark.sql import functions as F

    from akka_graph_db_spark import store
    from akka_graph_db_spark.api import GraphDB
    from akka_graph_db_spark.streaming.fold import MUTATION_SCHEMA, StreamingGraphFold
    from perfbench import checks

    spark = ctx.spark
    model = copy.deepcopy(ctx.model)
    root = os.path.join(ctx.work, f"store-{n}")
    shutil.copytree(ctx.snapshot_root, root)
    base_bytes = dir_bytes(root)
    fold = StreamingGraphFold(
        graph=store.load_snapshot(spark, root, schema="infer"),
        store_root=root, store_every=STORE_EVERY, compact_every=COMPACT_EVERY,
    )
    written: set[int] = set()
    edges_touched: set[int] = set()
    steps: list[float] = []
    n_mutations = 0
    t_start = time.perf_counter()
    for batch_id in range(COMPACT_EVERY):
        cmds, lookups = next(batches)
        df = spark.createDataFrame(cmds, MUTATION_SCHEMA)
        with ctx.tracer.op("streaming.fold.step"):
            t0 = time.perf_counter()
            fold.step(df, batch_id)
            dt = time.perf_counter() - t0
        for c in cmds:
            model.apply_command(c)
            (written if c[2] == "node" else edges_touched).add(c[3])
        n_mutations += len(cmds)
        steps.append(dt * 1e3)
        out.samples.append(("step", dt * 1e3))
        db = GraphDB(fold.graph)
        for nid in lookups:
            with ctx.tracer.op("api.GraphDB.get_node"):
                t0 = time.perf_counter()
                got = _node(db.get_node(nid))
                dt = time.perf_counter() - t0
            out.check(checks.same_node(got, model.node(nid)))
            out.samples.append(("lookup", dt * 1e3))
    elapsed_s = time.perf_counter() - t_start
    out.elapsed_s += elapsed_s
    out.layer["api.plan_lines_end"] = _plan_lines(fold.graph)

    if ctx.tracer.enabled:
        _time_merge_on_read(spark, root, out)
    # reload the latest version and compare it with the model
    g = store.load_snapshot(spark, root)
    n_nodes, n_edges = g.nodes.count(), g.edges.count()
    out.check(n_nodes == model.n_nodes)
    out.check(n_edges == model.n_edges)
    rows = g.nodes.where(F.col("id").isin(sorted(written))).select(
        "id", "label", "props").collect()
    got = {r["id"]: _node(r) for r in rows}
    out.check(len(rows) == len(got) == len(written))
    for nid in written:
        out.check(checks.same_node(got.get(nid), model.node(nid)))
    present = {r["id"] for r in g.edges.where(
        F.col("id").isin(sorted(edges_touched))).select("id").collect()}
    out.check(present == {e for e in edges_touched if model.edge_alive(e)})

    store_bytes = dir_bytes(root) - base_bytes
    out.layer.update({
        "store.bytes_written": store_bytes,
        "store.versions_written": len(store.list_versions(root, spark)) - 1,
    })
    return Cycle(steps, n_mutations, store_bytes, elapsed_s)


def _time_merge_on_read(spark, root: str, out: Outcome) -> None:
    """The cycle ends in a compaction, so load the last delta version (the
    base plus the cycle's deltas, merged on read) and count it."""
    from akka_graph_db_spark import store

    last_delta = max(
        (v for v, kind in store.list_version_kinds(root, spark) if kind == "delta"),
        default=None,
    )
    if last_delta is not None:
        t0 = time.perf_counter()
        merged = store.load_snapshot(spark, root, version=last_delta)
        merged.nodes.count(), merged.edges.count()
        out.layer["store.merge_on_read_load_s"] = time.perf_counter() - t0


def _ingest_detail(out: Outcome, cycles: list[Cycle]) -> None:
    steps = [ms for c in cycles for ms in c.steps_ms]
    n_mutations = sum(c.mutations for c in cycles)
    out.detail.update({
        "mutations_per_s": (
            n_mutations / sum(c.elapsed_s for c in cycles), "mutations/s", len(steps)),
        "ingest_batch_p50_ms": (statistics.median(steps), "ms", len(steps)),
        "store_bytes_per_mutation": (
            sum(c.store_bytes for c in cycles) / n_mutations, "B", n_mutations),
    })


def run_log_ingest(ctx, seconds: float) -> Outcome:
    from perfbench import workloads

    out = Outcome()
    batches = workloads.ingest_batches(ctx.seed)
    cycles: list[Cycle] = []
    repeat_units(seconds, lambda: cycles.append(_ingest_cycle(ctx, batches, out, len(cycles))))
    _ingest_detail(out, cycles)
    return out


def run_batch_ingest(ctx, seconds: float) -> Outcome:
    """The batch side in one run: units of one batch_jobs pass, then one
    log_ingest cycle."""
    from perfbench import workloads

    out = Outcome()
    jobs = _batch_jobs(ctx)
    batches = workloads.ingest_batches(ctx.seed)
    passes: list[float] = []
    cycles: list[Cycle] = []

    def unit() -> None:
        passes.append(_batch_pass(ctx, jobs, out))
        cycles.append(_ingest_cycle(ctx, batches, out, len(cycles)))

    repeat_units(seconds, unit, WARM_PASS)
    out.detail["batch_pass_s"] = (statistics.median(passes), "s", len(passes))
    _ingest_detail(out, cycles)
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

@dataclass
class Context:
    spark: object
    seed: int
    work: str
    data_dir: str
    oracles: dict
    graph: object = None
    snapshot_root: str = ""
    model: object = None
    tracer: object = None


def e2e_metrics(out: Outcome, setup_s: float) -> dict:
    ms = [m for _, m in out.samples]
    values = {
        "setup_s": setup_s,
        "ops_per_s": len(ms) / out.elapsed_s,
        # the op mix is multimodal (lookups, hops, writes; jobs, steps), so
        # its median jumps between kinds from run to run; the geometric mean
        # weighs every op and moves with each kind's latency
        "op_geomean_ms": statistics.geometric_mean(ms),
    }
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}


def class_detail(out: Outcome) -> dict:
    """Per-class latencies, each as (value, unit, sample count)."""
    ms = [m for _, m in out.samples]
    d = {
        "op_p50_ms": (statistics.median(ms), "ms", len(ms)),
        "op_p90_ms": (pct(ms, 90), "ms", len(ms)),
    }
    for cls in ("lookup", "hop", "write", "step"):
        xs = out.ms(cls)
        if xs:
            d[f"{cls}_p50_ms"] = (statistics.median(xs), "ms", len(xs))
            d[f"{cls}_p90_ms"] = (pct(xs, 90), "ms", len(xs))
    d.update(out.detail)
    d["failed_share"] = (out.failed / out.attempted, "ratio", out.attempted)
    return d


PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "store.save_snapshot_s": "s",
    "store.load_snapshot_s": "s",
    "store.snapshot_bytes": "B",
    "operators.scan.get_node_ms": "ms",
    "operators.scan.get_edge_ms": "ms",
    "operators.scan.get_nodes_ms": "ms",
    "operators.scan.rows_scanned_per_row_returned": "ratio",
    "operators.traverse.egress_edges_ms": "ms",
    "operators.traverse.ingress_edges_ms": "ms",
    "operators.traverse.paths_to_ms": "ms",
    "operators.crud.add_nodes_ms": "ms",
    "operators.crud.add_edges_ms": "ms",
    "operators.crud.update_nodes_ms": "ms",
    "operators.crud.remove_nodes_by_id_ms": "ms",
    "spark.jobs_per_read": "jobs",
    "spark.tasks_per_read": "tasks",
    "spark.plan_ms_per_read": "ms",
    "spark.jobs_per_read_growth": "ratio",
    "api.plan_lines_end": "lines",
    "operators.analytics.pagerank_s": "s",
    "operators.analytics.connected_components_two_phase_s": "s",
    "operators.analytics.triangle_count_s": "s",
    "operators.analytics.kcore_s": "s",
    "functions.dedup.minhash_dedup_pairs_s": "s",
    "functions.similarity.topk_bruteforce_s": "s",
    "spark.jobs_per_batch_job": "jobs",
    "spark.tasks_per_batch_job": "tasks",
    "spark.shuffle_write_bytes": "B/op",
    "streaming.fold.step_ms": "ms",
    "streaming.fold.compacting_step_ms": "ms",
    "store.bytes_written": "B",
    "store.versions_written": "count",
    "store.compactions": "count",
    "store.merge_on_read_load_s": "s",
    "self.api_ms_per_op": "ms",
    "self.operators_ms_per_op": "ms",
    "self.functions_ms_per_op": "ms",
    "self.streaming_ms_per_op": "ms",
    "self.store_ms_per_op": "ms",
    "self.spark_ms_per_op": "ms",
    "trace.spans": "count",
}

# per-layer op-latency metric -> the op (span) name it is the median of
_OP_MEDIANS = {
    "operators.scan.get_node_ms": "api.GraphDB.get_node",
    "operators.scan.get_edge_ms": "api.GraphDB.get_edge",
    "operators.scan.get_nodes_ms": "api.GraphDB.get_nodes",
    "operators.traverse.egress_edges_ms": "api.GraphDB.get_egress_edges",
    "operators.traverse.ingress_edges_ms": "api.GraphDB.get_ingress_edges",
    "operators.traverse.paths_to_ms": "api.GraphDB.paths_to",
    "operators.crud.add_nodes_ms": "api.GraphDB.add_node",
    "operators.crud.add_edges_ms": "api.GraphDB.add_edge",
    "operators.crud.update_nodes_ms": "api.GraphDB.update_node",
    "operators.crud.remove_nodes_by_id_ms": "api.GraphDB.remove_node",
}
_BATCH_SECONDS = (
    "operators.analytics.pagerank",
    "operators.analytics.connected_components_two_phase",
    "operators.analytics.triangle_count",
    "operators.analytics.kcore",
    "functions.dedup.minhash_dedup_pairs",
    "functions.similarity.topk_bruteforce",
)


def layer_metrics(tracer, log, layer: dict) -> dict:
    """Per-layer metrics from spans, status-tracker counters and the event
    log; 0 where the workload does not reach the layer."""
    from perfbench import tracing, workloads

    read_ops = {FACADE[k] for k in workloads.READS}
    scan_ops = {FACADE[k] for k in workloads.LOOKUPS}
    v = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    v.update(layer)
    spans = tracer.spans
    dur = {}
    for s in spans:
        if s.parent is None and s.op is not None:
            dur.setdefault(s.name, []).append((s.end - s.start, s.op))
    for metric, name in _OP_MEDIANS.items():
        if name in dur:
            v[metric] = statistics.median(d for d, _ in dur[name]) * 1e3
    for name in _BATCH_SECONDS:
        if name in dur:
            v[f"{name}_s"] = statistics.median(d for d, _ in dur[name])
    ops = tracer.ops
    reads = [r for r in ops if r.name in read_ops]
    if reads:
        v["spark.jobs_per_read"] = statistics.fmean(r.jobs for r in reads)
        v["spark.tasks_per_read"] = statistics.fmean(r.tasks for r in reads)
        v["spark.plan_ms_per_read"] = statistics.fmean(r.plan_ms for r in reads)
        # jobs of each read kind's last call over its first: > 1 when
        # earlier writes make later reads run more jobs
        jobs_by_kind: dict[str, list[int]] = {}
        for r in reads:
            jobs_by_kind.setdefault(r.name, []).append(r.jobs)
        growth = [js[-1] / js[0] for js in jobs_by_kind.values() if len(js) > 1 and js[0]]
        if growth:
            v["spark.jobs_per_read_growth"] = statistics.fmean(growth)
    batch = [r for r in ops if r.name in _BATCH_SECONDS]
    if batch:
        v["spark.jobs_per_batch_job"] = statistics.fmean(r.jobs for r in batch)
        v["spark.tasks_per_batch_job"] = statistics.fmean(r.tasks for r in batch)
    if ops:
        v["spark.shuffle_write_bytes"] = sum(log.shuffle_bytes.values()) / len(ops)
    scans = [r for r in ops if r.name in scan_ops]
    returned = sum(r.rows for r in scans)
    if returned:
        v["operators.scan.rows_scanned_per_row_returned"] = sum(
            log.records_read.get(r.group, 0) for r in scans) / returned
    compacting = {s.op for s in spans if s.name == "store.compact" and s.op is not None}
    steps = dur.get("streaming.fold.step", [])
    plain = [d for d, op in steps if op not in compacting]
    comp = [d for d, op in steps if op in compacting]
    if plain:
        v["streaming.fold.step_ms"] = statistics.median(plain) * 1e3
    if comp:
        v["streaming.fold.compacting_step_ms"] = statistics.median(comp) * 1e3
    v["store.compactions"] = len(compacting)
    for lay, secs in tracing.self_times(tracer, log).items():
        key = f"self.{lay}_ms_per_op"
        if key in v and ops:
            v[key] = secs * 1e3 / len(ops)
    v["trace.spans"] = len(spans)
    return {k: {"value": x, "unit": PER_LAYER_UNITS[k]} for k, x in v.items()}


# ---------------------------------------------------------------------------
# entry points
# ---------------------------------------------------------------------------

RUNNERS = {
    "mixed_rw": run_mixed_rw,
    "batch_ingest": run_batch_ingest,
    # parts and variants of the two above, for manual runs
    "point_reads": run_point_reads,
    "batch_jobs": run_batch_jobs,
    "log_ingest": run_log_ingest,
}


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import checks, tracing

    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=WORK_DIR)
    spark = None
    phases = {}  # wall seconds of each phase of this run

    def phase(name: str, t0: float) -> float:
        now = time.perf_counter()
        phases[name] = now - t0
        return now

    try:
        t = time.perf_counter()
        data_dir, oracles = ensure_inputs()
        t = phase("inputs", t)
        spark = start_spark(work, trace)
        get_spark_s = time.perf_counter() - t
        t = phase("get_spark", t)
        ctx = Context(spark, seed, work, data_dir, oracles)
        ctx.tracer = tracing.Tracer(spark) if trace else tracing.NullTracer()
        if trace:
            ctx.tracer.install()
        ctx.graph, ctx.snapshot_root, setup_graph_s, setup_layer = set_up(spark, data_dir, work)
        t = phase("set_up", t)
        ctx.model = checks.GraphModel(data_dir)
        out = RUNNERS[workload](ctx, seconds)
        t = phase("workload", t)
        result = {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
        }
        e2e = e2e_metrics(out, get_spark_s + setup_graph_s)
        detail = {"workload": workload, "seed": seed, "trace": int(trace),
                  "e2e": e2e, "classes": class_detail(out)}
        if trace:
            ctx.tracer.read_counters()
            ctx.tracer.uninstall()
        stop_spark(spark)
        spark = None
        phase("stop", t)
        detail["phases_s"] = phases
        if trace:
            log = tracing.read_event_log(os.path.join(work, "events"))
            layer = {"session.get_spark_s": get_spark_s, **setup_layer, **out.layer}
            result["metrics"] = layer_metrics(ctx.tracer, log, layer)
            os.makedirs(OUT_DIR, exist_ok=True)
            ctx.tracer.write(
                os.path.join(OUT_DIR, f"trace-{workload}-{seed}.json"),
                {"workload": workload, "seed": seed, "event_jobs": log.jobs},
            )
        else:
            result["metrics"] = e2e
        return {"detail": detail, "result": result}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def report(seed: int, seconds: float) -> int:
    """Every workload untraced and traced, with the tracing overhead."""
    for workload in WORKLOADS:
        runs = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", workload,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                capture_output=True, text=True, timeout=600,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                print(proc.stderr[-2000:], file=sys.stderr)
                return proc.returncode or 1
            runs[trace] = (json.loads(lines[-2].removeprefix("detail: ")),
                           json.loads(lines[-1]))
        untraced, traced = runs[0], runs[1]
        print(f"== {workload} (seed {seed}, {seconds}s, failed "
              f"{untraced[1]['failed']}/{untraced[1]['attempted']})")
        for name, m in untraced[1]["metrics"].items():
            tv = traced[0]["e2e"][name]["value"]
            print(f"  {name:40s} {m['value']:14.4f} {m['unit']:12s}"
                  f" traced {tv:.4f} (overhead {tv - m['value']:+.4f})")
        for name, (value, unit, n) in untraced[0]["classes"].items():
            print(f"  {name:40s} {value:14.4f} {unit:12s} n={n}")
        for name, m in traced[1]["metrics"].items():
            print(f"  {name:40s} {m['value']:14.4f} {m['unit']}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=(*RUNNERS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not _program_present():
        print("perfbench: run from the repository root (akka_graph_db_spark/ "
              "and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return report(args.seed, args.seconds)
    res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
    print("detail: " + json.dumps(res["detail"]))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
