"""The benchmark's workloads: closed loops with one client.

Each workload sets itself up (warm-up plus the output checks), then runs
its operations back to back for the run's seconds, the next one starting
when the last returns. An operation is one headline query (construct, then
force to the noop sink) or one ``pipeline.run_etl`` call.

Why each workload exists:

- ``etl_incremental`` is the engine's own job, the daily incremental ETL:
  API extract, anti-join delta, transform, idempotent append, dimension
  overwrite. It is the only workload that runs ``sources.youtube_api``,
  ``operators.incremental``, ``transforms`` and a sink that grows on every
  run; reads and writes mix, and plan building is light.
- ``queries_sf0.01`` runs headline queries on the small tables, where fixed
  driver costs dominate: plan construction, py4j round-trips, jobs started
  while a plan is built. Its rows are construct-heavy
  (``dedup_connected_components`` runs dozens of jobs before it returns a
  plan) plus light rows whose time is mostly fixed cost. A gain in the driver or
  the scheduler shows here; the ETL, where plan building is light, should
  move far less.

The query list is pinned here, so an edit to the headline list in
``bench.py`` cannot change the workload. It is a subset of the 31 headline
rows: a full pass takes ~45 s at sf0.01 and ~93 s at sf0.1 on four cores,
more than one run of this benchmark may take, and each run also pays
~7 s of JVM start and a cold warm-up. For the same reason there is no
sf0.1 workload.

The tables under ``data/`` are copies of the generated test tables these
queries read (seed 42), so the benchmark reads nothing outside its
checkout.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from contextlib import ExitStack, nullcontext
from dataclasses import dataclass, field

from spans import Span, Tracer, self_time, wrapped

DRIVER_QUERIES = (
    "dedup_connected_components",
    "mixing_temperature",
    "anti_join_new_keys",
    "percentile_prices",
    "pack_token_sequences",
)

# Untimed query passes after the checked one. The JVM's JIT keeps speeding
# the passes up for several more (the heaviest row, from ~4.3 s to ~3 s on
# four cores); after one warm pass the timed ones still fell ~15% within a
# run, after two they settle to within a few percent.
WARM_PASSES = 2

VIDEOS_PER_CHANNEL = 120  # the fake transport's playlist length
BACKFILL_CHANNELS = 12
DAY_CHANNELS = 3
MIN_DAYS = 3
SMOKE_DAYS = 2

# The layer each span name belongs to; every workload reports these layers
# (see ``layer_sample``). Spans named ``action.*`` belong to ``force``.
LAYER_OF = {
    "plans.construct": "construct", "sources.read": "construct",
    "incremental.select_new": "construct",
    "transforms.construct": "construct",
    "catalyst.plan": "plan", "exec.force": "force",
}
ACTIONS = (("count", "action.count"), ("collect", "action.collect"),
           ("localCheckpoint", "action.local_checkpoint"),
           ("isEmpty", "action.is_empty"))
WRITER_ACTIONS = (("save", "action.write"), ("parquet", "action.write"))


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    smoke: bool = False
    tracer: Tracer | None = None
    jvm_pid: int = 0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


@dataclass
class Outcome:
    """What one workload run did. ``samples`` maps an operation to one
    dict of measurements per time it ran."""

    attempted: int = 0
    failed: int = 0
    warm_s: float = 0.0
    samples: dict[str, list[dict[str, float]]] = field(
        default_factory=lambda: defaultdict(list))
    detail: dict[str, object] = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def attempt(self, op: str, fn: Callable[[], dict[str, float]]) -> None:
        self.attempted += 1
        try:
            self.samples[op].append(fn())
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            self.failed += 1
            print(f"perfbench: {op} failed", file=sys.stderr)
            traceback.print_exc()


def per_pass(samples: dict[str, list[dict[str, float]]], key: str) -> float:
    """One pass runs every operation once: the sum over operations of each
    one's median ``key``."""
    return sum(statistics.median(s[key] for s in ss)
               for ss in samples.values())


def pass_spread(samples: dict[str, list[dict[str, float]]], key: str) -> float:
    """Sum over operations of max - min of ``key``; 0 when it repeats."""
    return sum(max(s[key] for s in ss) - min(s[key] for s in ss)
               for ss in samples.values())


def op_geomean(samples: dict[str, list[dict[str, float]]], key: str) -> float:
    """Geometric mean over operations of each one's median ``key``, so
    light operations count as much as heavy ones."""
    return statistics.geometric_mean(
        statistics.median(s[key] for s in ss) for ss in samples.values())


def force(df) -> None:
    """Run the whole plan without collecting rows to the driver."""
    df.write.mode("overwrite").format("noop").save()


# --- tracing helpers -------------------------------------------------------

def plan(tracer: Tracer, df) -> None:
    """Time physical planning of a built frame (traced runs only)."""
    with tracer.span("catalyst.plan"):
        df._jdf.queryExecution().executedPlan()


def action_hooks(stack: ExitStack, run: Run) -> None:
    """Trace the DataFrame actions the engine calls."""
    probe = run.spark.range(1)
    for cls, hooks in ((type(probe), ACTIONS),
                       (type(probe.write), WRITER_ACTIONS)):
        for attr, name in hooks:
            stack.enter_context(wrapped(run.tracer, cls, attr, name))


def _layers(tracer: Tracer, root: Span) -> dict[str, list[Span]]:
    """The outermost layer spans under ``root``, by layer. A layer span
    nested in another (an action a plan builder runs) counts as its
    parent's."""
    out: dict[str, list[Span]] = {"construct": [], "plan": [], "force": []}
    todo = list(tracer.children(root))
    while todo:
        sp = todo.pop()
        layer = LAYER_OF.get(sp.name) or (
            "force" if sp.name.startswith("action.") else None)
        if layer:
            out[layer].append(sp)
        else:
            todo.extend(tracer.children(sp))
    return out


def layer_sample(tracer: Tracer, root: Span, resident_rdds: int,
                 overhead_s: float) -> dict[str, float]:
    """Per-layer measurements of one operation from its spans."""
    layers = _layers(tracer, root)
    construct = layers["construct"]
    sample = {
        "unit_s": root.duration,
        "construct_s": sum(s.duration for s in construct),
        "plan_s": sum(s.duration for s in layers["plan"]),
        "force_s": sum(s.duration for s in layers["force"]),
        "construct_py4j": sum(s.counts.get("py4j", 0) for s in construct),
        "construct_jobs": sum(tracer.subtree_count(s, "jobs")
                              for s in construct),
        "py4j": root.counts.get("py4j", 0),
        "self_s": self_time(root, tracer.children(root)),
        "resident_rdds": resident_rdds,
        "overhead_s": overhead_s,
    }
    for key in ("jobs", "stages", "tasks", "executor_run_ms",
                "shuffle_write_bytes", "spill_bytes"):
        sample[key] = tracer.subtree_count(root, key)
    return sample


def traced_op(run: Run, name: str, body: Callable[[], float]
              ) -> dict[str, float]:
    """Run ``body`` (which returns the operation's own time) under a root
    span and, when tracing, attach that operation's layer measurements."""
    tracer = run.tracer
    overhead0 = tracer.overhead_s if tracer else 0.0
    cpu0, steal0 = tree_cpu_s(run.jvm_pid), host_steal_s()
    with run.span(name) as root:
        op_s = body()
    sample = {"op_s": op_s, "cpu_s": tree_cpu_s(run.jvm_pid) - cpu0,
              "steal_s": host_steal_s() - steal0}
    if tracer:
        resident = run.spark.sparkContext._jsc.getPersistentRDDs().size()
        tracer.collect_spark_counts()
        sample.update(layer_sample(tracer, root, resident,
                                   tracer.overhead_s - overhead0))
        sample["span_id"] = root.span_id
    return sample


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the JVM's
    descendants (the Python workers), counting those that already ended
    through their parents' reaped-children times."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(map(int, fields[11:15]))
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    t = os.times()
    return total / os.sysconf("SC_CLK_TCK") + t.user + t.system


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# --- queries ---------------------------------------------------------------

def check_queries(run: Run, sf_dir: str, names: tuple[str, ...],
                  out: Outcome) -> None:
    """Compare every query with its DuckDB oracle, as ``tools/parity.py``
    does. This is also the first warm-up pass."""
    import duckdb

    from tools.parity import compare

    con = duckdb.connect()
    for fn in sorted(os.listdir(sf_dir)):
        table = fn.removesuffix(".parquet")
        path = os.path.join(sf_dir, fn)
        con.execute(f"CREATE VIEW {table} AS "
                    f"SELECT * FROM read_parquet('{path}')")
    for name in names:
        try:
            ok, msg = compare(name, run.spark, con, sf_dir)
        except Exception as e:  # noqa: BLE001 — report, then keep checking
            ok, msg = False, f"{type(e).__name__}: {e}"
        out.check(ok, f"{name} vs oracle: {msg}")
        run.spark.catalog.clearCache()
    con.close()


def queries(scale: str, names: tuple[str, ...]):
    def workload(run: Run) -> Outcome:
        from youtube_api_data_etl_automation_spark.plans import QUERIES

        out = Outcome()
        sf_dir = os.path.join(run.data_dir, "sf0.001" if run.smoke else scale)
        out.detail["data_dir"] = os.path.relpath(sf_dir)
        rng = random.Random(run.seed)
        spark = run.spark

        def query_op(name: str) -> float:
            t0 = time.perf_counter()
            with run.span("plans.construct"):
                df = QUERIES[name](spark, sf_dir)
            construct_s = time.perf_counter() - t0
            if run.tracer:
                plan(run.tracer, df)
            t1 = time.perf_counter()
            with run.span("exec.force"):
                force(df)
            return construct_s + time.perf_counter() - t1

        # Set-up: the checked pass, then untimed passes.
        t0 = time.perf_counter()
        check_queries(run, sf_dir, names, out)
        for _ in range(0 if run.smoke else WARM_PASSES):
            for name in names:
                force(QUERIES[name](spark, sf_dir))
                spark.catalog.clearCache()
        out.warm_s = time.perf_counter() - t0

        passes = 0
        with ExitStack() as stack:
            if run.tracer:
                action_hooks(stack, run)
            deadline = time.perf_counter() + run.seconds
            while True:
                for name in rng.sample(names, len(names)):
                    out.attempt(name, functools.partial(
                        traced_op, run, f"query.{name}",
                        functools.partial(query_op, name)))
                    spark.catalog.clearCache()
                passes += 1
                if run.smoke or time.perf_counter() >= deadline:
                    break
        out.detail["passes"] = passes
        return out

    return workload


# --- incremental ETL -------------------------------------------------------

def etl_hooks(stack: ExitStack, run: Run) -> None:
    """Trace the names ``pipeline.run_etl`` calls into each layer."""
    from youtube_api_data_etl_automation_spark import pipeline

    tr = run.tracer
    for attr, name, after in (
        ("_read", "sources.read", None),
        ("sink_exists", "incremental.sink_exists", None),
        ("select_new", "incremental.select_new", functools.partial(plan, tr)),
        ("_stage_ids", "incremental.stage_ids", None),
        ("enrich_videos", "transforms.construct", functools.partial(plan, tr)),
        ("append_delta", "incremental.append", None),
        ("overwrite_dim", "incremental.dim_overwrite", None),
    ):
        stack.enter_context(wrapped(tr, pipeline, attr, name, after=after))
    action_hooks(stack, run)


def etl_phases(tracer: Tracer, root: Span) -> dict[str, float]:
    """Seconds per ETL phase of one run. Actions ``run_etl`` calls itself
    belong to the channel and playlist scans until it probes the sink, and
    to the anti-join after that."""
    phases: dict[str, float] = defaultdict(float)
    tasks: dict[str, int] = defaultdict(int)
    phase = "sources.scan"
    for sp in sorted(tracer.children(root), key=lambda s: s.start):
        if sp.name == "incremental.sink_exists":
            phase = "incremental.anti_join"
        name = phase if sp.name.startswith("action.") else sp.name
        phases[name] += sp.duration
        tasks[name] += tracer.subtree_count(sp, "tasks")
    return {**{f"{k}_s": v for k, v in phases.items()},
            "sources.tasks": tasks["sources.scan"]}


def sink_stats(spark, sink: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    files = [os.path.join(d, f) for d, _, fs in os.walk(sink)
             for f in fs if f.endswith(".parquet")]
    rows, distinct = spark.read.parquet(sink).agg(
        F.count("*"), F.countDistinct("videoId")).first()
    return {"rows": rows, "distinct_ids": distinct, "files": len(files),
            "bytes_per_row": sum(map(os.path.getsize, files)) / max(rows, 1)}


def etl_incremental(run: Run) -> Outcome:
    from youtube_api_data_etl_automation_spark import pipeline

    out = Outcome()
    spark = run.spark
    rng = random.Random(run.seed)
    transport_seed = rng.randrange(1, 2**31)
    used: set[str] = set()

    def new_channels(n: int) -> list[str]:
        ids = []
        while len(ids) < n:
            cid = f"UC{rng.getrandbits(64):016x}"
            if cid not in used:
                used.add(cid)
                ids.append(cid)
        return ids

    last: list[str] = []

    def etl_run(warehouse: str, channels: list[str], expect: int) -> float:
        t0 = time.perf_counter()
        counts = pipeline.run_etl(spark, channels, warehouse,
                                  seed=transport_seed)
        elapsed = time.perf_counter() - t0
        out.check(counts["loaded"] == expect,
                  f"run_etl loaded {counts['loaded']}, expected {expect}")
        last[:] = channels
        return elapsed

    def day(warehouse: str, n: int) -> float:
        return etl_run(warehouse, new_channels(n), VIDEOS_PER_CHANNEL * n)

    # Set-up in a throwaway warehouse: a first run, a day, and a replay of
    # that day, which must load nothing.
    t0 = time.perf_counter()
    warm = os.path.join(run.work_dir, "warm")
    day(warm, DAY_CHANNELS)
    day(warm, DAY_CHANNELS)
    etl_run(warm, last, 0)
    shutil.rmtree(warm)
    out.warm_s = time.perf_counter() - t0

    warehouse = os.path.join(run.work_dir, "warehouse")
    channels = 0
    with ExitStack() as stack:
        if run.tracer:
            etl_hooks(stack, run)
        deadline = time.perf_counter() + run.seconds
        out.attempt("etl.backfill", functools.partial(
            traced_op, run, "etl.backfill",
            functools.partial(day, warehouse, BACKFILL_CHANNELS)))
        channels += BACKFILL_CHANNELS
        days = 0
        while days < (SMOKE_DAYS if run.smoke else MIN_DAYS) or (
                not run.smoke and time.perf_counter() < deadline):
            out.attempt("etl.day", functools.partial(
                traced_op, run, "etl.day",
                functools.partial(day, warehouse, DAY_CHANNELS)))
            channels += DAY_CHANNELS
            days += 1
    if run.tracer:
        out.detail["phases"] = {
            op: [etl_phases(run.tracer, run.tracer.spans[s["span_id"]])
                 for s in ss] for op, ss in out.samples.items()}

    # Outputs: every video landed once, and the channel dimension holds
    # the last run's channels.
    sink = sink_stats(spark, os.path.join(warehouse, "video_stats"))
    out.detail["sink"] = sink
    expect = VIDEOS_PER_CHANNEL * channels
    out.check(sink["rows"] == expect and sink["distinct_ids"] == expect,
              f"sink holds {sink['rows']} rows / {sink['distinct_ids']} ids,"
              f" expected {expect}")
    dim = spark.read.parquet(os.path.join(warehouse, "channel_stats"))
    out.check(sorted(r[0] for r in dim.select("channel_id").collect())
              == sorted(last), "channel dimension is not the last run's")
    return out


WORKLOADS: dict[str, Callable[[Run], Outcome]] = {
    "etl_incremental": etl_incremental,
    "queries_sf0.01": queries("sf0.01", DRIVER_QUERIES),
}
