#!/usr/bin/env python3
"""Layered benchmark for the flink_framework_spark engine.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Workloads (details and the layer map in perfbench/LAYERS.md):

- ``pipelines``: multi-job batch operator pipelines, each result
  collected to the driver and checked against its DuckDB oracle.
- ``keyed_stream``: Arrow/Python keyed-state streaming scenarios on
  closed-loop ``rate-micro-batch`` sources, every micro-batch's
  emitted row count checked against what its generator implies.

Everything runs in one process on ``local[N]``, N = usable cores. The
input tables are generated once into ``.perfbench/`` at the checkout
root; ``--seed`` permutes the query order and salts the stream keys
and which rows arrive late. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The traced run also writes one record per query or
scenario to ``.perfbench/trace/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
TMP = WORK / "tmp" / str(os.getpid())  # this run's scratch; removed at exit
SF = 0.01
SETUPS = 5
MIN_STEADY = 3
CORES = len(os.sched_getaffinity(0))

PIPELINES = ("q_pagerank", "q_curation_pipeline")

# Wall times are not end-to-end metrics: on a host whose CPUs other
# tenants share, they spread run to run by up to half their median while
# CPU time stays within about a tenth. They go to stderr, and the traced
# run gives them per layer.
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}
LAYER_UNITS = {
    "setup.session_s": "s", "setup.warmup_s": "s",
    "build.s": "s", "build.jobs": "count", "build.jobs_share": "ratio",
    "exec.s": "s", "exec.jobs": "count",
    "sched.stages": "count", "sched.tasks": "count",
    "sched.failed_tasks": "count",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "staging.persisted_left": "count",
    "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B",
    "scan.input_bytes": "B", "spill.bytes": "B",
    "trigger.add_batch_ms": "ms", "trigger.planning_ms": "ms",
    "trigger.wal_commit_ms": "ms", "trigger.commit_offsets_ms": "ms",
    "state.rows": "count", "state.commit_ms": "ms",
    "state.memory_bytes": "B", "state.instances": "count",
    "state.late_dropped": "count", "sink.rows_out": "count",
    "stream.rows_per_s": "rows/s", "mem.peak_rss_mb": "MB",
    "scaling.build_s": "x", "scaling.exec_s": "x", "scaling.wall_s": "x",
    "trace.overhead_s": "s",
}
# event-log totals -> per-layer metric names
LOG_FIELDS = {"cpu_s": "exec.cpu_s", "gc_s": "exec.gc_s",
              "shuffle_write_bytes": "shuffle.write_bytes",
              "shuffle_read_bytes": "shuffle.read_bytes",
              "input_bytes": "scan.input_bytes", "spill_bytes": "spill.bytes",
              "stages": "sched.stages", "tasks": "sched.tasks",
              "failed_tasks": "sched.failed_tasks"}
PYTHON_NODE = re.compile(r"^\(\d+\) \w*(?:Python|Pandas|Arrow)\w*", re.M)


def note(what: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: {time.perf_counter() - T_PROCESS:7.1f}s {what}",
          file=sys.stderr, flush=True)


def seeded_order(items, seed: int) -> list:
    """The run order of queries or scenarios for ``seed``."""
    order = list(items)
    random.Random(seed).shuffle(order)
    return order


def salted_key(value, keys: int, seed: int):
    """A seeded bijection of ``value % keys`` onto ``[0, keys)`` (for any
    ``keys`` that is not a multiple of the prime 7919): every seed has
    the same key counts, on other keys."""
    return ((value % keys) * 7919 + seed) % keys


class Run:
    """Counts operations and failures; failure reasons go to stderr."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {why}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- session


def _isolate(tmp: Path) -> None:
    """Keep every file Spark, its JVM and its Python workers write under
    ``tmp``, and quiet the console."""
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    tempfile.tempdir = None


def _warm(spark) -> None:
    """One small job. Python workers start on first use, inside the
    untimed warm-up pass or first micro-batch."""
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100_000).selectExpr("sum(id)").collect()


def start_session(master: str, shuffle: int | None, t0: float | None = None):
    """``get_spark`` plus warm-up; returns (spark, session_s, warmup_s)."""
    from flink_framework_spark.session import get_spark

    t0 = time.perf_counter() if t0 is None else t0
    spark = get_spark(app_name="perfbench", master=master,
                      shuffle_partitions=shuffle)
    t1 = time.perf_counter()
    _warm(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def restart(spark, master: str, shuffle: int | None):
    spark.stop()
    return start_session(master, shuffle)


def event_log_dirs() -> tuple[Path, Path]:
    """Event-log directories of the traced passes on local[N] and local[1]."""
    return TMP / "events-n", TMP / "events-1"


def set_event_log(spark, log_dir: Path | None) -> None:
    """Enable (or disable) the event log for the next SparkContext: new
    contexts read their defaults from the JVM's ``spark.*`` properties."""
    system = spark.sparkContext._jvm.java.lang.System
    if log_dir is None:
        system.clearProperty("spark.eventLog.enabled")
        return
    log_dir.mkdir(parents=True, exist_ok=True)
    # one plain JSON-lines file per application
    for key, value in (("enabled", "true"), ("dir", log_dir.as_uri()),
                       ("compress", "false"), ("rolling.enabled", "false")):
        system.setProperty(f"spark.eventLog.{key}", value)


def shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait until no process started by
    this one is left."""
    from pyspark import SparkContext

    from procstat import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------------ batch


def batch_pass(run: Run, spark, order, queries, data: str, expected,
               tag: str | None = None) -> list[dict]:
    """Materialize every query once (``Query.fn`` then collect), check
    each result; with ``tag`` also label jobs and inspect plans."""
    from checks import digest
    from flink_framework_spark.plans.inspect import (count_exchanges,
                                                     formatted_plan)

    sc = spark.sparkContext
    records = []
    for name in order:
        rec = {"query": name}
        run.attempted += 1
        try:
            if tag:
                sc.setJobGroup(f"{name}#build#{tag}", name)
            t0 = time.perf_counter()
            df = queries[name].fn(spark, data)
            t1 = time.perf_counter()
            if tag:
                sc.setJobGroup(f"{name}#exec#{tag}", name)
            pdf = df.toPandas()
            rec["build_s"] = t1 - t0
            rec["exec_s"] = time.perf_counter() - t1
            if tag:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["plan_exchanges"] = count_exchanges(df)
                rec["plan_python_nodes"] = len(
                    PYTHON_NODE.findall(formatted_plan(df)))
                rec["persisted_left"] = sc._jsc.getPersistentRDDs().size()
            got = digest(pdf)
            if got != expected[name]:
                run.fail(f"{name}: result {got} != oracle {expected[name]}")
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            run.fail(f"{name}: {type(e).__name__}: {e}")
            rec["error"] = f"{type(e).__name__}: {e}"
        finally:
            spark.catalog.clearCache()
        records.append(rec)
    return records


def pass_wall(records) -> float:
    return sum(r.get("build_s", 0.0) + r.get("exec_s", 0.0) for r in records)


def run_batch(run: Run, spark, args):
    from checks import oracle_digests
    from flink_framework_spark.registry import all_queries
    from procstat import tree_cpu_s

    data = args.data
    queries = all_queries()
    expected = oracle_digests(data, {n: queries[n].oracle for n in PIPELINES})
    order = seeded_order(PIPELINES, args.seed)
    batch_pass(run, spark, order, queries, str(data), expected)  # warm-up
    note(f"warm-up pass over {order}")
    passes: list[list[dict]] = []
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    # pass k runs the seeded order rotated by k. The traced run needs
    # one untraced pass, as its overhead baseline.
    while not passes or (not args.trace and (
        time.perf_counter() - t0 + statistics.fmean(map(pass_wall, passes))
        <= args.seconds
    )):
        k = len(passes) % len(order)
        passes.append(batch_pass(run, spark, order[k:] + order[:k], queries,
                                 str(data), expected))
        note(f"pass {len(passes)}: {pass_wall(passes[-1]):.2f}s")
    cpu = (tree_cpu_s() - cpu0) / len(passes)
    e2e = {"wall_s": statistics.median(map(pass_wall, passes)),
           "cpu_s": cpu}
    if not args.trace:
        return spark, e2e, None

    log_n, log_1 = event_log_dirs()
    set_event_log(spark, log_n)
    spark, _, _ = restart(spark, f"local[{CORES}]", None)
    traced = batch_pass(run, spark, order, queries, str(data), expected, "n")
    set_event_log(spark, log_1)
    spark, _, _ = restart(spark, "local[1]", None)
    single = batch_pass(run, spark, order, queries, str(data), expected, "1")
    set_event_log(spark, None)
    # parsed once Spark is down: a context's event log is complete only
    # after it stops
    return spark, e2e, {
        "records": traced + single,
        "overhead_s": pass_wall(traced) - e2e["wall_s"],
        "layers": lambda: batch_layers(traced, single, log_n, log_1),
    }


def batch_layers(traced, single, log_n: Path, log_1: Path) -> dict:
    from eventlog import group_totals

    groups = {**group_totals(log_n), **group_totals(log_1)}
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for tag, records in (("n", traced), ("1", single)):
        for rec in records:
            for phase in ("build", "exec"):
                tot = groups.get(f"{rec['query']}#{phase}#{tag}", {})
                rec[f"{phase}_log"] = tot
                if tag == "n":
                    out[f"{phase}.jobs"] += tot.get("jobs", 0)
                    for field, metric in LOG_FIELDS.items():
                        out[metric] += tot.get(field, 0)
    for rec in traced:
        out["build.s"] += rec.get("build_s", 0.0)
        out["exec.s"] += rec.get("exec_s", 0.0)
        out["plan.exchanges"] += rec.get("plan_exchanges", 0)
        out["plan.python_nodes"] += rec.get("plan_python_nodes", 0)
        out["staging.persisted_left"] += rec.get("persisted_left", 0)
    jobs = out["build.jobs"] + out["exec.jobs"]
    out["build.jobs_share"] = out["build.jobs"] / jobs if jobs else 0.0
    out["scaling.build_s"] = sum(r.get("build_s", 0.0) for r in single) / out["build.s"]
    out["scaling.exec_s"] = sum(r.get("exec_s", 0.0) for r in single) / out["exec.s"]
    out["scaling.wall_s"] = pass_wall(single) / pass_wall(traced)
    return out


# ---------------------------------------------------------------- streams

START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
ADVANCE_MS = 5000  # event time per micro-batch
STREAM_ROWS = 2000
TRIGGER_S = 3.0  # nominal steady trigger time: sizes the timed span


def keyed_scenarios(spark, seed: int, rows: int) -> list[dict]:
    """Closed-loop scenarios: ``rows`` rows per micro-batch, the next
    trigger starting when the previous one ends. The first ``warm``
    batches fill state; every later one must emit ``expect`` rows and
    drop none as late, which is what the generator implies.

    ``funnel_conversions`` (plain keyed state) is left out: with it a run
    outlasted the benchmark's time budget. The temporal join runs the
    same keyed-state harness, plus watermark, timers and late rows."""
    from pyspark.sql import functions as F

    from flink_framework_spark.streaming.temporal import (
        temporal_join_changelog_stream)

    keys = rows // 4
    value = F.col("value")
    salted = salted_key(value, keys, seed)

    def source(n: int):
        return (spark.readStream.format("rate-micro-batch")
                .option("rowsPerBatch", n).option("numPartitions", CORES)
                .option("startTimestamp", START_MS)
                .option("advanceMillisPerBatch", ADVANCE_MS).load())

    def temporal():
        # every key gets a new dim version per batch; 1% of the facts
        # are rewound 10 s, behind the 2 s watermark: they arrive late
        # and are enriched at once, beside the on-time facts of the
        # batch before last
        late = value % 100 == seed % 100
        facts = source(rows).select(
            salted.alias("k"),
            F.when(late, F.col("timestamp") - F.expr("INTERVAL 10 SECONDS"))
            .otherwise(F.col("timestamp")).alias("ts"),
            value.alias("event_id"))
        dims = source(keys).select(
            (value % keys).alias("k"), F.col("timestamp").alias("dim_ts"),
            (value % 100).alias("tier"))
        return temporal_join_changelog_stream(
            facts, dims, on="k", fact_ts="ts", dim_ts="dim_ts",
            watermark="2 seconds")

    return [
        {"name": "temporal_join_changelog", "build": temporal,
         "mode": "update", "warm": 2, "expect": rows},
    ]


def _state_sum(progress: dict, field: str) -> float:
    return sum(s.get(field, 0) for s in progress.get("stateOperators", []))


def run_scenario(run: Run, spark, scen: dict, batches: int,
                 tag: str | None = None) -> dict:
    """Run ``scen`` until ``batches`` micro-batches after its ``warm``
    ones have completed; check and time those."""
    from procstat import tree_cpu_s

    sc = spark.sparkContext
    ckpt = tempfile.mkdtemp(prefix="ckpt-")
    first = scen["warm"]  # the first timed batch
    rec: dict = {"scenario": scen["name"], "warm": scen["warm"]}
    if tag:
        sc.setJobGroup(f"{scen['name']}#build#{tag}", scen["name"])
    t0 = time.perf_counter()
    df = scen["build"]()
    rec["build_s"] = time.perf_counter() - t0
    if tag:
        sc.setLocalProperty("spark.jobGroup.id", None)
        from flink_framework_spark.plans.inspect import (count_exchanges,
                                                         formatted_plan)
        rec["plan_exchanges"] = count_exchanges(df)
        rec["plan_python_nodes"] = len(PYTHON_NODE.findall(formatted_plan(df)))
    q = (df.writeStream.format("noop").outputMode(scen["mode"])
         .option("checkpointLocation", ckpt).start())
    # (batch id, time, cpu) when each batch from the one before the
    # timed span on was seen complete
    marks: list[tuple[int, float, float]] = []
    try:
        deadline = time.perf_counter() + 60.0 + 5.0 * (first + batches)
        while q.isActive and time.perf_counter() < deadline:
            time.sleep(0.05)
            last = q.lastProgress
            if (last and last["batchId"] >= first - 1
                    and (not marks or last["batchId"] != marks[-1][0])):
                marks.append((last["batchId"], time.perf_counter(),
                              tree_cpu_s()))
            if marks and marks[-1][0] >= first + batches - 1:
                break
        error = q.exception()
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    rec["run_id"] = str(q.runId)
    note(f"{scen['name']}: {len(marks)} batches observed")
    progress = [p for p in q.recentProgress
                if p["numInputRows"] > 0 and p["batchId"] < first + batches]
    run.attempted += len(progress)
    if error is not None:
        run.fail(f"{scen['name']}: {error}")
    for p in progress:
        got = (p["sink"].get("numOutputRows", -1),
               _state_sum(p, "numRowsDroppedByWatermark"))
        if p["batchId"] >= first and got != (scen["expect"], 0):
            run.fail(f"{scen['name']} batch {p['batchId']}: emitted/late "
                     f"{got}, generator implies {(scen['expect'], 0)}")
    steady = [p for p in progress if p["batchId"] >= first]
    if len(steady) < batches or len(marks) < 2:
        run.fail(f"{scen['name']}: {len(steady)} of {batches} timed batches")
        return rec
    med = lambda f: statistics.median(f(p) for p in steady)  # noqa: E731
    rec.update(
        batches=len(steady),
        trigger_ms=med(lambda p: p["durationMs"]["triggerExecution"]),
        rows_per_s=med(lambda p: p["processedRowsPerSecond"]),
        cpu_s=(marks[-1][2] - marks[0][2]) / (marks[-1][0] - marks[0][0]),
        add_batch_ms=med(lambda p: p["durationMs"].get("addBatch", 0)),
        planning_ms=med(lambda p: p["durationMs"].get("queryPlanning", 0)),
        wal_commit_ms=med(lambda p: p["durationMs"].get("walCommit", 0)),
        commit_offsets_ms=med(
            lambda p: p["durationMs"].get("commitOffsets", 0)),
        state_rows=med(lambda p: _state_sum(p, "numRowsTotal")),
        state_commit_ms=med(lambda p: _state_sum(p, "commitTimeMs")),
        state_memory_bytes=med(lambda p: _state_sum(p, "memoryUsedBytes")),
        state_instances=med(
            lambda p: _state_sum(p, "numStateStoreInstances")),
        late_dropped=med(
            lambda p: _state_sum(p, "numRowsDroppedByWatermark")),
        rows_out=med(lambda p: p["sink"].get("numOutputRows", 0)),
    )
    return rec


def stream_pass(run, spark, scenarios, batches, tag=None):
    return [run_scenario(run, spark, s, batches, tag)
            for s in scenarios]


def round_s(records) -> float:
    """Wall time of one round: one steady trigger of every scenario."""
    return sum(r.get("trigger_ms", 0.0) for r in records) / 1000.0


def run_stream(run: Run, spark, args):
    # a fixed batch count: every run has the same history up to each
    # timed batch, and the seed moves only keys
    scenarios = keyed_scenarios(spark, args.seed, STREAM_ROWS)
    # the traced run repeats every scenario three times, so it keeps
    # each to one timed batch
    batches = 1 if args.trace else max(
        MIN_STEADY, round(args.seconds / len(scenarios) / TRIGGER_S))
    recs = stream_pass(run, spark, scenarios, batches)
    e2e = {"wall_s": round_s(recs),
           "cpu_s": sum(r.get("cpu_s", 0.0) for r in recs)}
    if not args.trace:
        return spark, e2e, None
    log_n, log_1 = event_log_dirs()
    set_event_log(spark, log_n)
    spark, _, _ = restart(spark, f"local[{CORES}]", CORES)
    scenarios = keyed_scenarios(spark, args.seed, STREAM_ROWS)
    traced = stream_pass(run, spark, scenarios, batches, "n")
    set_event_log(spark, log_1)
    spark, _, _ = restart(spark, "local[1]", CORES)
    scenarios = keyed_scenarios(spark, args.seed, STREAM_ROWS)
    single = stream_pass(run, spark, scenarios, batches, "1")
    set_event_log(spark, None)
    return spark, e2e, {
        "records": traced + single,
        "overhead_s": round_s(traced) - e2e["wall_s"],
        "layers": lambda: stream_layers(traced, single, log_n, log_1),
    }


def stream_layers(traced, single, log_n: Path, log_1: Path) -> dict:
    from eventlog import group_totals

    groups = {**group_totals(log_n), **group_totals(log_1)}
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    fields = {"add_batch_ms": "trigger.add_batch_ms",
              "planning_ms": "trigger.planning_ms",
              "wal_commit_ms": "trigger.wal_commit_ms",
              "commit_offsets_ms": "trigger.commit_offsets_ms",
              "state_rows": "state.rows", "state_commit_ms": "state.commit_ms",
              "state_memory_bytes": "state.memory_bytes",
              "state_instances": "state.instances",
              "late_dropped": "state.late_dropped", "rows_out": "sink.rows_out",
              "rows_per_s": "stream.rows_per_s",
              "plan_exchanges": "plan.exchanges",
              "plan_python_nodes": "plan.python_nodes", "build_s": "build.s"}
    for tag, records in (("n", traced), ("1", single)):
        for rec in records:
            rec["build_log"] = groups.get(f"{rec['scenario']}#build#{tag}", {})
            # the jobs of the first steady micro-batch
            rec["batch_log"] = groups.get(f"{rec['run_id']}@{rec['warm']}", {})
    for rec in traced:
        for field, metric in fields.items():
            out[metric] += rec.get(field, 0.0)
        out["exec.s"] += rec.get("trigger_ms", 0.0) / 1000.0
        out["build.jobs"] += rec["build_log"].get("jobs", 0)
        out["exec.jobs"] += rec["batch_log"].get("jobs", 0)
        for field, metric in LOG_FIELDS.items():
            out[metric] += rec["batch_log"].get(field, 0)
    jobs = out["build.jobs"] + out["exec.jobs"]
    out["build.jobs_share"] = out["build.jobs"] / jobs if jobs else 0.0
    out["scaling.build_s"] = sum(r.get("build_s", 0.0) for r in single) / out["build.s"]
    out["scaling.exec_s"] = round_s(single) / round_s(traced)
    out["scaling.wall_s"] = out["scaling.exec_s"]
    return out


# ------------------------------------------------------------------- main

WORKLOADS = {"pipelines": (run_batch, None),
             "keyed_stream": (run_stream, CORES)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import flink_framework_spark.registry  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from datagen import ensure_tables
    from procstat import peak_rss_mb

    run_fn, shuffle = WORKLOADS[args.workload]
    args.data = ensure_tables(WORK / "data" / f"sf{args.sf:g}", args.sf)
    _isolate(TMP)
    master = f"local[{CORES}]"
    try:
        spark, session_s, warm_s = start_session(master, shuffle, T_PROCESS)
        setups = [(session_s, warm_s)]
        try:
            for _ in range(SETUPS - 1):
                spark, session_s, warm_s = restart(spark, master, shuffle)
                setups.append((session_s, warm_s))
            note(f"{SETUPS} set-ups: {[round(s + w, 2) for s, w in setups]}")
            run = Run()
            spark, e2e, trace = run_fn(run, spark, args)
            e2e["setup_s"] = statistics.median(s + w for s, w in setups)
            note(f"wall_s {e2e['wall_s']:.3f} (one pass or round)")
            peak_mb = peak_rss_mb()
        finally:
            shut_down(spark)
        if args.trace:
            layers = trace["layers"]()
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
    if args.trace:
        layers["setup.session_s"] = statistics.median(s for s, _ in setups)
        layers["setup.warmup_s"] = statistics.median(w for _, w in setups)
        layers["trace.overhead_s"] = trace["overhead_s"]
        layers["mem.peak_rss_mb"] = peak_mb
        out = WORK / "trace" / f"{args.workload}-seed{args.seed}.jsonl"
        out.parent.mkdir(parents=True, exist_ok=True)
        with open(out, "w") as f:
            for rec in trace["records"]:
                f.write(json.dumps(rec, default=str) + "\n")
        print(f"perfbench: trace records in {out}", flush=True)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
