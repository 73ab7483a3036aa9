"""Per-pass (or per-trigger) CPU profile of a query run or a stream,
split by JVM thread class, with Spark's codegen counts.

    python tools/jvm_profile.py query q_pagerank q_curation_pipeline --sf-dir DATA_DIR
    python tools/jvm_profile.py stream temporal_join_changelog

``query`` runs the named queries once as a warm-up, then PASSES timed
passes. A pass builds each query, collects it to pandas and clears the
cache, as ``perfbench`` does. ``stream`` runs one scenario of
``tools/pyworker_profile.py`` (a ``STREAMS`` name or ``module:function``,
through its ``run_stream``) for TRIGGERS micro-batches and reports each
trigger after the first. Per pass or trigger it prints the
process-tree CPU (this process, the Spark JVM, the Python workers),
read from ``/proc`` and split into:

- ``compiler``: HotSpot C1/C2 JIT compiler threads
- ``executor``: Spark executor task threads
- ``gc``: garbage-collector threads and the VM thread
- ``jvm_other``: py4j, driver, scheduler and every other live JVM thread
- ``jvm_exited``: CPU of exited JVM threads since they were last sampled
- ``py_workers``: PySpark worker processes
- ``py_driver``: this process, including its thread sampler

and three codegen counts: Janino compiles (generated-class cache
misses) during the pass or trigger, the generated-class cache's growth
over it, and its size after it. The last line is a JSON summary with
the medians over the passes, or over the triggers from the third on
(the first two fill the stream's state).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, os.path.join(ROOT, "tools"))

PASSES = 3  # timed passes after the warm-up
TRIGGERS = 10  # stream micro-batches; the first is the baseline
STEADY = 2  # batch id of the first trigger in the summary (the third)
SAMPLE_S = 0.2  # JVM thread sampling interval

TICK = os.sysconf("SC_CLK_TCK")
CLASSES = ("compiler", "executor", "gc", "jvm_other", "jvm_exited",
           "py_workers", "py_driver")
GC_PREFIXES = ("GC Thread", "G1 ", "VM Thread")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields start after its ')'
    end = raw.rindex(")")
    return raw[raw.index("(") + 1:end], raw[end + 2:].split()


def _ticks(fields: list[str], reaped: bool) -> int:
    """utime + stime, plus the CPU of reaped children with ``reaped``."""
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def thread_class(comm: str) -> str:
    if "CompilerThre" in comm:
        return "compiler"
    if comm.startswith("Executor task"):
        return "executor"
    if comm.startswith(GC_PREFIXES):
        return "gc"
    return "jvm_other"


class JvmThreads:
    """CPU ticks per JVM thread, kept after the thread exits: HotSpot
    starts and retires compiler threads on demand, so a background
    thread re-reads ``/proc/<pid>/task`` every SAMPLE_S seconds and
    each thread keeps its class and the ticks it was last seen with."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self._ticks: dict[str, tuple[str, int]] = {}
        self._lock = threading.Lock()
        self._done = threading.Event()
        threading.Thread(target=self._sample, daemon=True).start()

    def _sample(self) -> None:
        while not self._done.wait(SAMPLE_S):
            self.read()

    def read(self) -> dict[str, tuple[str, int]]:
        task_dir = f"/proc/{self.pid}/task"
        with self._lock:
            for tid in os.listdir(task_dir):
                st = _stat(f"{task_dir}/{tid}/stat")
                if st:
                    self._ticks[tid] = (thread_class(st[0]),
                                        _ticks(st[1], False))
            return dict(self._ticks)

    def stop(self) -> None:
        self._done.set()


def snapshot(threads: JvmThreads) -> dict:
    """CPU ticks so far: per JVM thread, for the JVM process, and per
    class for the Python processes."""
    from procstat import tree_pids

    per_thread = threads.read()
    jvm = _stat(f"/proc/{threads.pid}/stat")[1]
    workers = _ticks(jvm, True) - _ticks(jvm, False)
    for pid in tree_pids()[1:]:
        st = _stat(f"/proc/{pid}/stat")
        if pid != threads.pid and st:
            workers += _ticks(st[1], True)
    return {"threads": per_thread, "jvm": _ticks(jvm, False),
            "py_workers": workers,
            "py_driver": _ticks(_stat("/proc/self/stat")[1], True)}


def cpu_split(a: dict, b: dict) -> dict:
    """CPU seconds per class between snapshots ``a`` and ``b``."""
    out = dict.fromkeys(CLASSES, 0)
    for tid, (cls, ticks) in b["threads"].items():
        out[cls] += ticks - a["threads"].get(tid, (cls, 0))[1]
    out["jvm_exited"] = b["jvm"] - a["jvm"] - sum(out.values())
    for cls in ("py_workers", "py_driver"):
        out[cls] = b[cls] - a[cls]
    secs = {cls: ticks / TICK for cls, ticks in out.items()}
    secs["total"] = sum(secs.values())
    return secs


class Codegen:
    """Janino compile count and generated-class cache size of the JVM."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                          .METRIC_COMPILATION_TIME())
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
        field = cls.getDeclaredField("cache")
        field.setAccessible(True)
        self._cache = field.get(cls.getDeclaredField("MODULE$").get(None))

    def compiles(self) -> int:
        return self._compiles.getCount()

    def cache_size(self) -> int:
        return self._cache.size()


def run_pass(spark, queries, names, sf_dir: str) -> None:
    for name in names:
        try:
            queries[name].fn(spark, sf_dir).toPandas()
        finally:
            spark.catalog.clearCache()


class Meter:
    """Snapshots of CPU and codegen; :meth:`row` is the split between
    the last two."""

    def __init__(self, spark) -> None:
        self.threads = JvmThreads(
            spark._jvm.java.lang.ProcessHandle.current().pid())
        self.codegen = Codegen(spark)
        self.marks: list[tuple] = []

    def mark(self) -> None:
        self.marks.append((snapshot(self.threads), self.codegen.compiles(),
                           self.codegen.cache_size()))

    def row(self) -> dict:
        (a, compiles_a, cache_a), (b, compiles_b, cache_b) = self.marks[-2:]
        return {**cpu_split(a, b), "compiles": compiles_b - compiles_a,
                "growth": cache_b - cache_a, "cache": cache_b}


def profile_queries(spark, meter: Meter, queries, names,
                    sf_dir: str) -> list[dict]:
    run_pass(spark, queries, names, sf_dir)  # warm-up
    rows = []
    meter.mark()
    for _ in range(PASSES):
        run_pass(spark, queries, names, sf_dir)
        meter.mark()
        rows.append(meter.row())
    return rows


def profile_stream(spark, meter: Meter, name: str) -> list[dict]:
    from pyworker_profile import run_stream

    rows = []

    def on_batch(batch_id: int) -> None:
        meter.mark()
        if len(meter.marks) > 1:
            rows.append({"trigger": batch_id, **meter.row()})

    run_stream(spark, name, TRIGGERS, on_batch)
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=("query", "stream"))
    ap.add_argument("names", nargs="+", help="query: registered query names, "
                    "run in this order in every pass; stream: one scenario")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="query data dir (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args(argv)
    if args.kind == "query" and not args.sf_dir:
        ap.error("a query needs --sf-dir or $SPARK_GRAFT_SF_DIR")
    if args.kind == "stream" and len(args.names) != 1:
        ap.error("a stream profile runs one scenario")

    from flink_framework_spark.session import get_spark

    partitions = None
    if args.kind == "query":
        from flink_framework_spark.registry import all_queries

        queries = all_queries()
        unknown = set(args.names) - set(queries)
        if unknown:
            ap.error(f"unknown queries {sorted(unknown)}")
    else:
        from pyworker_profile import PARTITIONS as partitions
    os.environ.setdefault("PYSPARK_SUBMIT_ARGS", "--conf "
                          "spark.ui.showConsoleProgress=false pyspark-shell")
    spark = get_spark(app_name="jvm-profile", shuffle_partitions=partitions)
    spark.sparkContext.setLogLevel("ERROR")
    meter = Meter(spark)
    try:
        if args.kind == "query":
            rows = profile_queries(spark, meter, queries, args.names,
                                   args.sf_dir)
            label, summarized = "pass", rows
        else:
            rows = profile_stream(spark, meter, args.names[0])
            label = "trigger"
            summarized = [r for r in rows if r["trigger"] >= STEADY]
    finally:
        meter.threads.stop()
        spark.stop()
    counts = ("compiles", "growth", "cache")
    cols = ("total",) + CLASSES + counts
    print(" ".join(f"{c:>10}" for c in (label,) + cols))
    for i, row in enumerate(rows, 1):
        print(f"{row.get(label, i):>10} " + " ".join(
            f"{row[c]:>10}" if c in counts else f"{row[c]:>10.2f}"
            for c in cols))
    if not summarized:
        raise SystemExit(f"no {label} to summarize")
    print(json.dumps({"kind": args.kind, "names": args.names,
                      f"{label}s": len(summarized), **{
        c: round(statistics.median(r[c] for r in summarized), 3)
        for c in cols}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
