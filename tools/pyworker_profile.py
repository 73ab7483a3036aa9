"""Per-invocation CPU profile of PySpark Python workers: setup vs. work.

Every Python task runs one ``pyspark.worker.main`` invocation, which
first runs ``setup_spark_files`` (PYTHONPATH set-up plus
``importlib.invalidate_caches()``) and then the task itself. This tool
points ``spark.python.worker.module`` at a generated wrapper module
that times both with ``time.process_time`` and appends one JSON line
per invocation to a log; then it runs one batch query or streaming
scenario and prints the per-invocation table and a JSON summary.

    python tools/pyworker_profile.py query q_udf_grouped_map --sf-dir DATA_DIR
    python tools/pyworker_profile.py stream temporal_join_changelog
    python tools/pyworker_profile.py stream my_module:build   # build(spark, rows) -> (df, mode)

A stream runs BATCHES micro-batches of ROWS rows at PARTITIONS
shuffle (and state-store) partitions.

Columns: worker pid, invocation number within that worker, setup CPU,
work CPU, and whether the stat-gated zip refresh
(``flink_framework_spark/_pyworker.py``) was in place when the
invocation started (a worker's first invocation runs before any engine
import, so it never is).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

ROWS = 2000  # stream rows per micro-batch
BATCHES = 5  # stream micro-batches to run
PARTITIONS = 4  # shuffle (and state-store) partitions

# Spark's daemon only loads worker modules whose name starts with "pyspark".
WRAPPER = "pyspark_ffs_profiled_worker"
WRAPPER_SRC = '''\
import json, os, time
import pyspark.worker as _worker

_setup = _worker.setup_spark_files
_setup_cpu = [0.0]
_calls = [0]


def _timed_setup(infile):
    t0 = time.process_time()
    try:
        return _setup(infile)
    finally:
        _setup_cpu[0] += time.process_time() - t0


_worker.setup_spark_files = _timed_setup


def main(infile, outfile):
    import zipimport
    gated = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
    _setup_cpu[0] = 0.0
    _calls[0] += 1
    t0 = time.process_time()
    try:
        _worker.main(infile, outfile)
    finally:
        total = time.process_time() - t0
        rec = {"pid": os.getpid(), "n": _calls[0], "gated": gated,
               "setup_cpu_s": _setup_cpu[0],
               "work_cpu_s": total - _setup_cpu[0]}
        with open(os.environ["FFS_PYWORKER_LOG"], "a") as f:
            f.write(json.dumps(rec) + "\\n")
'''


def _rate(spark, rows: int):
    return (spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows).option("numPartitions", PARTITIONS)
            .option("startTimestamp", 1_700_000_000_000)
            .option("advanceMillisPerBatch", 1000).load())


def temporal_join_changelog(spark, rows: int):
    """Versioned keyed state with watermark and timers."""
    from pyspark.sql import functions as F

    from flink_framework_spark.streaming.temporal import (
        temporal_join_changelog_stream)

    keys = max(1, rows // 4)
    v = F.col("value")
    facts = _rate(spark, rows).select(
        (v % keys).alias("k"), F.col("timestamp").alias("ts"),
        v.alias("event_id"))
    dims = _rate(spark, keys).select(
        (v % keys).alias("k"), F.col("timestamp").alias("dim_ts"),
        (v % 100).alias("tier"))
    return temporal_join_changelog_stream(
        facts, dims, on="k", fact_ts="ts", dim_ts="dim_ts",
        watermark="2 seconds"), "update"


STREAMS = {"temporal_join_changelog": temporal_join_changelog}


def _resolve_stream(name: str):
    if name in STREAMS:
        return STREAMS[name]
    if ":" not in name:
        raise SystemExit(f"unknown scenario {name!r}: one of {sorted(STREAMS)}"
                         " or module:function")
    module, fn = name.split(":", 1)
    return getattr(importlib.import_module(module), fn)


def run_stream(spark, name: str) -> None:
    df, mode = _resolve_stream(name)(spark, ROWS)
    ckpt = tempfile.mkdtemp(prefix="pyworker_profile_ckpt_")
    q = (df.writeStream.format("noop").outputMode(mode)
         .option("checkpointLocation", ckpt).start())
    try:
        deadline = time.monotonic() + 60 + 20 * BATCHES
        while q.isActive and time.monotonic() < deadline:
            last = q.lastProgress
            if last and last["batchId"] >= BATCHES - 1:
                break
            time.sleep(0.1)
        if q.exception() is not None:
            raise SystemExit(f"stream failed: {q.exception()}")
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def run_query(spark, name: str, sf_dir: str) -> None:
    from flink_framework_spark.registry import all_queries

    all_queries()[name].fn(spark, sf_dir).collect()


def report(records: list[dict]) -> dict:
    print(f"{'pid':>8} {'n':>3} {'gated':>5} {'setup_ms':>9} {'work_ms':>9}")
    for r in records:
        print(f"{r['pid']:>8} {r['n']:>3} {str(r['gated']):>5} "
              f"{r['setup_cpu_s'] * 1e3:9.1f} {r['work_cpu_s'] * 1e3:9.1f}")
    setup = sum(r["setup_cpu_s"] for r in records)
    work = sum(r["work_cpu_s"] for r in records)
    return {
        "invocations": len(records),
        "workers": len({r["pid"] for r in records}),
        "gated_invocations": sum(r["gated"] for r in records),
        "setup_cpu_s": round(setup, 3),
        "work_cpu_s": round(work, 3),
        "setup_share": round(setup / (setup + work), 3) if records else 0.0,
        "setup_ms_p50": round(statistics.median(
            r["setup_cpu_s"] for r in records) * 1e3, 1) if records else 0.0,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("kind", choices=("query", "stream"))
    ap.add_argument("name", help="registered query name, stream scenario, "
                    "or module:function returning (streaming df, output mode)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="query data dir (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args(argv)
    if args.kind == "query" and not args.sf_dir:
        ap.error("a query needs --sf-dir or $SPARK_GRAFT_SF_DIR")

    work = tempfile.mkdtemp(prefix="pyworker_profile_")
    log = os.path.join(work, "invocations.jsonl")
    with open(os.path.join(work, WRAPPER + ".py"), "w") as f:
        f.write(WRAPPER_SRC)
    # the JVM, and through it every Python worker, inherits this env
    os.environ["FFS_PYWORKER_LOG"] = log
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (work, ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.python.worker.module={WRAPPER} pyspark-shell")

    from flink_framework_spark.session import get_spark

    spark = get_spark(app_name="pyworker-profile",
                      shuffle_partitions=PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if args.kind == "query":
            run_query(spark, args.name, args.sf_dir)
        else:
            run_stream(spark, args.name)
    finally:
        spark.stop()
    records = []
    if os.path.exists(log):
        with open(log) as f:
            records = [json.loads(line) for line in f]
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"kind": args.kind, "name": args.name, **report(records)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
