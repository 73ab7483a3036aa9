"""Benchmark harness: times every registered query at the bench scale
factor and prints ONE JSON line the driver records as BENCH_r{N}.json.

Each query is materialized with the noop sink (full computation, no
driver-side collect cost). A warmup pass on the flagship query absorbs
JVM/codegen startup. Env knobs:

- SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
- SPARK_GRAFT_CPUS     local[N] cores (default *)
- SPARK_GRAFT_BENCH_ONLY  comma-separated query names — runs just
  those (and skips the streaming scenarios unless 'streaming' is in
  the list). Iteration/smoke knob; the driver runs the full set.

Timing methodology (round 10): best-of-2 for every entry, plus a
third attempt for sub-1.5 s entries (where one GC pause is largest
relative to true cost) and for >3 s entries (where one episode moves
even a best-of-2 beyond the 1.3x same-day band). The melted headline
entry q_cep_suite additionally publishes its per-component wall
times under the output's "breakdown" key so any swing in the total
names its part.

Auditability contract (rounds 1-6 all recorded ``parsed: null``): the
driver keeps only the LAST ~2,000 characters of stdout, and the full
record line is ~8 KB — its head (with the total) was always cut off.
So the result is now emitted three ways: (a) written ATOMICALLY to
``BENCH.json`` next to this script before teardown (the committed
artifact of record, full per-query detail), (b) the full line printed
to stdout for humans, and (c) a COMPACT summary JSON — total, query
count, top-5 slowest, streaming headline rates; hard-capped well under
the 2,000-char tail — printed as the VERY LAST stdout line after every
streaming query is stopped and the session is down, so nothing
Spark-side can interleave after it and the driver's tail capture
always contains one complete parseable JSON line. Log level is pinned
to ERROR so state-store maintenance/abort chatter from scenario
teardown stays out of the tail."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_framework_spark.registry import all_queries  # noqa: E402
from flink_framework_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    spark = get_spark(app_name="flink-framework-spark-bench")
    # ERROR, not WARN: HDFSBackedStateStoreProvider logs multi-line
    # abort/maintenance warnings during streaming-scenario teardown,
    # which previously buried the result JSON in the captured tail
    spark.sparkContext.setLogLevel("ERROR")
    registry = {n: q for n, q in sorted(all_queries().items()) if q.bench}
    queries = registry
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    run_streaming = True
    if only:
        names = {n.strip() for n in only.split(",") if n.strip()}
        run_streaming = "streaming" in names
        unknown = names - set(registry) - {"streaming"}
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY: unknown {unknown}")
        queries = {n: q for n, q in registry.items() if n in names}

    # Warmup: JVM/codegen via the flagship join, plus the Python/Arrow
    # worker pool (first pandas-UDF stage in a session pays a one-time
    # worker fork + import cost ~3s that would otherwise be billed to
    # whichever UDF query happens to run first).
    materialize(registry["q_join_multi"].fn(spark, sf_dir))
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    materialize(spark.range(10_000).select(_warm("id")))

    timings: dict[str, float] = {}
    for name, q in queries.items():
        t0 = time.perf_counter()
        materialize(q.fn(spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)
        # staged (persisted) frames are per-query artifacts; dropping
        # them keeps each timing independent of whatever ran before
        # (accumulated dead cache was measurably slowing late
        # alphabet queries, e.g. q_text_* after the dedup family)
        spark.catalog.clearCache()

    # Single-shot timings on a shared VM jitter ~±30% (GC, codegen
    # compile order, noisy neighbors); an unlucky spike on one query
    # reads as a false 2x regression. Round 9's retry covered only
    # entries >1.5 s, and two SUB-second entries (q_agg_rollup,
    # q_agg_stats) still burned adjudication time as false 2x alarms —
    # a 0.5 s query that catches a GC pause reads 1.3 s and trips the
    # contract. So: best-of-2 for EVERY entry, plus a third run for
    # entries still under 1.5 s, where a single spike is largest
    # relative to the true cost (floor-of-3 per the round-9 verdict).
    # The first pass paid codegen only for a query whose generated
    # classes are still in the codegen cache when it is retimed: the
    # cache holds session.CODEGEN_CACHE_ENTRIES entries per JVM (the
    # seven heaviest queries together fill about half), and the whole
    # corpus runs in between, so a retime may compile again.
    def retime(name: str) -> None:
        t0 = time.perf_counter()
        materialize(queries[name].fn(spark, sf_dir))
        timings[name] = min(
            timings[name], round(time.perf_counter() - t0, 3)
        )
        spark.catalog.clearCache()

    for name in timings:
        retime(name)
    for name in [n for n, t in timings.items() if t < 1.5]:
        retime(name)
    # the HEAVIEST entries get a third attempt too: a single GC/page-
    # cache episode on a 5-9 s query moves its best-of-2 by >1.3x
    # (measured on q_cep_suite across same-day full runs), and those
    # entries anchor the regression contract — ~7 queries, +25 s.
    for name in [n for n, t in timings.items() if t > 3.0]:
        retime(name)

    # per-part wall-time breakdown for the melted headline entry:
    # q_cep_suite swung 2x between same-day runs in round 9 and the
    # total alone could not be attributed — publish the component
    # profile so any future swing names its part (measurement trust,
    # not a second benchmark: the parts each pay their own action).
    breakdown: dict[str, dict] = {}
    if "q_cep_suite" in timings:
        from flink_framework_spark.queries.driver_suite import (
            cep_suite_breakdown,
        )

        breakdown["q_cep_suite"] = cep_suite_breakdown(spark, sf_dir)
        spark.catalog.clearCache()

    streaming = stream_throughput(spark) if run_streaming else {}

    total = round(sum(timings.values()), 3)
    # auditability (VERDICT r11 #3): echo the effective master/core
    # count and data dir so the driver's scaling check can SEE the
    # $SPARK_GRAFT_CPUS knob took effect instead of inferring it
    master = spark.conf.get("spark.master", "?")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    line = json.dumps(
        {
            "metric": "total_seconds_all_queries",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "n_queries": len(timings),
            "cpus": cpus,
            "master": master,
            "sf_dir": sf_dir,
            "streaming": streaming,
            "breakdown": breakdown,
        }
    )
    # atomic committed record first: the artifact of record exists
    # even if the caller's stdout capture is lossy (full runs only —
    # a SPARK_GRAFT_BENCH_ONLY smoke must not clobber the record)
    if not only:
        here = os.path.dirname(os.path.abspath(__file__))
        tmp = os.path.join(here, ".BENCH.json.tmp")
        with open(tmp, "w") as f:
            f.write(line + "\n")
        os.replace(tmp, os.path.join(here, "BENCH.json"))
    # quiesce: every scenario already stops its query, but any
    # straggler would emit teardown noise after our print
    for q in spark.streams.active:
        q.stop()
    spark.stop()
    # full record for humans / logs (may be truncated by tail capture)
    print(line, flush=True)
    # compact summary as the FINAL line — this is what the driver's
    # 2,000-char tail parses into BENCH_r{N}.json; totals must match
    # the committed BENCH.json (same dict, just summarized)
    top5 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    stream_rates = {
        k: v.get("rows_per_sec")
        for k, v in streaming.items()
        if isinstance(v, dict) and "rows_per_sec" in v
    }
    def render(top, rates):
        return json.dumps(
            {
                "metric": "total_seconds_all_queries",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(timings),
                "cpus": cpus,
                "master": master,
                "sf_dir": sf_dir,
                "queries": top,
                "queries_note": "top5 slowest; full per-query record in BENCH.json",
                "streaming_rows_per_sec": rates,
            }
        )

    summary = render(top5, stream_rates)
    # the driver's tail capture keeps ~2,000 chars — the final line
    # must ALWAYS print, so shrink (never assert) if detail outgrows
    # the cap: drop streaming rates first, then the top-5 detail
    if len(summary) > 1500:
        summary = render(top5, {"note": "truncated; see BENCH.json"})
    if len(summary) > 1500:
        summary = render({"note": "truncated; see BENCH.json"},
                         {"note": "truncated; see BENCH.json"})
    print(summary, flush=True)


def _run_stream_scenario(
    df, mode: str, seconds: float, runs: int = 1, min_batches: int = 4
) -> dict:
    """Start df -> noop sink, observe for ``seconds``, return stats.
    Fresh checkpoint dir per run: a fixed path keyed by PID would
    resume a stale checkpoint after PID reuse and corrupt the
    measurement.

    ``runs > 1`` (r11, VERDICT r10 #5): re-measure the scenario and
    keep the run with the highest median rate — the streaming analog
    of the batch corpus's best-of-2. Throughput jitter on a contended
    VM is one-sided (contention only LOWERS rows/s), so max-of-runs
    estimates the uncontended floor the way min-of-times does for
    batch. ``min_batches`` raises the steady-state sample count for
    scenarios whose per-batch variance needs a wider median (the
    Arrow keyed-state paths measured a 1.5x same-day swing on
    3-batch medians in r9/r10)."""

    def once() -> dict:
        import shutil
        import tempfile

        ckpt = tempfile.mkdtemp(prefix="bench_stream_ckpt_")
        q = (
            df.writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            # adaptive window: the Arrow/Python state scenarios pay a
            # multi-second first batch (worker fork + state init); a
            # fixed sleep can end with zero steady-state samples on a
            # loaded machine. Observe at least ``seconds``, then keep
            # going (up to a hard cap) until >= min_batches input-
            # bearing progress reports exist — _stream_stats drops the
            # first one.
            cap = max(seconds * 4, 45.0, 12.0 * min_batches)
            start = time.monotonic()
            while True:
                time.sleep(1.0)
                elapsed = time.monotonic() - start
                progresses = [p for p in q.recentProgress if p is not None]
                n_input = sum(
                    1 for p in progresses if p.get("numInputRows", 0) > 0
                )
                if elapsed >= cap or (
                    elapsed >= seconds and n_input >= min_batches
                ):
                    break
        finally:
            q.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
        return _stream_stats(progresses)

    best = None
    for _ in range(max(1, runs)):
        stats = once()
        if best is None or stats.get("rows_per_sec", 0.0) > best.get(
            "rows_per_sec", 0.0
        ):
            best = stats
    if runs > 1:
        best["runs"] = runs
    return best


def stream_throughput(spark, seconds: float = 8.0) -> dict:
    """Structured Streaming throughput, fourteen scenarios covering the
    reference's streaming identity (median steady-state
    processedRowsPerSecond with the first batch dropped — it pays
    stream initialization — plus end-to-end batch latency p50):

    - windowed agg (I1): rate source offered well above sustainable,
      event-time tumbling window + keyed agg, update mode — the hot
      aggregation path;
    - stateful dedup (I5): 1M-key dropDuplicatesWithinWatermark,
      append — the state-store path;
    - stream-stream interval join (I6): two watermarked
      rate-micro-batch streams, equi-key + event-time bound, append —
      the symmetric dual-state join machine (key space sized to
      rowsPerBatch so join fan-out stays exactly 1 and the
      measurement is state cost, not output explosion);
    - session windows (I3): one hit per key per batch with a 500 ms
      gap, append — sessions form, close on watermark, and evict,
      measuring the open/merge-check/close path rather than one
      ever-growing session per key;
    - plus the RocksDB-provider dedup variant, the
      applyInPandasWithState CEP funnel, the JVM join-form funnel
      (the same 2-step pattern as chained stream-stream interval
      joins — the relational fast path the decision rule prefers for
      fixed chains), streaming MATCH_RECOGNIZE (the two Arrow/Python
      keyed-state paths, measured apart from the JVM scenarios), the
      bounded-quantifier MR pair (PATTERN (A B{1,2} C): the Arrow NFA
      floor vs the engine='auto' chain-unroll join lowering), and the
      changelog-build-side temporal join, and the CountTrigger
      custom-trigger keyed-state twin.

    Measured, not inferred from batch twins."""
    from pyspark.sql import functions as F

    def rate(rows_per_sec=5_000_000, partitions=8):
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_sec)
            .option("numPartitions", partitions)
            .load()
        )

    src = rate()
    agg = (
        src.withWatermark("timestamp", "2 seconds")
        .groupBy(
            F.window("timestamp", "1 second").alias("w"),
            (F.col("value") % 64).alias("k"),
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    out = _run_stream_scenario(agg, "update", seconds)
    out["pipeline"] = "rate->watermark->window1s+key64 agg->noop(update)"

    dd = (
        src.withColumn("k", F.col("value") % 1_000_000)
        .withWatermark("timestamp", "2 seconds")
        .dropDuplicatesWithinWatermark(["k"])
    )
    out["dedup"] = _run_stream_scenario(dd, "append", seconds)
    out["dedup"]["pipeline"] = (
        "rate->watermark->dropDuplicatesWithinWatermark(1M keys)"
        "->noop(append)"
    )

    # same dedup under the RocksDB state store — the provider that
    # keeps working when keyed state outgrows the executor heap (the
    # default HDFSBacked provider holds state in on-heap hashmaps);
    # measured side-by-side so the heap-vs-disk trade is a number
    prov = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out["dedup_rocksdb"] = _run_stream_scenario(dd, "append", seconds)
    finally:
        spark.conf.unset(prov)
    out["dedup_rocksdb"]["pipeline"] = (
        "rate->watermark->dropDuplicatesWithinWatermark(1M keys)"
        "->noop(append), RocksDB state store"
    )

    # The two state-machine scenarios use rate-micro-batch instead of
    # rate: fixed rowsPerBatch with back-to-back triggers, so
    # processedRowsPerSecond IS the sustainable state-machine
    # throughput (an over-offered rate source snowballs into one giant
    # batch here and yields no steady-state batches in the window).
    # Event time advances 1 s per batch, so the 2 s watermark evicts
    # with a ~2-batch lag — state stays bounded while every batch
    # exercises insert + match/merge + eviction.
    def rate_mb(rows_per_batch, partitions=8):
        return (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows_per_batch)
            .option("numPartitions", partitions)
            .load()
        )

    # stream-stream interval join: key space == rowsPerBatch so each
    # key appears once per side per batch with equal event time; the
    # [0,1s) bound then matches same-batch pairs only — fan-out
    # exactly 1, measuring dual-state-store cost, not output explosion
    jr = 500_000
    a = rate_mb(jr).select(
        (F.col("value") % jr).alias("k"),
        F.col("timestamp").alias("ts_a"),
    ).withWatermark("ts_a", "2 seconds")
    b = rate_mb(jr).select(
        (F.col("value") % jr).alias("k"),
        F.col("timestamp").alias("ts_b"),
    ).withWatermark("ts_b", "2 seconds")
    joined = a.join(
        b,
        (a.k == b.k)
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") < F.col("ts_a") + F.expr("INTERVAL 1 SECOND")),
    )
    out["interval_join"] = _run_stream_scenario(
        joined, "append", seconds * 2
    )
    out["interval_join"]["pipeline"] = (
        "rate-micro-batch x2 (500k rows/batch/side) ->watermark 2s-> "
        "equi-key + [0,1s) event-time bound ->noop(append); "
        "rows/s counts both inputs, fan-out 1"
    )

    # session windows: every key hit once per batch, event-time gap
    # (1 s/batch) > session gap (500 ms) — each hit opens its own
    # session, which closes and EVICTS two batches later, so the
    # measurement is the open/merge-check/close path at 1M live
    # sessions rather than one forever-growing session per key
    sr = 1_000_000
    sess = (
        rate_mb(sr)
        .withColumn("k", F.col("value") % sr)
        .withWatermark("timestamp", "2 seconds")
        .groupBy(
            F.session_window("timestamp", "500 milliseconds").alias("w"),
            "k",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out["session_window"] = _run_stream_scenario(
        sess, "append", seconds * 2
    )
    out["session_window"]["pipeline"] = (
        "rate-micro-batch (1M rows/batch)->watermark 2s->"
        "session_window(gap 500ms, 1 hit/key/batch)+key agg"
        "->noop(append)"
    )

    # CEP state machine (I8): the applyInPandasWithState funnel — the
    # ARROW/PYTHON keyed-state path, deliberately measured apart from
    # the JVM scenarios above because custom pattern logic is the one
    # streaming surface that can't stay JVM-side. 4 events/key/batch
    # (alternating view/purchase); purchases convert views from prior
    # batches (same-batch events share one rate-micro-batch
    # timestamp), so every batch exercises state append, horizon trim,
    # and match emission on all 25k keys.
    from flink_framework_spark.streaming.stateful import funnel_conversions

    # cr/ck = 4 events per key per batch. Event type MUST alternate
    # per key over that key's own sequence — (value // ck) % 2 gives
    # each key view,purchase,view,purchase within a batch. (value % 2
    # would pin each key to ONE type forever, since value % ck fixes
    # value's parity per key for even ck: the scenario would then
    # measure pure buffering and never the match/emit path.)
    cr, ck = 100_000, 25_000
    cep_src = rate_mb(cr).select(
        (F.col("value") % ck).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.when((F.col("value") / ck).cast("long") % 2 == 0, "view")
        .otherwise("purchase")
        .alias("event_type"),
    )
    out["cep_funnel"] = _run_stream_scenario(
        funnel_conversions(cep_src), "update", seconds * 2,
        runs=2, min_batches=6,
    )
    out["cep_funnel"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys)->"
        "applyInPandasWithState funnel state machine->noop(update)"
    )

    # the reorder-buffered DISORDER driver (round 10): the same keyed
    # Python-state family, with 1% of rows rewound 5 s and a 10 s
    # allowance — measures the park/release buffer layered on the
    # times(2,3) quantifier core under genuine out-of-order arrival
    from flink_framework_spark.streaming.stateful import times_matches

    td_src = rate_mb(cr).select(
        (F.col("value") % ck).alias("user_id"),
        F.when(
            F.col("value") % 100 == 0,
            F.col("timestamp") - F.expr("INTERVAL 5 SECONDS"),
        )
        .otherwise(F.col("timestamp"))
        .alias("ts"),
        F.col("value").alias("event_id"),
        F.when((F.col("value") / ck).cast("long") % 3 < 2, "click")
        .otherwise("purchase")
        .alias("event_type"),
    )
    out["cep_times_disorder"] = _run_stream_scenario(
        times_matches(td_src, 2, 3, horizon_s=60.0, disorder_s=10.0),
        "update",
        seconds * 2,
        runs=2, min_batches=6,
    )
    out["cep_times_disorder"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys, 1% of rows "
        "rewound 5s)->reorder-buffered times(2,3) state machine "
        "(10s allowance; late rows land in sequence)->noop(update)"
    )

    # the SAME 2-step funnel as a stream-stream interval join +
    # watermarked dedup — the JVM-rate relational spelling
    # (streaming.stateful.funnel_conversions_join, equivalence-tested
    # against the state machine in tests/test_streaming.py). One
    # interleaved source, 1M keys x (one view + one purchase) per
    # batch; same-batch rows share a timestamp so the strict
    # v_ts < p_ts bound matches purchases to the PRIOR batch's views
    # (horizon 1 s at 1 s event time/batch, fan-out 1), and the dedup
    # keeps the output one row per converting purchase — every batch
    # exercises dual join state insert/match/evict plus dedup state.
    # Sized like interval_join (per-batch fixed cost of the chained
    # stateful operators amortizes over ~2M rows/batch; the ~8 s
    # batch latency is reported honestly below). Decision rule
    # documented on the operator: fixed chains -> joins; greedy
    # quantifiers / skip strategies -> the NFA.
    from flink_framework_spark.streaming.stateful import (
        funnel_conversions_join,
    )

    jr2, jk2 = 2_000_000, 1_000_000
    fsrc = rate_mb(jr2).select(
        (F.col("value") % jk2).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.when((F.col("value") / jk2).cast("long") % 2 == 0, "view")
        .otherwise("purchase")
        .alias("event_type"),
    )
    out["funnel_join"] = _run_stream_scenario(
        funnel_conversions_join(
            fsrc, horizon="1 seconds", watermark="2 seconds"
        ),
        "append",
        seconds * 2,
    )
    out["funnel_join"]["pipeline"] = (
        "rate-micro-batch (2M rows/batch: 1M keys x view+purchase)->"
        "stream-stream interval join (v_ts < p_ts <= v_ts+1s)->"
        "dropDuplicatesWithinWatermark->noop(append); the JVM-rate "
        "twin of cep_funnel (fixed chains compile to joins)"
    )

    # streaming MATCH_RECOGNIZE: JVM-side DEFINE flags feeding the
    # per-key Arrow NFA with watermark-gated anchor finalization.
    # Alternating view/purchase per key per batch -> strict PATTERN
    # (A B) matches every pair; WITHIN 2s == watermark delay, so each
    # batch appends rows, finalizes ~2-batch-old anchors, emits, and
    # trims state — the full buffer lifecycle at 25k keys.
    from flink_framework_spark.streaming.mr import match_recognize_stream

    mr_src = rate_mb(cr).select(
        (F.col("value") % ck).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
        F.when((F.col("value") / ck).cast("long") % 2 == 0, "view")
        .otherwise("purchase")
        .alias("event_type"),
    ).withWatermark("ts", "2 seconds")
    mr_clause = """
        PARTITION BY user_id ORDER BY ts
        MEASURES A.event_id AS a_id, B.event_id AS b_id
        ONE ROW PER MATCH
        AFTER MATCH SKIP PAST LAST ROW
        PATTERN (A B)
        WITHIN INTERVAL '2' SECOND
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'purchase'"""
    # engine='nfa' pins the Arrow state-machine floor — this clause is
    # join-eligible, so auto would silently reroute it (next scenario)
    mr = match_recognize_stream(mr_src, mr_clause, engine="nfa")
    out["match_recognize"] = _run_stream_scenario(mr, "update", seconds * 2)
    out["match_recognize"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys)->JVM DEFINE "
        "flags->per-key Arrow NFA, watermark-gated finalization"
        "->noop(update)"
    )

    # the SAME clause through engine='auto': the eligible PATTERN
    # (A B) class lowers to the JVM join machine (candidate interval
    # join + LEFT OUTER adjacency join, zero Python) — match-set
    # equality vs the NFA pinned in tests/test_match_recognize.py.
    # Sized like funnel_join (1M rows/batch: the three stateful
    # operators' per-batch fixed cost amortizes; at the NFA
    # scenario's 100k rows/batch the fixed cost dominates and the
    # two paths look deceptively close — the ~12 s batch latency at
    # this size is reported honestly below).
    jr3, jk3 = 1_000_000, 250_000
    mrj_src = rate_mb(jr3).select(
        (F.col("value") % jk3).alias("user_id"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
        F.when((F.col("value") / jk3).cast("long") % 2 == 0, "view")
        .otherwise("purchase")
        .alias("event_type"),
    ).withWatermark("ts", "2 seconds")
    mr_j = match_recognize_stream(mrj_src, mr_clause)
    out["match_recognize_join"] = _run_stream_scenario(
        mr_j, "append", seconds * 2
    )
    out["match_recognize_join"]["pipeline"] = (
        "rate-micro-batch (1M rows/batch, 250k keys)->candidate "
        "stream-stream interval join + LEFT OUTER adjacency join"
        "->noop(append); engine='auto' JVM lowering of the same MR "
        "clause (the NFA floor is the scenario above)"
    )

    # CountTrigger streaming twin (round 8): per-key tumbling windows
    # firing every 10th element in event-time order, watermark-driven
    # finalization — the custom-trigger Arrow keyed-state path,
    # measured in the same family as cep_funnel
    from flink_framework_spark.streaming.triggers import (
        count_trigger_stream,
    )

    trig_src = rate_mb(cr).select(
        (F.col("value") % ck).cast("string").alias("event_type"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
        (F.col("value") % 100).cast("double").alias("value"),
    ).withWatermark("ts", "2 seconds")
    out["count_trigger"] = _run_stream_scenario(
        count_trigger_stream(trig_src, 10, window_s=60.0),
        "update",
        seconds * 2,
    )
    out["count_trigger"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys)->"
        "count_trigger_stream(n=10, 1-minute windows): per-key "
        "buffers finalized in event-time order as the watermark "
        "passes, firing every 10th element->noop(update)"
    )

    # allowedLateness window refinement — on-time firings plus
    # per-batch late corrections (1% of rows rewound 5s so they land
    # behind the logical watermark but inside the lateness horizon)
    from flink_framework_spark.streaming.triggers import (
        allowed_lateness_stream,
    )

    late_src = rate_mb(cr).select(
        (F.col("value") % ck).cast("string").alias("event_type"),
        F.when(
            F.col("value") % 100 == 0,
            F.col("timestamp") - F.expr("INTERVAL 5 SECONDS"),
        )
        .otherwise(F.col("timestamp"))
        .alias("ts"),
        (F.col("value") % 100).cast("double").alias("value"),
    )  # un-watermarked: the operator shifts and applies its own
    out["allowed_lateness"] = _run_stream_scenario(
        allowed_lateness_stream(
            late_src, window_s=2.0, delay_s=1.0, lateness_s=10.0
        ),
        "update",
        seconds * 2,
    )
    out["allowed_lateness"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys, 1% of rows "
        "rewound 5s)->allowed_lateness_stream(2s windows, 1s "
        "watermark, 10s lateness): on-time firing per window plus a "
        "corrected late firing per batch of admitted late rows->"
        "noop(update)"
    )

    # quantified MR clause — PATTERN (A B{1,2} C), the round-8 unroll
    # class: engine='auto' unions two fixed chains (A B C / A B B C),
    # join-safe because the click/purchase DEFINEs are literal-
    # disjoint. Data cycles view click click purchase per key, so the
    # r=2 branch carries every match and the r=1 branch prunes
    # against it (the realistic union cost). The NFA floor for the
    # SAME clause runs first at the floor scenario's 100k size.
    mrq_clause = """
        PARTITION BY user_id ORDER BY ts
        MEASURES A.event_id AS a_id, FIRST(B.event_id) AS b_first,
                 COUNT(B.*) AS n_b, C.event_id AS c_id
        ONE ROW PER MATCH
        AFTER MATCH SKIP TO NEXT ROW
        PATTERN (A B{1,2} C)
        WITHIN INTERVAL '2' SECOND
        DEFINE A AS A.event_type = 'view',
               B AS B.event_type = 'click',
               C AS C.event_type = 'purchase'"""

    def mrq_src(rows_per_batch, keys):
        return rate_mb(rows_per_batch).select(
            (F.col("value") % keys).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
            F.element_at(
                F.lit(["view", "click", "click", "purchase"]),
                ((F.col("value") / keys).cast("long") % 4 + 1).cast(
                    "int"
                ),
            ).alias("event_type"),
        ).withWatermark("ts", "2 seconds")

    mrq_n = match_recognize_stream(
        mrq_src(cr, ck), mrq_clause, engine="nfa"
    )
    out["match_recognize_quant"] = _run_stream_scenario(
        mrq_n, "update", seconds * 2
    )
    out["match_recognize_quant"]["pipeline"] = (
        "rate-micro-batch (100k rows/batch, 25k keys, "
        "view-click-click-purchase cycle)->per-key Arrow NFA on "
        "PATTERN (A B{1,2} C)->noop(update); the quantified floor"
    )
    # the unroll runs ~10 stateful operators (4 + 6 across the two
    # branches); with the session's 32 shuffle partitions that is
    # ~320 HDFS-state-store commits per batch — pure fixed cost that
    # dwarfs the 400k-row data path. 8 partitions is the honest
    # sizing for this state-op count at this batch size (a real
    # deployment sizes state partitions to state volume, not to the
    # scan parallelism default), measured 163k vs ~0 completed
    # batches at 32.
    shuf = "spark.sql.shuffle.partitions"
    prev_shuf = spark.conf.get(shuf)
    spark.conf.set(shuf, "8")
    try:
        mrq_j = match_recognize_stream(
            mrq_src(400_000, 100_000), mrq_clause
        )
        out["match_recognize_quant_join"] = _run_stream_scenario(
            mrq_j, "append", seconds * 2
        )
    finally:
        spark.conf.set(shuf, prev_shuf)
    out["match_recognize_quant_join"]["pipeline"] = (
        "rate-micro-batch (400k rows/batch, 100k keys)->bounded-"
        "quantifier unroll: two fixed chains (A B C / A B B C) of "
        "candidate + adjacency stream-stream joins, unioned, zero "
        "Python->noop(append); engine='auto' on the same clause "
        "(floor above); 8 state partitions — ~10 stateful operators "
        "make per-batch state-store commits the fixed cost"
    )

    # changelog-build-side temporal join (Flink's temporal table
    # FUNCTION join): dims update every key once per batch, facts
    # probe 8x per key; emission lags the 2 s watermark so versioned
    # state stays ~2 batches deep — insert + as-of probe + prune per
    # trigger on the Arrow keyed-state path
    from flink_framework_spark.streaming.temporal import (
        temporal_join_changelog_stream,
    )

    tk = 25_000
    tf = rate_mb(200_000).select(
        (F.col("value") % tk).alias("k"),
        F.col("timestamp").alias("ts"),
        F.col("value").alias("event_id"),
    )
    td = rate_mb(tk).select(
        (F.col("value") % tk).alias("k"),
        F.col("timestamp").alias("dim_ts"),
        (F.col("value") % 100).alias("tier"),
    )
    tj = temporal_join_changelog_stream(
        tf, td, on="k", fact_ts="ts", dim_ts="dim_ts",
        watermark="2 seconds",
    )
    out["temporal_changelog_join"] = _run_stream_scenario(
        tj, "update", seconds * 2, runs=2, min_batches=6
    )
    out["temporal_changelog_join"]["pipeline"] = (
        "rate-micro-batch x2 (200k facts + 25k dim updates/batch, "
        "25k keys)->watermark 2s->versioned keyed state (as-of pick, "
        "watermark-gated emit)->noop(update); rows/s counts both "
        "inputs"
    )

    # the same join under a DECLARED fixed dim cadence (exactly one
    # update per key per 1s batch): ONE stream-stream interval join,
    # zero Python and no aggregation stage — the unique_versions fast
    # path beside the keyed-state floor above (the at-least-one form
    # adds a max_by aggregation and lands ~2x lower; both routed via
    # version_interval= on the general entry point)
    prev_shuf = spark.conf.get(shuf)
    spark.conf.set(shuf, "8")
    try:
        tk2 = 50_000
        tf2 = rate_mb(400_000).select(
            (F.col("value") % tk2).alias("k"),
            F.col("timestamp").alias("ts"),
            F.col("value").alias("event_id"),
        )
        td2 = rate_mb(tk2).select(
            (F.col("value") % tk2).alias("k"),
            F.col("timestamp").alias("dim_ts"),
            (F.col("value") % 100).alias("tier"),
        )
        tji = temporal_join_changelog_stream(
            tf2, td2, on="k", fact_ts="ts", dim_ts="dim_ts",
            watermark="2 seconds", version_interval="1 seconds",
            unique_versions=True,
        )
        out["temporal_changelog_join_interval"] = _run_stream_scenario(
            tji, "append", seconds * 2
        )
    finally:
        spark.conf.set(shuf, prev_shuf)
    out["temporal_changelog_join_interval"]["pipeline"] = (
        "rate-micro-batch x2 (400k facts + 50k dim updates/batch, "
        "50k keys, one update/key/batch)->watermark 2s->"
        "version_interval 1s + unique_versions: ONE stream-stream "
        "interval join, zero Python->noop(append); the declared-"
        "cadence JVM fast path (general keyed-state floor above); "
        "rows/s counts both inputs"
    )
    return out


def _stream_stats(progresses) -> dict:
    import statistics

    rates = [
        p["processedRowsPerSecond"]
        for p in progresses[1:]
        if p.get("numInputRows", 0) > 0 and "processedRowsPerSecond" in p
    ]
    durs = [
        p["durationMs"]["triggerExecution"]
        for p in progresses[1:]
        if "durationMs" in p and "triggerExecution" in p["durationMs"]
    ]
    if not rates:
        return {"rows_per_sec": 0.0, "batches": 0}
    return {
        "rows_per_sec": round(statistics.median(rates), 1),
        "batch_ms_p50": round(statistics.median(durs), 1) if durs else None,
        "batches": len(rates),
    }


if __name__ == "__main__":
    main()
