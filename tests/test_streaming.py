"""Batch ≡ stream equivalence properties (SURVEY.md §5.2.3).

Each streaming operator runs the SAME logical expression as its
oracle-checked batch twin over a readStream source; results must be
identical. Also: watermarked append-mode aggregation over in-order
arrival drops nothing; checkpointed restart emits no duplicates; the
stateful funnel finds the same converting users as the batch join.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from flink_framework_spark.io import table
from flink_framework_spark.streaming.drain import await_drain
from flink_framework_spark.operators.streaming_ops import (
    cumulate_counts,
    cumulate_exploded,
    hourly_tumble,
    session_stats,
    sliding_counts,
    stream_dedup,
    window_join,
)
from flink_framework_spark.streaming.stateful import funnel_conversions
from flink_framework_spark.streaming.twins import read_events_stream, run_to_memory


def _assert_same(a_df, b_df):
    cols = sorted(a_df.columns)
    assert cols == sorted(b_df.columns)
    a = sorted(map(repr, a_df.toPandas()[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, b_df.toPandas()[cols].itertuples(index=False, name=None)))
    assert a == b


@pytest.mark.parametrize(
    "name,op",
    [
        ("tumble", hourly_tumble),
        ("slide", sliding_counts),
        ("cumulate", cumulate_counts),
    ],
)
def test_stream_equals_batch_windows(spark, sf_dir, name, op):
    batch = op(table(spark, sf_dir, "events"))
    stream = run_to_memory(
        op(read_events_stream(spark, sf_dir)),
        query_name=f"t_{name}",
        output_mode="complete",
    )
    _assert_same(stream, batch)


def test_stream_session_equals_batch(spark, sf_dir):
    """Session windows: stream the single stateful op (streaming
    forbids chaining a second aggregation after it), roll up the sink
    output in batch — result must equal the all-batch session_stats."""
    from flink_framework_spark.operators.streaming_ops import session_windows

    batch = session_stats(table(spark, sf_dir, "events"))
    sessions = run_to_memory(
        session_windows(read_events_stream(spark, sf_dir)),
        query_name="t_session",
        output_mode="complete",
    )
    rolled = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_ev").alias("n_events"),
        F.max("dur_ms").alias("max_dur_ms"),
    )
    _assert_same(rolled, batch)


def test_stream_dedup_with_watermark(spark, sf_dir):
    batch = stream_dedup(table(spark, sf_dir, "events"), ["user_id", "event_type"])
    sdf = read_events_stream(spark, sf_dir, with_watermark="10 minutes")
    stream = run_to_memory(
        sdf.dropDuplicates(["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        query_name="t_dedup",
        output_mode="append",
    )
    _assert_same(stream, batch)


def test_watermarked_tumble_emits_finalized_windows(spark, sf_dir):
    """Append-mode watermarked aggregation emits exactly the windows
    the final watermark (max event time - 10 min) has closed; in-order
    arrival means no data is *dropped*, only the tail windows are
    withheld as not-yet-final — precisely Flink/Spark watermark
    semantics (SURVEY.md §2 I4)."""
    events = table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    cutoff = max_ts - pd.Timedelta(minutes=10)
    batch = hourly_tumble(events).toPandas()
    finalized = batch[
        pd.to_datetime(batch["wstart"]) + pd.Timedelta(hours=1) <= cutoff
    ]
    sdf = read_events_stream(spark, sf_dir, with_watermark="10 minutes")
    stream = run_to_memory(
        hourly_tumble(sdf), query_name="t_wm_tumble", output_mode="append"
    ).toPandas()
    assert 0 < len(stream) < len(batch)
    cols = sorted(stream.columns)
    a = sorted(map(repr, stream[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, finalized[cols].itertuples(index=False, name=None)))
    assert a == b


def test_stateful_funnel_matches_batch(spark, sf_dir):
    """applyInPandasWithState funnel == batch time-bounded self-join."""
    from flink_framework_spark.registry import all_queries

    batch_n = all_queries()["q_funnel"].fn(spark, sf_dir).collect()[0]["n_users"]
    sdf = read_events_stream(spark, sf_dir)
    out = run_to_memory(
        funnel_conversions(sdf), query_name="t_funnel", output_mode="update"
    )
    stream_n = out.select("user_id").distinct().count()
    assert stream_n == batch_n


def test_join_form_funnel_equals_state_machine(spark, sf_dir):
    """The JVM join-form funnel (chained stream-stream interval join +
    watermarked dedup) emits exactly the state-machine funnel's
    conversion set — the equivalence that licenses the decision rule
    (fixed chains -> joins; quantifiers/skip -> NFA)."""
    from flink_framework_spark.streaming.stateful import (
        funnel_conversions_join,
    )

    sdf = read_events_stream(spark, sf_dir)
    state_out = run_to_memory(
        funnel_conversions(sdf), query_name="t_funnel_sm",
        output_mode="update",
    ).toPandas()
    jdf = read_events_stream(spark, sf_dir)
    join_out = run_to_memory(
        funnel_conversions_join(jdf), query_name="t_funnel_join",
        output_mode="append",
    ).toPandas()
    # both emit (user_id, purchase_ts); the state twin declares NTZ,
    # the join form instants — compare through UTC rendering
    import pandas as pd

    def key(df):
        ts = pd.to_datetime(df["purchase_ts"])
        if getattr(ts.dt, "tz", None) is not None:
            ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
        return sorted(zip(df["user_id"], ts.astype(str)))

    assert len(join_out) > 0
    assert key(join_out) == key(state_out)


def test_restart_is_idempotent(spark, sf_dir, tmp_path):
    """Checkpointed availableNow run twice: second run adds no rows
    (exactly-once sink contract, SURVEY.md §2 I10)."""
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        sdf = read_events_stream(spark, sf_dir, with_watermark="10 minutes")
        q = (
            hourly_tumble(sdf)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, q.name or "t_stream", timeout_sec=120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    run_once()
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 > 0


def test_foreach_batch_idempotent_sink(spark, sf_dir, tmp_path):
    """The exactly-once production sink pattern: foreachBatch writing
    batchId-keyed directories — a replayed batch overwrites instead of
    duplicating (SURVEY.md §2 I10 / §3.2)."""
    out_dir = str(tmp_path / "fb_out")
    ckpt = str(tmp_path / "fb_ckpt")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    def run_once():
        sdf = read_events_stream(spark, sf_dir, with_watermark="10 minutes")
        q = (
            hourly_tumble(sdf)
            .writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, q.name or "t_stream", timeout_sec=120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    run_once()  # replay: no new batches, nothing duplicated
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2 > 0


def test_late_data_side_output_matches_oracle_late_set(spark, sf_dir):
    """late_data_split's late side == q_stream_late's counted set
    (the parity op for Flink's side-output; Spark streaming drops)."""
    from flink_framework_spark.operators.streaming_ops import late_data_split
    from flink_framework_spark.io import table as t
    from flink_framework_spark.registry import all_queries

    ev = t(spark, sf_dir, "events").withColumn(
        "arrival",
        F.col("ts") + F.expr("make_dt_interval(0, 0, CAST(3*(event_id % 10) AS INT), 0)"),
    )
    on_time, late = late_data_split(ev, ["arrival", "event_id"], "10 minutes")
    assert on_time.count() + late.count() == ev.count()
    got = {
        (r["event_type"], r["n"])
        for r in late.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want = {
        (r["event_type"], r["n_late"])
        for r in all_queries()["q_stream_late"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_changelog_stream_matches_batch_compaction(spark, sf_dir):
    """Streaming upsert materialization (keyed state) == batch
    compact_changelog: take each key's LAST emitted row, drop
    tombstones, compare against q_changelog_compact."""
    from pyspark.sql import functions as F

    from flink_framework_spark.functions.helpers import round_duck
    from flink_framework_spark.registry import all_queries
    from flink_framework_spark.streaming.stateful import changelog_materialize

    batch = all_queries()["q_changelog_compact"].fn(spark, sf_dir).toPandas()

    sdf = read_events_stream(spark, sf_dir)
    raw = run_to_memory(
        changelog_materialize(sdf), query_name="t_changelog", output_mode="update"
    )
    # update-mode memory sink may hold one row per key per batch; the
    # materialized table is each key's row with the highest version
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_versions").desc())
    stream = (
        raw.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("last_op") != "error"))
        .select(
            "user_id",
            F.date_format(
                F.convert_timezone(None, F.lit("UTC"), F.col("last_ts")),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("last_ts"),
            "last_op",
            round_duck(F.col("last_value"), 2).alias("last_value"),
            "n_versions",
        )
        .toPandas()
    )
    cols = sorted(batch.columns)
    a = sorted(map(repr, stream[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, batch[cols].itertuples(index=False, name=None)))
    assert a == b


def test_stateful_negated_funnel_matches_batch(spark, sf_dir):
    """applyInPandasWithState CEP negation == batch anti-join spelling
    (q_cep_negation): same distinct converting users, and never more
    than the unnegated funnel."""
    from flink_framework_spark.registry import all_queries
    from flink_framework_spark.streaming.stateful import (
        negated_funnel_conversions,
    )

    qs = all_queries()
    batch_n = qs["q_cep_negation"].fn(spark, sf_dir).collect()[0]["n_users"]
    plain_n = qs["q_funnel"].fn(spark, sf_dir).collect()[0]["n_users"]
    sdf = read_events_stream(spark, sf_dir)
    out = run_to_memory(
        negated_funnel_conversions(sdf),
        query_name="t_neg_funnel",
        output_mode="update",
    )
    stream_n = out.select("user_id").distinct().count()
    assert stream_n == batch_n
    assert batch_n <= plain_n


def test_state_rescale_pins_original_partitioning(spark, sf_dir, tmp_path):
    """Savepoint/rescale parity evidence (SURVEY.md §2 I10 honesty
    note): Flink savepoints can be restored with a DIFFERENT
    parallelism (state is re-sharded by key group); Spark pins the
    stateful operator's shuffle-partition count in the checkpoint at
    first run. This test documents that behavior with evidence: a
    checkpointed aggregation restarted under a different
    spark.sql.shuffle.partitions keeps the ORIGINAL state partition
    count (and stays correct) — rescaling state in Spark requires an
    offline state rewrite (e.g. the state data source reader), not a
    restart flag."""
    out_rows: list = []
    ckpt = str(tmp_path / "ckpt")
    src = tmp_path / "src"
    src.mkdir()
    conf = spark.conf
    orig = conf.get("spark.sql.shuffle.partitions")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    schema = ev.schema

    def stage(half: int) -> None:
        ev.filter(F.col("event_id") % 2 == half).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run_once(n_parts: str):
        conf.set("spark.sql.shuffle.partitions", n_parts)
        try:
            sdf = spark.readStream.schema(schema).parquet(str(src))
            agg = sdf.groupBy("event_type").count()
            q = (
                agg.writeStream.format("memory")
                .queryName("t_rescale")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            await_drain(q, q.name or "t_stream", timeout_sec=120)
            state_parts = [
                p["stateOperators"][0]["numShufflePartitions"]
                for p in q.recentProgress
                if p and p.get("stateOperators")
            ]
            out_rows.append(
                (
                    spark.table("t_rescale").toPandas(),
                    max(state_parts) if state_parts else None,
                )
            )
        finally:
            conf.set("spark.sql.shuffle.partitions", orig)

    stage(0)
    run_once("4")
    stage(1)  # new data so the restarted query actually runs a batch
    run_once("16")  # restart same checkpoint under different setting
    (df1, parts1), (df2, parts2) = out_rows
    assert parts1 == 4
    # the checkpoint pins the original count — no silent rescale
    assert parts2 == 4
    # and the restarted query is still CORRECT (complete-mode counts
    # over both staged halves match the batch groupBy)
    batch = ev.groupBy("event_type").count().toPandas()
    a = sorted(map(tuple, df2[["event_type", "count"]].itertuples(index=False)))
    b = sorted(map(tuple, batch.itertuples(index=False)))
    assert a == b


def test_negated_funnel_multibatch_late_purchase(spark, tmp_path):
    """Regression for the eager-invalidation bug: a click processed in
    batch 1 must not destroy view state that a purchase arriving in
    batch 2 with an EARLIER event time still needs. With clicks kept
    in state, the stream matches the batch anti-join on a planted
    timeline split adversarially across micro-batches."""
    from flink_framework_spark.operators.cep import match_sequence_negated
    from flink_framework_spark.streaming.stateful import (
        negated_funnel_conversions,
    )

    schema = "user_id long, event_id long, ts timestamp, event_type string"

    def frame(rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-01 10:{m:02d}:00", t) for (u, e, m, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id",
            "event_id",
            "CAST(ts AS timestamp) AS ts",
            "event_type",
        )

    # user 1: view(0), click(20) in batch 1; purchase(10) arrives in
    # batch 2 (out-of-order across batches). No click in (0,10) ->
    # MUST convert. user 2: view(0), click(5) in batch 1; purchase(10)
    # in batch 2 -> click between -> must NOT convert.
    batch1 = [
        (1, 1, 0, "view"),
        (1, 2, 20, "click"),
        (2, 3, 0, "view"),
        (2, 4, 5, "click"),
    ]
    batch2 = [
        (1, 5, 10, "purchase"),
        (2, 6, 10, "purchase"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    frame(batch1).coalesce(1).write.mode("append").parquet(str(src))
    frame(batch2).coalesce(1).write.mode("append").parquet(str(src))

    sdf = (
        spark.readStream.schema(frame(batch1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        negated_funnel_conversions(sdf),
        query_name="t_neg_multibatch",
        output_mode="update",
    )
    got = sorted(r["user_id"] for r in out.select("user_id").collect())
    assert got == [1]
    # and the batch spelling agrees on the union of both batches
    both = frame(batch1).unionByName(frame(batch2))
    batch_users = sorted(
        r["user_id"]
        for r in match_sequence_negated(
            both, ["view", "purchase"], "click", "30 MINUTES"
        )
        .select("user_id")
        .distinct()
        .collect()
    )
    assert batch_users == [1]


def test_funnel_sorts_the_whole_call_across_arrow_chunks(spark, tmp_path):
    """Spark hands a key's micro-batch to the state function in Arrow
    chunks of at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows. One user's purchase row arrives BEFORE its view inside one
    micro-batch: sorting chunk by chunk would feed the purchase first
    and miss the conversion under one-row chunks. The funnel must
    emit the same rows under both chunkings."""
    src = tmp_path / "src"
    spark.createDataFrame(
        [(1, 1, "2024-01-01 10:10:00", "purchase"),
         (1, 2, "2024-01-01 10:00:00", "view"),
         (1, 3, "2024-01-01 10:20:00", "purchase")],
        "user_id long, event_id long, ts string, event_type string",
    ).selectExpr(
        "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "event_type"
    ).coalesce(1).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema

    def drain(name):
        sdf = spark.readStream.schema(schema).parquet(str(src))
        out = run_to_memory(
            funnel_conversions(sdf), query_name=name, output_mode="update"
        )
        return sorted(map(tuple, out.collect()))

    default = drain("t_funnel_chunks_default")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "1")
    try:
        one_row_chunks = drain("t_funnel_chunks_one")
    finally:
        spark.conf.set(conf, old)
    assert len(default) == 2
    assert one_row_chunks == default


def test_stateful_times_matches_batch(spark, sf_dir):
    """applyInPandasWithState quantifier twin == batch match_times:
    identical (user, run, n_reps) match sets, compared at microsecond
    precision."""
    from flink_framework_spark.operators.cep import match_times
    from flink_framework_spark.streaming.stateful import times_matches

    def utc(df, col):
        # stream emits TIMESTAMP instants; batch emits NTZ (UTC wall).
        # Render both to the same UTC string (the _fmt_event_time
        # convention, applied to the named column's own type).
        c = F.col(col)
        if df.schema[col].dataType.simpleString() == "timestamp":
            c = F.convert_timezone(None, F.lit("UTC"), c)
        return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

    batch_df = match_times(
        table(spark, sf_dir, "events"), "click", "purchase", 2, 3, "12 HOURS"
    )
    batch = batch_df.select(
        "user_id",
        utc(batch_df, "ts_first").alias("f"),
        utc(batch_df, "ts_last").alias("l"),
        "n_reps",
    ).toPandas()
    sdf = read_events_stream(spark, sf_dir)
    out_df = run_to_memory(
        times_matches(sdf), query_name="t_times", output_mode="update"
    )
    out = out_df.select(
        "user_id",
        utc(out_df, "ts_first").alias("f"),
        utc(out_df, "ts_last").alias("l"),
        "n_reps",
    ).toPandas()

    def canon(df):
        return sorted(map(repr, df.itertuples(index=False, name=None)))

    assert len(batch) > 0
    assert canon(out) == canon(batch)


def test_stateful_greedy_matches_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState greedy-oneOrMore twin == batch
    match_one_or_more on the fixture events: identical
    (user, run, n_reps) match sets. Greedy runs only close on the next
    out-of-gap step event, so a second micro-batch of far-future
    sentinel clicks closes each user's final run — the repo's
    watermark-sentinel convention."""
    from flink_framework_spark.operators.cep import match_one_or_more
    from flink_framework_spark.streaming.stateful import greedy_matches

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    src = tmp_path / "src"
    ev.coalesce(1).write.parquet(str(src))
    sentinel = (
        ev.groupBy("user_id")
        .agg((F.max("ts") + F.expr("INTERVAL 60 DAYS")).alias("ts"))
        .withColumn("event_id", F.lit(10**9) + F.col("user_id"))
        .withColumn("event_type", F.lit("click"))
        .select("user_id", "ts", "event_id", "event_type")
    )
    sentinel.coalesce(1).write.mode("append").parquet(str(src))

    batch = (
        match_one_or_more(ev, "click", "purchase", "24 HOURS", "7 DAYS")
        .select(
            "user_id",
            F.date_format("ts_first", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("f"),
            F.date_format("ts_last", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("l"),
            "n_reps",
        )
        .toPandas()
    )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        greedy_matches(sdf), query_name="t_greedy", output_mode="update"
    ).select(
        "user_id",
        F.date_format("ts_first", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("f"),
        F.date_format("ts_last", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("l"),
        "n_reps",
    ).toPandas()

    def canon(df):
        return sorted(map(repr, df.itertuples(index=False, name=None)))

    assert len(batch) > 0
    assert canon(out) == canon(batch)


def test_stateful_greedy_closes_run_only_when_gap_passes(spark, tmp_path):
    """Planted cross-batch timeline: a purchase buffered past the open
    run's end must NOT emit while the run can still extend — batch 2
    extends the run over the purchase (no match); batch 3's out-of-gap
    click closes the run and emits only the still-valid match."""
    from flink_framework_spark.streaming.stateful import greedy_matches

    def frame(rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-01 10:{m:02d}:00", t) for (u, e, m, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id",
            "CAST(ts AS timestamp) AS ts",
            "event_id",
            "event_type",
        )

    # user 1: clicks 0,2 | purchase 3, click 4 (extends OVER the
    # purchase -> discarded) | click 30 closes run (0..4, n=3): no
    # follower left -> nothing. user 2: click 0 | purchase 3 | click 30
    # closes run (0..0, n=1) -> purchase 3 matches -> ONE row.
    b1 = [(1, 1, 0, "click"), (1, 2, 2, "click"), (2, 10, 0, "click")]
    b2 = [(1, 3, 3, "purchase"), (1, 4, 4, "click"), (2, 11, 3, "purchase")]
    b3 = [(1, 5, 30, "click"), (2, 12, 30, "click")]
    src = tmp_path / "src"
    for b in (b1, b2, b3):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        greedy_matches(sdf, max_gap_s=5 * 60, horizon_s=60 * 60),
        query_name="t_greedy_planted",
        output_mode="update",
    )
    rows = sorted(
        (r["user_id"], r["ts_first"].minute, r["ts_last"].minute, r["n_reps"])
        for r in out.collect()
    )
    assert rows == [(2, 0, 0, 1)]


def test_stateful_count_window_matches_batch(spark, sf_dir):
    """Streaming countWindow twin == batch q_stream_count_window on
    the fixture (single micro-batch: every window emits once with its
    final totals)."""
    from flink_framework_spark.queries.streaming_batch import (
        q_stream_count_window,
    )
    from flink_framework_spark.streaming.stateful import count_windows

    batch = (
        q_stream_count_window(spark, sf_dir)
        .select("user_id", "win_id", "n", "sumv")
        .toPandas()
    )
    sdf = read_events_stream(spark, sf_dir)
    out = (
        run_to_memory(
            count_windows(sdf, 20), query_name="t_cw", output_mode="update"
        )
        .select(
            "user_id", "win_id", "n", F.round("sumv", 2).alias("sumv")
        )
        .toPandas()
    )

    def canon(df):
        return sorted(map(repr, df.itertuples(index=False, name=None)))

    assert len(batch) > 0
    assert canon(out) == canon(batch)


def test_stateful_count_window_continues_across_batches(spark, tmp_path):
    """A window that straddles micro-batches keeps counting: 7 events
    split 4+3 with size 3 -> windows (3, 3, 1); the open window
    re-emits with its running totals (update semantics) and the LAST
    emission per window carries the final totals."""
    from flink_framework_spark.streaming.stateful import count_windows

    def frame(rows):
        return spark.createDataFrame(
            [
                (1, e, f"2024-01-01 10:{m:02d}:00", float(v))
                for (e, m, v) in rows
            ],
            "user_id long, event_id long, ts string, value double",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "value"
        )

    b1 = [(1, 0, 1), (2, 1, 2), (3, 2, 4), (4, 3, 8)]
    b2 = [(5, 4, 16), (6, 5, 32), (7, 6, 64)]
    src = tmp_path / "src"
    for b in (b1, b2):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        count_windows(sdf, 3), query_name="t_cw_multi", output_mode="update"
    ).toPandas()
    # last emission per window wins
    final = {}
    for r in out.itertuples(index=False):
        final[(r.user_id, r.win_id)] = (r.n, r.sumv)
    assert final == {
        (1, 0): (3, 7.0),       # events 1+2+4, closed in batch 1
        (1, 1): (3, 8 + 16 + 32.0),  # straddles: partial (1, 8.0) then full
        (1, 2): (1, 64.0),      # open at stream end
    }
    # and the straddling window re-emitted: batch 1 saw it partial
    w1_emissions = [
        (r.n, r.sumv) for r in out.itertuples(index=False) if r.win_id == 1
    ]
    assert (1, 8.0) in w1_emissions


def test_stateful_greedy_event_time_timer_closes_run(spark, tmp_path):
    """use_timeout=True: the run closes when the WATERMARK passes
    open_last + max_gap — no sentinel click for the key needed. key 1
    gets clicks + a buffered purchase in batch 1; batches 2 and 3
    carry only OTHER-key events whose timestamps drag the watermark
    past the gap, so key 1's timer fires and emits the match."""
    from flink_framework_spark.streaming.stateful import greedy_matches

    def frame(rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-01 {h:02d}:{m:02d}:00", t) for (u, e, h, m, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id",
            "CAST(ts AS timestamp) AS ts",
            "event_id",
            "event_type",
        )

    # gap 5 min, horizon 60 min. key 1: clicks 10:00, 10:02; purchase
    # 10:03 buffered (> open_last). Timer armed at 10:07.
    b1 = [(1, 1, 10, 0, "click"), (1, 2, 10, 2, "click"), (1, 3, 10, 3, "purchase")]
    # key 2 event at 10:30 -> end-of-batch watermark 10:30 > 10:07
    b2 = [(2, 10, 10, 30, "click")]
    # batch 3 evaluates timeouts against the 10:30 watermark -> fire
    b3 = [(2, 11, 10, 31, "click")]
    src = tmp_path / "src"
    for b in (b1, b2, b3):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
    )
    out = run_to_memory(
        greedy_matches(sdf, max_gap_s=5 * 60, horizon_s=60 * 60, use_timeout=True),
        query_name="t_greedy_timer",
        output_mode="update",
    )
    rows = sorted(
        (r["user_id"], r["ts_first"].minute, r["ts_last"].minute, r["n_reps"])
        for r in out.collect()
    )
    assert rows == [(1, 0, 2, 2)]


def test_times_same_timestamp_runs_are_distinct_matches(spark, tmp_path):
    """Review regression: three same-timestamp clicks are THREE lag
    rows in batch match_times (two 2-rep runs + one 3-rep run, keyed
    by ending event) — the streaming twin must emit per ending event,
    not collapse value-identical runs."""
    from flink_framework_spark.operators.cep import match_times
    from flink_framework_spark.streaming.stateful import times_matches

    def frame(rows):
        return spark.createDataFrame(
            [(1, e, f"2024-01-01 {h:02d}:00:00", t) for (e, h, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "event_type"
        )

    rows = [(1, 10, "click"), (2, 10, "click"), (3, 10, "click"), (4, 11, "purchase")]
    batch = match_times(frame(rows), "click", "purchase", 2, 3, "12 HOURS")
    counts = sorted(r["n_reps"] for r in batch.collect())
    assert counts == [2, 2, 3]

    src = tmp_path / "src"
    frame(rows).coalesce(1).write.parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(rows).schema)
        .parquet(str(src))
    )
    out = run_to_memory(
        times_matches(sdf), query_name="t_times_ties", output_mode="update"
    )
    assert sorted(r["n_reps"] for r in out.collect()) == [2, 2, 3]


def test_times_disorder_allowance_keeps_late_match(spark, tmp_path):
    """Review regression: a purchase arriving one micro-batch later
    with an EARLIER event time must still find its run when the
    disorder allowance covers the lag; with the default 0 allowance
    the high-water-mark trim evicts the run (the in-order contract)."""
    from flink_framework_spark.streaming.stateful import times_matches

    def frame(rows):
        return spark.createDataFrame(
            [(1, e, f"2024-01-01 {h:02d}:00:00", t) for (e, h, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "event_type"
        )

    # batch 1: clicks 00h, 01h, then a click at 20h that drags the
    # high-water mark 12h past the early run; batch 2: late purchase
    # with event time 05h — inside (01h, 00h+12h]
    b1 = [(1, 0, "click"), (2, 1, "click"), (3, 20, "click")]
    b2 = [(4, 5, "purchase")]
    for allowance, expect in ((15 * 3600.0, [2]), (0.0, [])):
        src = tmp_path / f"src_{int(allowance)}"
        for b in (b1, b2):
            frame(b).coalesce(1).write.mode("append").parquet(str(src))
        sdf = (
            spark.readStream.schema(frame(b1).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        out = run_to_memory(
            times_matches(sdf, 2, 2, 12 * 3600, disorder_s=allowance),
            query_name=f"t_times_dis_{int(allowance)}",
            output_mode="update",
        )
        assert sorted(r["n_reps"] for r in out.collect()) == expect


def _render_match_cols(df, n):
    """Render ts_0..ts_{n-1}/id_i to UTC strings + ids — shared by the
    chain-twin equivalence tests (handles both NTZ batch and instant
    stream timestamp types, the _fmt_event_time convention)."""
    cols = [F.col("user_id")]
    for i in range(n):
        c = F.col(f"ts_{i}")
        if df.schema[f"ts_{i}"].dataType.simpleString() == "timestamp":
            c = F.convert_timezone(None, F.lit("UTC"), c)
        cols.append(
            F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(f"f{i}")
        )
        cols.append(F.col(f"id_{i}"))
    return df.select(*cols).toPandas()


def test_stateful_sequence_matches_batch(spark, sf_dir):
    """Generic n-step chain twin == batch match_sequence
    (followedByAny) on the fixture: identical complete-match sets
    (every ts_i/id_i) at microsecond precision."""
    from flink_framework_spark.operators.cep import match_sequence
    from flink_framework_spark.streaming.stateful import sequence_matches

    steps = ["view", "click", "purchase"]

    render = lambda df: _render_match_cols(df, len(steps))

    batch = render(
        match_sequence(
            table(spark, sf_dir, "events"), steps, "12 HOURS"
        )
    )
    sdf = read_events_stream(spark, sf_dir)
    out = render(
        run_to_memory(
            sequence_matches(sdf, steps, 12 * 3600),
            query_name="t_seq",
            output_mode="update",
        )
    )

    def canon(df):
        return sorted(map(repr, df.itertuples(index=False, name=None)))

    assert len(batch) > 0
    assert canon(out) == canon(batch)


def test_stateful_sequence_continues_across_batches(spark, tmp_path):
    """A partial match started in batch 1 completes in batch 2; a
    repeated-type chain (click -> click -> purchase) chains distinct
    events only (strict event-time order, no self-chaining)."""
    from flink_framework_spark.streaming.stateful import sequence_matches

    def frame(rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-01 10:{m:02d}:00", t) for (u, e, m, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts", "event_type"
        )

    b1 = [(1, 1, 0, "click"), (1, 2, 2, "click")]
    b2 = [(1, 3, 5, "purchase"), (2, 10, 5, "purchase")]
    src = tmp_path / "src"
    for b in (b1, b2):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        sequence_matches(sdf, ["click", "click", "purchase"], 3600.0),
        query_name="t_seq_multi",
        output_mode="update",
    )
    rows = sorted(
        (r["user_id"], r["id_0"], r["id_1"], r["id_2"])
        for r in out.collect()
    )
    # only the (click 1 -> click 2 -> purchase 3) chain: no
    # self-chaining, and user 2's purchase has no prefix
    assert rows == [(1, 1, 2, 3)]


def test_stateful_sequence_negated_matches_batch(spark, sf_dir):
    """n-step chain twin with absent == batch match_sequence_negated
    on the fixture (view -> purchase, no click between)."""
    from flink_framework_spark.operators.cep import match_sequence_negated
    from flink_framework_spark.streaming.stateful import sequence_matches

    steps = ["view", "purchase"]

    render = lambda df: _render_match_cols(df, len(steps))

    batch = render(
        match_sequence_negated(
            table(spark, sf_dir, "events"), steps, "click", "12 HOURS"
        )
    )
    sdf = read_events_stream(spark, sf_dir)
    out = render(
        run_to_memory(
            sequence_matches(sdf, steps, 12 * 3600, absent="click"),
            query_name="t_seq_neg",
            output_mode="update",
        )
    )

    def canon(df):
        return sorted(map(repr, df.itertuples(index=False, name=None)))

    assert len(batch) > 0
    assert canon(out) == canon(batch)


def test_watermarked_cumulate_emits_finalized_panes(spark, sf_dir):
    """Flink CUMULATE firing semantics on the streaming side: each
    cumulative pane is keyed by its END boundary, the watermark lives
    on that boundary, and append mode emits exactly the panes the
    final watermark has closed — early-firing cumulative totals with
    bounded state (a pane's state is dropped the moment its
    15-minute bucket passes the watermark)."""
    from flink_framework_spark.functions.helpers import round_duck
    from flink_framework_spark.operators.streaming_ops import _fmt_event_time

    events = table(spark, sf_dir, "events")
    batch = cumulate_counts(events).toPandas()
    max_end = cumulate_exploded(events).agg(F.max("end_ts")).collect()[0][0]
    cutoff = max_end - pd.Timedelta(minutes=10)
    finalized = batch[
        pd.to_datetime(batch["wend"]) + pd.Timedelta(minutes=15) <= cutoff
    ]

    sdf = read_events_stream(spark, sf_dir)
    e = cumulate_exploded(sdf).withWatermark("end_ts", "10 minutes")
    agg = (
        e.groupBy("w", F.window("end_ts", "15 minutes").alias("pane"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_duck(F.sum("value"), 2).alias("sumv"),
        )
        .select(
            _fmt_event_time(sdf, F.col("w.start")).alias("wstart"),
            _fmt_event_time(sdf, F.col("pane.start")).alias("wend"),
            "n",
            "sumv",
        )
    )
    stream = run_to_memory(
        agg, query_name="t_wm_cumulate", output_mode="append"
    ).toPandas()
    assert 0 < len(stream) < len(batch)
    cols = sorted(stream.columns)
    a = sorted(map(repr, stream[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, finalized[cols].itertuples(index=False, name=None)))
    assert a == b


def test_stream_stream_window_join_matches_batch(spark, sf_dir):
    """Window-join TVF, true stream-stream form: clicks and purchases
    from the same watermarked stream, inner-joined on
    (1h window, user) — pair-identical to the batch window_join.
    The join key IS the aligned window, so state per window dies when
    the watermark passes its end (the Flink window-join pitch vs the
    interval join)."""
    ev = table(spark, sf_dir, "events")
    batch = (
        window_join(
            ev.filter(F.col("event_type") == "click"),
            ev.filter(F.col("event_type") == "purchase"),
        )
        .select("l_event_id", "r_event_id")
        .toPandas()
    )

    s = read_events_stream(spark, sf_dir, with_watermark="10 minutes")
    stream = run_to_memory(
        window_join(
            s.filter(F.col("event_type") == "click"),
            s.filter(F.col("event_type") == "purchase"),
        ).select("l_event_id", "r_event_id"),
        query_name="t_ss_window_join",
        output_mode="append",
    ).toPandas()
    cols = sorted(batch.columns)
    a = sorted(map(repr, stream[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, batch[cols].itertuples(index=False, name=None)))
    assert len(a) > 0 and a == b


def test_over_window_stream_matches_batch(spark, sf_dir, tmp_path):
    """Event-time OVER window (Flink rowtime over-aggregate): the
    streaming twin drains to EXACTLY the batch running aggregate once
    two watermark-sentinel batches push the watermark past the data
    and fire the re-fire timers — per-row running count/sum in
    (ts, event_id) order, bit-equal float accumulation (same total
    order, same IEEE add sequence)."""
    import shutil

    from pyspark.sql import Window
    from flink_framework_spark.io import _normalize_events_ts
    from flink_framework_spark.streaming.stateful import over_window_running

    events = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    batch = events.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ets"),
        "event_id",
        F.row_number().over(w).cast("long").alias("run_n"),
        F.sum("value").over(w).alias("run_sum"),
    ).toPandas()

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    for i, day in enumerate(("2099-01-01", "2099-01-02")):
        sent = raw.limit(1).select(
            F.lit(-1000 - i).alias("event_id"),
            F.lit(day).cast(raw.schema["ts"].dataType).alias("ts"),
            F.lit(-1).alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        sent.coalesce(1).write.mode("append").parquet(str(src))

    sdf = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sdf = _normalize_events_ts(sdf, as_instant=True).withWatermark(
        "ts", "10 minutes"
    )
    out = run_to_memory(
        over_window_running(sdf), query_name="t_over_win", output_mode="update"
    )
    stream = (
        out.filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format(
                F.convert_timezone(None, F.lit("UTC"), F.col("ts")),
                "yyyy-MM-dd HH:mm:ss.SSSSSS",
            ).alias("ets"),
            "event_id",
            "run_n",
            "run_sum",
        )
        .toPandas()
    )
    assert len(stream) == len(batch)
    cols = sorted(batch.columns)
    a = sorted(map(repr, stream[cols].itertuples(index=False, name=None)))
    b = sorted(map(repr, batch[cols].itertuples(index=False, name=None)))
    assert a == b


def test_over_window_late_row_slots_in_order(spark, tmp_path):
    """A row arriving in a LATER batch but still above the watermark
    must slot into its event-time ordinal position: the buffered
    10:20 row is NOT emitted before the late-arriving 10:05 row, so
    the running totals are disorder-proof (the reason Flink's rowtime
    over-window is watermark-gated at all)."""
    from flink_framework_spark.streaming.stateful import over_window_running

    def frame(rows):
        return spark.createDataFrame(
            [(e, f"2024-01-01 {h:02d}:{m:02d}:00", u, v) for (u, e, h, m, v) in rows],
            "event_id long, ts string, user_id long, value double",
        ).selectExpr(
            "user_id",
            "CAST(ts AS timestamp) AS ts",
            "event_id",
            "value",
        )

    b1 = [(1, 1, 10, 0, 1.0), (1, 3, 10, 20, 4.0)]
    b2 = [(1, 2, 10, 5, 2.0)]          # late vs max ts, above watermark
    b3 = [(9, 90, 11, 0, 0.0)]         # sentinel: watermark -> 10:50
    b4 = [(9, 91, 11, 30, 0.0)]        # fires user 1's 10:20 timer
    src = tmp_path / "src"
    for b in (b1, b2, b3, b4):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
    )
    out = run_to_memory(
        over_window_running(sdf), query_name="t_over_late", output_mode="update"
    )
    rows = [
        (r["ts"].minute, r["event_id"], r["run_n"], r["run_sum"])
        for r in out.filter(F.col("user_id") == 1).collect()
    ]
    assert sorted(rows) == [(0, 1, 1, 1.0), (5, 2, 2, 3.0), (20, 3, 3, 7.0)]


def test_over_flush_strictly_below_watermark():
    """The rowtime OVER twin must NOT emit a row at exactly
    ts == watermark: Spark still admits a late row at that exact
    timestamp, and a same-ts row with a smaller event_id sorts
    BEFORE the already-emitted one — emitting early would break the
    batch (ts, event_id) ordinal order. Driven directly through the
    step through the harness with the shared fake GroupState."""
    from flink_framework_spark.streaming.stateful import (
        _OVER_STATE_SCHEMA,
        make_over_window_step,
    )
    from tests.fake_state import FakeState, call

    step = make_over_window_step()
    T = 1_700_000_000
    st = FakeState(T * 1000, _OVER_STATE_SCHEMA)
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime([T], unit="s"), "event_id": [2],
         "value": [5.0]}
    )
    out = call(step, st, (1,), [pdf], timed=True)
    assert out == [] and st.exists  # ts == wm: buffered, not emitted
    assert st.timer is not None and st.timer > T * 1000

    # the tie row (same ts, smaller event_id) arrives; wm passes T
    st.wm_ms = (T + 1) * 1000
    pdf2 = pd.DataFrame(
        {"ts": pd.to_datetime([T], unit="s"), "event_id": [1],
         "value": [7.0]}
    )
    (rows,) = call(step, st, (1,), [pdf2], timed=True)
    assert list(rows.event_id) == [1, 2]
    assert list(rows.run_n) == [1, 2]
    assert list(rows.run_sum) == [7.0, 12.0]


def test_stream_dynamic_session_equals_batch(spark, sf_dir):
    """Dynamic per-event session gap (Flink's
    SessionWindowTimeGapExtractor, purchases 10 min / others 30):
    the same gap EXPRESSION runs as a streaming keyed aggregation and
    drains to exactly the batch windows — union-of-intervals merge
    with window end = MAX(ts+gap), state handled by Spark's session
    store, no custom state code."""
    from flink_framework_spark.operators.streaming_ops import (
        dynamic_session_windows,
    )

    batch = dynamic_session_windows(table(spark, sf_dir, "events"))
    stream = run_to_memory(
        dynamic_session_windows(read_events_stream(spark, sf_dir)),
        query_name="t_dyn_session",
        output_mode="complete",
    )
    a = sorted(map(tuple, stream.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) > 0


def test_greedy_disorder_reorders_late_click_into_its_run(spark, tmp_path):
    """Round 10: the reorder-buffered greedy driver. A click arriving
    one micro-batch LATER with an EARLIER event time must extend the
    run it belongs to when the allowance covers the lag; the in-order
    driver (disorder_s=0) would mis-split the run. Timeline (hours):
    clicks 00, 02 arrive in batch 1 SPLIT AROUND a click at 01 that
    arrives in batch 2; purchase 03 and the two release/close
    sentinels arrive last."""
    from flink_framework_spark.streaming.stateful import greedy_matches

    def frame(rows):
        return spark.createDataFrame(
            [(1, e, f"2024-01-01 {h:02d}:00:00", t) for (e, h, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts",
            "event_type",
        )

    b1 = [(0, 0, "click"), (2, 2, "click")]
    b2 = [(1, 1, "click")]  # late: event time BETWEEN batch 1's clicks
    b3 = [(3, 3, "purchase")]
    # sentinel A closes the run once RELEASED; sentinel B releases A
    b4 = [(90, 18, "click")]
    b5 = [(91, 23, "click")]
    src = tmp_path / "greedy_dis"
    for b in (b1, b2, b3, b4, b5):
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(b1).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        greedy_matches(
            sdf,
            max_gap_s=90 * 60,  # 1.5h gap: 00-01-02 is ONE run only
            horizon_s=6 * 3600,  # with the late click in sequence
            disorder_s=2 * 3600.0,
        ),
        query_name="t_greedy_dis",
        output_mode="update",
    )
    rows = [(r["n_reps"],) for r in out.collect()]
    # one maximal run of ALL THREE clicks, matched by the purchase
    assert rows == [(3,)]


def test_greedy_disorder_drains_equal_to_batch_on_shuffled_arrival(
    spark, tmp_path
):
    """Arrival order scrambled across micro-batches (one file per
    event) with a covering allowance == batch match_one_or_more on
    the same timeline."""
    import random

    from flink_framework_spark.operators.cep import match_one_or_more
    from flink_framework_spark.streaming.stateful import greedy_matches

    rng = random.Random(42)
    rows = []
    eid = 0
    for u in (1, 2):
        for h in (0, 1, 3, 4, 8):
            rows.append((u, eid, h, "click"))
            eid += 1
        rows.append((u, eid, 5, "purchase"))
        eid += 1
        rows.append((u, eid, 9, "purchase"))
        eid += 1

    def frame(rws):
        return spark.createDataFrame(
            [
                (u, e, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00", t)
                for (u, e, h, t) in rws
            ],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts",
            "event_type",
        )

    batch = match_one_or_more(
        frame(rows).selectExpr(
            "user_id", "event_id",
            "CAST(ts AS timestamp_ntz) AS ts", "event_type",
        ),
        "click", "purchase", "90 MINUTES", "6 HOURS",
    ).select("user_id", "n_reps")
    want = sorted(
        (r["user_id"], r["n_reps"]) for r in batch.collect()
    )
    assert want  # the timeline matches by construction

    shuffled = rows[:]
    rng.shuffle(shuffled)
    # two trailing sentinels per user: A closes final runs when
    # released, B releases A (the disorder driver's drain rule)
    # B must trail A by >= disorder_s, or A itself is never released
    tail = [(u, 100 + u, 60, "click") for u in (1, 2)] + [
        (u, 110 + u, 90, "click") for u in (1, 2)
    ]
    src = tmp_path / "greedy_shuffled"
    for r in shuffled + tail:
        frame([r]).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(rows).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        greedy_matches(
            sdf,
            max_gap_s=90 * 60,
            horizon_s=6 * 3600,
            disorder_s=24 * 3600.0,  # covers any arrival scramble
        ),
        query_name="t_greedy_shuf",
        output_mode="update",
    )
    got = sorted((r["user_id"], r["n_reps"]) for r in out.collect())
    assert got == want


def test_greedy_disorder_timeout_mutually_exclusive(spark, sf_dir):
    from flink_framework_spark.streaming.stateful import greedy_matches

    sdf = read_events_stream(spark, sf_dir, with_watermark="1 hour")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="mutually exclusive"):
        greedy_matches(sdf, use_timeout=True, disorder_s=60.0)


def test_times_disorder_reorders_late_click_into_its_run(spark, tmp_path):
    """Round 10: the reorder-buffered times driver. A STEP event
    arriving a micro-batch later with an event time BETWEEN two
    already-arrived clicks must land in sequence — the in-order
    driver appends it behind them and mislabels the run's boundary
    timestamps. times(3,3) over clicks 00h/02h (batch 1) + 01h
    (batch 2) + purchase 03h must emit ONE run spanning 00h..02h."""
    from flink_framework_spark.streaming.stateful import times_matches

    def frame(rows):
        return spark.createDataFrame(
            [(1, e, f"2024-01-{1 + h // 24:02d} {h % 24:02d}:00:00", t)
             for (e, h, t) in rows],
            "user_id long, event_id long, ts string, event_type string",
        ).selectExpr(
            "user_id", "event_id", "CAST(ts AS timestamp) AS ts",
            "event_type",
        )

    batches = [
        [(0, 0, "click"), (2, 2, "click")],
        [(1, 1, "click")],
        [(3, 3, "purchase")],
        [(9, 30, "click")],  # sentinel: releases everything pending
    ]
    src = tmp_path / "times_dis_click"
    for b in batches:
        frame(b).coalesce(1).write.mode("append").parquet(str(src))
    sdf = (
        spark.readStream.schema(frame(batches[0]).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = run_to_memory(
        times_matches(
            sdf, 3, 3, 12 * 3600, disorder_s=4 * 3600.0
        ),
        query_name="t_times_dis_click",
        output_mode="update",
    )
    rows = [
        (r["n_reps"], r["ts_first"].hour, r["ts_last"].hour)
        for r in out.collect()
    ]
    # boundary hours are rendered in the session tz-naive instant;
    # compare the SPAN (last - first) which is tz-invariant
    spans = [(n, last - first) for (n, first, last) in rows]
    assert spans == [(3, 2)]
