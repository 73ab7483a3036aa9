"""Key buckets end to end (streaming.keyed): the key types each caller
passes survive the bucket state, a type it cannot carry fails at plan
build, the bucket count is fixed whatever the session's parallelism,
and a restart from a checkpoint under another shuffle-partition count
resumes every key's state."""

from __future__ import annotations

import datetime
import re

import pytest

from pyspark import SparkContext
from pyspark.sql import functions as F

from flink_framework_spark.streaming import keyed, mr, stateful, triggers
from flink_framework_spark.streaming.drain import await_drain
from flink_framework_spark.streaming.twins import run_to_memory

# beyond float64's exact integers: a bigint key that passed through
# float64 would come back as another key
BIG = 2**60
SCHEMA = ("user_id long, kind string, ts timestamp, event_id long,"
          " event_type string, value double")
T0 = datetime.datetime(2024, 3, 1, 10, 0)
USERS = [BIG + 1, BIG + 2, BIG + 3, None]
KINDS = ["a", "b", "ü", None]


def _rows(minute, event_type, first_id):
    """One event per (user, kind) pair at ``T0 + minute``."""
    ts = T0 + datetime.timedelta(minutes=minute)
    return [
        (u, k, ts, first_id + i, event_type, float(i))
        for i, (u, k) in enumerate(zip(USERS, KINDS))
    ]


# views, then purchases ten minutes later, then a row two days on
# that moves the watermark past every firing and window
BATCHES = [
    _rows(0, "view", 0),
    _rows(10, "purchase", 10),
    [(BIG + 9, "zzz", T0 + datetime.timedelta(days=2), 99, "x", 0.0)],
    [(BIG + 9, "zzz", T0 + datetime.timedelta(days=2, minutes=1), 100,
      "x", 0.0)],
]


def _lake(spark, path, batches):
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(path))


def _source(spark, path, watermark="1 minute"):
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(path))
    )
    return sdf if watermark is None else sdf.withWatermark("ts", watermark)


_MR_CLAUSE = """
    PARTITION BY user_id ORDER BY ts
    MEASURES A.event_id AS a_id, B.event_id AS b_id
    ONE ROW PER MATCH
    AFTER MATCH SKIP PAST LAST ROW
    PATTERN (A B)
    WITHIN INTERVAL '30' MINUTE
    DEFINE A AS A.event_type = 'view',
           B AS B.event_type = 'purchase'"""

# caller -> (build over the source, key column, its Spark type, the
# keys it must emit, watermark the source needs)
CALLERS = {
    "funnel_user_id": (
        lambda s: stateful.funnel_conversions(s), "user_id", "bigint",
        USERS, None,
    ),
    "mr_key_col": (
        lambda s: mr.match_recognize_stream(s, _MR_CLAUSE, engine="nfa"),
        "user_id", "bigint", USERS, "1 minute",
    ),
    "count_trigger": (
        lambda s: triggers.count_trigger_stream(s, n=1, key_col="kind"),
        "key", "string", KINDS, "1 minute",
    ),
    "continuous_trigger": (
        lambda s: triggers.continuous_trigger_stream(
            s, 600.0, 3600.0, key_col="kind"
        ),
        "key", "string", KINDS, "1 minute",
    ),
    "allowed_lateness": (
        lambda s: triggers.allowed_lateness_stream(
            s, 3600.0, 60.0, 600.0, key_col="kind"
        ),
        "key", "string", KINDS, None,
    ),
}


@pytest.mark.parametrize("name", sorted(CALLERS))
def test_emitted_keys_keep_their_values_and_types(
    spark, tmp_path, monkeypatch, name
):
    """Every key of the fixture, a null one included, shares one
    bucket (``KEY_BUCKETS`` 1, nulls in the null bucket) and comes
    out with its exact value and its Spark type."""
    build, col, typ, want, watermark = CALLERS[name]
    monkeypatch.setattr(keyed, "KEY_BUCKETS", 1)
    _lake(spark, tmp_path / "src", BATCHES)
    out = run_to_memory(
        build(_source(spark, tmp_path / "src", watermark)),
        f"keys_{name}", output_mode="update",
    )
    assert out.schema[col].dataType.simpleString() == typ
    got = {r[0] for r in out.select(col).collect()}
    assert got - {BIG + 9, "zzz"} == set(want)


def test_a_key_type_the_state_cannot_carry_fails_at_plan_build(spark):
    df = spark.range(3).select(
        F.current_date().alias("d"), F.col("id").alias("x")
    )
    with pytest.raises(
        ValueError,
        match="key column 'd' of type date is not supported in "
        "key-bucket state",
    ):
        keyed.keyed_process(
            df, ["d"], lambda *a: (None, None, None),
            out_schema="x long", state_schema="n long",
        )


def _modulus(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    (m,) = set(re.findall(
        r"pmod\(xxhash64\([^)]*\), cast\((\d+) as bigint\)\)", plan
    ))
    return int(m)


def test_bucket_count_ignores_partitions_and_parallelism(
    spark, tmp_path, monkeypatch
):
    _lake(spark, tmp_path / "src", BATCHES[:1])
    moduli = []
    for parts in ("8", "32"):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            moduli.append(_modulus(stateful.funnel_conversions(
                _source(spark, tmp_path / "src", None))))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    monkeypatch.setattr(
        SparkContext, "defaultParallelism", property(lambda sc: 128)
    )
    moduli.append(_modulus(stateful.funnel_conversions(
        _source(spark, tmp_path / "src", None))))
    assert moduli == [keyed.KEY_BUCKETS] * 3 == [64] * 3


def _funnel_batches():
    """Views of 40 users in two files, their purchases in two more: a
    conversion needs the view kept in its key's state."""
    users = [BIG + u for u in range(40)]
    files = []
    for minute, kind in ((0, "view"), (5, "view"), (10, "purchase"),
                         (15, "purchase")):
        ts = T0 + datetime.timedelta(minutes=minute)
        files.append([(u, "k", ts, minute * 100 + i, kind, 0.0)
                      for i, u in enumerate(users)])
    return files


def _drain_funnel(spark, src, checkpoint, sink):
    q = (
        stateful.funnel_conversions(_source(spark, src, None))
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(checkpoint))
        .foreachBatch(lambda df, _: sink.extend(map(tuple, df.collect())))
        .trigger(availableNow=True)
        .start()
    )
    try:
        await_drain(q, "restart")
    finally:
        if q.isActive:
            q.stop()


def test_restart_under_other_shuffle_partitions_resumes_key_state(
    spark, tmp_path
):
    files = _funnel_batches()
    whole = []
    _lake(spark, tmp_path / "whole", files)
    _drain_funnel(spark, tmp_path / "whole", tmp_path / "ck_whole", whole)

    split = []
    _lake(spark, tmp_path / "split", files[:2])
    _drain_funnel(spark, tmp_path / "split", tmp_path / "ck_split", split)
    assert split == []  # views only: every conversion needs the state
    _lake(spark, tmp_path / "split", files[2:])
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        _drain_funnel(spark, tmp_path / "split", tmp_path / "ck_split",
                      split)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(whole) == 80
    assert sorted(split) == sorted(whole)
