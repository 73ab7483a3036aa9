"""The key bucket's state cell (streaming.keyed.BucketCodec): every
state type round-trips exactly as its DDL declares it, a blob is
refused under another layout, and a keyed-state stream reuses its
generated code from one micro-batch to the next."""

from __future__ import annotations

import math
import shutil
import tempfile
import time

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from flink_framework_spark.streaming.keyed import (
    _STATE_ARRAY,
    BucketCodec,
    _bucket_schema,
)
from flink_framework_spark.streaming.temporal import (
    temporal_join_changelog_stream,
)

INF = float("inf")
NAN = float("nan")
F32 = [0.1, 1 / 3, 3.4028235677973366e38, 1e39, -1e39, 1e-46, 2.5, -0.0]

# Spark column type (a key or a state field) -> per-key values of it,
# nulls and the float edge cases included
VALUES = {
    "boolean": [True, None, False],
    "bigint": [2**63 - 1, None, -(2**63)],
    "int": [2**31 - 1, None, -(2**31)],
    "double": [NAN, None, INF, -INF, 1e-308, 0.1],
    "float": [NAN, None, INF, -INF, *F32],
    "string": ["ü", None, "", "日本語", "🙂 x"],
    # timestamps ride as epoch seconds, micros-exact
    "timestamp": [1_700_000_000.123456, None, -1.5],
    "timestamp_ntz": [1_700_000_000.000001, None],
}


def _same(a, b) -> bool:
    """Equal values of the same Python type, NaN equal to NaN, -0.0
    apart from 0.0, recursively through lists."""
    if type(a) is not type(b):
        return False
    if isinstance(a, list):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float):
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b)
        )
    return a == b


def _f32(v):
    """The float32 value Arrow stores for ``v``, as a Python float."""
    return None if v is None else pa.array([v], pa.float32())[0].as_py()


def _round_trip(types: dict, keys, state_schema: str, columns):
    codec = BucketCodec(_bucket_schema(types, keys, state_schema))
    return codec.decode(bytearray(codec.encode(columns)))


@pytest.mark.parametrize("typ", sorted(_STATE_ARRAY))
def test_every_state_array_type_round_trips_as_a_key_and_a_field(typ):
    values = VALUES[typ]
    n = len(values)
    elem = _STATE_ARRAY[typ][6:-1]
    want = [_f32(v) for v in values] if elem == "float" else values
    timers = [None, 5] * n
    got = _round_trip(
        {"k": typ}, ["k"], f"v {elem}, a array<{elem}>",
        [values, timers[:n], values, [values] * n],
    )
    assert _same(got, [want, timers[:n], want, [want] * n])


def test_nested_and_empty_arrays_round_trip():
    cols = [
        [1, 2, 3, 4],
        [None, None, 7, None],
        [[[]], [[NAN, None], None, [INF]], None, []],
        [[], ["ü", None, ""], None, ["x"]],
        [[[[True]]], None, [[[None]], []], [[]]],
    ]
    got = _round_trip(
        {"k": "bigint"}, ["k"],
        "aad array<array<double>>, as array<string>,"
        " aaab array<array<array<boolean>>>",
        cols,
    )
    assert _same(got, cols)


def test_float_fields_round_as_spark_rounds_them(spark):
    """A float field keeps the value Spark's own FloatType conversion
    of the same Python double gives."""
    spark_values = [
        r[0] for r in spark.createDataFrame(
            [(v,) for v in F32], "f float"
        ).collect()
    ]
    (_, _, got) = _round_trip(
        {"k": "bigint"}, ["k"], "f float",
        [list(range(len(F32))), [None] * len(F32), F32],
    )
    assert _same(got, spark_values)
    assert got[0] != 0.1  # rounded, not carried as the double


def test_numpy_scalars_in_a_step_state_are_stored_as_declared():
    import numpy as np

    got = _round_trip(
        {"k": "bigint"}, ["k"], "n long, d double, b boolean, a array<double>",
        [[np.int64(1)], [None], [np.int64(3)], [np.float64(NAN)],
         [np.bool_(True)], [np.array([1.5, NAN])]],
    )
    assert _same(got, [[1], [None], [3], [NAN], [True], [[1.5, NAN]]])


def test_the_cell_is_the_layout_then_one_arrow_message_typed_by_it():
    layout = _bucket_schema({"k": "timestamp"}, ["k"],
                            "f float, n int, a array<long>")
    cell = BucketCodec(layout).encode([[1.5], [None], [0.1], [2], [[3]]])
    written, nul, message = cell.partition(b"\0")
    assert (written.decode(), nul) == (layout, b"\0")
    # no pickle: any Arrow reader reads the message under this schema
    schema = pa.schema([
        ("__k0", pa.float64()), ("__timer", pa.int64()),
        ("f", pa.float32()), ("n", pa.int32()), ("a", pa.list_(pa.int64())),
    ])
    batch = pa.ipc.read_record_batch(message, schema)
    assert batch.num_rows == 1
    assert batch.to_pylist()[0]["a"] == [3]


def test_a_blob_under_another_layout_is_refused_naming_both():
    written = BucketCodec(_bucket_schema({"k": "bigint"}, ["k"], "n long"))
    blob = written.encode([[1], [None], [2]])
    for types, keys, schema in (
        ({"k": "string"}, ["k"], "n long"),  # another key type
        ({"k": "bigint"}, ["k"], "n long, m long"),  # another field
        ({"k": "bigint", "j": "bigint"}, ["k", "j"], "n long"),
    ):
        reading = BucketCodec(_bucket_schema(types, keys, schema))
        with pytest.raises(ValueError) as err:
            reading.decode(blob)
        assert written.layout in str(err.value)
        assert reading.layout in str(err.value)


def test_a_state_type_the_cell_cannot_carry_is_refused():
    for schema in ("t timestamp", "m map<string,int>", "a array<date>"):
        with pytest.raises(ValueError, match="not supported in key-bucket"):
            _bucket_schema({"k": "bigint"}, ["k"], schema)


# -- generated code across micro-batches --------------------------------

BATCHES = 7


def _rate(spark, rows: int):
    return (spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", rows).option("numPartitions", 2)
            .option("startTimestamp", 1_700_000_000_000)
            .option("advanceMillisPerBatch", 1000).load())


def test_keyed_state_stream_reuses_generated_code_per_batch(spark):
    """Janino compiles per micro-batch of the temporal changelog join:
    from the third batch on, at most one new class per batch (Spark's
    late-row predicate, which inlines the moving watermark); the state
    deserializer is compiled once, not once per batch."""
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    v = F.col("value")
    facts = _rate(spark, 200).select(
        (v % 50).alias("k"), F.col("timestamp").alias("ts"),
        v.alias("event_id"))
    dims = _rate(spark, 50).select(
        (v % 50).alias("k"), F.col("timestamp").alias("dim_ts"),
        (v % 7).alias("tier"))
    joined = temporal_join_changelog_stream(
        facts, dims, on="k", fact_ts="ts", dim_ts="dim_ts",
        watermark="2 seconds")
    counts = []

    def batch(df, _):
        df.write.format("noop").mode("append").save()
        counts.append(compiles.getCount())

    ckpt = tempfile.mkdtemp(prefix="codegen_ckpt_")
    q = (joined.writeStream.outputMode("update")
         .option("checkpointLocation", ckpt).foreachBatch(batch).start())
    try:
        deadline = time.monotonic() + 180
        while (q.isActive and len(counts) < BATCHES
               and time.monotonic() < deadline):
            time.sleep(0.1)
        assert q.exception() is None
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    assert len(counts) >= BATCHES
    per_batch = [b - a for a, b in zip(counts, counts[1:])]
    assert max(per_batch[1:BATCHES - 1]) <= 1, per_batch
