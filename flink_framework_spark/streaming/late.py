"""Late-data side output — Flink I4 parity.

Flink routes events later than the watermark to a side output;
Spark's stateful operators silently drop them. This module recovers
the side output with ``foreachBatch``: each micro-batch is split
against a row-granular monotone watermark (the running max of event
time over all previously-arrived rows, carried across batches), so
the late set is *observable* instead of silently discarded — the main
aggregate consumes the on-time slice, the late slice goes to its own
sink.

Semantics match the batch emulation ``q_stream_late`` exactly: a row
is late iff its event time is more than ``delay`` behind the max
event time of rows that arrived strictly before it. Running max is
associative over ordered segments, so carrying one timestamp across
micro-batches reproduces the global row-level bound regardless of how
the stream is chunked (property-tested in
``tests/test_streaming_late.py``).

Scale note: the within-batch running max uses a global ordered window
— inherent to the semantics (a watermark IS a single global monotone
bound), and bounded by micro-batch size, not corpus size. The carried
state is one timestamp.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_framework_spark.staging import cut, release
from flink_framework_spark.streaming.drain import run_available_now


class LateSideOutputProcessor:
    """``foreachBatch`` handler splitting each micro-batch into
    on-time and late rows against the carried watermark.

    Parameters
    ----------
    event_time_col : event-time column (TIMESTAMP instant)
    order_cols : arrival-order columns within a batch (the stream's
        delivery order; a total order for determinism)
    delay : allowed lateness, SQL interval body (e.g. ``"10 minutes"``)
    on_time_sink / late_sink : callables receiving the split batch
        DataFrames (already resolved against this batch's watermark).
        Defaults accumulate collected rows driver-side — fine for
        tests; production passes parquet/Kafka writers.
    """

    def __init__(
        self,
        event_time_col: str = "ts",
        order_cols: tuple[str, ...] = ("arrival", "event_id"),
        delay: str = "10 minutes",
        on_time_sink: Optional[Callable[[DataFrame, int], None]] = None,
        late_sink: Optional[Callable[[DataFrame, int], None]] = None,
    ):
        self._ts = event_time_col
        self._order = list(order_cols)
        self._delay = delay
        self._wm_floor = None  # max event time seen in prior batches
        self.on_time_rows: list = []
        self.late_rows: list = []
        self._on_time_sink = on_time_sink or (
            lambda df, _bid: self.on_time_rows.extend(df.collect())
        )
        self._late_sink = late_sink or (
            lambda df, _bid: self.late_rows.extend(df.collect())
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        ts = F.col(self._ts)
        w = (
            Window.orderBy(*self._order)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        wm = F.max(ts).over(w)
        if self._wm_floor is not None:
            wm = F.greatest(wm, F.lit(self._wm_floor))
        bound = wm - F.expr(f"INTERVAL {self._delay}")
        # evaluate the window once, not per sink
        split = cut(batch_df.withColumn("__late", wm.isNotNull() & (ts < bound)))
        try:
            self._late_sink(split.filter("__late").drop("__late"), batch_id)
            self._on_time_sink(split.filter("NOT __late").drop("__late"), batch_id)
            new_max = split.agg(F.max(ts)).collect()[0][0]
        finally:
            release(split)
        if new_max is not None and (
            self._wm_floor is None or new_max > self._wm_floor
        ):
            self._wm_floor = new_max


def run_with_late_side_output(
    stream_df: DataFrame,
    processor: LateSideOutputProcessor,
    query_name: str = "late_side_output",
    timeout_sec: int = 120,
) -> LateSideOutputProcessor:
    """Run the stream to completion (availableNow) through the
    processor; returns it with both side outputs populated."""
    run_available_now(
        stream_df.writeStream.foreachBatch(processor), query_name, timeout_sec
    )
    return processor
