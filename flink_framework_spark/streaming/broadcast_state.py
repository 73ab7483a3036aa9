"""Flink's broadcast-state pattern on Structured Streaming.

In Flink, a ``BroadcastProcessFunction`` connects a high-volume keyed
stream with a low-volume control stream whose elements (rules,
thresholds, feature flags) are BROADCAST to every parallel operator
instance; each instance applies the rules version current at
processing time.

Spark has no two-input operator, but the same contract falls out of
``foreachBatch``: between micro-batches the driver applies any pending
control messages to a small rules table, and inside the batch the
rules are shipped to every executor through a broadcast-hash join —
precisely the "rules live on every instance" distribution Flink's
broadcast state implements (rules stay small; the data stream never
shuffles for the join). Versioning is by micro-batch: every batch is
processed under exactly one rules snapshot, recorded for audit —
Flink gives the same guarantee only per-element, so batch granularity
is the coarser but deterministic analogue.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from flink_framework_spark.streaming.drain import run_available_now

RULES_SCHEMA = "event_type string, min_value double, tag string"


class BroadcastRulesProcessor:
    """foreachBatch processor applying a per-batch rules snapshot.

    Parameters
    ----------
    spark : session used to build the rules DataFrame each batch
    initial_rules : list of (event_type, min_value, tag) tuples
    control : ``f(batch_id, rules) -> rules`` — the control-stream
        hook; called before each batch to deliver rule updates (return
        the new full rules list). Defaults to no-op.
    sink : callable receiving the tagged batch output; defaults to
        driver-side accumulation (tests). Production passes a writer.
    """

    def __init__(
        self,
        spark: SparkSession,
        initial_rules: list[tuple],
        control: Optional[Callable[[int, list], list]] = None,
        sink: Optional[Callable[[DataFrame, int], None]] = None,
    ):
        self._spark = spark
        self._rules = list(initial_rules)
        self._control = control or (lambda _bid, rules: rules)
        self.rows: list = []
        self.rule_versions: dict[int, list] = {}
        self._sink = sink or (lambda df, _bid: self.rows.extend(df.collect()))

    def apply_rules(self, df: DataFrame, rules: list[tuple]) -> DataFrame:
        """The shared per-batch transform: broadcast the rules table,
        tag matching events. Usable from batch code for twin tests."""
        rules_df = self._spark.createDataFrame(rules, RULES_SCHEMA)
        return (
            df.join(F.broadcast(rules_df), "event_type")
            .filter(F.col("value") >= F.col("min_value"))
            .select("event_id", "user_id", "event_type", "value", "tag")
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        self._rules = self._control(batch_id, list(self._rules))
        self.rule_versions[batch_id] = list(self._rules)
        self._sink(self.apply_rules(batch_df, self._rules), batch_id)


def run_broadcast_rules(
    stream_df: DataFrame,
    processor: BroadcastRulesProcessor,
    query_name: str = "broadcast_rules",
    timeout_sec: int = 120,
) -> BroadcastRulesProcessor:
    """Run the stream to completion (availableNow) through the
    processor; returns it with outputs + the rules audit populated."""
    run_available_now(
        stream_df.writeStream.foreachBatch(processor), query_name, timeout_sec
    )
    return processor
