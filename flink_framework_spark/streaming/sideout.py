"""Stream splitting / side outputs — the general Flink surface.

Flink lets one operator route records to named side outputs
(``ctx.output(tag, value)`` / legacy ``SplitStream.select``); each tag
is consumed as its own stream. Spark has no native multi-output
operator — a streaming DataFrame fans out either by (a) running N
filtered queries over the same source (N passes; fine when the source
is replayable and cheap) or (b) ONE ``foreachBatch`` pass that
evaluates the routing predicates once per micro-batch and dispatches
each slice to its sink — the Flink-shaped plan, implemented here.

Routing semantics (mirroring Flink's ``ProcessFunction`` contract):
tags are evaluated in declaration order, a record lands in the FIRST
tag whose predicate matches, unmatched records go to the ``default``
output (Flink's main output). A record is therefore routed exactly
once per pass — the tag slices plus the default partition the batch
(property-tested in tests/test_sideout.py).

Scale: the batch is split with one ``staging.cut`` evaluation of a
single CASE expression, then each sink receives a filtered narrow
view — no per-tag rescan of the source, no shuffle added beyond what
the sinks themselves do. The router releases the cut once the sinks
have run.
"""

from __future__ import annotations

from typing import Callable, Mapping, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.staging import cut, release
from flink_framework_spark.streaming.drain import run_available_now

Sink = Callable[[DataFrame, int], None]

_TAG = "__tag"
DEFAULT_TAG = "__default__"


def route_expr(tags: Mapping[str, Column]) -> Column:
    """First-match-wins CASE over the tag predicates."""
    expr = None
    for name, pred in tags.items():
        expr = (
            F.when(pred, F.lit(name))
            if expr is None
            else expr.when(pred, F.lit(name))
        )
    if expr is None:
        return F.lit(DEFAULT_TAG)
    return expr.otherwise(F.lit(DEFAULT_TAG))


def split_batch(
    df: DataFrame, tags: Mapping[str, Column]
) -> dict[str, DataFrame]:
    """Split a (batch) DataFrame into first-match tag slices plus
    ``DEFAULT_TAG``. The routing expression is evaluated once (a
    ``staging.cut``), so N output slices cost one pass over ``df``.
    The slices read the cut, which stays stored.
    """
    return _slices(cut(df.withColumn(_TAG, route_expr(tags))), tags)


def _slices(routed: DataFrame, tags: Mapping[str, Column]) -> dict[str, DataFrame]:
    out = {
        name: routed.filter(F.col(_TAG) == name).drop(_TAG) for name in tags
    }
    out[DEFAULT_TAG] = routed.filter(F.col(_TAG) == DEFAULT_TAG).drop(_TAG)
    return out


class SideOutputRouter:
    """``foreachBatch`` handler dispatching tag slices to sinks.

    ``sinks`` maps tag name (or ``DEFAULT_TAG``) to a callable
    ``(slice_df, batch_id)``. Tags without a sink accumulate rows
    driver-side (test convenience, like ``LateSideOutputProcessor``).
    """

    def __init__(
        self,
        tags: Mapping[str, Column],
        sinks: Optional[Mapping[str, Sink]] = None,
    ):
        self._tags = dict(tags)
        self._sinks = dict(sinks or {})
        self.rows: dict[str, list] = {
            name: [] for name in [*self._tags, DEFAULT_TAG]
        }

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        routed = cut(batch_df.withColumn(_TAG, route_expr(self._tags)))
        try:
            for name, sl in _slices(routed, self._tags).items():
                sink = self._sinks.get(name)
                if sink is not None:
                    sink(sl, batch_id)
                else:
                    self.rows[name].extend(sl.collect())
        finally:
            release(routed)  # the sinks have run


def run_with_side_outputs(
    stream_df: DataFrame,
    router: SideOutputRouter,
    query_name: str = "side_outputs",
    timeout_sec: int = 120,
) -> SideOutputRouter:
    """Run the stream to completion (availableNow) through the router."""
    run_available_now(
        stream_df.writeStream.foreachBatch(router), query_name, timeout_sec
    )
    return router
