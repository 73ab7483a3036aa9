"""Bucketed grouped-map dispatch: ``groupBy(keys).applyInPandas(fn)``
with the per-key Python/Arrow overhead amortized (r12, guide §4).

``groupBy(key).applyInPandas`` pays ~4 ms of Arrow framing + Python
call overhead PER GROUP — the dominant cost whenever an operator's
groups are small and numerous (match frames with hundreds of
burst-sized groups, celled GEMM blocks, per-start pick stages).
Grouping by a deterministic hash BUCKET of the key and iterating the
true keys inside each bucket's pandas frame costs ~50 µs per key
instead, while keeping applyInPandas's ClusteredDistribution
guarantee (every row of a key lands in exactly one pandas frame).

Why not ``repartition(key).sortWithinPartitions(key).mapInPandas``:
that spelling is NOT a reliable contract — Catalyst can elide the
repartition exchange when it believes the child is already
partitioned compatibly (observed over a Union whose children were
each hash-partitioned on the key), leaving a key's rows split across
partitions and the group scan silently wrong. The grouped-map
requirement is declared to the planner here, so the exchange can
never be dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_count(parallelism: int) -> int:
    """Hash buckets for a session with ``parallelism`` default task
    slots: four per slot, never fewer than 64 (local[<=16] keeps 64)."""
    return max(64, 4 * parallelism)


def bucketed_map(
    df: DataFrame,
    key_cols: list[str] | str,
    bucket_fn,
    schema,
) -> DataFrame:
    """Dispatch ``bucket_fn`` over deterministic hash buckets of
    ``key_cols``: the function receives each bucket's WHOLE pandas
    frame (every row of every key hashing to the bucket) and returns
    that bucket's output rows. Use it when the per-key work can be
    amortized bucket-wide (one sort / one scan per bucket instead of
    per key).

    The bucket count is ``bucket_count(defaultParallelism)``, so the
    dispatch keeps every task slot busy on a large cluster. Frame-size
    ceiling: one bucket's frame holds about ``rows / buckets`` rows
    (at 64 buckets, 1.6 M of a 100 M-row frame), all in one Python
    worker's memory at once; a key is never split, so one hot key puts
    all of its rows in a single frame."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    buckets = bucket_count(df.sparkSession.sparkContext.defaultParallelism)

    def run(pdf):
        return bucket_fn(pdf.drop(columns="__gb"))

    bucketed = df.withColumn(
        "__gb",
        F.pmod(F.xxhash64(*[F.col(c) for c in keys]), F.lit(buckets)),
    )
    return bucketed.groupBy("__gb").applyInPandas(run, schema)
