"""Staged frames: the one place that persists, cuts lineage and frees.

``stage(df)`` persists a frame several plan branches read; the plans
stay pure SQL and keep the frame's hash partitioning. ``cut(df)`` is an
eager ``localCheckpoint`` that stops an iterative loop's plan growing.
``release`` frees both; a cut's checkpoint RDD survives
``DataFrame.unpersist`` and ``clearCache``, so release unpersists it.

Rule: an operator releases, on every path including a raise, each frame
it staged or cut that its returned plan does not read. A released cut
that is read later fails with a missing checkpoint block.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def stage(df: DataFrame) -> DataFrame:
    """``df`` persisted at ``MEMORY_AND_DISK``; computed on first use."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def cut(df: DataFrame) -> DataFrame:
    """``df`` computed now and stored, with its lineage cut."""
    return df.localCheckpoint()


def release(*frames: DataFrame | None) -> None:
    """Free each frame that ``stage`` or ``cut`` returned, without
    waiting for the blocks to go. ``None`` and frames derived from a
    staged or cut frame are left alone."""
    for df in frames:
        if df is None:
            continue
        if df.is_cached:
            df.unpersist()
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
