"""SparkSession construction with the engine's recommended configs.

The driver may hand us its own session (``queries()`` callables take an
arbitrary ``SparkSession``), so nothing in the engine may *depend* on
these configs — every query is written to be timezone- and
config-independent. ``configure_session`` applies the few runtime-safe
settings we do need (notably reading nanosecond parquet timestamps).

Scale posture (SURVEY.md §4.2 / K6): AQE enabled for runtime
re-planning (skew-join splitting, partition coalescing), shuffle
partitions sized for the local harness but overridable via env for a
real cluster, Arrow enabled so the few pandas-UDF operators use
vectorized transfer.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point applies defensively.
# nanosAsLong: the events table is parquet TIMESTAMP(NANOS); Spark 4
# refuses it by default. Reading it as a long and converting to
# TIMESTAMP_NTZ ourselves (io.load_events) matches DuckDB's ns->us
# truncation bit-for-bit (verified empirically).
RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Functions executed on workers (pandas UDFs, applyInPandas*,
    stateful processors) are pickled by reference to this module — if
    the driving process runs from a different cwd, workers cannot
    import it. Shipping a zip via addPyFile fixes that for ANY session
    we are handed. Idempotent per session.

    Executors on a non-local master fetch the zip from its staging
    directory while the context lives, so the directory is removed at
    interpreter exit, not before.
    """
    try:
        sc = spark.sparkContext
        if getattr(sc, "_ffs_package_shipped", False):
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        staging = tempfile.mkdtemp(prefix="ffs_pkg_")
        atexit.register(shutil.rmtree, staging, ignore_errors=True)
        archive = shutil.make_archive(
            os.path.join(staging, "flink_framework_spark"),
            "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(archive)
        sc._ffs_package_shipped = True
    except Exception:  # pragma: no cover - best effort (e.g. Connect)
        pass


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally provided session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf may be static
            pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "flink-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI use).

    - ``local[$SPARK_GRAFT_CPUS]`` by default; a real deployment passes
      a cluster master and sizes shuffle partitions to ~2-3x total
      cores (at 100 TB: thousands, or rely on AQE coalescing from a
      high initial count).
    - UTC session timezone: queries themselves are tz-independent, but
      UTC keeps any ad-hoc exploration deterministic.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    # AQE partition-coalescing posture (guide §2.2): with
    # ``parallelismFirst=true`` (Spark's default) tiny shuffles keep
    # full parallelism — at local[32] over MB-scale inputs that is 32
    # near-empty tasks per exchange, pure scheduling overhead; Spark's
    # own docs recommend ``false`` (respect the advisory partition
    # size) on busy clusters. Both knobs stay env-tunable so a real
    # deployment sizes them to its data volume (e.g. advisory 256m at
    # 100 TB); the defaults here are measured A/B on the bench corpus
    # (see OPTIMIZATION_r11.md).
    parallelism_first = os.environ.get(
        "SPARK_GRAFT_COALESCE_PARALLELISM_FIRST", "true"
    )
    advisory = os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            parallelism_first,
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    return configure_session(spark)
