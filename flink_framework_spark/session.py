"""SparkSession construction with the engine's recommended configs.

The driver may hand us its own session (``queries()`` callables take an
arbitrary ``SparkSession``), so nothing in the engine may *depend* on
these configs — every query is written to be timezone- and
config-independent. ``configure_session`` applies the few runtime-safe
settings we do need (notably reading nanosecond parquet timestamps).

Scale posture (SURVEY.md §4.2 / K6): AQE enabled for runtime
re-planning (skew-join splitting, partition coalescing at Spark's
default targets), shuffle
partitions sized for the local harness but overridable via env for a
real cluster, Arrow enabled so the few pandas-UDF operators use
vectorized transfer.

Generated-code reuse. Spark compiles every whole-stage pipeline and
expression projection it generates with Janino and keeps the classes
in a per-JVM cache keyed by (context class loader, source). Each miss
costs a Janino compile and a fresh ``Class`` that HotSpot must
JIT-compile again: on ``perfbench``'s pipelines (4-core VM) the misses
cost 18% of the process CPU per pass, three quarters of it in the C1/C2
compiler threads. Two confs make identical code hit:

- ``spark.sql.codegen.useIdInClassName=false`` (runtime, in
  ``RUNTIME_CONFS``): by default the whole-stage stage id is part of
  the class name (``GeneratedIteratorForCodegenStage68``), and AQE
  numbers stages differently from run to run, so the same pipeline
  could get a new cache key on every run. Plans, ``explain`` output and the
  ``*(N)`` stage ids are unchanged; only the class name is.
- ``spark.sql.codegen.cache.maxEntries`` (static, in ``STATIC_CONFS``):
  Spark's default of 100 entries is below one heavy query's working
  set, and in local mode every class is stored twice (once for the
  driver thread's class loader, once for the executor's).

Cached-plan partitioning. ``persist``/``cache`` plans the cached
query when it builds the ``InMemoryRelation``, and by default Spark
turns AQE's final-stage partition coalescing off for that plan so the
cache keeps the output partitioning of its last exchange. Every staged
frame whose plan ends in a shuffle (every ``staging.stage`` call) was
then stored in ``spark.sql.shuffle.partitions`` partitions, and every
stage that scanned it ran that many tasks, however small the frame. ``spark.sql.optimizer.
canChangeCachedPlanOutputPartitioning=true`` (runtime, in
``RUNTIME_CONFS``) lets AQE coalesce the cached plan like any other:
on ``perfbench``'s pipelines (sf0.01, local[4], 32 shuffle partitions)
a traced pass ran 100 tasks instead of 568, and process CPU fell by a
fifth. The conf is read when ``persist`` is called, not when the
frame is first computed, so it must be set before a frame is staged.
Coalescing aims at ``defaultParallelism`` partitions under
``parallelismFirst=true``, but never at partitions smaller than
``coalescePartitions.minPartitionSize`` (1 MB), so an MB-scale staged
frame shrinks to a few partitions even at ``local[32]``: at sf0.1,
q_curation_pipeline ran 188 tasks instead of 656 there. A staged
frame no longer promises the hash partitioning of its last exchange,
so a consumer keyed on the same column may plan one more exchange.
Handed-in sessions gain the conf through ``configure_session``.

Static confs are read once per JVM or SparkContext, so only sessions
built here (``get_spark``, and the test fixture, which applies
``STATIC_CONFS`` itself) get them; a session the driver hands us keeps
Spark's 100-entry cache and only gains the runtime conf through
``configure_session``.
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
    # one cache entry per distinct pipeline, whatever its stage id
    "spark.sql.codegen.useIdInClassName": "false",
    # AQE may coalesce a persisted frame's last shuffle (see docstring)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

# Generated-class cache entries per JVM. Working sets measured with both
# codegen confs at sf0.01 on local[4] (tools/jvm_profile.py): q_cep_suite,
# the largest single query, holds 246 entries; the seven heaviest bench
# queries together hold 492. The cache is a Guava cache that evicts per
# segment before it is full, so the cap keeps about 2x headroom.
CODEGEN_CACHE_ENTRIES = 1000

# Confs that cannot change once the JVM or SparkContext exists; every
# builder of an engine-owned session applies them.
STATIC_CONFS = {
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    "spark.ui.enabled": "false",
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
    - ``STATIC_CONFS`` take effect only if this call creates the
      session. The codegen cache is sized once per JVM, when code is
      first generated, so it holds only for the JVM's first session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=STATIC_CONFS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    return configure_session(spark)
