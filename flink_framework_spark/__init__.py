"""flink_framework_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference stream-processing framework
(nvankaam/Flink-Framework, a Scala framework over the Apache Flink 1.x
DataStream API; see SURVEY.md §0 — the reference tree was empty during
the survey, so capability claims cite the public Flink DataStream API
surface the framework wraps rather than file:line).

Design stance (SURVEY.md §1.2): the reference's typed "subject"
streams map to schema-carrying Spark DataFrames; batch queries are the
DataFrame/SQL API under Catalyst, streaming twins are the same logical
expressions under Structured Streaming. No RDDs; Python UDFs only
where built-in functions genuinely cannot express the semantics.

Layout
------
- ``session``    SparkSession builder (AQE on, UTC, tuned shuffle)
- ``_pyworker``  Python-worker import-cache fix (stat-gated zip refresh)
- ``sql``        Flink SQL statement dialect (window TVFs,
                 MATCH_RECOGNIZE) rewritten onto the operators
- ``io``         parquet table loaders (incl. the ns-timestamp fix)
- ``registry``   query registry: name -> (spark callable, oracle SQL)
- ``queries``    the full SURVEY.md §2 operator inventory
- ``operators``  composite/custom operators (as-of join, top-k,
                 dedup, similarity, text analysis, multimodal)
- ``functions``  reusable column-expression helpers
- ``sources``    batch/streaming source + catalog plumbing
- ``streaming``  Structured Streaming twins of the batch operators
- ``plans``      plan inspection / assertion helpers (explain tooling)
"""

__version__ = "0.1.0"

# first: on a Python worker, stop per-task re-reads of every zip archive
from flink_framework_spark import _pyworker  # noqa: F401
from flink_framework_spark.registry import all_queries  # noqa: F401
from flink_framework_spark.sql import flink_sql  # noqa: F401
