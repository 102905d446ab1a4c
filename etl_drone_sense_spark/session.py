"""SparkSession factory.

Defaults are chosen for correctness-parity with the DuckDB oracle (UTC
session timezone, Arrow enabled) and for scale (AQE on, skew-join handling,
partition coalescing).  On a real cluster the same builder is used — only
``master`` and the shuffle-partition count change.

Spark keeps every class it generates (keyed by its source) in one LRU cache
per JVM, 100 entries by default: far fewer than one pass over the bench
queries generates, so at the default every repeat of a query compiled all
of its classes again with Janino on the driver and task threads.  The
cache is raised to 2048 entries (``spark.sql.codegen.cache.maxEntries``),
enough to hold a bench pass, so a repeated query reuses the code it
compiled the first time.  Whole-stage classes are also named without their
stage id (``spark.sql.codegen.useIdInClassName``): AQE numbers codegen
stages in the order it plans its query stages, which follows the order in
which earlier stages finish, so a query like ``dedup_paragraph`` gave the
same stage a new id, hence new source, on most calls.

Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``)
rather than from ``pyspark.daemon``.  Every PySpark task calls
``importlib.invalidate_caches()`` before it reads a row, which makes each
zip importer on the worker's path re-read its archive: the JVM puts
``pyspark.zip``, the py4j zip and the ``spark-core`` jar there, though a
pip-installed pyspark and py4j serve the same imports.  The daemon drops
those ``$SPARK_HOME`` archives from ``sys.path`` before it imports pyspark,
so its workers inherit the short path.  It does nothing where pyspark or
py4j can only be imported from the archives (a cluster without a
pip-installed pyspark), and it keeps archives outside ``$SPARK_HOME``.
Because the daemon is a module of this package, the workers' path
(``spark.executorEnv.PYTHONPATH``) names the directory holding the package:
workers start in the JVM's working directory, which need not be the one the
package was imported from.  A caller's ``extra_conf`` overrides both.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: runtime re-planning, partition coalescing, skew splits.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Timestamp parity with the DuckDB oracle (naive timestamps, UTC).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any Pandas-UDF path (extension operators only).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/supplier/part) broadcast freely.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Keep scan partitions sized for executor memory at large SF.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.shuffle.partitions": "32",
    # Generated-code cache (a static conf, read once per JVM): one 63-query
    # bench pass at sf0.001 compiles 1,020 distinct classes (868 with the
    # stage id out of the class names, below), far over the default of 100,
    # so at the default every pass compiled them all again.
    "spark.sql.codegen.cache.maxEntries": "2048",
    # The stage id in a generated class name varies from call to call under
    # AQE, which made identical code a cache miss: dedup_paragraph compiled
    # 6-48 classes per warm call with the id, 0-4 without it.
    "spark.sql.codegen.useIdInClassName": "false",
    # Workers fork from a daemon that leaves Spark's own archives off their
    # sys.path, and find it (and this package) in the directory holding the
    # package (module docstring). Both are read when the context starts.
    "spark.python.daemon.module": f"{__package__}.worker_daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "etl-drone-sense-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in this container;
    on a cluster pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_totals(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, ms spent compiling them) so far in this JVM.

    The count is ``CodegenMetrics``' compile-time histogram count; the ms
    are ``CodeGenerator.compileTime``, the exact running sum of the same
    timings (the histogram keeps only a sample of them). A cache hit
    compiles nothing and counts nothing, so the difference across a
    repeated query is 0 when it reuses its code.
    """
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), generator.compileTime() / 1e6
