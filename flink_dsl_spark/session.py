"""SparkSession factory with scale-oriented defaults.

Test profile is local[N] (single JVM), but every knob here is chosen for
the 1000-executor case too: AQE on (runtime re-planning, skew-join
handling, partition coalescing), auto broadcast for small dims, Arrow for
the Pandas-UDF paths (LLM ops).

Two confs make the driver side cheaper and quieter:
``spark.python.sql.dataFrameDebugging.enabled=false`` stops PySpark
from wrapping every Column function with a call-site capture (five JVM
round trips each), which cuts the py4j traffic of building a plan by
about two thirds; the price is that a Spark ``AnalysisException`` raised
from a DataFrame call no longer names the Python line.  It is a static
conf, read once per process, so it only takes effect when set here at
build time — ``FsqlEngine`` cannot set it on a caller's session.
``spark.ui.showConsoleProgress=false`` keeps the ``[Stage N:>`` bar off
stderr lines that scripts parse.

Beside the confs, ``get_session`` imports
``org.apache.spark.api.python.PythonUtils`` into the gateway's JVM
view.  PySpark turns every list of columns it hands the JVM (each
``select``, ``groupBy``, ``agg``, window spec or ``coalesce``) into a
Scala Seq through ``PythonUtils``, looked up by that bare name each
time.  Without a single-type import the JVM side resolves a bare name
by trying the view's star-import packages in turn until one loads
(about 0.09 ms a lookup against 0.045 ms imported, on 4 cores; several
hundred lookups per pass of the catalog's statements).  The import
changes no name's meaning: PySpark's own star import of
``org.apache.spark.api.python.*`` already resolves ``PythonUtils`` to
that same class, so every user of the gateway sees the class it saw
before, found without the failed attempts.
"""

from __future__ import annotations

import os

from py4j.java_gateway import java_import
from pyspark.sql import SparkSession


def get_session(app_name: str = "flink-dsl-spark",
                shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata has shipped parquet TIMESTAMP(NANOS) (read as
        # long; engine.register_parquet casts back) and timestamp[us]
        # without a timezone (would load as TIMESTAMP_NTZ, which
        # watermarks reject — load as LTZ instead; session TZ is UTC so
        # the instant is identical)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    java_import(spark._jvm, "org.apache.spark.api.python.PythonUtils")
    return spark
