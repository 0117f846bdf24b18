"""SparkSession factory for the engine.

Defaults are tuned for the local[32] test rig but every setting scales to a
real cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to cores locally (on a cluster this
is overridden to ~2-3x total cores), UTC session timezone so results are
oracle-comparable, Arrow enabled for the Pandas-UDF slow path, a
generated-class cache that holds the engine's working set, and no
per-call Python call-site capture (both below).

The engine treats event time as integer epoch units end-to-end (the
reference does the same — int64 ms,
/root/reference/pkg/api/messages.go:102-110), which keeps time arithmetic
in whole-stage codegen and avoids timezone drift entirely.  Fixture
timestamp columns of any parquet flavor are converted at load
(``tables.normalize_events``); ``nanosAsLong`` is kept for fixtures that
ship TIMESTAMP(NANOS), which Spark cannot otherwise read as a long.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "streamkit_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Compiled whole-stage classes are cached per JVM, LRU, keyed by
        # their source text; Spark keeps 100.  The engine's working set
        # is larger: one perfbench corpus_catalog pass makes 238 distinct
        # classes (65 in curate, ~170 in the 11 catalog queries), and one
        # pass of bench.py's 73-entry suite at sf0.1 makes 940.  At 100
        # the LRU evicts every class before its reuse, so each warm call
        # recompiles all of its classes (5-28 per catalog query).  2000
        # holds both sets twice over; holding bench's 940 costs the
        # driver ~30 MB of heap and ~9 MB of metaspace (docs/SCALE.md).
        # A static conf: read once, when the JVM compiles its first class.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark 4 wraps every Column and `functions` call to record its
        # Python call site in the JVM: each call looks up the active
        # session, reflects PySparkCurrentOrigin, reads
        # spark.sql.stackTracesInDataFrameContext, then sets and clears
        # the origin — about 7 py4j round trips per call.  Off, a warm
        # build of tpch_q1_pricing_summary sends 168 py4j commands instead
        # of 538, and value_trend 248 instead of 1028.  Lost: an ANSI
        # runtime error no longer names the Python line that built the
        # failing expression.  PySpark reads this once per Python process,
        # at the first wrapped call (docs/SCALE.md).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
