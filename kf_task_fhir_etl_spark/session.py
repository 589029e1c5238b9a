"""SparkSession factory tuned for both local testing and cluster scale.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default all cores). The configs
are chosen to hold at cluster scale: AQE on (runtime coalesce + skew-join),
shuffle partitions sized by env, Arrow enabled for the few pandas boundaries,
UTC session timezone so results hash-match the DuckDB oracle.

The driver JVM compiles less (``DRIVER_JIT_FLAGS``). Every entry point
here is a batch process: it starts a JVM, runs one study or one query set
for 20-60 s and exits. In such a process most JVM CPU goes to the JIT
compiler threads, mostly C2 compiles of Catalyst and scheduler paths that
run a few thousand times and then never again. Two levers trim that:

- ``-XX:CICompilerCount=2`` runs one C1 and one C2 compiler thread, the
  fewest tiered compilation allows. The JDK 17 default grows with the
  cores (3 on 4 cores, 12 on 16), so the flag can only lower it. 2 is the
  value measured, on a 4-core host.
- The four C2 promotion thresholds (``Tier4InvocationThreshold``,
  ``Tier4MinInvocationThreshold``, ``Tier4CompileThreshold``,
  ``Tier4BackEdgeThreshold``) are 5x their JDK 17 defaults, so a method
  stays in C1-compiled code until it has run five times as often. Code
  that stays hot still reaches C2.

They go in ``spark.driver.defaultJavaOptions``, not ``extraJavaOptions``:
a caller's ``--driver-java-options`` (or its own ``extraJavaOptions``)
replaces ``extraJavaOptions`` but is appended after
``defaultJavaOptions``, so both sets reach the JVM and the caller's flags
win where they overlap. They are set only for a ``local`` master, whose
driver is this batch process. For any other master the builder leaves
``defaultJavaOptions`` alone, so a cluster's own (from its
``spark-defaults.conf``) stays in force; a builder config would replace it.
The options apply to the driver JVM only. In ``local[N]`` the executors
run inside it; on a cluster the executors are long-lived JVMs and keep the
JDK defaults. They are read once, when the JVM starts: a session built
while a JVM is already up keeps its flags.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# JDK 17 defaults 5000 / 600 / 15000 / 40000, each raised 5x
TIER4_THRESHOLDS = {
    "Tier4InvocationThreshold": 25000,
    "Tier4MinInvocationThreshold": 3000,
    "Tier4CompileThreshold": 75000,
    "Tier4BackEdgeThreshold": 200000,
}
DRIVER_JIT_FLAGS = " ".join(
    ["-XX:CICompilerCount=2"] + [f"-XX:{name}={value}" for name, value in TIER4_THRESHOLDS.items()]
)
# the driver heap when SPARK_GRAFT_DRIVER_MEM is unset: half of RAM, at most this
MAX_DEFAULT_DRIVER_MEM_MB = 16 * 1024


def driver_java_options(master: str) -> str | None:
    """``DRIVER_JIT_FLAGS`` for a ``local`` master, else None: a cluster
    driver keeps its site's ``defaultJavaOptions`` (module docstring)."""
    return DRIVER_JIT_FLAGS if master.startswith("local") else None


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 16g, so the heap never claims more
    memory than the host has."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(MAX_DEFAULT_DRIVER_MEM_MB, ram_mb // 2)}m"


def get_spark(app_name: str = "kf_task_fhir_etl_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
    real cluster set it (or rely on AQE coalescing) to ~2-3x total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # older testdata generations carried TIMESTAMP(NANOS); surfaced as
        # long ns and normalized to TimestampType in catalog.load_table
        # (current naive-µs layout normalizes there too)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # PySpark 4 captures a Python call site (stack walk + JVM origin RPC)
        # for EVERY DataFrame/Column call to enrich error messages. On
        # plan-construction-heavy programs (16 JSON builders; cProfile shows
        # 39k py4j round-trips building q85) that's pure driver overhead —
        # off by default here, flip on when debugging an analysis error.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUG", "false"),
        )
    )
    jit_flags = driver_java_options(master)
    if jit_flags:
        builder = builder.config("spark.driver.defaultJavaOptions", jit_flags)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
