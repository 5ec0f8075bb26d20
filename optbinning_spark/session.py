"""SparkSession factory tuned for this engine.

Local test posture: local[N] with shuffle partitions ~ cores. The same
settings (AQE on, Arrow on, UTC) are what we'd ship on a 1000-executor
cluster; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "optbinning_spark", cpus: int | None = None):
    """The local[N] session the engine, its tests and its benchmarks run on.

    PySpark's DataFrame-debugging origin capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``). With it
    on, PySpark 4.x wraps every ``pyspark.sql.functions`` and Column
    call: each one looks up the active session, reflects
    ``PySparkCurrentOrigin``, reads
    ``spark.sql.stackTracesInDataFrameContext`` and sets then clears
    the origin in the JVM (py4j round trips on every call), walks the
    Python stack, and tries ``import IPython``, which pulls about 26 MB
    into the driver. This engine builds plans from hundreds of Column
    calls per fit, so the capture was more than half of all py4j
    commands: a warm perfbench ``binning_fit`` cycle (4 vCPU,
    ``tools/py4j_ledger.py``) sent 6,027 commands with it and 2,577
    without (not counting the ones that release freed proxies), and
    the driver's peak RSS in a perfbench ``binning_fit`` run fell from
    162 to 141 MB. Plans, jobs and results are the same. What is lost:
    an error raised by a DataFrame API call no longer carries the
    Python call site in its "DataFrame context" section.

    The conf is static, so it only applies to a session this function
    builds; a session that already exists (``getOrCreate`` returns it)
    keeps its own setting.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and convert at the query layer
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # no per-call Python origin capture (see the docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local[N] runs all N task threads inside the driver JVM: at 32
        # threads an 8g heap GC-thrashes on aggregation-heavy fits
        # (measured: repeated 16-variable fits degraded 9s -> 40s from
        # GC pressure alone; a forced GC restored them). Size the heap
        # to the machine; on a real cluster executors get their own
        # memory and this knob is the driver only.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # the generated-class cache defaults to 100 entries; a session
        # running this engine's full query surface (fits, transforms,
        # dedup, ANN) churns through that and re-Janino-compiles the
        # big fit stages (measured: the 16-variable fit reads ~2s
        # slower after ~20 other queries ran). 1000 entries keeps every
        # stage of a long analytics session compiled once.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # UI off by default (bench hygiene: no listener/HTTP overhead);
        # measurement tools that read the REST metrics API
        # (tools/measure_cc_scale.py) export SPARK_GRAFT_UI=1
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") else "false")
        .getOrCreate()
    )
