"""SparkSession factory with scale-appropriate defaults.

Local tests run on ``local[N]`` but every config choice is made for a
1000-executor cluster reading ~100 TB:

- AQE on (runtime coalescing + skew-join splitting) — the same-as/dedup
  group keys and mega-repo partitions are skewed by construction.
- Arrow enabled for all pandas UDF exchange.
- the default master is ``SPARK_GRAFT_MASTER``, else ``local[N]`` with N
  = ``SPARK_GRAFT_CPUS``, else the host's core count (``os.cpu_count()``):
  more task threads than cores only adds contention.
- shuffle partitions default to ``SPARK_GRAFT_CPUS`` when it is set, and
  otherwise to the built session's ``defaultParallelism`` (N for a
  ``local[N]`` master), not a fixed count; on a cluster pass
  ``shuffle_partitions`` (~2-3x total cores) or leave it to AQE's
  coalescing from a high initial number.
- the driver JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``).  A
  build here is a 30-60 s run, and HotSpot's C2 spends it optimizing
  Spark's own machinery (Janino, Catalyst, Parquet, py4j) for a payback
  the run ends before: on a 1000-site build at local[4], compilation took
  81 s of thread time against 103 s of process-tree CPU for the whole
  build.  C1-only cut compilation to 8 s and the build's CPU to 55 s,
  while task threads ran slightly slower.  It is set through
  ``spark.driver.defaultJavaOptions``, which Spark prepends to
  ``spark.driver.extraJavaOptions``, so a caller's ``extra_conf`` options
  still apply beside it.  Executors keep tiered C2: on a cluster they live
  long enough to recoup it.  The flag only takes effect when this builder
  launches the JVM; under ``spark-submit`` pass it as
  ``--conf spark.driver.defaultJavaOptions=-XX:TieredStopAtLevel=1``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def get_spark(
    app_name: str = "ta2-minmod-kg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count() or 1}]",
    )
    nshuffle = shuffle_partitions or os.environ.get("SPARK_GRAFT_CPUS")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if nshuffle:
        b = b.config("spark.sql.shuffle.partitions", str(nshuffle))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if not nshuffle and "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark
