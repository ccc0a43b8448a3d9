"""SparkSession factory with the scale-oriented defaults the pipeline
assumes: Arrow-batched pandas UDFs, AQE (incl. skew-join handling),
a shuffle-partition count sized to the local core count, and two
settings for the many small plans that the SPARQL compiler and the
fixpoints build: a generated-code cache of 512 classes (Spark's
default of 100 is four LRU segments of 25, too small for the ~86
classes of the SPARQL query mix, so each whole-graph query was
compiled by Janino, and JIT-compiled, again on every run), and
PySpark's DataFrame call-site capture off (it records where each
``Column`` call was made, for error messages only: 150 JVM round
trips to compile a one-pattern lookup, 54 without).

On a real cluster this is `spark-submit --py-files ferenda_spark.zip`
with the same configs; Iceberg catalog configs would be added here
(the sandbox has no Iceberg runtime jar, so tables are partitioned
parquet via ferenda_spark.catalog with the same layout/semantics).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "ferenda_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    master = master or "local[%d]" % cpus
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")]
        shuffle_partitions = cpus if n == "*" else max(int(n), 1)
    b = (SparkSession.builder.appName(app).master(master)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.codegen.cache.maxEntries", "512")
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.driver.memory",
                 os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
         .config("spark.ui.enabled", "false"))
    return b.getOrCreate()
