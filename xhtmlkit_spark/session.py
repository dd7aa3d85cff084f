"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here exists for the 100 TB target (SURVEY.md §4), not for
the sandbox: AQE re-planning + skew-join splitting, partition
coalescing, and Arrow batches bounded in both rows and bytes so the
Python workers in the mapInArrow stage never see an unbounded batch,
however many giant docs land in one task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["SQL_CONF", "get_spark"]

# Runtime SQL settings every session of the engine runs with: get_spark
# sets them at build time, and scripts/run_pipeline.py sets them on the
# session spark-submit gives it.
SQL_CONF = {
    # deterministic across deploy environments: the events table is
    # TIMESTAMP_NTZ cast to ltz for watermarks, and epoch-aligned
    # windows shift by the session offset on non-whole-hour zones
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
    # a batch closes at whichever bound it reaches first
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 << 20),
    # giant-document corpora: 4096-row columnar batches of multi-MB text
    # cells OOM the on-heap vectorized reader under full parallelism
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    # avoid the sort-based dynamic-partition writer (a full extra
    # sort of the output) when tasks write several `part` values
    "spark.sql.maxConcurrentOutputFileWriters": "40",
    # partitioned sinks overwrite only the partitions they touch
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.files.maxPartitionBytes": "128m",
}


def get_spark(
    master: str | None = None,
    app_name: str = "xhtmlkit-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox;
    on a real cluster pass None and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = max(32, int(n) if n.isdigit() else 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # the JVM zone is pinned too: collect() converts timestamps
        # through the JVM default, not the session setting
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in SQL_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
