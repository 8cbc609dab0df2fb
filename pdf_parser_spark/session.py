"""SparkSession factory with scale-appropriate defaults.

Tuned for the sandbox (local[N], single JVM) but written for a
1000-executor cluster: AQE on (runtime shuffle re-planning + skew-join
splitting), Arrow transport for every pandas UDF boundary, bounded Arrow
batch sizes so a mega-turn batch cannot blow Python worker memory, and
shuffle partitions sized to cores (overridable per job at real scale).

File listing runs on the driver: above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` subdirectories
(32 by default) Spark lists a partitioned dataset with a Spark job, one
task per directory. On a cluster those tasks spread the listing calls
over executors; in a ``local[N]`` session they run in the driver's own
JVM, so the job only adds scheduling overhead (a 64-bucket output read
cost a 64-task job per read). The factory therefore raises the threshold
past any directory count. A cluster session (``jobs/*.py`` under
spark-submit builds its own) should keep Spark's default.

Python workers are reused across tasks (``spark.python.worker.reuse``,
true by default), and the package relies on that: every Python entry
point is wrapped in ``pyworker.python_task``, which drops the zip
importers a task leaves cached, so the next task on the same worker does
not re-read pyspark.zip and the Spark core jar (about 0.2 s of CPU per
task). With reuse off, each task forks a fresh worker from the daemon,
which starts with the daemon's cache, and the trim cannot help. The
factory sets no key for this; Spark's default is the one relied on.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LISTING_THRESHOLD_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# no directory count reaches it: a local session always lists on the driver
DRIVER_LISTING_THRESHOLD = str(2**31 - 1)


def get_spark(app: str = "pdf-parser-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_parts = max(32, int(cpus) * 2) if str(cpus).isdigit() else 64
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Split sizing: the cluster default is 128 MiB, but the sandbox
        # fixtures are a few MiB total — size splits so a small sharded
        # dataset still fans out across every core. Override via env at
        # real scale.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PART_BYTES", "4194304"))
        .config("spark.sql.files.openCostInBytes", "262144")
        .config(LISTING_THRESHOLD_CONF, DRIVER_LISTING_THRESHOLD)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Long single-JVM sessions accumulate shuffle state whose cleanup
        # piggybacks on driver GC; force it periodically so back-to-back
        # jobs don't degrade (cluster deployments get this from executor
        # turnover instead).
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def ensure_min_partitions(df, min_parts: int):
    """Fan a DataFrame out to at least `min_parts` partitions.

    No-op when the scan already yields enough splits (the normal case on a
    cluster, and locally now that fixtures are sharded datasets); only a
    tiny single-file input pays the round-robin shuffle."""
    # df.rdd creates (cheap, lazy) RDD lineage just to probe the split
    # count; acceptable here because callers invoke this once per job on
    # the scan relation, never per-row/per-batch.
    if df.rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)
