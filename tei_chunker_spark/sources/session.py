"""SparkSession factory with the engine's execution defaults.

Every knob here is output-neutral (JobConfig separation): AQE for runtime
coalescing/skew-join splitting, Arrow for all pandas-UDF traffic, small
Arrow batches because rows are whole documents, and reused Python workers
so interpreter start-up and imports are paid once per worker, not per
task.  Reuse alone did not make a task cheap: on Python < 3.12 every task
re-read every zip on the worker's ``sys.path`` (~250 ms for pyspark.zip)
until the guard in ``tei_chunker_spark/__init__.py``, installed when a
worker imports the package, limited that to the worker's first task.
On a real cluster the same function is used from ``spark-submit
--py-files``; master is inherited from the submit environment unless
explicitly forced (tests/bench force ``local[N]`` to evidence the
two-cluster-size scaling rule).
"""
from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "tei-chunker-spark",
    master: Optional[str] = None,
    shuffle_partitions: Optional[int] = None,
    max_partition_bytes: str = "32m",
) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    # Default to local[...] ONLY when this interpreter was launched
    # standalone: under spark-submit / an existing driver the JVM gateway
    # is already up (PYSPARK_GATEWAY_PORT set) and carries the submitted
    # master — overriding it would silently pull a cluster job onto the
    # driver node.
    launched_by_spark = "PYSPARK_GATEWAY_PORT" in os.environ or os.environ.get(
        "SPARK_SUBMIT"
    )
    if master is None and "SPARK_MASTER" not in os.environ and not launched_by_spark:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if master:
        builder = builder.master(master)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    spark = (
        builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce floor (r7, guide §2.2/§2.5): with the default 1m
        # floor, a small-but-compute-heavy post-shuffle stage (shingle
        # postings, signature aggregates over a few MB of text) coalesces
        # to ONE partition and serializes on one core.  64k keeps such
        # stages parallel while still merging genuinely empty splinters.
        # Scale-neutral by construction: at production sizes no
        # post-shuffle partition is anywhere near 64k, so the floor never
        # binds — it only matters exactly when bytes-per-partition is tiny
        # relative to compute, which is the regime it fixes.  Env-tunable
        # for clusters that want the stock floor back.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("TEI_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Rows are whole documents, so Arrow batches stay modest to bound
        # Python-worker memory against the oversized-doc tail; 256 measured
        # fastest (64 pays per-batch pandas overhead, 1024 is GC-erratic).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.python.worker.reuse", "true")
        # Documents are fat rows: smaller splits keep the scan stage's task
        # count >= cores even for modest file counts (at 100 TB the default
        # 128m is fine — tune per corpus, outputs never change).
        .config("spark.sql.files.maxPartitionBytes", max_partition_bytes)
        # Fat string rows wreck G1: 4096-row parquet column vectors become
        # humongous allocations, GCLocker starvation serializes the scan,
        # and mixed-collection churn made identical 32-core runs swing
        # 13-44s (103 pauses / 18.6s pause time per run measured).  The
        # throughput collector is flat and 3-5x faster for this batch
        # profile: 300k-doc extraction 5.6-9.2s vs 13.5-41.6s.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
