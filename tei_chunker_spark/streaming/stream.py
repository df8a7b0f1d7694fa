"""Structured Streaming surface.

The north rule is a batch `spark-submit` job with manifest-based resume
(SURVEY.md §3.4) — streaming is an *alternative* integration, not the
primary path.  :func:`extract_stream` runs the same extraction
pipeline under ``Trigger.AvailableNow``, with the spread exchange (a
streaming input always gets it): the file-source checkpoint gives
exactly-once, per-micro-batch resumability for free (kill it mid-corpus,
restart, no dupes/no gaps — the streaming analogue of the manifest).  On
a real deployment the source is an Iceberg streaming read.
"""
from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..config import JobConfig
from ..corpus import INPUT_SCHEMA_DDL
from ..operators.extract import extract_pipeline


def extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    job: JobConfig,
    max_files_per_trigger: int = 8,
) -> StreamingQuery:
    """Run the extraction pipeline as an AvailableNow stream over a parquet
    directory; returns the started query (await with ``awaitTermination``)."""
    src = (
        spark.readStream.schema(INPUT_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    spans = extract_pipeline(src, job)
    return (
        spans.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
