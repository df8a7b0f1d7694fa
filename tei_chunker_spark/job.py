"""Batch driver: ``spark-submit --py-files tei_chunker_spark.zip -m`` style.

Examples
--------
One-shot run (no ``--manifest``)::

    spark-submit --py-files tei_chunker_spark.zip job.py \
        --input /data/docs --output /data/spans

Resumable run (with ``--manifest``)::

    python -m tei_chunker_spark.job --input /tmp/corpus \
        --output /tmp/spans --manifest /tmp/manifest --job-id run1

On a cluster, point --input at the Iceberg table path and set
--input-format iceberg (the plan shape is identical; the scan node changes).
"""
from __future__ import annotations

import argparse

from .config import (
    DEFAULT_MAX_CHUNK_SIZE,
    DEFAULT_OVERLAP_SIZE,
    ChunkerConfig,
    JobConfig,
)
from .manifest import run_resumable
from .operators.extract import extract_pipeline
from .sources.session import get_spark


def observed_spans(spans):
    """Attach an ``Observation`` to the span output: per-run counters
    (spans, docs, text/media split) collected AS A SIDE EFFECT of the sink
    action — zero extra scan, zero extra shuffle.  At 100 TB this is the
    difference between free operational metrics and a second pass over
    the output; the numbers land in ``obs.get`` after the write action
    (and on a cluster in the QueryExecution listener event stream).

    Returns (observed_df, observation); the observed df is
    output-identical to the input.  DISTINCT aggregates are rejected by
    CollectMetrics (it must merge per-partition partials), so the doc
    count is the HLL ``approx_count_distinct`` — the honest trade for a
    free metric; the manifest records exact per-bucket counts where
    exactness matters."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("extract_metrics")
    observed = spans.observe(
        obs,
        F.count(F.lit(1)).alias("n_spans"),
        F.approx_count_distinct("doc_id").alias("n_docs_approx"),
        F.sum((F.col("kind") == "text").cast("long")).alias("n_text"),
        F.sum((F.col("kind") == "media_ref").cast("long")).alias("n_media"),
    )
    return observed, obs


def build_job_config(args: argparse.Namespace) -> JobConfig:
    return JobConfig(
        chunker=ChunkerConfig(
            max_chunk_size=args.max_chunk_size, overlap_size=args.overlap_size
        ),
        num_buckets=args.num_buckets,
        shuffle_partitions=args.shuffle_partitions,
        input_format=args.input_format,
    )


def main(argv=None) -> None:
    defaults = JobConfig()
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", default=None)
    ap.add_argument("--job-id", default="job")
    ap.add_argument("--max-chunk-size", type=int, default=DEFAULT_MAX_CHUNK_SIZE)
    ap.add_argument("--overlap-size", type=int, default=DEFAULT_OVERLAP_SIZE)
    ap.add_argument("--num-buckets", type=int, default=defaults.num_buckets)
    ap.add_argument("--shuffle-partitions", type=int, default=defaults.shuffle_partitions)
    ap.add_argument("--wave-size", type=int, default=8)
    ap.add_argument("--input-format", default=defaults.input_format)
    ap.add_argument("--master", default=None)
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args(argv)

    job = build_job_config(args)
    spark = get_spark(
        "tei-extract", master=args.master, shuffle_partitions=args.shuffle_partitions
    )

    if not args.manifest:
        df = spark.read.format(job.input_format).load(args.input)
        spans = extract_pipeline(df, job)
        if args.explain:
            spans.explain("formatted")
        spans, obs = observed_spans(spans)
        spans.write.mode("overwrite").parquet(args.output)
        print(f"metrics: {obs.get}")
    else:
        run_resumable(
            spark,
            args.input,
            args.output,
            args.manifest,
            job,
            job_id=args.job_id,
            wave_size=args.wave_size,
        )
    print(f"done: {args.output}")


if __name__ == "__main__":
    main()
