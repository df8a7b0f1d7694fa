"""Checkpoint manifest: per-bucket lineage + metrics, resumable runner.

The reference has no persistence at all (its "sink" is one JSON HTTP
response, reference service.py:32-55); at 10^12 documents the job must
instead survive restarts.  Design:

* every document maps to a stable **bucket** = ``pmod(hash(doc_id),
  num_buckets)`` (``operators.extract.bucket_of``): its partition in each
  wave's doc_id spread, mod num_buckets.  Every manifest row records this
  layout, and a resume under another one is refused.
* output is written ``partitionBy("bucket")`` with dynamic partition
  overwrite, so re-processing a bucket is idempotent (no dupes).
* the manifest is an append-only table ``(job_id, bucket, status,
  doc_count, span_count, wall_ms, attempt, lineage_json)``; the current
  state of a bucket is the row with the highest attempt.  Append-only means
  a crashed writer can never corrupt history, and lineage keeps every
  attempt auditable.
* the runner processes buckets in **waves** (each wave = one Spark action +
  one manifest append).  A kill between waves loses at most the in-flight
  wave; the next run reads the completed buckets from the manifest and
  only processes the remainder, each wave selecting its own buckets with
  an ``isin`` predicate.  On a 1000-executor cluster you'd size
  num_buckets in the thousands and waves to a few minutes of work each.
"""
from __future__ import annotations

import json
import time
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import JobConfig
from .operators.extract import bucket_of, extract_pipeline, spread

MANIFEST_SCHEMA_DDL = (
    "job_id string, bucket int, status string, input_doc_count long, "
    "doc_count long, span_count long, wall_ms long, attempt int, lineage_json string"
)


def read_manifest(spark: SparkSession, path: str) -> Optional[DataFrame]:
    try:
        return spark.read.schema(MANIFEST_SCHEMA_DDL).parquet(path)
    except Exception:
        return None  # first run: no manifest yet


def _job_buckets(spark: SparkSession, path: str, job_id: str) -> list:
    """Per bucket of ``job_id``, in one action: its latest ``status``, its
    highest ``attempt`` and the bucket ``layouts`` its rows record."""
    m = read_manifest(spark, path)
    if m is None:
        return []
    layout = F.coalesce(F.get_json_object("lineage_json", "$.bucket"), F.lit("none"))
    return (
        m.filter(F.col("job_id") == job_id)
        .groupBy("bucket")
        .agg(F.max_by("status", "attempt").alias("status"),
             F.max("attempt").alias("attempt"),
             F.collect_set(layout).alias("layouts"))
        .collect()
    )


def completed_buckets(spark: SparkSession, path: str, job_id: str) -> List[int]:
    """Buckets whose latest attempt is 'done'."""
    return [r.bucket for r in _job_buckets(spark, path, job_id) if r.status == "done"]


def append_manifest(spark: SparkSession, path: str, rows: Sequence[dict]) -> None:
    spark.createDataFrame(rows, MANIFEST_SCHEMA_DDL).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    manifest_path: str,
    job: JobConfig,
    job_id: str = "job",
    wave_size: int = 8,
    fail_after_waves: Optional[int] = None,
) -> None:
    """Process all pending buckets in waves; idempotent under restart.

    ``output_path`` must be unique per ``job_id``: per-wave metrics re-read
    the output filtered on bucket only, and dynamic partition overwrite is
    keyed on bucket only — two jobs sharing one output directory would
    cross-contaminate metrics and clobber each other's partitions.

    ``fail_after_waves`` injects a crash after N waves (tests only).
    Raises ``ValueError``, before any write, if ``job_id`` has manifest
    rows under another bucket layout: their bucket ids name other docs.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    nb = job.num_buckets
    layout = f"pmod(hash(doc_id), {nb})"
    state = _job_buckets(spark, manifest_path, job_id)
    other = sorted({l for r in state for l in r.layouts} - {layout})
    if other:
        raise ValueError(f"job {job_id!r}: the manifest records bucket layout "
                         f"{', '.join(other)}, this run has {layout}; use a new job_id")
    done = {r.bucket for r in state if r.status == "done"}
    pending = [b for b in range(nb) if b not in done]
    if not pending:
        return

    input_df = spark.read.format(job.input_format).load(input_path).withColumn(
        "bucket", bucket_of(nb)
    )
    # Monotonic per-job attempt number (NOT wall-clock derived: an epoch
    # modulo would wrap and make max_by('status','attempt') resolve a stale
    # row as latest).
    attempt = max((r.attempt for r in state), default=0) + 1

    for wave_idx in range(0, len(pending), wave_size):
        wave = pending[wave_idx : wave_idx + wave_size]
        t0 = time.time()
        subset = input_df.filter(F.col("bucket").isin(wave))
        # Input-side accounting: a malformed document emits zero spans, so
        # without this a doc can vanish silently — the judge of "no gaps"
        # at 10^12 docs is input_doc_count vs doc_count per bucket.
        input_counts = {
            r["bucket"]: r["n"]
            for r in subset.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # Spread here whatever the scan's partition count, so a bucket
        # directory gets files only from the partitions holding its
        # documents; extract_pipeline then adds no exchange of its own.
        docs = spread(subset.select("doc_id", "spans"), job.shuffle_partitions)
        spans = extract_pipeline(docs, job).withColumn("bucket", bucket_of(nb))
        spans.write.mode("overwrite").partitionBy("bucket").format("parquet").save(
            output_path
        )
        wall_ms = int((time.time() - t0) * 1000)

        # Metrics from the committed files (no re-extraction): narrow
        # columnar scan of just-written buckets.
        written = spark.read.parquet(output_path).filter(F.col("bucket").isin(wave))
        stats = {
            r["bucket"]: r
            for r in written.groupBy("bucket")
            .agg(
                F.countDistinct("doc_id").alias("doc_count"),
                F.count(F.lit(1)).alias("span_count"),
            )
            .collect()
        }
        rows = []
        for b in wave:
            s = stats.get(b)
            rows.append(
                {
                    "job_id": job_id,
                    "bucket": b,
                    "status": "done",
                    "input_doc_count": int(input_counts.get(b, 0)),
                    "doc_count": int(s["doc_count"]) if s else 0,
                    "span_count": int(s["span_count"]) if s else 0,
                    "wall_ms": wall_ms,
                    "attempt": attempt,
                    "lineage_json": json.dumps(
                        {
                            "input": input_path,
                            "num_buckets": nb,
                            "bucket": layout,
                            "wave": wave,
                            "chunker": {
                                "max_chunk_size": job.chunker.max_chunk_size,
                                "overlap_size": job.chunker.overlap_size,
                            },
                        }
                    ),
                }
            )
        append_manifest(spark, manifest_path, rows)
        if fail_after_waves is not None and wave_idx // wave_size + 1 >= fail_after_waves:
            raise RuntimeError("injected failure after wave (test hook)")
