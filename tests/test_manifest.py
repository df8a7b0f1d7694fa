"""Checkpoint/resume tests: kill after a wave, rerun, assert no duplicate
and no missing spans vs a single-shot run (BASELINE.md resumability row).
"""
from __future__ import annotations

from dataclasses import replace

import pytest

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.manifest import (
    completed_buckets,
    read_manifest,
    run_resumable,
)
from tei_chunker_spark.operators.extract import extract_pipeline

JOB = JobConfig(
    chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50),
    num_buckets=8,
    shuffle_partitions=8,
)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "input")
    rows = make_rows([f"m{i}" for i in range(150)])
    spark.createDataFrame(rows, INPUT_SCHEMA_DDL).write.parquet(path)
    return path


def _spans_set(spark, path):
    return {
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in spark.read.parquet(path).drop("bucket").collect()
    }


def test_crash_then_resume_no_dupes_no_gaps(spark, corpus_path, tmp_path):
    out_a = str(tmp_path / "out_a")
    out_b = str(tmp_path / "out_b")
    manifest = str(tmp_path / "manifest")

    # single-shot truth
    run_resumable(spark, corpus_path, out_a, str(tmp_path / "m_a"), JOB, job_id="truth")
    truth = _spans_set(spark, out_a)
    assert truth

    # crashed run: dies after 1 wave of 3 buckets
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(
            spark, corpus_path, out_b, manifest, JOB,
            job_id="crashy", wave_size=3, fail_after_waves=1,
        )
    done_after_crash = completed_buckets(spark, manifest, "crashy")
    assert 0 < len(done_after_crash) < JOB.num_buckets

    # resume completes the rest, skipping finished buckets
    run_resumable(spark, corpus_path, out_b, manifest, JOB, job_id="crashy", wave_size=3)
    assert _spans_set(spark, out_b) == truth  # no dupes, no gaps

    m = read_manifest(spark, manifest).filter("job_id = 'crashy'")
    per_bucket = {r.bucket for r in m.filter("status = 'done'").collect()}
    assert per_bucket == set(range(JOB.num_buckets))
    # lineage recorded
    assert all("num_buckets" in r.lineage_json for r in m.collect())
    # metrics add up to the true span count
    latest = {}
    for r in m.collect():
        if r.bucket not in latest or r.attempt > latest[r.bucket].attempt:
            latest[r.bucket] = r
    assert sum(r.span_count for r in latest.values()) == len(truth)
    # input accounting covers every input doc (incl. zero-output docs)
    total_in = sum(r.input_doc_count for r in latest.values())
    n_input = spark.read.parquet(corpus_path).count()
    assert total_in == n_input
    assert all(r.doc_count <= r.input_doc_count for r in latest.values())


def test_rerun_completed_job_is_noop(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest")
    run_resumable(spark, corpus_path, out, manifest, JOB, job_id="j2")
    n_manifest = read_manifest(spark, manifest).count()
    run_resumable(spark, corpus_path, out, manifest, JOB, job_id="j2")
    assert read_manifest(spark, manifest).count() == n_manifest  # nothing re-done


@pytest.mark.parametrize(
    "num_buckets, wave_size, exchanges",
    [(8, 3, [1, 1, 1]), (4, 4, [1])],
    ids=["8_buckets", "4_buckets"],
)
def test_waves_spread_one_bucket_per_partition(
    spark, corpus_path, tmp_path, monkeypatch, num_buckets, wave_size, exchanges
):
    """Each wave is spread on doc_id even though its scan alone fills the
    cores, and a bucket is the spread's own hash mod num_buckets: every
    partition p of a wave's Python stage holds the rows of bucket
    p % num_buckets, if that bucket is in the wave, and of no other.  So
    with num_buckets dividing P, a one-wave run fills all P partitions
    and each bucket directory gets P / num_buckets files."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from tei_chunker_spark.plans.explain import count_exchanges

    job = replace(JOB, num_buckets=num_buckets)
    p = job.shuffle_partitions
    out = tmp_path / "out"
    assert spark.read.parquet(corpus_path).rdd.getNumPartitions() >= min(
        p, spark.sparkContext.defaultParallelism
    )
    exchanges_seen, placed = [], set()
    save = DataFrameWriter.save

    def counting_save(self, path=None, *args, **kwargs):
        if path == str(out):
            exchanges_seen.append(count_exchanges(self._df))
            placed.update(
                tuple(r) for r in self._df.select(
                    F.spark_partition_id(), "bucket").distinct().collect()
            )
        return save(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "save", counting_save)
    run_resumable(
        spark, corpus_path, str(out), str(tmp_path / "m"), job, job_id="spread",
        wave_size=wave_size,
    )
    assert exchanges_seen == exchanges
    assert placed == {(part, part % num_buckets) for part in range(p)}
    buckets = sorted(out.glob("bucket=*"))
    assert len(buckets) == num_buckets
    for bucket in buckets:
        assert len(list(bucket.glob("*.parquet"))) == p // num_buckets, bucket


def test_resume_refuses_another_bucket_layout(spark, corpus_path, tmp_path):
    """A manifest written at num_buckets=8 names other documents by its
    bucket ids than a run at 4 would, so resuming the crashed job at 4
    raises before it writes anything, instead of skipping the documents
    of the buckets it takes as done."""
    out = tmp_path / "out"
    manifest = str(tmp_path / "manifest")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, corpus_path, str(out), manifest, JOB,
                      job_id="relaid", wave_size=3, fail_after_waves=1)
    n_manifest = read_manifest(spark, manifest).count()
    files = sorted(out.rglob("*.parquet"))
    with pytest.raises(ValueError, match=r"relaid.*pmod\(hash\(doc_id\), 8\).*, 4\)"):
        run_resumable(spark, corpus_path, str(out), manifest,
                      replace(JOB, num_buckets=4), job_id="relaid", wave_size=3)
    assert read_manifest(spark, manifest).count() == n_manifest
    assert sorted(out.rglob("*.parquet")) == files
