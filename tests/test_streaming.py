"""Streaming surface tests: AvailableNow extraction equals the batch
pipeline, and the checkpoint makes restarts incremental (no dupes)."""
from __future__ import annotations

import pytest

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.operators.extract import extract_pipeline
from tei_chunker_spark.streaming.stream import extract_stream

JOB = JobConfig(chunker=ChunkerConfig(500, 50), shuffle_partitions=8)


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "input")
    rows = make_rows([f"s{i}" for i in range(60)])
    spark.createDataFrame(rows, INPUT_SCHEMA_DDL).repartition(6).write.parquet(path)
    return path


def _spans(df):
    return {
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in df.collect()
    }


def test_available_now_stream_equals_batch(spark, corpus_path, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = extract_stream(spark, corpus_path, out, ckpt, JOB, max_files_per_trigger=2)
    assert q.awaitTermination(300)
    got = _spans(spark.read.parquet(out))
    expected = _spans(extract_pipeline(spark.read.parquet(corpus_path), JOB))
    assert got == expected

    # restart with same checkpoint: nothing new to process, no duplicates
    q2 = extract_stream(spark, corpus_path, out, ckpt, JOB, max_files_per_trigger=2)
    assert q2.awaitTermination(300)
    assert _spans(spark.read.parquet(out)) == expected
