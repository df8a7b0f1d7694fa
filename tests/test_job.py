"""The batch driver ``job.main``: the one-shot run (no ``--manifest``)
and the resumable run, on the session fixture."""
from __future__ import annotations

import ast
import contextlib

from tei_chunker_spark import job
from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.manifest import completed_buckets
from tei_chunker_spark.operators.extract import extract_pipeline

# The runtime confs main() sets on the (reused) session.
_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.sources.partitionOverwriteMode",
)
_ARGS = ["--max-chunk-size", "500", "--overlap-size", "50",
         "--shuffle-partitions", "8", "--num-buckets", "4"]


@contextlib.contextmanager
def _restored_confs(spark):
    old = {k: spark.conf.get(k) for k in _CONFS}
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _corpus(spark, tmp_path):
    path = str(tmp_path / "input")
    rows = make_rows([str(i) for i in range(30)])
    spark.createDataFrame(rows, INPUT_SCHEMA_DDL).write.parquet(path)
    return path


def test_one_shot_run_writes_the_pipeline_spans(spark, tmp_path, capsys):
    inp, out = _corpus(spark, tmp_path), str(tmp_path / "spans")
    with _restored_confs(spark):
        job.main(["--input", inp, "--output", out, *_ARGS])
    expected = extract_pipeline(
        spark.read.parquet(inp),
        JobConfig(chunker=ChunkerConfig(500, 50), shuffle_partitions=8, num_buckets=4),
    ).collect()
    got = spark.read.parquet(out).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected)) and got

    printed = capsys.readouterr().out
    line = next(ln for ln in printed.splitlines() if ln.startswith("metrics: "))
    metrics = ast.literal_eval(line[len("metrics: "):])
    n_text = sum(r.kind == "text" for r in expected)
    assert metrics["n_spans"] == len(expected)
    assert metrics["n_text"] == n_text
    assert metrics["n_media"] == len(expected) - n_text
    assert f"done: {out}" in printed


def test_manifest_run_completes_every_bucket(spark, tmp_path):
    inp, out = _corpus(spark, tmp_path), str(tmp_path / "spans")
    manifest = str(tmp_path / "manifest")
    with _restored_confs(spark):
        job.main(["--input", inp, "--output", out, "--manifest", manifest,
                  "--job-id", "t", "--wave-size", "3", *_ARGS])
    assert sorted(completed_buckets(spark, manifest, "t")) == [0, 1, 2, 3]
    assert spark.read.parquet(out).select("doc_id").distinct().count() > 0
