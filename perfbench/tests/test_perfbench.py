"""Tests of the benchmark itself, at a tiny input size.

    python3 -m pytest perfbench/tests -q

Every test starts its own local Spark session in this process, most of
them to run one benchmark invocation, so the module takes a few minutes.
"""
from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import w_extract_service  # noqa: E402
import w_operator_queries  # noqa: E402

TINY_TABLES = os.path.join(os.path.dirname(w_operator_queries.__file__), "data", "sf0.001")

# Figures the report must carry by name, beyond the declared metrics.
NAMED = {
    ("extract_service", False): {
        "docs_per_s": "docs/s", "spans_per_s": "spans/s", "failed_ops_frac": "ratio",
    },
    ("extract_service", True): {
        "scaling_efficiency": "ratio", "recovery_s": "s", "resume.cycle_s": "s",
        "manifest.wave_s": "s", "manifest.jobs_per_wave": "count",
        "manifest.completed_buckets_s": "s", "manifest.redone_bucket_frac": "ratio",
        "sink.bytes_per_span": "bytes", "extract.reassemble_s": "s",
        "resume.plan.arrow_received_bytes": "bytes",
        "resume.plan.python_total_s": "s", "flagship.core.pack_us_per_doc": "us",
        "extract.docs_per_s_local1": "docs/s",
    },
    ("operator_queries", False): {
        "queries_total_s": "s", "failed_ops_frac": "ratio",
        **{f"q.{q}.wall_s": "s" for q in w_operator_queries.HEADLINE},
    },
    ("operator_queries", True): {
        f"q.{q}.{k}": u
        for q in w_operator_queries.HEADLINE
        for k, u in (("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                     ("exchanges", "count"), ("python_s", "s"))
    },
}


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(w_extract_service, "DOCS", 300)
    monkeypatch.setattr(w_operator_queries, "TABLES_DIR", TINY_TABLES)


@pytest.mark.parametrize("trace", [False, True], ids=["e2e", "traced"])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_is_emitted_with_its_unit(tiny, workload, trace):
    b = run.run(workload, seed=7, seconds=0.1, trace=trace)
    out = run.result(b)
    assert out["correct"], b.notes
    assert out["attempted"] > 0 and out["failed"] == 0
    declared = run.declared_metrics(trace)
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
    for name, unit in NAMED[(workload, trace)].items():
        assert b.report[name][1] == unit, name
    json.dumps(out)


def test_a_mutated_span_fails_the_run(tiny, monkeypatch, capsys):
    from pyspark.sql import functions as F
    from tei_chunker_spark.operators import extract

    real = extract.extract_pipeline

    def one_span_mutated(df, job):
        out = real(df, job)
        hit = (F.col("doc_id") == "doc-000000000000") & (F.col("offset") == 0)
        return out.withColumn(
            "text",
            F.when(hit, F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("!")))
            .otherwise(F.col("text")),
        )

    monkeypatch.setattr(extract, "extract_pipeline", one_span_mutated)
    code = run.main(["--workload", "extract_service", "--seed", "7",
                     "--seconds", "0.1", "--trace", "0"])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 1
    assert last["correct"] is False
    # every timed pass carries the mutated span, so every one of them fails
    assert last["failed"] >= 1 and last["attempted"] >= last["failed"]


def test_plan_capture_sees_checkpointed_stages():
    import harness
    from pyspark.sql import functions as F
    from tei_chunker_spark.sources.session import get_spark

    harness.prepare_env()
    spark = get_spark("perfbench-test-capture", master="local[2]", shuffle_partitions=2)
    try:
        df = spark.range(1000).withColumn("k", F.col("id") % 7)
        with harness.captured_plans(spark) as cap:
            counts = df.groupBy("k").count().localCheckpoint()
            out = counts.groupBy((F.col("k") % 2).alias("j")).agg(F.sum("count"))
            assert sorted(r[1] for r in out.collect()) == [429, 571]
        final_only = harness.plan_metrics(out._jdf.queryExecution().executedPlan())
    finally:
        harness.stop_spark(spark)
    assert cap.actions == ["localCheckpoint", "collectToPython"]
    # the final plan reads the checkpoint as an RDD scan: its exchange is
    # only seen through the checkpoint's own action
    assert final_only["exchanges"] == 1
    assert cap.totals["exchanges"] == 2
