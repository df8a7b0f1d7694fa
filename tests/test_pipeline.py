"""End-to-end Spark pipeline tests: golden equality, partitioning
invariance, and agreement with the in-process core on a synthetic corpus.
"""
from __future__ import annotations

import pytest

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.core import extract_spans
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
from tei_chunker_spark.operators.extract import extract_pipeline

F1 = """<?xml version="1.0" encoding="UTF-8"?>
<TEI xmlns="http://www.tei-c.org/ns/1.0">
    <teiHeader><fileDesc><titleStmt><title>Test Paper</title></titleStmt></fileDesc></teiHeader>
    <text><body>
        <div><head>Introduction</head><p>Test introduction content.</p><formula>E = mc^2</formula></div>
        <div><head>Methods</head><p>Test methods content.</p></div>
    </body></text>
</TEI>"""

JOB = JobConfig(chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50), shuffle_partitions=8)


def _input_df(spark, rows):
    return spark.createDataFrame(rows, INPUT_SCHEMA_DDL)


def _collect_by_doc(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append((r.offset, r.kind, r.text, r.media_ref))
    return {k: [t[1:] for t in sorted(v)] for k, v in out.items()}


def test_pipeline_golden_f1_with_media(spark):
    cut = len(F1) // 2
    rows = [
        {
            "doc_id": "g1",
            "spans": [
                {"kind": "text", "text": F1[:cut], "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "fig://g1/0", "offset": 1},
                {"kind": "text", "text": F1[cut:], "media_ref": None, "offset": 2},
            ],
        }
    ]
    out = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    assert out == {
        "g1": [
            (
                "text",
                "# Introduction\n\nTest introduction content.\n\nE = mc^2\n\n# Methods\n\nTest methods content.",
                None,
            ),
            ("media_ref", None, "fig://g1/0"),
        ]
    }


def test_pipeline_malformed_doc_yields_media_only(spark):
    rows = [
        {
            "doc_id": "bad",
            "spans": [
                {"kind": "text", "text": "<broken", "media_ref": None, "offset": 0},
                {"kind": "media", "text": None, "media_ref": "img://bad/1", "offset": 1},
            ],
        }
    ]
    out = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    assert out == {"bad": [("media_ref", None, "img://bad/1")]}


def test_pipeline_matches_core_on_synthetic_corpus(spark):
    rows = make_rows([f"c{i}" for i in range(120)])
    got = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    checked = 0
    for row in rows:
        spans_t = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        exp = [
            (s.kind, s.text, s.media_ref)
            for s in extract_spans(row["doc_id"], spans_t, JOB.chunker)
        ]
        assert got.get(row["doc_id"], []) == exp, row["doc_id"]
        checked += 1
    assert checked == 120
    # some docs must actually produce output (not a vacuous pass)
    assert sum(len(v) for v in got.values()) > 200


@pytest.mark.parametrize("partitions", [3, 13])
def test_pipeline_invariant_under_partitioning(spark, partitions):
    """Output is a pure function of the input — unchanged by the physical
    partition count (execution knobs never leak into results)."""
    rows = make_rows([f"p{i}" for i in range(40)])
    base = _collect_by_doc(
        extract_pipeline(_input_df(spark, rows), JOB)
    )
    other_job = JobConfig(chunker=JOB.chunker, shuffle_partitions=partitions)
    other = _collect_by_doc(
        extract_pipeline(_input_df(spark, rows).repartition(5), other_job)
    )
    assert base == other


def test_oversized_doc_guardrail(spark):
    """max_doc_chars skips parsing (zero text spans) but keeps media and
    leaves small docs untouched."""
    rows = make_rows([f"g{i}" for i in range(30)])
    base = _collect_by_doc(extract_pipeline(_input_df(spark, rows), JOB))
    xml_len = {
        r["doc_id"]: sum(len(s["text"] or "") for s in r["spans"]) for r in rows
    }
    cap = sorted(xml_len.values())[len(xml_len) // 2]  # median -> half capped
    capped_job = JobConfig(
        chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50, max_doc_chars=cap),
        shuffle_partitions=8,
    )
    capped = _collect_by_doc(extract_pipeline(_input_df(spark, rows), capped_job))
    for row in rows:
        d = row["doc_id"]
        if xml_len[d] <= cap:
            assert capped.get(d, []) == base.get(d, [])
        else:
            assert all(k == "media_ref" for k, _t, _m in capped.get(d, []))


def test_spread_rule_reads_the_input_partition_count(spark):
    """An input already spread by its own repartition(defaultParallelism)
    gets no second exchange; a repartition(2) input and a groupBy input
    (whose count only a job could read) each get exactly one spread; all
    three give the same rows.  Each of the three runs one exchange: the
    spread replaces the repartition(2), and Spark drops it after the
    groupBy, whose own exchange already hashes doc_id into P partitions."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.plans.explain import count_exchanges

    df = _input_df(spark, make_rows([f"bk{i}" for i in range(40)]))
    spread = extract_pipeline(df.repartition(spark.sparkContext.defaultParallelism), JOB)
    narrow = extract_pipeline(df.repartition(2), JOB)
    grouped = extract_pipeline(
        df.groupBy("doc_id").agg(F.first("spans").alias("spans")), JOB
    )
    for out, spreads in ((spread, 0), (narrow, 1), (grouped, 1)):
        assert count_exchanges(out) == 1 and _spread_repartitions(out) == spreads
    expected = _collect_by_doc(spread)
    assert expected and _collect_by_doc(narrow) == expected
    assert _collect_by_doc(grouped) == expected


def test_spread_fills_every_partition(spark):
    """The spread hashes doc_id once, so 400 documents from one partition
    fill all P partitions of its output (a second hash of a salt already
    reduced mod P left 3 of 8 empty)."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.extract import _salted

    df = _input_df(spark, make_rows([f"s{i}" for i in range(400)])).coalesce(1)
    parts = _salted(df, JOB).select(F.spark_partition_id()).distinct().count()
    assert parts == JOB.shuffle_partitions


def test_salting_distribution(spark):
    """The bucket hash spreads documents near-uniformly across buckets so
    no partition inherits a disproportionate share (the skew defense),
    and it is the spread's own partition hash: if Spark ever changed its
    partition hash, buckets would scatter across partitions."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.extract import bucket_of, spread

    rows = make_rows([f"s{i}" for i in range(400)])
    df = _input_df(spark, rows)
    counts = [
        r.n
        for r in df.select(bucket_of(16).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert len(counts) == 16  # every bucket hit
    assert max(counts) < 3 * min(counts)  # no gross imbalance at n=400
    p = JOB.shuffle_partitions
    placed = spread(df.select("doc_id"), p).select(
        (bucket_of(p) == F.spark_partition_id()).alias("same")
    )
    assert {r.same for r in placed.collect()} == {True}


def _spread_repartitions(df) -> int:
    """Extraction spreads (hash repartitions on doc_id) in ``df``'s
    analyzed plan, which a streaming frame has before it runs."""
    return df._jdf.queryExecution().analyzed().toString().count(
        "RepartitionByExpression [doc_id"
    )


def test_spread_input_runs_in_the_scan_stage(spark, tmp_path):
    """An input that fills the cores gets no exchange; one with a single
    partition and a streaming one each get exactly one spread; all three
    give the same rows."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.plans.explain import count_exchanges, executed_plan

    rows = make_rows([f"x{i}" for i in range(40)])
    df = _input_df(spark, rows).withColumn("extra_col", F.col("doc_id"))
    assert df.rdd.getNumPartitions() >= min(
        JOB.shuffle_partitions, spark.sparkContext.defaultParallelism
    )
    spread = extract_pipeline(df, JOB)
    plan = executed_plan(spread)
    assert count_exchanges(spread) == 0 and "MapInPandas" in plan
    assert "extra_col" not in plan
    single = extract_pipeline(df.coalesce(1), JOB)
    assert count_exchanges(single) == 1 and _spread_repartitions(single) == 1

    path = str(tmp_path / "input")
    _input_df(spark, rows).write.parquet(path)
    stream = extract_pipeline(
        spark.readStream.schema(INPUT_SCHEMA_DDL).parquet(path), JOB
    )
    assert _spread_repartitions(stream) == 1
    q = (
        stream.writeStream.format("memory")
        .queryName("spread_rule_stream")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
        streamed = _collect_by_doc(spark.table("spread_rule_stream"))
    finally:
        q.stop()
    expected = _collect_by_doc(spread)
    assert sum(map(len, expected.values())) > 40
    assert _collect_by_doc(single) == expected
    assert streamed == expected


def test_building_the_pipeline_starts_no_job(spark, tmp_path):
    """The spread rule reads every input's partition count without a
    job: a file scan, the generator-fed corpus (its round-robin fills the
    cores, so its one exchange is its own), a scalar-subquery filter, and
    a repartition with adaptive execution off."""
    import __spark_entry__ as E

    from pyspark.sql import functions as F

    from tei_chunker_spark.plans.explain import count_exchanges

    from .test_barrier import _job_ids

    path = str(tmp_path / "input")
    _input_df(spark, make_rows([f"j{i}" for i in range(16)])).write.parquet(path)
    spark.range(16).withColumnRenamed("id", "doc_id").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    # schema inference runs a job, so both reads come before the block
    scan = spark.read.parquet(path)
    corpus = E._interleaved_corpus(spark, str(tmp_path))
    first_id = scan.select(F.min("doc_id")).scalar()
    with _job_ids(spark, "test-extract-build") as job_ids:
        assert count_exchanges(extract_pipeline(scan, JOB)) == 0
        assert count_exchanges(extract_pipeline(corpus, E._FLAGSHIP_JOB)) == 1
        subquery = extract_pipeline(scan.filter(F.col("doc_id") != first_id), JOB)
        assert _spread_repartitions(subquery) == 1
        aqe = "spark.sql.adaptive.enabled"
        was = spark.conf.get(aqe)
        spark.conf.set(aqe, "false")
        try:
            assert _spread_repartitions(extract_pipeline(scan.repartition(4), JOB)) == 1
        finally:
            spark.conf.set(aqe, was)
        assert job_ids() == []


def test_observation_metrics_free_counters(spark):
    """job.observed_spans: sink-side Observation counters match exact
    recomputation (n_spans/n_text/n_media exact; doc count is HLL-approx
    — DISTINCT is rejected by CollectMetrics — so tolerance-checked)."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.job import observed_spans

    rows = make_rows([f"obs{i}" for i in range(40)])
    spans = extract_pipeline(_input_df(spark, rows), JOB)
    observed, obs = observed_spans(spans)
    collected = observed.collect()  # the action that publishes metrics
    m = obs.get
    assert m["n_spans"] == len(collected)
    kinds = [r.kind for r in collected]
    assert m["n_text"] == sum(k == "text" for k in kinds)
    assert m["n_media"] == sum(k == "media_ref" for k in kinds)
    n_docs = len({r.doc_id for r in collected})
    assert abs(m["n_docs_approx"] - n_docs) <= max(2, 0.05 * n_docs)
    # observation is a pass-through: rows identical to the unobserved run
    assert {tuple(r) for r in collected} == {
        tuple(r) for r in extract_pipeline(_input_df(spark, rows), JOB).collect()
    }
