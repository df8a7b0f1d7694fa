"""Iceberg end-to-end exercise: corpus -> Iceberg table (bucket(P, doc_id)
layout) -> extraction pipeline with ``input_format='iceberg'`` -> Iceberg
span sink -> read-back verification.  The pipeline adds no exchange of its
own where the table's scan already fills the cores.

This is the north-rule storage path (BASELINE.json: "Iceberg table of
interleaved documents").  The sandbox ships no iceberg-spark-runtime jar,
so the script probes for the classes first and exits with code 3 when they
are absent — tests/test_iceberg.py turns that into a pytest skip, and on
any cluster with the standard runtime jar on the classpath the same script
runs the real thing:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
        scripts/iceberg_e2e.py /tmp/iceberg_warehouse

Exit codes: 0 = verified, 3 = iceberg classes absent, 1 = failure.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 400
BUCKETS = 8


def e2e_job(buckets: int = BUCKETS):
    """The exact JobConfig the e2e path runs (iceberg input).  Factored
    out so the jar-less dry-run test exercises the identical
    configuration."""
    from tei_chunker_spark.config import ChunkerConfig, JobConfig

    return JobConfig(
        chunker=ChunkerConfig(500, 50),
        shuffle_partitions=buckets,
        input_format="iceberg",
    )


def find_local_iceberg_jar() -> str | None:
    """Offline jar resolution: probe the standard local caches so a box
    that has ever fetched iceberg-spark-runtime runs the real e2e even
    without network (--packages would try to resolve remotely).

    Only jars built for the RUNNING Spark major.minor are eligible (the
    artifact name embeds it: iceberg-spark-runtime-4.1_2.13-<ver>.jar) —
    a cached jar for another Spark would be injected and then fail
    classloading confusingly instead of hitting the documented skip path
    (round-3 advisory).  Among matches, prefer the newest by filename."""
    import glob
    import re

    candidates = []
    for root in ("~/.ivy2", "~/.m2"):
        candidates += glob.glob(
            os.path.expanduser(f"{root}/**/iceberg-spark-runtime*.jar"),
            recursive=True,
        )
    try:
        import pyspark

        candidates += glob.glob(
            os.path.join(os.path.dirname(pyspark.__file__), "jars", "iceberg-spark-runtime*.jar")
        )
        spark_mm = ".".join(pyspark.__version__.split(".")[:2])
    except ImportError:
        return None
    matched = [
        c
        for c in candidates
        if re.search(
            rf"iceberg-spark-runtime-{re.escape(spark_mm)}_", os.path.basename(c)
        )
    ]
    if candidates and not matched:
        print(
            f"ICEBERG_JAR_SKIPPED: cached jar(s) {sorted(set(map(os.path.basename, candidates)))} "
            f"do not match running Spark {spark_mm}"
        )

    def version_key(path: str) -> tuple:
        # numeric tuple, not lexicographic ('1.10.0' > '1.9.1')
        m = re.search(r"-(\d+(?:\.\d+)*)\.jar$", os.path.basename(path))
        return tuple(int(x) for x in m.group(1).split(".")) if m else ()

    return max(matched, key=version_key) if matched else None


def dry_run(spark, n_docs: int = 200) -> int:
    """Everything the e2e does EXCEPT the Iceberg catalog calls, runnable
    with no jar: build the corpus, run the extraction pipeline over a
    checkpointed stand-in for the bucket(P, doc_id) table layout, assert
    that its plan has no Exchange (the stand-in's P partitions already
    fill min(P, cores)), and verify output equality with the pipeline over
    the corpus as generated.  Returns the span count.  Catches regressions
    in this script's pipeline logic between rounds on jar-less boxes; the
    subprocess e2e covers the catalog half when the runtime jar is
    resolvable."""
    from tei_chunker_spark.config import ChunkerConfig, JobConfig
    from tei_chunker_spark.corpus import corpus_df
    from tei_chunker_spark.operators.extract import extract_pipeline

    job_ice = e2e_job(BUCKETS)
    # Stand-in for the Iceberg bucket(P, doc_id) layout.  Materialized
    # eagerly so the stand-in's own repartition is not part of the plan
    # under inspection (on a real cluster the layout lives in the table,
    # not the query).
    docs = (
        corpus_df(spark, n_docs)
        .repartition(BUCKETS, "doc_id")
        .localCheckpoint(eager=True)
    )
    # input_format steers the scan only; the pipeline after it is what we
    # exercise here.
    elided = extract_pipeline(docs, job_ice)
    plan = elided._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed input still shuffles:\n{plan}"
    plain = extract_pipeline(
        corpus_df(spark, n_docs),
        JobConfig(chunker=ChunkerConfig(500, 50), shuffle_partitions=BUCKETS),
    )
    n_elided, n_plain = elided.count(), plain.count()
    diff = elided.exceptAll(plain).count() + plain.exceptAll(elided).count()
    assert n_elided == n_plain and diff == 0, (n_elided, n_plain, diff)
    return n_elided


def main(warehouse: str) -> int:
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("iceberg-e2e")
        .master("local[4]")
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", warehouse)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
    )
    jar = find_local_iceberg_jar()
    if jar:
        builder = builder.config("spark.jars", jar)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        print("ICEBERG_ABSENT: org.apache.iceberg.spark.SparkCatalog not on classpath")
        spark.stop()
        return 3

    from pyspark.sql import functions as F

    from tei_chunker_spark.config import ChunkerConfig, JobConfig
    from tei_chunker_spark.corpus import corpus_df
    from tei_chunker_spark.operators.extract import extract_pipeline

    job = e2e_job(BUCKETS)

    # 1. Write the interleaved corpus as an Iceberg table bucketed on
    #    doc_id — the 10^12-doc layout whose scan fills the cores, so the
    #    pipeline adds no exchange (operators/extract._salted).
    docs = corpus_df(spark, N_DOCS)
    spark.sql("DROP TABLE IF EXISTS local.db.documents")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS local.db")
    docs.writeTo("local.db.documents").partitionedBy(
        F.bucket(BUCKETS, F.col("doc_id"))
    ).create()

    # 2. Scan through the configured input_format (catalog read), extract,
    #    append to an Iceberg span table.
    src = spark.read.format(job.input_format).load("local.db.documents")
    spans = extract_pipeline(src, job)
    spark.sql("DROP TABLE IF EXISTS local.db.spans")
    spans.writeTo("local.db.spans").create()

    # 3. Verify against the plain in-memory pipeline on the same corpus.
    expected = extract_pipeline(
        corpus_df(spark, N_DOCS), JobConfig(chunker=ChunkerConfig(500, 50), shuffle_partitions=BUCKETS)
    )
    got = spark.read.format("iceberg").load("local.db.spans")
    n_got, n_exp = got.count(), expected.count()
    diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    print(f"spans: iceberg={n_got} expected={n_exp} symmetric_diff={diff}")
    spark.stop()
    if n_got == n_exp and diff == 0:
        print("ICEBERG_E2E_OK")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/iceberg_warehouse"))
