"""operator_queries: the ten headline ``__spark_entry__.queries()``.

The tables are the repository's sf0.01 test tables, copied into
``perfbench/data/sf0.01`` so the benchmark reads only inside its checkout;
they are fixed, so ``--seed`` does not apply to this workload.  One
operation is one sweep of the ten queries; each query is constructed inside
the timed region and forced with bench.py's ``force()`` (a row hash summed
over every output column).  ``op_wall_s`` is the sum over the queries of
each query's median wall, i.e. the headline total.  At this size the time
goes to per-query fixed cost -- construction, planning and scheduling in
``sources.tables`` and ``operators.*`` -- and the extraction query here is
generator-fed, so it skips the salt exchange.

Checks: once per invocation each query's whole output is compared with its
DuckDB ``oracle_sql()`` through ``testing.normalize_for_compare`` (that
run is also the query's warm-up); every timed repetition must then
reproduce the ``force()`` digest of the first.
"""
from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext

import extraction as ex
from harness import HERE, ROOT, captured_plans, median

# bench.py's HEADLINE list
HEADLINE = [
    "extract_spans_pipeline",
    "doc_stats",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_bruteforce_topk",
    "events_sessionize",
    "pricing_summary",
    "revenue_by_nation",
]
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")
# untimed sweeps, then timed sweeps per run (about run_seconds worth), so
# every run times the same, flatter stretch of the JVM's warm-up curve
WARM_OPS = 2
MIN_OPS = 3


def force_df(df):
    """bench.py's force() without the collect: every output column hashed."""
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in df.columns]
    return df.select((F.xxhash64(*cols) % 1_000_000_007).alias("h")).agg(F.sum("h"))


def same_output(spark_pdf, oracle_pdf) -> bool:
    import pandas as pd
    from tei_chunker_spark.testing import normalize_for_compare

    if len(spark_pdf) != len(oracle_pdf) or sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    try:
        pd.testing.assert_frame_equal(
            normalize_for_compare(spark_pdf), normalize_for_compare(oracle_pdf),
            check_dtype=False, rtol=0, atol=0,
        )
    except AssertionError:
        return False
    return True


def oracle_check(b, sf_dir: str, queries: dict) -> None:
    import duckdb

    import __spark_entry__ as entry
    from tei_chunker_spark.sources.tables import TABLES

    # The extraction oracles read golden fixtures from the repository's
    # tests/fixtures; point them at this checkout's copy.
    fixtures = os.path.join(ROOT, "tests", "fixtures")
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
        for name in HEADLINE:
            with b.tracer.span("check.oracle", query=name):
                got = queries[name](b.spark, sf_dir).toPandas()
                want = con.sql(oracles[name].replace(entry._FIXTURES, fixtures)).df()
            b.op(same_output(got, want),
                 f"{name}: Spark output ({len(got)} rows) differs from its DuckDB oracle "
                 f"({len(want)} rows)")
    finally:
        con.close()


def run(b) -> None:
    import __spark_entry__ as entry
    from tei_chunker_spark.config import ChunkerConfig, JobConfig

    flagship = ChunkerConfig(500, 50)
    spark = b.start_spark("perfbench-operator-queries", shuffle_partitions=b.cores,
                          max_partition_bytes="16m")
    ex.warm_up(b, JobConfig(chunker=flagship, shuffle_partitions=b.cores))

    sf_dir = TABLES_DIR
    print(f"input: fixed tables {os.path.relpath(sf_dir, ROOT)} (--seed does not apply)")
    queries = entry.queries()
    oracle_check(b, sf_dir, queries)

    walls = {(q, t): [] for q in HEADLINE for t in (False, True)}
    sweeps: list[float] = []
    split = {q: {"build_s": [], "plan_s": [], "exec_s": [], "exchanges": [], "python_s": []}
             for q in HEADLINE}
    digests: dict[str, int] = {}
    plans, jobs = [], []

    def sweep(i: int) -> None:
        traced = b.trace and i % 2 == 1 and i > 0
        group = f"sweep-{i}"
        spark.sparkContext.setJobGroup(group, group)
        per_sweep: dict[str, float] = {}
        t_sweep = time.time()
        for name in HEADLINE:
            t0 = time.time()
            with b.tracer.span(f"q.{name}", traced=traced), \
                    (captured_plans(spark) if traced else nullcontext()) as plan:
                out = force_df(queries[name](spark, sf_dir))
                t1 = time.time()
                if traced:
                    out._jdf.queryExecution().executedPlan()
                t2 = time.time()
                h = out.collect()[0][0]
                t3 = time.time()
            if traced:
                # every action of the query: its own and the eager
                # localCheckpoint stages it runs while it is built
                pm = plan.totals
                s = split[name]
                s["build_s"].append(t1 - t0)
                s["plan_s"].append(t2 - t1)
                s["exec_s"].append(t3 - t2)
                s["exchanges"].append(pm["exchanges"])
                s["python_s"].append(pm["python_total_s"])
                for k, v in pm.items():
                    per_sweep[k] = per_sweep.get(k, 0.0) + v
            if i >= 0:
                walls[(name, traced)].append(time.time() - t0)
            b.op(digests.setdefault(name, h) == h,
                 f"{name}: repetition {i} digest {h} != first {digests[name]}")
        if traced:
            plans.append(per_sweep)
            jobs.append(b.jobs_in_group(group))
        elif i >= 0:
            b.op_walls.append(time.time() - t_sweep)

    b.timed(sweep, min_ops=MIN_OPS + 1 if b.trace else MIN_OPS, warm_ops=WARM_OPS)
    total = sum(median(walls[(q, False)]) for q in HEADLINE)
    b.put("op_wall_s", total, "s")
    b.put("queries_total_s", total, "s")
    for q in HEADLINE:
        b.put(f"q.{q}.wall_s", median(walls[(q, False)]), "s")
    if not b.trace:
        return

    ex.put_plan(b, plans)
    b.put("op.jobs", median(jobs), "count")
    traced_total = sum(median(walls[(q, True)]) for q in HEADLINE)
    b.put("trace.overhead_ratio", traced_total / total, "ratio")
    for q, s in split.items():
        for k, v in s.items():
            b.put(f"q.{q}.{k}", median(v), "s" if k.endswith("_s") else "count")
    # The extraction query's corpus is a pure function of the documents'
    # doc_ids (default profile); time the chunker on a seeded sample of it.
    import pyarrow.parquet as pq
    from tei_chunker_spark.corpus import make_rows

    doc_ids = sorted(pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                                   columns=["doc_id"]).column(0).to_pylist())
    ids = [str(int(d)) for d in random.Random(b.seed).sample(doc_ids, min(400, len(doc_ids)))]
    docs = [(r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                           for s in r["spans"]]) for r in make_rows(ids)]
    ex.core_split(b, docs, flagship)
