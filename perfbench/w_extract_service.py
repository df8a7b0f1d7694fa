"""extract_service: ``extract_pipeline`` at the reference service config.

One operation is one pass over a seeded 10k-document corpus at
``local[cores]``: scan -> salt exchange -> JVM reassembly -> Arrow to
Python -> parse/pack -> Arrow back, forced by a one-row digest aggregate
whose result is checked against the pure-Python chunker.  Output is
~2.15 spans/doc, so parse, the exchange and the Arrow-to-Python side
dominate.  The traced run also measures JVM reassembly alone, the resumable
write path (``resume.py``) and the N -> 4N scaling efficiency.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import extraction as ex
import resume
from harness import captured_plans, median, stop_spark

DOCS = 10_000
PARTS = 32
# each scaling leg warms up on an eighth of the corpus, then times one pass
LEG_WARM_FRACTION = 8
# passes per run: about run_seconds worth, so every run times the same
# stretch of the JIT warm-up curve
MIN_OPS = 4


def _config():
    from tei_chunker_spark.config import ChunkerConfig, JobConfig

    cfg = ChunkerConfig(20000, 200)
    return cfg, JobConfig(chunker=cfg, shuffle_partitions=PARTS)


def run(b) -> None:
    from pyspark.sql import functions as F
    from tei_chunker_spark.operators import extract

    cfg, job = _config()
    spark = b.start_spark("perfbench-extract-service", shuffle_partitions=PARTS,
                          max_partition_bytes="16m")
    ex.warm_up(b, job)

    path = ex.ensure_corpus(b, DOCS)
    docs = ex.read_docs(path)
    exp = ex.expected_totals(path, cfg)
    df = spark.read.parquet(path)

    ids = ex.sample_ids(b.seed, docs)
    with b.tracer.span("check.sample"):
        rows = extract.extract_pipeline(df.filter(F.col("doc_id").isin(ids)), job).collect()
    bad = ex.sample_mismatches(b.seed, docs, cfg, rows)
    b.op(not bad, f"sample: {len(bad)} of {len(ids)} docs differ from core.extract_spans")

    walls = {False: [], True: []}
    plans, jobs = [], []

    def one_pass(i: int) -> None:
        traced = b.trace and i % 2 == 1 and i > 0
        group = f"pass-{i}"
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.time()
        with b.tracer.span("extract.pass", traced=traced):
            out = ex.digest(extract.extract_pipeline(df, job))
            if traced:
                with captured_plans(spark) as plan:
                    row = out.collect()[0]
                plans.append(plan.totals)
                jobs.append(b.jobs_in_group(group))
            else:
                row = out.collect()[0]
        if i >= 0:
            walls[traced].append(time.time() - t0)
        b.op(ex.digest_matches(row, exp), f"pass {i}: {row.asDict()} != {exp}")

    b.timed(one_pass, min_ops=MIN_OPS)
    b.op_walls = walls[False]
    wall = median(walls[False])
    b.put("op_wall_s", wall, "s")
    b.put("docs_per_s", exp["docs"] / wall, "docs/s")
    b.put("spans_per_s", exp["spans"] / wall, "spans/s")
    if not b.trace:
        return

    ex.put_plan(b, plans)
    b.put("op.jobs", median(jobs), "count")
    b.put("trace.overhead_ratio", median(walls[True]) / wall, "ratio")
    ex.core_split(b, docs, cfg)
    reassemble(b, df)
    resume.measure(b, path, docs)
    b.shutdown()  # free every core and the JVM's memory for the scaling legs
    scaling(b, path)


def reassemble(b, df, reps: int = 2) -> None:
    """JVM-side reassembly alone: ``reassembled()`` over the scan, forced
    by an aggregate over both of its output columns."""
    from pyspark.sql import functions as F
    from tei_chunker_spark.operators.extract import reassembled

    walls = []
    for _ in range(reps):
        t0 = time.time()
        with b.tracer.span("extract.reassembled"):
            reassembled(df).agg(F.sum(F.length("xml")), F.sum(F.size("media"))).collect()
        walls.append(time.time() - t0)
    b.put("extract.reassemble_s", median(walls), "s")


def scaling(b, path: str) -> None:
    """thr(local[N]) / ((N / M) x thr(local[M])), M = N / 4: same input, same
    fixed shuffle-partition count.  Each leg is a child process (the master
    of a JVM cannot change after it starts) with the same protocol, run one
    after the other while no other Spark runs."""
    hi = b.cores
    lo = max(1, hi // 4)
    thr = {}
    for cores in (hi, lo):
        with b.tracer.span("extract.scaling_leg", cores=cores):
            proc = subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
                 "--scaling-leg", str(cores), path],
                capture_output=True, text=True, timeout=170,
            )
        lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-2000:])
            b.op(False, f"scaling leg local[{cores}] exited {proc.returncode}")
            return
        leg = json.loads(lines[-1])
        b.op(leg["ok"], f"scaling leg local[{cores}]: digest mismatch")
        thr[cores] = leg["docs"] / leg["wall"]
        b.put(f"extract.docs_per_s_local{cores}", thr[cores], "docs/s")
    b.put("scaling_efficiency", thr[hi] / ((hi / lo) * thr[lo]), "ratio")


def leg_main(argv: list[str]) -> int:
    """Child process of one scaling leg: an untimed pass over a slice of the
    corpus (it starts the Python workers and compiles the stages), then one
    timed pass over all of it; prints one JSON line with its wall and
    whether its digest matched."""
    from tei_chunker_spark.operators.extract import extract_pipeline
    from tei_chunker_spark.sources.session import get_spark

    cores, path = int(argv[0]), argv[1]
    cfg, job = _config()
    exp = ex.expected_totals(path, cfg)
    spark = get_spark("perfbench-scaling-leg", master=f"local[{cores}]",
                      shuffle_partitions=PARTS, max_partition_bytes="16m")
    try:
        df = spark.read.parquet(path)
        ex.digest(extract_pipeline(df.limit(exp["docs"] // LEG_WARM_FRACTION), job)).collect()
        t0 = time.time()
        row = ex.digest(extract_pipeline(df, job)).collect()[0]
        wall = time.time() - t0
    finally:
        stop_spark(spark)
    print(json.dumps({"wall": wall, "ok": ex.digest_matches(row, exp), "docs": exp["docs"]}))
    return 0
