"""The resumable write path, measured in the traced extract_service run.

One crash-and-resume cycle of ``manifest.run_resumable`` at the flagship
config 500/50 over the same corpus, on fresh output and manifest
directories: the first call crashes on purpose after half of its waves
(``fail_after_waves``), the second resumes to completion.  Output is ~24
spans/doc written as bucket-partitioned parquet, so pack, Arrow back, the
sink and the manifest's per-wave actions dominate.

Checks: after the cycle each (doc_id, offset) appears exactly once, every
bucket's latest manifest row is ``done``, the span digest equals the
pure-Python chunker's, and a seeded sample of documents equals
``core.extract_spans`` span for span.
"""
from __future__ import annotations

import os
import shutil
import time

import extraction as ex
from harness import WORK, captured_plans

BUCKETS = 16
WAVE = 8
CRASH_AFTER = 1  # of BUCKETS // WAVE = 2 waves


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def measure(b, path: str, docs) -> None:
    from pyspark.sql import functions as F
    from tei_chunker_spark import manifest
    from tei_chunker_spark.config import ChunkerConfig, JobConfig

    spark = b.spark
    cfg = ChunkerConfig(500, 50)
    job = JobConfig(chunker=cfg, num_buckets=BUCKETS,
                    shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    exp = ex.expected_totals(path, cfg)
    n_waves = -(-BUCKETS // WAVE)
    d = os.path.join(WORK, "resume")
    shutil.rmtree(d, ignore_errors=True)
    out, man = f"{d}/out", f"{d}/manifest"

    group = "resume-cycle"
    spark.sparkContext.setJobGroup(group, group)
    crashed = False
    t0 = time.time()
    with b.tracer.span("resume.cycle"), captured_plans(spark) as plan:
        with b.tracer.span("manifest.run_resumable", crash=True):
            try:
                manifest.run_resumable(spark, path, out, man, job, wave_size=WAVE,
                                       fail_after_waves=CRASH_AFTER)
            except RuntimeError:
                crashed = True
        t1 = time.time()
        with b.tracer.span("manifest.run_resumable", crash=False):
            manifest.run_resumable(spark, path, out, man, job, wave_size=WAVE)
        t2 = time.time()
    # the plans of every action run_resumable ran: its bucket writes (the
    # extraction pipeline at this config) and its manifest reads and writes
    ex.put_plan(b, [plan.totals], prefix="resume.")
    b.put("resume.actions", len(plan.actions), "count")
    jobs = b.jobs_in_group(group)
    b.put("resume.cycle_s", t2 - t0, "s")
    b.put("recovery_s", t2 - t1, "s")
    b.put("manifest.jobs_per_wave", jobs / n_waves, "count")

    t3 = time.time()
    with b.tracer.span("manifest.completed_buckets"):
        done = manifest.completed_buckets(spark, man, "job")
    b.put("manifest.completed_buckets_s", time.time() - t3, "s")
    rows = spark.read.parquet(man).collect()
    latest = {r.bucket: r.status for r in sorted(rows, key=lambda r: r.attempt)}
    written = [r.bucket for r in rows if r.status == "done"]
    b.put("manifest.redone_bucket_frac",
          (len(written) - len(set(written))) / max(1, len(written)), "ratio")
    walls = {(r.attempt, r.lineage_json): r.wall_ms / 1000 for r in rows}
    b.put("manifest.wave_s", sum(walls.values()) / max(1, len(walls)), "s")

    output = spark.read.parquet(out)
    got = ex.digest(output).collect()[0]
    pairs = output.select("doc_id", "offset").distinct().count()
    b.op(crashed and sorted(done) == list(range(BUCKETS))
         and all(latest.get(k) == "done" for k in range(BUCKETS))
         and ex.digest_matches(got, exp) and pairs == exp["spans"],
         f"resume cycle: crashed={crashed} done={sorted(done)} digest={got.asDict()} "
         f"pairs={pairs} pure-python={exp}", n=n_waves)
    ids = ex.sample_ids(b.seed, docs)
    sample = (output.filter(F.col("doc_id").isin(ids))
              .select("doc_id", "offset", "kind", "text", "media_ref").collect())
    bad = ex.sample_mismatches(b.seed, docs, cfg, sample)
    b.op(not bad, f"resume sample: {len(bad)} of {len(ids)} docs differ from core.extract_spans")
    b.put("sink.bytes_per_span", _dir_bytes(out) / exp["spans"], "bytes")
    shutil.rmtree(d)

    ex.core_split(b, docs, cfg, prefix="flagship.")
