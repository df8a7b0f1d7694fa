"""Inputs and output checks shared by the two extraction workloads.

* ``ensure_corpus`` writes the seeded interleaved-span corpus once per
  (seed, size) and reuses it afterwards.
* ``expected_totals`` runs the pure-Python chunker (``core.extract_spans``)
  over the whole corpus, without Spark, and caches the span count and a
  content digest per (seed, size, config).
* ``digest`` is the same digest as a Spark aggregate, so one action both
  forces every output column of a pass and checks it.
* ``sample_mismatches`` compares whole per-document span sequences of a
  seeded sample against ``core.extract_spans``.
* ``core_split`` times ``core.parse_tei`` and ``core.pack_chunks``
  single-process on a seeded sample of the corpus.
"""
from __future__ import annotations

import gc
import json
import os
import random
import shutil
import time
import zlib

from harness import PLAN_KEYS, WORK, host_cores, median

SEP = "\x1f"
SAMPLE_DOCS = 200


def _corpus_schema():
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])


def profile_of(seed: int) -> str:
    """The corpus profile a seed maps to; the program sees only the parquet."""
    return f"seed{seed}"


def _write_part(args) -> None:
    """One of write_corpus's range partitions, as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tei_chunker_spark.corpus import make_rows

    path, p, ids, profile = args
    rows = make_rows([f"doc-{i:012d}" for i in ids], profile)
    pq.write_table(pa.Table.from_pylist(rows, schema=_corpus_schema()),
                   os.path.join(path, f"part-{p:05d}.parquet"), compression="zstd")


def _pool_map(fn, jobs: list) -> list:
    """``fn`` over ``jobs`` in a few worker processes, for input generation
    and the pure-Python references; run before any timing.  The workers
    are joined, and so is the resource-tracker process a spawn-context pool
    starts (it would otherwise outlive the benchmark), after the pool's
    semaphores are freed, so that the tracker has none left to clean up."""
    import multiprocessing as mp
    from multiprocessing import resource_tracker

    pool = mp.get_context("spawn").Pool(min(4, host_cores()))
    try:
        return pool.map(fn, jobs)
    finally:
        pool.terminate()
        pool.join()
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()


def ensure_corpus(b, n_docs: int) -> str:
    """Path of the (seed, size) corpus, written once and reused.

    The rows are ``corpus.make_rows`` of write_corpus's doc ids -- the same
    ``doc_to_row`` that ``corpus.write_corpus`` maps over ``spark.range`` --
    written as write_corpus's one file per range partition, with pyarrow.
    Generating without Spark keeps the measuring JVM's work the same
    whether the corpus was cached or not, at no second JVM's start-up."""
    path = os.path.join(WORK, "corpus", f"seed{b.seed}-n{n_docs}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    t0 = time.time()
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    parts = max(8, min(256, n_docs // 256))  # corpus.corpus_df's partitioning
    jobs = [(path, p, range(p * n_docs // parts, (p + 1) * n_docs // parts),
             profile_of(b.seed)) for p in range(parts)]
    with b.tracer.span("corpus.make_rows"):
        _pool_map(_write_part, jobs)
    open(os.path.join(path, "_SUCCESS"), "w").close()
    print(f"input: generated {n_docs} docs in {time.time() - t0:.2f} s "
          "(not part of any timing)")
    return path


def read_docs(path: str) -> list[tuple[str, list[tuple]]]:
    """(doc_id, [(kind, text, media_ref, offset), ...]) for every document
    of a parquet file or directory, read with pyarrow, sorted by doc_id."""
    import pyarrow.parquet as pq

    docs = []
    for row in pq.read_table(path, columns=["doc_id", "spans"]).to_pylist():
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in row["spans"] or ()]
        docs.append((row["doc_id"], spans))
    docs.sort(key=lambda d: d[0])
    return docs


def span_key(doc_id, offset, kind, text, media_ref) -> int:
    return zlib.crc32(
        SEP.join((doc_id, str(offset), kind, text or "", media_ref or "")).encode()
    )


def _part_totals(args) -> tuple[int, int, int]:
    """(docs, spans, CRC sum) of ``core.extract_spans`` over one file."""
    from tei_chunker_spark.core import extract_spans

    file, cfg = args
    docs = read_docs(file)
    spans = crc = 0
    for doc_id, rows in docs:
        for s in extract_spans(doc_id, rows, cfg):
            spans += 1
            crc += span_key(s.doc_id, s.offset, s.kind, s.text, s.media_ref)
    return len(docs), spans, crc


def expected_totals(path: str, cfg) -> dict:
    """Single-process span count and digest of the whole corpus: the
    pure-Python chunker run file by file in a few worker processes, each
    file in one process."""
    name = f"{os.path.basename(path)}-{cfg.max_chunk_size}-{cfg.overlap_size}.json"
    cache = os.path.join(WORK, "expected", name)
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    t0 = time.time()
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    parts = _pool_map(_part_totals, [(f, cfg) for f in files])
    out = {k: sum(p[i] for p in parts) for i, k in enumerate(("docs", "spans", "crc"))}
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(cache + ".tmp", cache)
    print(f"input: pure-Python reference over {out['docs']} docs in "
          f"{time.time() - t0:.2f} s")
    return out


def warm_up(b, job) -> None:
    """The first action of every workload, which ends set-up: a tiny
    extraction over in-memory rows.  It starts the Python workers and
    compiles the extraction stages."""
    from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
    from tei_chunker_spark.operators.extract import extract_pipeline

    rows = [
        (r["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]])
        for r in make_rows([f"warm-{i}" for i in range(64)])
    ]
    with b.tracer.span("warm_up"):
        df = b.spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
        digest(extract_pipeline(df, job)).collect()
    b.setup_done()


def put_plan(b, plans: list[dict], prefix: str = "") -> None:
    """Per-operation medians of the plan metrics."""
    for k in PLAN_KEYS:
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
        b.put(f"{prefix}plan.{k}", median([p[k] for p in plans]), unit)


def digest(df):
    """One-row aggregate over every output column of ``df``: the span
    count and the sum of each span's CRC-32 (see ``span_key``)."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        SEP,
        F.col("doc_id"),
        F.col("offset").cast("string"),
        F.col("kind"),
        F.coalesce(F.col("text"), F.lit("")),
        F.coalesce(F.col("media_ref"), F.lit("")),
    )
    return df.agg(
        F.count(F.lit(1)).alias("spans"),
        F.sum(F.crc32(row)).alias("crc"),
    )


def digest_matches(row, exp: dict) -> bool:
    return row["spans"] == exp["spans"] and row["crc"] == exp["crc"]


def sample_ids(seed: int, docs) -> list[str]:
    ids = [d for d, _ in docs]
    return random.Random(seed).sample(ids, min(SAMPLE_DOCS, len(ids)))


def sample_mismatches(seed: int, docs, cfg, out_rows) -> list[str]:
    """Doc ids of the sample whose Spark span sequence differs from
    ``core.extract_spans``.  ``out_rows``: collected (doc_id, offset, kind,
    text, media_ref) rows of the sample documents."""
    from tei_chunker_spark.core import extract_spans

    got: dict[str, list] = {}
    for r in out_rows:
        got.setdefault(r["doc_id"], []).append(
            (r["offset"], r["kind"], r["text"], r["media_ref"])
        )
    by_id = dict(docs)
    bad = []
    for doc_id in sample_ids(seed, docs):
        want = [(s.offset, s.kind, s.text, s.media_ref)
                for s in extract_spans(doc_id, by_id[doc_id], cfg)]
        if sorted(got.get(doc_id, []), key=lambda t: t[0]) != want:
            bad.append(doc_id)
    return bad


def core_split(b, docs, cfg, n: int = 400, prefix: str = "") -> None:
    """us/doc of parse_tei and pack_chunks, single process, on a seeded
    sample; median of three passes over the sample."""
    from tei_chunker_spark.core import pack_chunks, parse_tei

    sample = random.Random(b.seed).sample(docs, min(n, len(docs)))
    xmls = [
        "".join(t for k, t, _m, _o in sorted(rows, key=lambda s: s[3])
                if k == "text" and t is not None)
        for _d, rows in sample
    ]
    parse, pack = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        trees = [parse_tei(x) for x in xmls]
        t1 = time.perf_counter()
        for t in trees:
            pack_chunks(t, cfg.max_chunk_size, cfg.overlap_size)
        t2 = time.perf_counter()
        parse.append(t1 - t0)
        pack.append(t2 - t1)
    parse.sort()
    pack.sort()
    b.put(f"{prefix}core.parse_us_per_doc", parse[1] / len(xmls) * 1e6, "us")
    b.put(f"{prefix}core.pack_us_per_doc", pack[1] / len(xmls) * 1e6, "us")
