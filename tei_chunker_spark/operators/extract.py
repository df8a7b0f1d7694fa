"""The extraction stage: interleaved-span documents -> ordered output spans.

Physical plan (see SURVEY.md §4.3):

    Scan -> Project(doc_id, spans) -> [Exchange(hash(doc_id), P)] ->
    MapInPandas(extract) -> Sink

``_salted`` adds the exchange (P = shuffle_partitions) only where the
input cannot fill the cores itself, and reads that from the input's plan
without starting a job.  Over a file scan with enough splits the pipeline
is one stage: byte-sized splits bound each task's cost.  Small Arrow
batches bound how long one straggler document can hold a batch (AQE
cannot see inside the Python stage, so this must be explicit; SURVEY.md
§4.2).

The Python stage is the sanctioned vectorized path: data crosses the
JVM<->Python boundary in columnar Arrow batches via ``mapInPandas``; the
per-document parse is necessarily scalar inside the batch loop (the
reference semantics are a whole-document fold — reference chunking.py:185-265),
but there is no row-at-a-time ``udf()`` anywhere.
"""
from __future__ import annotations

from functools import partial
from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import JobConfig
from ..core import chunk_tei, section_meta

SPAN_SCHEMA_DDL = "doc_id string, offset int, kind string, text string, media_ref string"
SECTION_SCHEMA_DDL = (
    "doc_id string, section_idx int, title string, level int, "
    "length int, subsection_count int"
)


def reassembled(df: DataFrame) -> DataFrame:
    """JVM-side document reassembly: spans array -> (doc_id, xml, media).

    Converting ``array<struct>`` through Arrow into Python dicts costs more
    than the extraction itself (measured ~4x the chunker's own CPU), so the
    span plumbing stays in WholeStageCodegen: sort by offset, concatenate
    the text spans into one XML string, project the media refs into a plain
    string array.  Python then receives two flat columns — the fast Arrow
    path.  Media passthrough order (input offset order) is preserved by the
    same sort, matching core.extract_spans (FIXTURES.md §1.2)."""
    ordered = F.array_sort(
        F.col("spans"),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )
    text_of = lambda s: s["text"]  # noqa: E731
    return df.select(
        "doc_id",
        F.concat_ws(
            "",
            F.transform(
                F.filter(ordered, lambda s: (s["kind"] == "text") & s["text"].isNotNull()),
                text_of,
            ),
        ).alias("xml"),
        _media_refs(ordered).alias("media"),
    )


def _media_refs(spans: Column) -> Column:
    """The ``media_ref`` of every media span of a spans array, in array
    order.  Never NULL: a NULL spans array gives an empty array, so it
    degrades like malformed XML does (zero output spans) instead of
    crashing the Python stage iterating media."""
    return F.coalesce(
        F.transform(
            F.filter(spans, lambda s: s["kind"] == "media"),
            lambda s: s["media_ref"],
        ),
        F.array().cast("array<string>"),
    )


def _capped(parse, cap: int | None):
    """``parse`` behind ChunkerConfig.max_doc_chars: a document longer
    than ``cap`` characters is not parsed and yields no rows."""
    if cap is None:
        return parse
    return lambda xml: [] if len(xml) > cap else parse(xml)


def _partitions(df: DataFrame) -> int:
    """``df``'s partition count, read from its plan without starting a
    job; 0 where only a job could read it.

    Under adaptive execution a plan with an exchange or a subquery is an
    AdaptiveSparkPlan, whose input plan gives the count the query starts
    with: N after a round-robin or hash repartition(N), 0 (unknown) after
    an aggregate, a union or a subquery.  Without adaptive execution,
    building the RDD of such a plan would run its broadcast or subquery
    job, so it reads 0.  Any other plan (a file scan, whose partitioning
    is unknown until its splits are listed) builds its RDD, which runs no
    job."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return plan.inputPlan().outputPartitioning().numPartitions()
    text = plan.toString()
    if "Exchange" in text or "Subquery" in text:
        return 0
    return df.rdd.getNumPartitions()


def spread(df: DataFrame, num_partitions: int) -> DataFrame:
    """The one device that places a document on a partition: the one
    ``bucket_of(num_partitions)`` gives its doc_id."""
    return df.repartition(num_partitions, "doc_id")


def bucket_of(num_buckets: int) -> Column:
    """``pmod(hash(doc_id), num_buckets)``: Murmur3 with seed 42, the hash
    of Spark's ``HashPartitioning`` and so of :func:`spread`."""
    return F.pmod(F.hash("doc_id"), F.lit(num_buckets))


def _salted(df: DataFrame, job: JobConfig) -> DataFrame:
    """The shared head of every extraction-family pipeline, and the one
    place that decides whether its input needs spreading.

    A batch input with at least min(P, defaultParallelism) partitions
    (:func:`_partitions`) runs reassembly and Python in its own last
    stage: an exchange there adds no concurrency, only a full copy of the
    input and P Python tasks in place of its own (each task pays a fixed
    boundary cost).  A file scan with enough splits, a round-robin
    repartition to the core count and the resumable runner's spread waves
    are such inputs.  Every other input (streaming, too few partitions, or
    a count only a job could read) gets :func:`spread` into
    P = shuffle_partitions partitions, and reassembly runs in the P-way
    stage after it."""
    df = df.select("doc_id", "spans")
    p = job.shuffle_partitions
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.isStreaming or _partitions(df) < min(p, cores):
        return spread(df, p)
    return df


def _per_document(df: DataFrame, job: JobConfig, inputs, fold, schema: str) -> DataFrame:
    """The one Python stage of the extraction family: :func:`_salted` ->
    :func:`reassembled` -> (doc_id, *inputs) -> ``mapInPandas``.

    ``fold(doc_id, *inputs)`` yields one document's output rows as tuples
    in ``schema`` order.  Each Arrow batch's rows are transposed into
    column lists, ``int`` columns as int32.  Selecting only ``inputs``
    lets Catalyst prune what the fold never reads out of the plan and off
    the Arrow wire."""
    fields = [f.split() for f in schema.split(", ")]

    def batches(pdfs: Iterable) -> Iterator:
        import pandas as pd

        for pdf in pdfs:
            docs = zip(pdf["doc_id"], *(pdf[c] for c in inputs))
            cols = list(zip(*[row for doc in docs for row in fold(*doc)]))
            yield pd.DataFrame(
                {
                    name: pd.array(col, dtype="int32") if kind == "int" else col
                    for (name, kind), col in zip(fields, cols or [()] * len(fields))
                }
            )

    return (
        reassembled(_salted(df, job))
        .select("doc_id", *inputs)
        .mapInPandas(batches, schema)
    )


def extract_pipeline(df: DataFrame, job: JobConfig) -> DataFrame:
    """documents(doc_id, spans) -> spans_out(doc_id, offset, kind, text, media_ref).

    The whole-document fold (reference chunking.py:185-265) runs per
    document, text chunks first, then media passthrough spans: identical
    observable output to core.extract_spans (pinned by
    tests/test_pipeline.py).  Output row order within a document is the
    semantic ``offset``; global order is undefined (it's a distributed
    table — verification sorts).
    """
    chunk = _capped(partial(chunk_tei, cfg=job.chunker), job.chunker.max_doc_chars)

    def spans(doc_id, xml, media):
        texts = chunk(xml)
        for offset, text in enumerate(texts):
            yield doc_id, offset, "text", text, None
        for offset, ref in enumerate(media, len(texts)):
            yield doc_id, offset, "media_ref", None, ref

    return _per_document(df, job, ("xml", "media"), spans, SPAN_SCHEMA_DDL)


def media_ref_pipeline(df: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> (doc_id, media_ref): every media span's
    ref, one row each — the media-only projection of ``extract_pipeline``.

    The full pipeline parses and chunks every document's TEXT and then a
    media-only consumer filters kind == 'media_ref', throwing the chunks
    away — at 100 TB that is a full XML-parse pass for nothing (guide
    §1.2: don't compute things you discard).  Media passthrough is
    unconditional in the chunker (reference semantics: media spans are
    emitted even when the XML is malformed and yields zero text chunks),
    and a media-only consumer ignores the offset column, so the multiset
    of (doc_id, media_ref) rows is exactly the input's media spans —
    computable as a NARROW projection: no salt shuffle, no XML reassembly,
    no Python stage.  Identity with the filtered full pipeline is pinned
    by test_media_ref_pipeline_matches_filtered_extract."""
    return df.select("doc_id", F.explode(_media_refs(F.col("spans"))).alias("media_ref"))


def section_metadata_pipeline(df: DataFrame, job: JobConfig) -> DataFrame:
    """documents(doc_id, spans) -> per-document top-level section metadata.

    Parity surface for the reference service's JSON ``sections`` response
    array (reference service.py:37-44): one output row per top-level
    section — (doc_id, section_idx, title, level, length,
    subsection_count), length = direct content only.  Same physical shape
    as extract_pipeline, without the media column."""
    meta = _capped(section_meta, job.chunker.max_doc_chars)
    return _per_document(
        df, job, ("xml",), lambda doc_id, xml: ((doc_id, *m) for m in meta(xml)),
        SECTION_SCHEMA_DDL,
    )
