"""The extraction stage: interleaved-span documents -> ordered output spans.

Physical plan (see SURVEY.md §4.3):

    Scan -> Project(doc_id, spans) -> [Exchange(hash(salt), P)] ->
    MapInPandas(extract) -> Sink

``_salted`` adds the exchange, on the salt ``pmod(xxhash64(doc_id), P)``
(P = shuffle_partitions), only where the input cannot fill the cores
itself.  Over a file scan with enough splits the pipeline is one stage:
byte-sized splits bound each task's cost.  Small Arrow batches bound how
long one straggler document can hold a batch (AQE cannot see inside the
Python stage, so this must be explicit; SURVEY.md §4.2).  The manifest's
checkpoint/resume bucket is the same hash modulo num_buckets
(``manifest.bucket_column``), a different key: see JobConfig for when the
two align.

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

from ..config import ChunkerConfig, JobConfig
from ..core import chunk_tei, section_meta
from ..plans.explain import executed_plan

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


def make_batch_extractor(cfg: ChunkerConfig):
    """Arrow-batch extraction fn for ``mapInPandas`` (1 doc row -> N span rows).

    Input batches carry (doc_id, xml, media) from :func:`reassembled`; the
    whole-document fold (reference chunking.py:185-265) runs per row, text
    chunks first, then media passthrough spans — identical observable
    output to core.extract_spans (pinned by tests/test_pipeline.py)."""
    chunk = _capped(partial(chunk_tei, cfg=cfg), cfg.max_doc_chars)

    def extract_batches(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            doc_ids, offsets, kinds, texts, refs = [], [], [], [], []
            for doc_id, xml, media in zip(pdf["doc_id"], pdf["xml"], pdf["media"]):
                offset = 0
                for text in chunk(xml):
                    doc_ids.append(doc_id)
                    offsets.append(offset)
                    kinds.append("text")
                    texts.append(text)
                    refs.append(None)
                    offset += 1
                for ref in media:
                    doc_ids.append(doc_id)
                    offsets.append(offset)
                    kinds.append("media_ref")
                    texts.append(None)
                    refs.append(ref)
                    offset += 1
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "offset": pd.array(offsets, dtype="int32"),
                    "kind": kinds,
                    "text": texts,
                    "media_ref": refs,
                }
            )

    return extract_batches


def salt_column(num_partitions: int, col: str = "doc_id") -> Column:
    """Salt bucket for shuffle + checkpoint granularity."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(num_partitions)).cast("int")


def salt_exchange(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash exchange of ``df`` into ``num_partitions`` partitions on the
    doc_id salt; each salt value lands whole in one partition."""
    return (
        df.withColumn("_salt", salt_column(num_partitions))
        .repartition(num_partitions, "_salt")
        .drop("_salt")
    )


def _salted(df: DataFrame, job: JobConfig) -> DataFrame:
    """The shared head of every extraction-family pipeline, and the one
    place that decides whether its input needs spreading.

    An input that already has at least min(P, defaultParallelism)
    partitions, none of them behind a shuffle, runs scan -> reassembly ->
    Python in one stage: an exchange there adds no concurrency, only a
    full copy of the input and P Python tasks in place of the scan's
    (each task pays a fixed boundary cost).  A file scan is the usual
    case; its byte-sized splits bound each task's cost as the salt would.
    Every other input gets :func:`salt_exchange`, and reassembly runs in
    the P-way stage after it: streaming inputs, inputs with fewer
    partitions, and inputs whose plan already has an exchange or a
    subquery (reading their partition count would start a job).
    ``assume_bucketed_input`` (an Iceberg bucket(P, doc_id) layout, or a
    caller that salted the input itself) skips the exchange always."""
    df = df.select("doc_id", "spans")
    if job.assume_bucketed_input:
        return df
    p = job.shuffle_partitions
    if not df.isStreaming:
        plan = executed_plan(df)
        if "Exchange" not in plan and "Subquery" not in plan:
            cores = df.sparkSession.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() >= min(p, cores):
                return df
    return salt_exchange(df, p)


def extract_pipeline(df: DataFrame, job: JobConfig) -> DataFrame:
    """documents(doc_id, spans) -> spans_out(doc_id, offset, kind, text, media_ref).

    Output row order within a document is the semantic ``offset``; global
    order is undefined (it's a distributed table — verification sorts).
    """
    return reassembled(_salted(df, job)).mapInPandas(
        make_batch_extractor(job.chunker), SPAN_SCHEMA_DDL
    )


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
    as extract_pipeline: scan -> [salt exchange] -> mapInPandas."""
    salted = _salted(df, job)
    meta = _capped(section_meta, job.chunker.max_doc_chars)

    def meta_batches(batches: Iterable) -> Iterator:
        import pandas as pd

        for pdf in batches:
            doc_ids, idxs, titles, levels, lengths, counts = [], [], [], [], [], []
            for doc_id, xml in zip(pdf["doc_id"], pdf["xml"]):
                for i, title, level, length, n_subs in meta(xml):
                    doc_ids.append(doc_id)
                    idxs.append(i)
                    titles.append(title)
                    levels.append(level)
                    lengths.append(length)
                    counts.append(n_subs)
            yield pd.DataFrame(
                {
                    "doc_id": doc_ids,
                    "section_idx": pd.array(idxs, dtype="int32"),
                    "title": titles,
                    "level": pd.array(levels, dtype="int32"),
                    "length": pd.array(lengths, dtype="int32"),
                    "subsection_count": pd.array(counts, dtype="int32"),
                }
            )

    # select() before the Python stage: the section walk never reads the
    # media array, and the projection lets Catalyst prune the media
    # filter/transform out of the plan AND off the Arrow wire.
    return (
        reassembled(salted)
        .select("doc_id", "xml")
        .mapInPandas(meta_batches, SECTION_SCHEMA_DDL)
    )
