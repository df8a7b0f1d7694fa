"""Job configuration for the extraction pipeline.

Mirrors the reference chunker's three knobs (reference
``tei_chunker/chunking.py:60-65``) plus Spark execution knobs that have no
reference analogue.  ``min_section_size`` is accepted for API compatibility
but is dead config in the reference too (stored at ``chunking.py:65``, never
read), so it deliberately has no effect here either.
"""
from __future__ import annotations

from dataclasses import dataclass, field


# The reference HTTP service instantiates HierarchicalChunker(20000, 200)
# (reference service.py:17); these are the production defaults we inherit.
DEFAULT_MAX_CHUNK_SIZE = 20000
DEFAULT_OVERLAP_SIZE = 200


@dataclass(frozen=True)
class ChunkerConfig:
    """Semantics-bearing knobs. Changing these changes golden outputs."""

    max_chunk_size: int = DEFAULT_MAX_CHUNK_SIZE
    overlap_size: int = DEFAULT_OVERLAP_SIZE
    min_section_size: int = 1000  # dead config, kept for parity (chunking.py:65)
    # Guardrail (None = off, golden behavior): documents whose reassembled
    # XML exceeds this many characters are NOT parsed — they emit zero text
    # spans (media passthrough unaffected) instead of risking a worker OOM.
    # The manifest's input_doc_count vs doc_count gap surfaces them.
    max_doc_chars: int | None = None


@dataclass(frozen=True)
class JobConfig:
    """Execution knobs. Changing these must NOT change outputs.

    Two keys come from the same hash.  The shuffle salt is
    pmod(xxhash64(doc_id), shuffle_partitions); the manifest bucket, the
    checkpoint/resume granularity, is pmod(xxhash64(doc_id), num_buckets).
    They align only when one count divides the other: if num_buckets
    divides shuffle_partitions, every shuffle partition holds rows of one
    bucket; if shuffle_partitions divides num_buckets, every bucket lands
    whole in one shuffle partition.  At 100 TB / 10^12 docs you would
    raise num_buckets into the thousands so a resume skips completed work
    at fine granularity; locally small values keep test jobs fast.
    """

    chunker: ChunkerConfig = field(default_factory=ChunkerConfig)
    num_buckets: int = 16
    shuffle_partitions: int = 64
    # Rows are whole documents, so Arrow batches stay modest to bound
    # Python-worker memory against the oversized-doc tail; 256 measured
    # fastest (64 pays per-batch pandas overhead, 1024 is GC-erratic).
    arrow_max_records_per_batch: int = 256
    input_format: str = "parquet"  # "iceberg" on a real cluster
    output_format: str = "parquet"
    # The extraction pipeline adds the salt repartition only where the
    # input cannot fill the cores itself (operators/extract._salted): too
    # few partitions, a streaming source, or a plan that already shuffles.
    # Set True to skip it for those inputs too: a table already bucketed
    # by pmod(xxhash64(doc_id), P) (Iceberg `bucket(P, doc_id)`), or an
    # input already spread by its own exchange.  Outputs are identical
    # either way (pinned by tests); this is purely a physical-plan decision.
    assume_bucketed_input: bool = False
