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

    ``shuffle_partitions`` (P) is the width of the job's one exchange, the
    doc_id spread (``operators/extract.spread``) of each resumable wave and
    of an input that cannot fill the cores.  ``num_buckets`` is the resume
    granularity (``operators/extract.bucket_of``, the spread's own hash):
    if it divides P, each shuffle partition of a wave holds one bucket.
    At 10^12 docs raise it into the thousands so a resume skips completed
    work at fine granularity; locally small values keep test jobs fast.
    """

    chunker: ChunkerConfig = field(default_factory=ChunkerConfig)
    num_buckets: int = 16
    shuffle_partitions: int = 64
    input_format: str = "parquet"  # "iceberg" on a real cluster
