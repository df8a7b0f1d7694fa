"""Randomized char-for-char parity vs the actual reference implementation.

Runs only where /root/reference is present (the build sandbox); the rest of
the suite pins semantics via literal goldens, so this is belt-and-braces.
"""
from __future__ import annotations

import os
import sys
import types

import pytest

from scripts.parity_check import BATTERY_CONFIGS, battery

REFERENCE = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(REFERENCE, "tei_chunker")),
    reason="reference checkout not available",
)


def _load_reference():
    if "loguru" not in sys.modules:
        stub = types.ModuleType("loguru")

        class _Logger:
            def __getattr__(self, name):
                return lambda *a, **k: None

        stub.logger = _Logger()
        sys.modules["loguru"] = stub
    sys.path.insert(0, REFERENCE)
    from tei_chunker.chunking import HierarchicalChunker

    return HierarchicalChunker


@pytest.mark.parametrize("max_chunk_size,overlap_size", BATTERY_CONFIGS)
def test_randomized_parity(max_chunk_size, overlap_size):
    from tei_chunker_spark.config import ChunkerConfig
    from tei_chunker_spark.core import chunk_tei

    HierarchicalChunker = _load_reference()
    ref = HierarchicalChunker(max_chunk_size=max_chunk_size, overlap_size=overlap_size)
    cfg = ChunkerConfig(max_chunk_size=max_chunk_size, overlap_size=overlap_size)

    for doc in battery(max_chunk_size, overlap_size):
        expected = ref.chunk_document(ref.parse_grobid_xml(doc))
        assert chunk_tei(doc, cfg) == expected
