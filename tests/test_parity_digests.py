"""The reference-parity battery, frozen: ``chunk_tei`` output over the
seeded battery of test_reference_parity.py, per config, hashed and compared
with ``fixtures/parity_digests.json``.  The digests were taken from the
``core.py`` that passed the 3001-pair reference run, so this gate carries
that proof to hosts without the reference checkout.
"""
from __future__ import annotations

import hashlib
import json
import pathlib

import pytest

from scripts.parity_check import BATTERY_CONFIGS, battery
from tei_chunker_spark.config import ChunkerConfig
from tei_chunker_spark.core import chunk_tei

DIGESTS = pathlib.Path(__file__).resolve().parent / "fixtures" / "parity_digests.json"


def battery_digest(max_chunk_size: int, overlap_size: int) -> str:
    """sha256 over the JSON chunk list of every battery document, in order."""
    cfg = ChunkerConfig(max_chunk_size=max_chunk_size, overlap_size=overlap_size)
    h = hashlib.sha256()
    for doc in battery(max_chunk_size, overlap_size):
        h.update(json.dumps(chunk_tei(doc, cfg)).encode())
    return h.hexdigest()


@pytest.mark.parametrize("max_chunk_size,overlap_size", BATTERY_CONFIGS)
def test_battery_matches_frozen_digest(max_chunk_size, overlap_size):
    frozen = json.loads(DIGESTS.read_text(encoding="utf-8"))
    assert battery_digest(max_chunk_size, overlap_size) == frozen[
        f"{max_chunk_size},{overlap_size}"
    ]
