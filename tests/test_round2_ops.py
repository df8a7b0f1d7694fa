"""Round-2 operator tests: trained IVF k-means, banded SimHash recall,
golden-fixture freshness, section-metadata parity."""
from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tei_chunker_spark.config import ChunkerConfig
from tei_chunker_spark.core import extract_spans, section_meta
from tei_chunker_spark.corpus import doc_to_row
from tei_chunker_spark.operators import kmeans
from tei_chunker_spark.operators.dedup import simhash_banded_pairs
from tei_chunker_spark.operators.multimodal import _decode_stub
from tei_chunker_spark.operators.textstats import simhash64

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(REPO, "tests", "fixtures")
SF_DIR = "/root/testdata/sf0.001"

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver test data not available"
)


# ---------------------------------------------------------------------------
# golden fixtures stay fresh w.r.t. the live core
# ---------------------------------------------------------------------------


def test_golden_spans_fixture_fresh():
    """The checked-in fixture must equal a live recomputation — guards
    against semantic drift in core/corpus without regenerating fixtures
    (scripts/make_golden_fixtures.py)."""
    t = pq.read_table(os.path.join(FIXTURES, "golden_spans.parquet"))
    df = t.to_pandas()
    cfg = ChunkerConfig(500, 50)
    sample = [str(i) for i in range(0, 50)] + ["4999"]
    for doc_id in sample:
        row = doc_to_row(doc_id)
        spans_in = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        expected = extract_spans(doc_id, spans_in, cfg)
        got = df[df.doc_id == doc_id].sort_values("offset")
        assert len(got) == len(expected)
        for (_, g), e in zip(got.iterrows(), expected):
            assert (g.offset, g.kind, g.text, g.media_ref) == (
                e.offset,
                e.kind,
                e.text,
                e.media_ref,
            )


def test_golden_sections_and_media_fixtures_fresh():
    secs = pq.read_table(os.path.join(FIXTURES, "golden_sections.parquet")).to_pandas()
    med = pq.read_table(
        os.path.join(FIXTURES, "golden_media_features.parquet")
    ).to_pandas()
    for doc_id in [str(i) for i in range(0, 30)]:
        row = doc_to_row(doc_id)
        xml = "".join(s["text"] for s in row["spans"] if s["kind"] == "text" and s["text"])
        exp = section_meta(xml)
        got = secs[secs.doc_id == doc_id].sort_values("section_idx")
        assert [
            (g.section_idx, g.title, g.level, g.length, g.subsection_count)
            for _, g in got.iterrows()
        ] == exp
        for s in row["spans"]:
            if s["kind"] != "media":
                continue
            ref = s["media_ref"]
            payload = bytes.fromhex(hashlib.sha256(ref.encode()).hexdigest())
            feats = _decode_stub(payload)
            g = med[med.media_ref == ref]
            assert len(g) == 1
            g = g.iloc[0]
            assert g.feat_checksum == feats["feat_checksum"]
            assert (g.feat_width, g.feat_height, g.byte_len) == (
                feats["feat_width"],
                feats["feat_height"],
                32,
            )


# ---------------------------------------------------------------------------
# banded simhash: exact recall vs brute force over the signatures
# ---------------------------------------------------------------------------


@needs_testdata
def test_simhash_banded_equals_bruteforce_hamming(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    sigs = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    expected = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                expected.add((a, b, h))
    got = {
        (r.a_id, r.b_id, r.hamming)
        for r in simhash_banded_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected


def test_simhash_banded_rejects_unsupported_radius(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_banded_pairs(docs, max_hamming=4)


# ---------------------------------------------------------------------------
# trained IVF k-means
# ---------------------------------------------------------------------------


@needs_testdata
def test_kmeans_training_deterministic(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 120
    )
    c1 = kmeans.train_ivf_centroids(emb, n_cells=4, iters=2)
    c2 = kmeans.train_ivf_centroids(emb, n_cells=4, iters=2)
    assert c1 == c2  # integer domain: bit-identical across runs
    assert len(c1) == 4 and len(c1[0]) == 64
    # training moved the centroids off their init points
    init = [list(r.qv) for r in emb.select(
        kmeans.quantized("embedding").alias("qv"), "vec_id"
    ).orderBy("vec_id").limit(4).collect()]
    assert c1 != init


def test_cell_assignment_ties_go_to_smaller_cell(spark):
    """A vector equidistant from cells 1 and 3 (and farther from 0 and 2)
    lands in cell 1 on the corpus path (assign_cells) and on the query
    probe path at n_probe=1; at n_probe=2 the probe order is 1, then 3."""
    cents = [[50000, 50000], [10000, 0], [-50000, 0], [0, 10000]]
    emb = spark.createDataFrame(
        [(0, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert [r.cell for r in kmeans.assign_cells(emb, cents).collect()] == [1]
    q = emb.select("vec_id", kmeans.quantized("embedding").alias("qv"))

    def probes(n_probe):
        return sorted(
            (r.probe_rank, r.cell)
            for r in kmeans._with_probe_cells(q, cents, n_probe).collect()
        )

    assert probes(1) == [(0, 1)]
    assert probes(2) == [(0, 1), (1, 3)]


@needs_testdata
def test_ivf_single_cell_equals_bruteforce(spark):
    """With n_cells=1 the probe covers the whole corpus, so trained-IVF
    top-k must equal exact brute force rank-for-rank."""
    from tei_chunker_spark.operators.similarity import ann_bruteforce_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    ivf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in kmeans.ann_ivf_trained_topk(emb, queries, k=10, n_cells=1, iters=1).collect()
    }
    bf = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_bruteforce_topk(emb, queries, k=10).collect()
    }
    assert ivf == bf


@needs_testdata
def test_ivf_trained_recall_vs_bruteforce(spark):
    """Recall@10 of the 8-cell probe vs exact search: must beat the
    1/8-corpus random-subset floor by a wide margin (the codebook has to
    place a query's true neighbors in its own cell more often than
    chance)."""
    from tei_chunker_spark.operators.similarity import ann_bruteforce_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = kmeans.ann_ivf_trained_topk(emb, queries, k=10, n_cells=8, iters=2)
    bf = ann_bruteforce_topk(emb, queries, k=10)
    got = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    true = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    recall = len(got & true) / len(true)
    assert recall >= 0.3, f"recall@10 {recall:.2f} below floor"


def test_doc_stats_empty_and_degenerate_docs(spark):
    """ANSI mode is on: an unguarded 0/0 in alpha_ratio would kill the
    whole query on the first empty document (review finding, r2)."""
    from tei_chunker_spark.operators.textstats import doc_quality, doc_stats

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in doc_stats(docs).collect()}
    assert rows[1].alpha_ratio is None and rows[1].n_tokens == 0
    assert rows[2].n_tokens == 0
    assert rows[3].n_tokens == 2 and rows[3].alpha_ratio is not None
    q = {r.doc_id: r for r in doc_quality(docs).collect()}
    assert q[1].quality is None and q[3].quality is not None
