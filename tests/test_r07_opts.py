"""Round-7 optimization guardrails: the rewrites are PHYSICAL only —
these tests pin that each restructured operator still computes the same
rows as its straightforward formulation.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tei_chunker_spark.operators import dedup
from tei_chunker_spark.sources.tables import widen_small


def _docs(spark, n=60):
    rows = [
        (i, f"alpha beta gamma delta w{i % 7} w{i % 3} common words here")
        for i in range(n)
    ] + [(1000 + i, f"alpha beta gamma delta w{i % 7} w{i % 3} common words here")
         for i in range(0, n, 5)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_sizes_param_matches_internal_aggregate(spark):
    """jaccard_pairs(sizes=...) (the minhash fused-aggregate path) must
    equal the internal sizes computation."""
    sh = dedup.shingle_table(_docs(spark), 2).localCheckpoint(eager=False)
    sig = dedup.minhash_signatures_from(sh, with_size=True)
    base = sorted(
        map(tuple, dedup.jaccard_pairs(sh, threshold=0.3).collect())
    )
    via_sizes = sorted(
        map(
            tuple,
            dedup.jaccard_pairs(
                sh, threshold=0.3, sizes=sig.select("doc_id", "set_size")
            ).collect(),
        )
    )
    assert base == via_sizes and base


def test_signature_set_size_equals_distinct_shingle_count(spark):
    sh = dedup.shingle_table(_docs(spark), 2)
    sig = {r.doc_id: r.set_size for r in
           dedup.minhash_signatures_from(sh, with_size=True).collect()}
    truth = {r.doc_id: r.n for r in
             sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sig == truth


def test_jaccard_df_annotation_matches_two_aggregate_shape(spark):
    """The df-annotated single-aggregate cap path must equal the pre-r7
    two-aggregate keep-list shape (reconstructed inline here)."""
    docs = _docs(spark)
    sh = dedup.shingle_table(docs, 2)
    cap = 5
    # pre-r7 reference shape: keep-list join + dedicated df>=2 aggregate
    keep = (
        sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= cap).select("shingle")
    )
    capped = sh.join(keep, "shingle")
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    paired = (
        capped.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2).select("shingle")
    )
    joinable = capped.join(paired, "shingle")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, on=(F.col("a.shingle") == F.col("b.shingle")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("set_size", "a_size")
    sb = sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("set_size", "b_size")
    ref = (
        inter.join(sa, "a_id").join(sb, "b_id")
        .select("a_id", "b_id",
                F.round(F.col("inter") / (F.col("a_size") + F.col("b_size") - F.col("inter")), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )
    got = sorted(map(tuple, dedup.jaccard_pairs(
        dedup.shingle_table(docs, 2), threshold=0.3, max_shingle_df=cap
    ).collect()))
    assert got == sorted(map(tuple, ref.collect())) and got


def test_widen_small_gates_on_size(spark):
    df = spark.range(100)
    assert widen_small(df, 10 << 30) is df          # above cap: no-op
    assert widen_small(df, 0) is df                 # unknown size: no-op
    wide = widen_small(df, 1 << 20)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in wide.collect()) == list(range(100))


def test_widen_small_row_floor(spark):
    """The widen="auto" row gate: a rows hint below _WIDEN_MIN_ROWS keeps
    the scan narrow (the measured-loss regime), at/above it widens, and
    no hint preserves the unconditional-widen behavior."""
    from tei_chunker_spark.sources import tables

    df = spark.range(100)
    floor = tables._WIDEN_MIN_ROWS
    assert widen_small(df, 1 << 20, rows=floor - 1) is df
    wide = widen_small(df, 1 << 20, rows=floor)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widen_small(df, 1 << 20, rows=None) is not df
    # footer row counts drive load(widen="auto"): sf0.01 documents is far
    # below the floor, so the loaded frame keeps the scan's partitioning
    narrow = tables.load(spark, "/root/testdata/sf0.01", "documents",
                         widen="auto")
    plain = tables.load(spark, "/root/testdata/sf0.01", "documents")
    assert narrow.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    assert tables.table_rows("/root/testdata/sf0.01", "documents") > 0


def test_load_rejects_unknown_widen():
    """A typo in the widen flag fails loudly instead of widening."""
    from tei_chunker_spark.sources import tables

    for bad in ("Auto", "true", 1, None):
        with pytest.raises(ValueError, match="widen"):
            tables.load(None, "/nonexistent", "documents", widen=bad)


def test_table_rows_memoizes_only_successful_reads(tmp_path):
    """An unreadable footer warns and is retried on the next call; the
    count is memoized once a read succeeds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tei_chunker_spark.sources import tables

    path = tmp_path / "documents.parquet"
    path.write_bytes(b"not parquet")
    with pytest.warns(RuntimeWarning, match="footer row count"):
        assert tables.table_rows(str(tmp_path), "documents") == 0
    assert str(path) not in tables._ROWS_MEMO
    pq.write_table(pa.table({"doc_id": ["a", "b", "c"]}), str(path))
    try:
        assert tables.table_rows(str(tmp_path), "documents") == 3
        assert tables._ROWS_MEMO[str(path)] == 3
    finally:
        tables._ROWS_MEMO.pop(str(path), None)


def test_norm_precompute_cosine_bit_identical(spark):
    """cosine_from_norms over with_norm must equal inline cosine exactly
    (no rounding tolerance — same IEEE expression trees)."""
    from tei_chunker_spark.functions.columns import cosine
    from tei_chunker_spark.operators.similarity import (
        cosine_from_norms,
        with_norm,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(16)])
            for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    e = with_norm(emb.select("vec_id", "embedding"), "embedding", "_n")
    a, b = e.alias("a"), e.alias("b")
    both = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("inline"),
            cosine_from_norms(
                F.col("a.embedding"), F.col("b.embedding"),
                F.col("a._n"), F.col("b._n"),
            ).alias("precomp"),
        )
        .filter(F.col("inline") != F.col("precomp"))
    )
    assert both.count() == 0


def test_semantic_dedup_cell_guillotine(spark):
    """max_cell_rows must fail LOUDLY when a cell's occupancy makes the
    within-cell verify quadratic-by-corpus (round-6 verdict item 1), and
    must not change results when the bound holds."""
    import pytest

    rows = [(i, [1.0 + (i % 3) * 1e-4] * 8) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # near-identical vectors: k-means piles (almost) everything into few
    # cells -> the bound must trip
    with pytest.raises(ValueError, match="max_cell_rows"):
        dedup.semantic_dedup(emb, threshold=0.99, n_cells=4, max_cell_rows=5)
    unguarded = sorted(map(tuple, dedup.semantic_dedup(
        emb, threshold=0.99, n_cells=4).collect()))
    guarded = sorted(map(tuple, dedup.semantic_dedup(
        emb, threshold=0.99, n_cells=4, max_cell_rows=100).collect()))
    assert unguarded == guarded and unguarded
