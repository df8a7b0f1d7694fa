"""Round-7 optimization guardrails: the rewrites are PHYSICAL only —
these tests pin that each restructured operator still computes the same
rows as its straightforward formulation.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tei_chunker_spark.operators import dedup
from tei_chunker_spark.sources.tables import spread_scan


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


def _table(tmp_path, n_rows=3):
    """A registry-named parquet file of ``n_rows`` rows in ``tmp_path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "documents.parquet"
    pq.write_table(pa.table({"doc_id": list(range(n_rows))}), str(path))
    return path


def test_widen_small_gates_on_size(spark, tmp_path, monkeypatch):
    """The byte cap of ``spread_scan``: a table file above 256 MB or of
    unknown size keeps the scan narrow, even when its footer clears the
    row floor; a small one fans out to defaultParallelism, rows intact."""
    from tei_chunker_spark.sources import tables

    df = spark.range(100)
    sf = str(tmp_path)
    assert spread_scan(df, sf, "documents", True) is df      # unknown size
    path = tmp_path / "documents.parquet"
    with open(path, "wb") as fh:                               # sparse file
        fh.truncate(tables._WIDEN_CAP_BYTES + 1)
    monkeypatch.setattr(tables, "_footer_rows", lambda p: 10**9)
    assert spread_scan(df, sf, "documents", True) is df      # above cap
    assert spread_scan(df, sf, "documents", "auto") is df
    path.unlink()
    _table(tmp_path)
    wide = spread_scan(df, sf, "documents", True)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in wide.collect()) == list(range(100))


def test_widen_small_row_floor(spark, tmp_path, monkeypatch):
    """The widen="auto" row gate: a footer row count below _WIDEN_MIN_ROWS
    keeps the scan narrow (the measured-loss regime), at the floor it
    widens, and widen=True widens regardless of rows."""
    from tei_chunker_spark.sources import tables

    df = spark.range(100)
    sf = str(tmp_path)
    _table(tmp_path)
    floor = tables._WIDEN_MIN_ROWS
    assert spread_scan(df, sf, "documents", "auto") is df     # 3 rows
    assert spread_scan(df, sf, "documents", False) is df
    wide = spread_scan(df, sf, "documents", True)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    monkeypatch.setattr(tables, "_footer_rows", lambda p: floor - 1)
    assert spread_scan(df, sf, "documents", "auto") is df
    monkeypatch.setattr(tables, "_footer_rows", lambda p: floor)
    wide = spread_scan(df, sf, "documents", "auto")
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    monkeypatch.undo()
    # footer row counts drive load(widen="auto"): sf0.01 documents is far
    # below the floor, so the loaded frame keeps the scan's partitioning
    narrow = tables.load(spark, "/root/testdata/sf0.01", "documents",
                         widen="auto")
    plain = tables.load(spark, "/root/testdata/sf0.01", "documents")
    assert narrow.rdd.getNumPartitions() == plain.rdd.getNumPartitions()
    assert 0 < tables._footer_rows("/root/testdata/sf0.01/documents.parquet") < floor


def test_load_rejects_unknown_widen(spark):
    """A typo in the widen flag fails loudly instead of widening, both in
    the device and through load()."""
    from tei_chunker_spark.sources import tables

    for bad in ("Auto", "true", 1, 0, None):
        with pytest.raises(ValueError, match="widen"):
            spread_scan(None, "/nonexistent", "documents", bad)
        with pytest.raises(ValueError, match="widen"):
            tables.load(spark, "/root/testdata/sf0.01", "documents", widen=bad)


def test_table_rows_memoizes_only_successful_reads(spark, tmp_path):
    """An unreadable footer warns, leaves the scan narrow and is retried
    on the next call; the count is memoized once a read succeeds."""
    from tei_chunker_spark.sources import tables

    df = spark.range(100)
    path = tmp_path / "documents.parquet"
    path.write_bytes(b"not parquet")
    with pytest.warns(RuntimeWarning, match="footer row count"):
        assert spread_scan(df, str(tmp_path), "documents", "auto") is df
    assert str(path) not in tables._ROWS_MEMO
    _table(tmp_path, n_rows=tables._WIDEN_MIN_ROWS)
    try:
        wide = spread_scan(df, str(tmp_path), "documents", "auto")
        assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert tables._ROWS_MEMO[str(path)] == tables._WIDEN_MIN_ROWS
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
