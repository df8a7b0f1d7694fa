"""Scalar quantization of an embedding column — the storage/IO half of
vector search at scale (operators/similarity.py is the compute half).

SQ8 (per-dimension min/max, 8-bit codes) is the standard first
compression step before ANN serving: 4x smaller than float32 with
near-lossless recall, and the decode is two flops per dimension.  The
reference has no vector surface at all; this belongs to the
LLM-data-pipeline family the task sheet requires (SURVEY.md §2.2 /
§2.4 embeddings rows).
"""
from __future__ import annotations

import functools
import operator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kmeans import (
    _with_probe_cells,
    argmin,
    assign_cells,
    l2sq_dists,
    quantized,
    train_ivf_centroids,
)
from ..plans.barrier import materialized
from .ranking import two_stage_topk


def embed_quantize(embeddings: DataFrame, levels: int = 255) -> DataFrame:
    """Per-dimension min/max scalar quantization of ``array<float>``
    embeddings to integer codes in ``[0, levels]``, plus the per-vector
    max reconstruction error.

    Code formula (computed in double on every engine):
    ``c_i = floor((x_i - mn_i) / (mx_i - mn_i) * levels + 0.5)`` —
    explicit ``floor(+0.5)``, NOT ``round()``: round() is HALF_UP in
    Spark SQL, banker's in pandas, and its own thing per engine, while
    floor in pure IEEE-double arithmetic is the one spelling every
    engine computes bit-identically (same reasoning as columns.py's
    WS_CLASS: never lean on an engine-defined default).  Constant
    dimensions (mx == mn) code to 0.  Reconstruction
    ``x̂_i = mn_i + c_i * (mx_i - mn_i) / levels``; ``max_err`` is the
    per-vector L∞ reconstruction error (order-independent max, so
    engine-exact before the final round).

    Output: ``(vec_id, codes: array<int>, max_err: double)``.

    Shape at 100 TB: stage 1 (per-dimension bounds) posexplodes to
    n×d rows but groupBy(dim) partial aggregation collapses each task's
    stream to d rows BEFORE the exchange — the shuffle carries
    tasks×d rows, never n×d.  Stage 2 folds the d-row bounds table into
    ONE row of two d-length arrays and broadcast-crosses it into the
    scan (the same 1-row-bounds device as relational.py's minmax
    normalize); codes and error are then pure scan-stage projections —
    one tiny shuffle total, no driver collect.  Higher-order functions
    are interpreted in Spark 4, but they run once per row over the
    broadcast arrays — no join re-inlining risk (the HOF sits above the
    generator-free cross join, not inside a filter)."""
    lv = F.lit(float(levels))
    dims = (
        embeddings.select(F.posexplode("embedding").alias("d", "_x"))
        .groupBy("d")
        .agg(
            F.min(F.col("_x").cast("double")).alias("mn"),
            F.max(F.col("_x").cast("double")).alias("mx"),
        )
    )
    # d rows -> 1 row of aligned arrays (sort_array on struct(d,..) keys
    # the order by dimension index)
    bounds = dims.agg(
        F.sort_array(F.collect_list(F.struct("d", "mn", "mx"))).alias("_b")
    ).select(F.col("_b.mn").alias("_mns"), F.col("_b.mx").alias("_mxs"))

    def _mn(i):
        return F.get("_mns", i)  # 0-based, accepts a Column index

    def _mx(i):
        return F.get("_mxs", i)

    def _code(x, i):
        return (
            F.when(
                _mx(i) > _mn(i),
                F.floor((x.cast("double") - _mn(i)) / (_mx(i) - _mn(i)) * lv + 0.5),
            )
            .otherwise(F.lit(0))
            .cast("int")
        )

    def _err(x, i):
        return F.abs(
            x.cast("double")
            - (_mn(i) + _code(x, i).cast("double") * (_mx(i) - _mn(i)) / lv)
        )

    return embeddings.crossJoin(F.broadcast(bounds)).select(
        "vec_id",
        F.transform("embedding", _code).alias("codes"),
        F.round(F.array_max(F.transform("embedding", _err)), 6).alias("max_err"),
    )


def _pq_dists(books, w: int):
    """struct(d0..d{m-1}) of per-subspace integer L2^2 distance arrays
    (one entry per codebook cell), over a bound ``qv`` column.  Shared by
    the joint trainer and the encoder so assignment math cannot drift."""
    return F.struct(
        *[
            F.expr(l2sq_dists(books[j], f"slice(qv, {j * w + 1}, {w})")).alias(f"d{j}")
            for j in range(len(books))
        ]
    )


def pq_train(
    embeddings: DataFrame, m: int = 4, n_cells: int = 8, iters: int = 2
):
    """Train the ``m`` per-subspace PQ codebooks jointly; returns
    ``(books, w)`` where ``books[j]`` is the subspace-``j`` codebook
    (``n_cells`` integer subvectors of width ``w``).

    Determinism: kmeans.py's contract verbatim — quantized integer
    domain, init = subvectors of the ``n_cells`` smallest ids, exact int
    L2^2 assignment with ties to the smallest cell, floor-mean updates,
    empty cells carry forward.

    Joint training: ALL m codebooks advance per corpus pass — one narrow
    map assigns every subspace's cell, one posexplode +
    partial-aggregated groupBy((global dim, its subspace's cell))
    produces every codebook's sums at once.  (Training the m books in m
    independent loops costs m x the corpus scans for mathematically
    identical results — the per-subspace argmins never interact.)  The
    per-iteration driver round-trip is n_cells x dim integers,
    independent of corpus size."""
    m = int(m)
    q = embeddings.select(
        F.col("vec_id").alias("_id"), quantized("embedding").alias("qv")
    )
    init = [list(r.qv) for r in q.orderBy("_id").limit(int(n_cells)).collect()]
    # dim read from the init collect (r7) — the former dedicated
    # ``.first()`` was a whole extra sequential driver job per training.
    dim = len(init[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    w = dim // m
    books = [[v[j * w : (j + 1) * w] for v in init] for j in range(m)]
    for _ in range(int(iters)):
        with_d = q.select("qv", materialized(_pq_dists(books, w), "_d"))
        cells = F.array(*[argmin(f"_d.d{j}") for j in range(m)])
        sums = (
            with_d.select(cells.alias("_cells"), F.posexplode("qv").alias("i", "v"))
            .select(
                "i",
                F.expr(f"_cells[i div {w}]").cast("int").alias("cell"),
                "v",
            )
            .groupBy("i", "cell")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = [[None] * len(books[j]) for j in range(m)]
        for r in sums:
            j, sub = r.i // w, r.i % w
            if new[j][r.cell] is None:
                new[j][r.cell] = list(books[j][r.cell])
            new[j][r.cell][sub] = r.sv // r.n
        books = [
            [new[j][c] or books[j][c] for c in range(len(books[j]))]
            for j in range(m)
        ]
    return books, w


def _pq_with_dists(embeddings: DataFrame, books, w: int) -> DataFrame:
    """``(vec_id, _d0.._d{m-1})``: the per-subspace distance arrays to a
    trained codebook, with the quantized vector and the m arrays each
    materialized behind generator barriers (so argmin + min don't each
    recompute n_cells integer-L2 folds per subspace — the interpreted-HOF
    re-inlining trap dedup.py documents)."""
    m = len(books)
    q = embeddings.select("vec_id", quantized("embedding").alias("qv"))
    q = q.select("vec_id", materialized(F.col("qv"), "qv"))
    return q.select("vec_id", materialized(_pq_dists(books, w), "_d")).select(
        "vec_id", *[F.col(f"_d.d{j}").alias(f"_d{j}") for j in range(m)]
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    n_cells: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Product quantization (PQ): split each vector into ``m`` contiguous
    subvectors, train an ``n_cells`` codebook per subspace with the same
    deterministic integer-domain Lloyd's as the IVF coarse quantizer
    (kmeans.py's determinism contract: round(x*10000) quantization, exact
    integer L2^2, ties to the smallest cell, floor-mean updates — the
    construction that makes a DuckDB oracle possible for an iterative
    trainer), and encode every vector as m small code ids.

    Output: ``(vec_id, codes: array<int> length m, qdist: bigint)`` where
    ``qdist`` is the EXACT integer quantization distortion — the sum over
    subspaces of L2^2 between the quantized subvector and its chosen
    centroid (order-independent integer arithmetic, so engine-identical
    with no rounding caveat).  PQ with m=4 subspaces over 64 dims at 8
    cells compresses 256 bytes of float32 to 4×3 bits; the codes column
    is what an IVF-PQ index stores per vector, and qdist is the training
    diagnostic (falls as codebooks fit better).

    Shape at 100 TB: training touches the corpus 2×iters×m times but
    each pass is the k-means narrow map + partial-aggregated (cell, dim)
    groupBy — the per-iteration driver round-trip is m × n_cells × d/m =
    n_cells × d integers, independent of corpus size.  Encoding is a
    single scan-stage projection: the m codebooks are SQL literals folded
    into one expression, the quantized vector and the m distance arrays
    are materialized behind generator barriers (the interpreted-HOF
    re-inlining trap dedup.py documents), and no shuffle or join touches
    the data at all."""
    books, w = pq_train(embeddings, m=m, n_cells=n_cells, iters=iters)
    codes = F.array(*[argmin(f"_d{j}") for j in range(len(books))])
    qdist = functools.reduce(
        operator.add, [F.expr(f"array_min(_d{j})") for j in range(len(books))]
    )
    return _pq_with_dists(embeddings, books, w).select(
        "vec_id", codes.alias("codes"), qdist.cast("long").alias("qdist")
    )


def _train_both(embeddings: DataFrame, n_cells: int, m: int, pq_cells: int,
                iters: int):
    """Run the coarse IVF training and the PQ codebook training
    CONCURRENTLY from two driver threads (guide §2.6 "overlap independent
    jobs"): the two trainings share no state — each is its own
    deterministic sequence of assignment jobs + 1-row-per-(cell,dim)
    collects — and each iteration's job leaves most executors idle while
    the driver folds centroid sums, so interleaving the two job streams
    back-fills that idle time.  Results are identical to the sequential
    composition (both trainings are pure functions of the input)."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        coarse_f = pool.submit(
            train_ivf_centroids, embeddings, n_cells=n_cells, iters=iters
        )
        books_f = pool.submit(
            pq_train, embeddings, m=m, n_cells=pq_cells, iters=iters
        )
        return coarse_f.result(), books_f.result()


def _adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    books,
    w: int,
    k: int,
    coarse=None,
    n_probe: int = 1,
) -> DataFrame:
    """ADC top-``k`` over PQ ``books``: corpus rows as their m codes,
    queries as m per-subspace LUTs (the same distance arrays, computed on
    the query rows — ADC's "asymmetric": the query stays
    unquantized-by-PQ, only the candidate is represented by its codes),
    pair distance ``sum_j LUT_j[code_j]``, ranked (adc_dist asc,
    neighbor_id asc) through the shared two-stage salted ranking,
    self-pairs excluded.  With a ``coarse`` IVF codebook each corpus row
    keeps its ONE nearest coarse cell and each query probes its
    ``n_probe`` nearest (kmeans._with_probe_cells); only pairs sharing a
    cell are scored and the output carries ``cell``."""
    m = len(books)
    codes = _pq_with_dists(embeddings, books, w).select(
        F.col("vec_id").alias("neighbor_id"),
        *[argmin(f"_d{j}").alias(f"_c{j}") for j in range(m)],
    )
    luts = _pq_with_dists(queries, books, w).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"_d{j}").alias(f"_lut{j}") for j in range(m)],
    )
    if coarse is None:
        pairs = codes.join(
            F.broadcast(luts), F.col("query_id") != F.col("neighbor_id")
        )
        extra = ()
    else:
        corpus = codes.join(
            assign_cells(embeddings.select("vec_id", "embedding"), coarse).select(
                F.col("vec_id").alias("neighbor_id"), "cell"
            ),
            "neighbor_id",
        )
        probes = _with_probe_cells(
            queries.select(
                F.col("vec_id").alias("query_id"), quantized("embedding").alias("qv")
            ),
            coarse,
            n_probe,
        ).select("query_id", "cell")
        pairs = corpus.join(
            F.broadcast(probes.join(luts, "query_id")), "cell"
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        extra = ("cell",)
    adc = functools.reduce(
        operator.add, [F.expr(f"_lut{j}[_c{j}]") for j in range(m)]
    )
    ranked = two_stage_topk(
        pairs.withColumn("adc_dist", adc.cast("long")),
        part_cols=["query_id"],
        order_cols=[F.col("adc_dist").asc(), F.col("neighbor_id").asc()],
        salt_col="neighbor_id",
        k=k,
        rank_alias="rank",
    )
    return ranked.select("query_id", "neighbor_id", *extra, "rank", "adc_dist")


def pq_adc_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 4,
    n_cells: int = 8,
    iters: int = 2,
) -> DataFrame:
    """IVF-PQ's query half: approximate top-``k`` by Asymmetric Distance
    Computation — each query precomputes one lookup table per subspace
    (L2^2 from the query's quantized subvector to every codebook entry),
    and a candidate's distance is then m table lookups summed:
    ``adc(q, x) = sum_j LUT_j[q][code_j(x)]``.  All arithmetic stays in
    the exact integer domain (the training contract), so distances are
    engine-identical with no rounding caveat and the DuckDB oracle
    reproduces them bit-for-bit.  Ranking is (adc_dist asc, neighbor_id
    asc), self-pairs excluded.

    Shape at 100 TB: the corpus side carries only the m small code ints
    per vector (the whole point of PQ — the scan reads codes, not
    vectors); queries with their LUTs broadcast; the per-pair cost is m
    integer lookups instead of a d-element fold (d/m x cheaper than
    brute force on top of the ~100x smaller scan).  Top-k goes through
    the shared two-stage salted ranking (operators/ranking.py), so no
    task ever holds a query's full candidate list."""
    books, w = pq_train(embeddings, m=m, n_cells=n_cells, iters=iters)
    return _adc_topk(embeddings, queries, books, w, k)


def ivf_pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    m: int = 4,
    pq_cells: int = 8,
    iters: int = 2,
    n_probe: int = 1,
) -> DataFrame:
    """The production IVF-PQ topology end-to-end: coarse-quantize the
    corpus into ``n_cells`` inverted lists (kmeans.py's trained integer
    codebook), PQ-encode every vector, then answer each query by probing
    its ``n_probe`` nearest coarse cells and ranking those cells'
    members by ADC — the exact composition FAISS/SCaNN-style services
    deploy (probe prunes the corpus, codes shrink the scan, LUTs replace
    the fold).

    Everything stays in the deterministic integer domain, so the DuckDB
    oracle (coarse chain + per-subspace PQ chains + the same LUT
    distance, composed) matches bit-for-bit.  Ranking (adc_dist asc,
    neighbor_id asc) within the probed cells; self excluded.

    Shape at 100 TB: at write time the corpus is partitioned by coarse
    cell, so a probe reads only the probed cells' code files (partition
    pruning does the n_probe/n_cells fan-out cut) and scans m-int codes,
    not vectors; only the tiny query+LUT side fans out x n_probe before
    the broadcast; top-k via the shared two-stage salted rank.  A
    neighbor lives in exactly one cell, so the probe union is dedup-free
    by construction.  ``n_probe`` is the recall knob: single-probe
    misses neighbors just across a cell boundary; probing p cells scans
    ~p/n_cells of the codes while recovering most boundary losses."""
    coarse, (books, w) = _train_both(
        embeddings, n_cells=n_cells, m=m, pq_cells=pq_cells, iters=iters
    )
    return _adc_topk(
        embeddings, queries, books, w, k, coarse=coarse, n_probe=n_probe
    )
