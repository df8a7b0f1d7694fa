"""Similarity search over an embedding column (array<float>).

* ``ann_bruteforce_topk`` — exact cosine top-k: broadcast the (small) query
  set against the corpus, rank per query.  The corpus side never shuffles;
  this is the correctness baseline and the right plan whenever |queries| is
  broadcastable.
* ``ann_ivf_topk`` — the scale path: restrict each query to its coarse
  cell (inverted-file probe).  Here the cell id is the stored ``label``
  column (standing in for a trained k-means codebook assignment); at 100 TB
  the corpus is bucketed/partitioned by cell so a probe reads only its
  cell's files — partition pruning does the fan-out reduction.

Ranking is deterministic: (cosine desc, candidate vec_id asc), cosine
computed in double precision in element order so the DuckDB oracle
reproduces values bit-for-bit before rounding.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import cosine, dot, l2norm
from ..plans.barrier import materialized
from .ranking import two_stage_topk


def with_norm(df: DataFrame, vec_col: str, alias: str) -> DataFrame:
    """df + ``alias`` = l2norm(vec_col), materialized ONCE per row behind
    a generator barrier (r7).  Inline ``cosine(a, b)`` re-derives both
    norms per PAIR; for an N-candidate join that is 2N extra interpreted
    array aggregates per query.  Precomputing the norm per row and
    writing the pair score as dot / (na * nb) evaluates the identical
    IEEE expression tree (same l2norm subtree, same multiply/divide
    order), so scores are bit-for-bit unchanged."""
    return df.select("*", materialized(l2norm(F.col(vec_col)), alias))


def cosine_from_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """dot(a, b) / (na * nb) — cosine() with the norms precomputed by
    :func:`with_norm`; value-identical to ``cosine(a, b)``."""
    return dot(a, b) / (na * nb)


def _ranked(
    pairs: DataFrame, k: int, extra_cols: Sequence[str] = ()
) -> DataFrame:
    """Deterministic top-``k`` per query over scored candidate ``pairs``
    via the shared two-stage salted device (operators/ranking.py —
    round-3 verdict replaced the single per-query window).  Ordering
    (cos_sim_raw desc, neighbor_id asc) is a total order (neighbor_id
    unique per query), so the output is bit-identical to the
    single-window formulation."""
    ranked = two_stage_topk(
        pairs,
        part_cols=["query_id"],
        order_cols=[F.col("cos_sim_raw").desc(), F.col("neighbor_id").asc()],
        salt_col="neighbor_id",
        k=k,
        rank_alias="rank",
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        *extra_cols,
        "rank",
        F.round(F.col("cos_sim_raw"), 6).alias("cos_sim"),
    )


def ann_bruteforce_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k neighbors of each query vector (excluding itself).

    r7 shape notes: norms are precomputed once per row (with_norm — the
    inline cosine re-derived both norms per candidate pair), and only
    (query_id, neighbor_id, cos_sim_raw) survive into the ranking
    windows — the former plan shipped both raw embedding arrays through
    both top-k exchanges (guide §2.3 "project before the exchange")."""
    q = with_norm(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        ),
        "q_emb",
        "_qn",
    )
    c = with_norm(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
        ),
        "c_emb",
        "_cn",
    )
    pairs = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        cosine_from_norms(
            F.col("q_emb"), F.col("c_emb"), F.col("_qn"), F.col("_cn")
        ).alias("cos_sim_raw"),
    )
    return _ranked(pairs, k)


def cell_pairs(corpus: DataFrame, probes: DataFrame, safe: bool = False) -> DataFrame:
    """Score every (probe, corpus row) pair that shares a ``cell`` — the
    IVF probe join.  ``corpus`` carries (neighbor_id, c_emb, cell),
    ``probes`` (query_id, q_emb, cell); norms are precomputed per row
    (:func:`with_norm`), the probes broadcast, self-pairs are dropped.
    Output ``(query_id, neighbor_id, cell, cos_sim_raw)``, the scores
    value-identical to ``cosine``; ``safe`` makes a zero-magnitude side
    score NULL (cosine_safe) instead of dividing by zero."""
    c = with_norm(corpus, "c_emb", "_cn")
    q = with_norm(probes, "q_emb", "_qn")
    score = cosine_from_norms(
        F.col("q_emb"), F.col("c_emb"), F.col("_qn"), F.col("_cn")
    )
    if safe:
        score = F.when((F.col("_qn") > 0) & (F.col("_cn") > 0), score)
    return (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "cell", score.alias("cos_sim_raw"))
    )


def ann_ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """IVF-style top-k: probe only the query's own coarse cell (label).
    Same r7 norm-precompute + pre-exchange projection as the brute path."""
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("cell"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("label").alias("cell"),
    )
    return _ranked(cell_pairs(corpus, probes), k)
