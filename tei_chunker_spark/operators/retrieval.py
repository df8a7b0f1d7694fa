"""Full-text retrieval over the corpus: exact-integer BM25 top-k.

The missing half of the similarity family (similarity.py/kmeans.py cover
dense ANN; this covers sparse lexical ranking).  No counterpart in the
reference (a single-doc TEI chunker, chunking.py) — this extends
SURVEY.md §2's training-pipeline inventory with the retrieval operator a
data-curation stack uses for targeted corpus probes ("find the documents
most about X") and hard-negative mining.

Determinism device (same family as the integer-Lloyd k-means and the
integer-LUT ADC in quantize.py): the ranking key is computed entirely in
exact integer arithmetic so the DuckDB oracle is bit-for-bit.

* Classic BM25 idf is ln((N - df + 0.5)/(df + 0.5)); ln is transcendental
  and its last ulp is engine-defined, so it CANNOT be in a cross-engine
  ORDER BY (same reasoning as corpusops.doc_top_terms).  We rank by the
  RATIONAL-idf variant: idf_r = (N - df + 0.5)/(df + 0.5) used directly
  (= exp of the classic idf; positive for every df <= N, which also
  removes classic BM25's negative-idf pathology).  Display columns can
  carry the ln form; the rank never does.
* The length normalization dl/avgdl is quantized once per doc:
  dlq = (10^6 * dl * N) div L  (exact integer; L = total corpus tokens).
* Per-term weight, k1 = 6/5 and b = 3/4 folded in exactly:
      w = (idf_num * 22'000'000 * tf * SCALE)
          div (idf_den * (10'000'000 * tf + 3'000'000 + 9 * dlq))
  with idf_num = 2N - 2df + 1, idf_den = 2df + 1.  All products stay in
  decimal(38,0); Spark's `div` and DuckDB's hugeint `//` both produce the
  exact integral quotient (verified).  Overflow envelope: the numerator is
  bounded by 2N * 2.2e7 * tf * SCALE — at N = 10^12 docs and tf <= 10^7
  that is ~4e32, five orders under the 10^38 decimal ceiling.
* Document score = SUM of per-term integer weights; ties break on doc_id.

Shape at 100 TB: the posting scan filters to the query's terms BEFORE the
(doc, term) aggregate, so the shuffled tf table is sized by the matching
postings, not the corpus; N/L fold to ONE global aggregate row
(cross-join broadcast); per-term df is a tiny aggregate broadcast back;
the global top-k is TakeOrderedAndProject (per-partition heads merged on
the driver), never a full sort.
"""
from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import (
    WS_CLASS,
    token_count,
    token_table,
    tokens,
)

SCALE = 10**6
_D38 = "decimal(38,0)"


def query_terms(query: str) -> list[str]:
    """Distinct whitespace terms of the query, sorted (the split uses the
    same explicit ASCII class as the corpus tokenizer)."""
    return sorted({t for t in re.split(f"[{WS_CLASS}]+", query.strip()) if t})


def bm25_topk(documents: DataFrame, query: str, k: int = 15) -> DataFrame:
    """Top-``k`` documents for ``query`` under exact-integer rational-idf
    BM25 (module docstring).  Output: doc_id, n_terms_matched,
    score_micro (the exact integer rank key, SCALE = 10^6), and bm25 (the
    same value as a display double)."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("bm25_topk: query has no terms")
    lengths = documents.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("dl")
    )
    glob = documents.agg(
        F.count(F.lit(1)).cast(_D38).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast(_D38).alias("total_tokens"),
    )
    tf = (
        documents.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast(_D38).alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).cast(_D38).alias("df"))
    scored = _bm25_scored(tf.join(F.broadcast(dfx), "term"), lengths, glob)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
            F.sum("w").cast("long").alias("score_micro"),
        )
        .select(
            "doc_id",
            "n_terms_matched",
            "score_micro",
            F.round(F.col("score_micro") / SCALE, 6).alias("bm25"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def phrase_match_census(documents: DataFrame, phrase: str) -> DataFrame:
    """Exact token-phrase occurrence census: documents containing the
    phrase (ordered, adjacent tokens), with occurrence count and first
    match position (1-based token offset).

    Shape at 100 TB: ZERO shuffles before the per-doc aggregate — the
    match positions are a scan-stage higher-order projection
    (filter over sequence(1, n_windows), comparing each k-token slice to
    the literal), so the plan is scan -> project -> one map-side-partial
    hash agg on doc_id.  No postings table, no join: the phrase is a
    literal and travels with the task.  (The higher-order lambda is
    interpreted, not codegen'd — fine here because it sits in a terminal
    projection, never re-inlined into a join; see CLAUDE.md note.)"""
    terms = [t for t in re.split(f"[{WS_CLASS}]+", phrase.strip()) if t]
    if not terms:
        raise ValueError("phrase_match_census: phrase has no terms")
    p = len(terms)
    needle = " ".join(terms)
    t = token_table(documents, "doc_id", n_tokens=True)
    starts = F.filter(
        F.sequence(F.lit(1), (F.col("n_tokens") - (p - 1)).cast("int")),
        lambda i: F.concat_ws(" ", F.slice(F.col("tok"), i, p)) == needle,
    )
    return (
        t.select(
            "doc_id",
            F.when(F.col("n_tokens") >= p, starts)
            .otherwise(F.array().cast("array<int>"))
            .alias("starts"),
        )
        .select(
            "doc_id",
            F.size("starts").cast("long").alias("n_matches"),
            F.element_at("starts", 1).cast("long").alias("first_pos"),
        )
        .filter(F.col("n_matches") >= 1)
    )


def _bm25_scored(tf: DataFrame, lengths: DataFrame, glob: DataFrame) -> DataFrame:
    """Per-(row of ``tf``) exact integer BM25 weight ``w`` (module
    docstring formula).  ``tf`` carries decimal(38,0) ``tf`` and ``df``
    columns plus ``doc_id``; ``lengths`` is (doc_id, dl); ``glob`` the
    1-row (n_docs, total_tokens) broadcast."""
    return (
        tf.join(lengths, "doc_id")
        .crossJoin(F.broadcast(glob))
        .withColumn(
            "dlq",
            F.expr(f"cast(1000000 as {_D38}) * cast(dl as {_D38}) * n_docs")
            .cast(_D38),
        )
        .withColumn("dlq", F.expr("dlq div total_tokens").cast(_D38))
        .withColumn(
            "w",
            F.expr(
                "((2 * n_docs - 2 * df + 1) * cast(22000000 as decimal(38,0))"
                " * tf * cast(1000000 as decimal(38,0)))"
                " div ((2 * df + 1) * (cast(10000000 as decimal(38,0)) * tf"
                " + cast(3000000 as decimal(38,0))"
                " + cast(9 as decimal(38,0)) * dlq))"
            ),
        )
    )


def bm25_topk_batch(
    documents: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Batched BM25: top-``k`` documents for EVERY query in the
    ``queries`` table (query_id, query_text) — the retrieval shape a
    mining job actually runs (thousands of probes in one pass).  A
    query's duplicate terms count once (term SETS, like bm25_topk).

    Shape at 100 TB: the (query_id, term) table is broadcast twice —
    once to filter the corpus postings down to the union of all query
    terms (semi-join inside the scan stage), once to fan matched
    (doc, term) rows out per asking query; document frequencies are
    computed ONCE per distinct term regardless of how many queries share
    it.  Per-query ranking is the shared two-stage salted top-k
    (operators/ranking.py) — low-cardinality query_id keys never land a
    full candidate set on one task."""
    from .ranking import two_stage_topk

    qt = (
        queries.select(
            "query_id",
            F.explode(tokens(F.col("query_text"))).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    lengths = documents.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("dl")
    )
    glob = documents.agg(
        F.count(F.lit(1)).cast(_D38).alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast(_D38).alias("total_tokens"),
    )
    terms = qt.select("term").distinct()
    tf = (
        documents.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        .join(F.broadcast(terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast(_D38).alias("tf"))
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).cast(_D38).alias("df"))
    per_query = tf.join(F.broadcast(dfx), "term").join(
        F.broadcast(qt), "term"
    )
    scored = _bm25_scored(per_query, lengths, glob)
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        F.sum("w").cast("long").alias("score_micro"),
    )
    ranked = two_stage_topk(
        agg,
        part_cols=["query_id"],
        order_cols=[F.col("score_micro").desc(), F.col("doc_id").asc()],
        salt_col="doc_id",
        k=k,
        rank_alias="rank",
    )
    return ranked.select(
        "query_id",
        "doc_id",
        F.col("rank").cast("long").alias("rank"),
        "n_terms_matched",
        "score_micro",
        F.round(F.col("score_micro") / SCALE, 6).alias("bm25"),
    )


def hybrid_rrf_topk(
    documents: DataFrame,
    embeddings: DataFrame,
    query: str,
    query_vec_id: int = 0,
    k: int = 15,
    n_candidates: int = 30,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by Reciprocal Rank Fusion
    (Cormack/Clarke/Buettcher, SIGIR 2009 — the fusion modern RAG stacks
    default to): take the top ``n_candidates`` docs from exact-integer
    BM25 and from cosine similarity to a query vector, then score every
    candidate as Σ 10^9 div (rrf_k + rank) over the rankings that
    contain it.  The quotient is EXACT bigint division (== DuckDB ``//``)
    — RRF's 1/(k+r) is rational, so unlike score-interpolation fusions
    it needs no floats at all.

    Ranks are deterministic: (score desc, doc_id asc) on the lexical
    side, (cos_sim-rounded-6 desc, doc_id asc) on the vector side —
    both engines rank candidates identically.  The two rank windows run
    over ``n_candidates``-bounded tables (TakeOrderedAndProject feeds
    them), so the unpartitioned window is k-rows, never corpus-rows; the
    fuse is one full-outer join of two k-row tables.  At scale both
    candidate generators are the existing distributed top-k shapes
    (bm25_topk; brute-force/IVF cosine)."""
    from pyspark.sql import Window

    from ..functions.columns import cosine_safe

    lex = bm25_topk(documents, query, k=n_candidates).select(
        "doc_id", "score_micro"
    )
    w_lex = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    lex_r = lex.select(
        "doc_id", F.row_number().over(w_lex).cast("int").alias("rank_lex")
    )
    qv = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("q_emb")
    )
    cand = (
        embeddings.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_safe(F.col("embedding"), F.col("q_emb")), 6
            ).alias("cos_sim"),
        )
        # zero-magnitude vectors: cosine is NULL (see cosine_safe — the
        # bare quotient would ABORT under ANSI); DuckDB's 0.0/0.0 is
        # NULL too — both engines drop them before ranking
        .filter(F.col("cos_sim").isNotNull())
        .orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
        .limit(n_candidates)
    )
    w_vec = Window.orderBy(F.col("cos_sim").desc(), F.col("doc_id"))
    vec_r = cand.select(
        "doc_id", F.row_number().over(w_vec).cast("int").alias("rank_vec")
    )
    fused = lex_r.join(vec_r, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_vec",
        (
            F.coalesce(
                F.expr(f"cast(1000000000 as bigint) div ({rrf_k} + rank_lex)"),
                F.lit(0).cast("long"),
            )
            + F.coalesce(
                F.expr(f"cast(1000000000 as bigint) div ({rrf_k} + rank_vec)"),
                F.lit(0).cast("long"),
            )
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id")).limit(k)
