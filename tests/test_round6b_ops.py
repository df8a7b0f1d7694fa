"""Round-6 extension operators: substring-level duplicate spans (Lee et
al.-style), incremental-ingest dedup census, and exact-integer BM25
retrieval.  Oracle parity for all three lives in __spark_entry__ (checked
by scripts/check_oracles.py); these tests pin the hand-computable
semantics and the scale-relevant plan shapes."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tei_chunker_spark.operators import dedup, retrieval


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- substring_dup_spans ----------------------------------------------------


def test_substring_spans_shared_run_merges_windows(spark):
    """A 6-token run shared by two docs yields 3 duplicated k=4 windows
    each, merged into ONE span covering exactly the shared tokens."""
    docs = _docs(
        spark,
        [
            (1, "p1 p2 s1 s2 s3 s4 s5 s6 q1 q2"),
            (2, "r1 s1 s2 s3 s4 s5 s6 r2"),
        ],
    )
    out = {r.doc_id: r for r in dedup.substring_dup_spans(docs, k=4).collect()}
    assert out[1].n_tokens == 10
    assert out[1].n_dup_windows == 3  # starts 3, 4, 5
    assert out[1].n_dup_spans == 1
    assert out[1].dup_tokens == 6  # tokens 3..8
    assert out[1].dup_fraction == 0.6
    assert out[2].n_dup_spans == 1 and out[2].dup_tokens == 6


def test_substring_spans_internal_repetition_two_islands(spark):
    """A phrase repeated WITHIN one doc (separated by a gap) counts as
    duplicated (occurrence >= 2 corpus-wide) and yields two islands."""
    docs = _docs(spark, [(1, "s1 s2 s3 s4 mid s1 s2 s3 s4")])
    row = dedup.substring_dup_spans(docs, k=4).collect()[0]
    assert row.n_dup_windows == 2  # starts 1 and 6
    assert row.n_dup_spans == 2  # gap at token 5 splits the islands
    assert row.dup_tokens == 8


def test_substring_spans_adjacent_islands_merge(spark):
    """Duplicated windows whose spans touch (end + 1 == next start) merge
    into one island."""
    docs = _docs(
        spark,
        [
            (1, "s1 s2 s3 s4 t1 t2 t3 t4"),
            (2, "s1 s2 s3 s4"),
            (3, "t1 t2 t3 t4"),
        ],
    )
    out = {r.doc_id: r for r in dedup.substring_dup_spans(docs, k=4).collect()}
    # doc 1: dup windows at starts 1 and 5; span [1,4] and [5,8] touch
    assert out[1].n_dup_windows == 2
    assert out[1].n_dup_spans == 1
    assert out[1].dup_tokens == 8
    assert out[1].dup_fraction == 1.0


def test_substring_spans_short_and_blank_docs_kept(spark):
    docs = _docs(spark, [(1, "a b c"), (2, "   "), (3, "x y z w v")])
    out = {r.doc_id: r for r in dedup.substring_dup_spans(docs, k=4).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].n_tokens == 3 and out[1].n_dup_windows == 0
    assert out[1].dup_fraction == 0.0
    assert out[2].n_tokens == 0 and out[2].dup_fraction is None
    assert out[3].n_dup_windows == 0  # unique 5-token doc, no dups


def test_substring_spans_plan_has_no_pairwise_join(spark):
    """Scale guard: postings join on w_hash (equi-join), never a
    cartesian/NLJ pair blowup."""
    docs = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h")])
    plan = (
        dedup.substring_dup_spans(docs, k=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- incremental_dedup_census ----------------------------------------------


def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_incremental_census_one_doc_per_gate(spark):
    base = _src_docs(spark, [(1, "alpha beta", "s")])
    new = _src_docs(
        spark,
        [
            (10, "fresh text", "s"),  # kept
            (11, "alpha beta", "s"),  # exact_vs_base
            (12, "fresh text", "s"),  # exact_in_batch (dup of 10)
            (13, "ALPHA beta!", "s"),  # norm_vs_base
            (14, "FRESH text!", "s"),  # norm_in_batch (norm-dup of 10)
        ],
    )
    row = dedup.incremental_dedup_census(base, new).collect()[0]
    assert row.source == "s"
    assert row.n_new == 5
    assert row.n_exact_vs_base == 1
    assert row.n_exact_in_batch == 1
    assert row.n_norm_vs_base == 1
    assert row.n_norm_in_batch == 1
    assert row.n_kept == 1


def test_incremental_census_gate_order_base_wins(spark):
    """A doc that is BOTH a base duplicate and a batch duplicate counts
    at the first gate (exact_vs_base) — each doc exactly once."""
    base = _src_docs(spark, [(1, "alpha beta", "s")])
    new = _src_docs(
        spark,
        [(10, "alpha beta", "s"), (11, "alpha beta", "s")],
    )
    row = dedup.incremental_dedup_census(base, new).collect()[0]
    assert row.n_new == 2
    assert row.n_exact_vs_base == 2  # NOT 1 + exact_in_batch
    assert row.n_exact_in_batch == 0
    assert row.n_kept == 0


def test_incremental_census_counts_are_a_partition(spark):
    """Gates partition the batch: per-source counts sum to n_new."""
    base, new = __import__("__spark_entry__")._incremental_split(
        spark, "/root/testdata/sf0.001"
    )
    for r in dedup.incremental_dedup_census(base, new).collect():
        assert (
            r.n_exact_vs_base
            + r.n_exact_in_batch
            + r.n_norm_vs_base
            + r.n_norm_in_batch
            + r.n_kept
            == r.n_new
        )


# --- bm25_topk --------------------------------------------------------------


def test_bm25_matches_and_ranks_deterministically(spark):
    docs = _docs(
        spark,
        [
            (1, "hash hash hash join vector"),
            (2, "hash hash hash hash hash"),
            (3, "filler filler filler"),
            (4, "hash join vector"),
        ],
    )
    rows = retrieval.bm25_topk(docs, "hash join vector", k=10).collect()
    by_id = {r.doc_id: r for r in rows}
    assert set(by_id) == {1, 2, 4}  # doc 3 has no query term
    assert by_id[1].n_terms_matched == 3
    assert by_id[2].n_terms_matched == 1
    assert by_id[4].n_terms_matched == 3
    # three matched terms with repeats beats one saturating term
    assert by_id[1].score_micro > by_id[2].score_micro
    # output is ordered by the exact integer key desc, doc_id asc
    keys = [(-r.score_micro, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    # display double is the scaled integer
    for r in rows:
        assert r.bm25 == round(r.score_micro / retrieval.SCALE, 6)


def test_bm25_k_limits_and_empty_query_raises(spark):
    docs = _docs(spark, [(i, "hash join") for i in range(10)])
    assert len(retrieval.bm25_topk(docs, "hash", k=3).collect()) == 3
    with pytest.raises(ValueError):
        retrieval.bm25_topk(docs, "   ")


def test_bm25_identical_docs_tie_break_on_doc_id(spark):
    docs = _docs(spark, [(i, "hash join filler") for i in (5, 3, 9, 1)])
    rows = retrieval.bm25_topk(docs, "hash join", k=3).collect()
    scores = {r.score_micro for r in rows}
    assert len(scores) == 1  # identical docs, identical exact score
    assert [r.doc_id for r in rows] == [1, 3, 5]


def test_bm25_plan_is_top_k_not_full_sort(spark):
    """Scale guard: the global top-k compiles to TakeOrderedAndProject
    (per-partition heads merged on the driver), never a full Sort."""
    docs = _docs(spark, [(i, "hash join vector") for i in range(50)])
    plan = (
        retrieval.bm25_topk(docs, "hash join", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


# --- phrase_match_census ----------------------------------------------------


def test_phrase_census_counts_and_positions(spark):
    docs = _docs(
        spark,
        [
            (1, "x hash join y hash join z"),
            (2, "hash only no phrase"),
            (3, "hash join"),
            (4, "   "),
        ],
    )
    out = {
        r.doc_id: r
        for r in retrieval.phrase_match_census(docs, "hash join").collect()
    }
    assert set(out) == {1, 3}  # docs 2 and 4 have no match
    assert out[1].n_matches == 2 and out[1].first_pos == 2
    assert out[3].n_matches == 1 and out[3].first_pos == 1


def test_phrase_census_overlapping_matches_counted(spark):
    docs = _docs(spark, [(1, "a a a a")])
    row = retrieval.phrase_match_census(docs, "a a").collect()[0]
    assert row.n_matches == 3  # starts 1, 2, 3 overlap
    assert row.first_pos == 1


def test_phrase_census_empty_phrase_raises(spark):
    docs = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError):
        retrieval.phrase_match_census(docs, " \t ")


def test_phrase_census_plan_has_no_shuffle(spark):
    """Scale guard: the census is a pure scan-stage projection — no
    Exchange anywhere in the plan (the phrase is a literal, so there is
    no postings table and no join)."""
    docs = _docs(spark, [(i, "hash join etc") for i in range(20)])
    plan = (
        retrieval.phrase_match_census(docs, "hash join")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# --- bm25_topk_batch --------------------------------------------------------


def test_bm25_batch_matches_single_query_results(spark):
    """The batch operator must reproduce bm25_topk exactly for each
    query (same integer scores, same order)."""
    docs = _docs(
        spark,
        [
            (1, "hash hash hash join vector"),
            (2, "hash hash hash hash hash"),
            (3, "filler filler filler"),
            (4, "hash join vector"),
        ],
    )
    queries = spark.createDataFrame(
        [("qa", "hash join vector"), ("qb", "filler")],
        "query_id string, query_text string",
    )
    batch = retrieval.bm25_topk_batch(docs, queries, k=10).collect()
    single = retrieval.bm25_topk(docs, "hash join vector", k=10).collect()
    got_qa = [
        (r.doc_id, r.score_micro, r.n_terms_matched)
        for r in sorted(
            (r for r in batch if r.query_id == "qa"), key=lambda r: r.rank
        )
    ]
    want = [(r.doc_id, r.score_micro, r.n_terms_matched) for r in single]
    assert got_qa == want
    got_qb = [r.doc_id for r in batch if r.query_id == "qb"]
    assert got_qb == [3]  # only the filler doc matches 'filler'


def test_bm25_batch_duplicate_query_terms_count_once(spark):
    docs = _docs(spark, [(1, "hash a b"), (2, "hash hash a b")])
    queries = spark.createDataFrame(
        [("q1", "hash hash hash"), ("q2", "hash")],
        "query_id string, query_text string",
    )
    rows = retrieval.bm25_topk_batch(docs, queries, k=5).collect()
    s = {(r.query_id, r.doc_id): r.score_micro for r in rows}
    assert s[("q1", 1)] == s[("q2", 1)]  # term SETS: q1 == q2
    assert s[("q1", 2)] == s[("q2", 2)]


# --- cdc_segment_census -----------------------------------------------------
# md5('w18') starts with '0' (verified in-test) -> boundary AFTER w18;
# w0..w7 are non-boundary tokens.


def test_cdc_boundary_fixture_assumption():
    import hashlib

    assert hashlib.md5(b"w18").hexdigest()[0] == "0"
    for w in ("w0", "w1", "w2", "w3", "prefix"):
        assert hashlib.md5(w.encode()).hexdigest()[0] != "0"


def test_cdc_segments_survive_prefix_shift(spark):
    """The CDC property fixed-grid boilerplate lacks: a token inserted at
    the FRONT only perturbs the first segment — every later segment
    still matches the unshifted doc."""
    from tei_chunker_spark.operators.corpusops import cdc_segment_census

    base = "w0 w1 w18 w2 w3"  # segments: [w0 w1 w18] [w2 w3]
    docs = _docs(spark, [(1, base), (2, "prefix " + base)])
    out = {r.doc_id: r for r in cdc_segment_census(docs).collect()}
    assert out[1].n_segs == 2 and out[2].n_segs == 2
    # the post-boundary segment [w2 w3] is shared despite the shift
    assert out[1].n_dup_segs == 1
    assert out[2].n_dup_segs == 1
    assert out[1].cdc_dup_ratio == 0.5


def test_cdc_identical_docs_fully_duplicated(spark):
    from tei_chunker_spark.operators.corpusops import cdc_segment_census

    docs = _docs(spark, [(1, "w0 w18 w1 w2"), (2, "w0 w18 w1 w2")])
    out = {r.doc_id: r for r in cdc_segment_census(docs).collect()}
    assert out[1].n_segs == 2
    assert out[1].n_dup_segs == 2 and out[1].cdc_dup_ratio == 1.0


def test_cdc_blank_and_unique_docs(spark):
    from tei_chunker_spark.operators.corpusops import cdc_segment_census

    docs = _docs(spark, [(1, "   "), (2, "w0 w1 w2")])
    out = {r.doc_id: r for r in cdc_segment_census(docs).collect()}
    assert out[1].n_tokens == 0 and out[1].n_segs == 0
    assert out[1].cdc_dup_ratio is None
    assert out[2].n_segs == 1 and out[2].n_dup_segs == 0


# --- containment_pairs ------------------------------------------------------


def test_containment_asymmetric_subset(spark):
    """A short doc verbatim inside a long one: containment ≈ 1.0 from the
    short side, well below threshold from the long side — the signal
    symmetric Jaccard misses."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "x1 x2 x3 x4 a b c d e f y1 y2 y3 y4 y5"),
        ],
    )
    out = dedup.containment_pairs(
        dedup.shingle_table(docs, 2), threshold=0.8
    ).collect()
    rows = {(r.src_id, r.dst_id): r.containment for r in out}
    assert rows == {(1, 2): 1.0}  # 2→1 is 5/14, filtered


def test_containment_exact_dup_both_directions(spark):
    docs = _docs(spark, [(1, "a b c d"), (2, "a b c d")])
    out = dedup.containment_pairs(
        dedup.shingle_table(docs, 2), threshold=0.9
    ).collect()
    rows = {(r.src_id, r.dst_id): r.containment for r in out}
    assert rows == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_df_cap_drops_boilerplate_shingle(spark):
    """With the guillotine at df<=2 a shingle shared by 3 docs is dropped
    before pairing — the remaining unique shingles produce no pairs."""
    docs = _docs(
        spark, [(1, "z z u1 u2"), (2, "z z v1 v2"), (3, "z z w1 w2")]
    )
    out = dedup.containment_pairs(
        dedup.shingle_table(docs, 2), threshold=0.1, max_shingle_df=2
    ).collect()
    assert out == []


# --- winnow_fingerprint_census ---------------------------------------------


def test_winnow_shared_run_guarantee(spark):
    """Winnowing's detection guarantee: any shared token run of length
    >= k + w - 1 (= 6 here) produces at least one identical selected
    fingerprint in both docs — regardless of alignment."""
    shared = "s1 s2 s3 s4 s5 s6"
    docs = _docs(
        spark,
        [
            (1, f"a1 a2 a3 {shared} a4"),
            (2, f"{shared} b1 b2 b3 b4 b5 b6 b7"),
        ],
    )
    from tei_chunker_spark.operators.textstats import winnow_fingerprint_census

    out = {r.doc_id: r for r in winnow_fingerprint_census(docs).collect()}
    assert out[1].n_shared_fp >= 1
    assert out[2].n_shared_fp >= 1


def test_winnow_short_and_blank_docs(spark):
    from tei_chunker_spark.operators.textstats import winnow_fingerprint_census

    docs = _docs(spark, [(1, "   "), (2, "a b c d e")])  # 5 < k+w-1
    out = {r.doc_id: r for r in winnow_fingerprint_census(docs).collect()}
    assert out[1].n_tokens == 0 and out[1].n_fp == 0
    assert out[1].shared_ratio is None
    assert out[2].n_fp == 0  # 3 grams < w full windows


def test_winnow_unique_docs_share_nothing(spark):
    from tei_chunker_spark.operators.textstats import winnow_fingerprint_census

    docs = _docs(
        spark,
        [(1, "a1 a2 a3 a4 a5 a6 a7 a8"), (2, "b1 b2 b3 b4 b5 b6 b7 b8")],
    )
    out = {r.doc_id: r for r in winnow_fingerprint_census(docs).collect()}
    assert out[1].n_fp >= 1 and out[1].n_shared_fp == 0
    assert out[2].n_shared_fp == 0 and out[2].shared_ratio == 0.0


# --- lm_bigram_score --------------------------------------------------------


def test_lm_score_exact_values(spark):
    """Hand-computed Laplace: corpus = {1: 'a b', 2: 'a b', 3: 'a c'}.
    c(a)=3, c(a,b)=2, c(a,c)=1, V=|{b,c}|=2 →
    p(b|a) = 3·10^6 div 5 = 600000 ppm, p(c|a) = 2·10^6 div 5 = 400000."""
    from tei_chunker_spark.operators.corpusops import lm_bigram_score

    docs = _docs(spark, [(1, "a b"), (2, "a b"), (3, "a c")])
    out = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    assert out[1].score_ppm == 600000
    assert out[2].score_ppm == 600000
    assert out[3].score_ppm == 400000


def test_lm_score_fluent_above_gibberish(spark):
    """Docs made of corpus-frequent transitions outscore a doc of
    one-off transitions — the quality-filter separation that REQUIRES
    the Laplace denominator (unsmoothed, every singleton context scores
    p = 1/1 and the gibberish doc would be 'perfectly fluent')."""
    from tei_chunker_spark.operators.corpusops import lm_bigram_score

    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((99, "zq xv bn mk lp rs"))
    out = {r.doc_id: r for r in lm_bigram_score(_docs(spark, rows)).collect()}
    assert out[0].score_ppm > 2 * out[99].score_ppm


def test_lm_score_short_docs_null(spark):
    from tei_chunker_spark.operators.corpusops import lm_bigram_score

    docs = _docs(spark, [(1, "solo"), (2, "  "), (3, "a b")])
    out = {r.doc_id: r for r in lm_bigram_score(docs).collect()}
    assert out[1].n_transitions == 0 and out[1].score_ppm is None
    assert out[2].n_transitions == 0 and out[2].score_ppm is None
    assert out[3].n_transitions == 1


# --- semantic_dedup ---------------------------------------------------------


def _embs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_drops_prototypical_keeps_peripheral(spark):
    """Two near-identical vectors in one cluster: exactly one survives,
    and per the SemDeDup rule it is the one FARTHER from the centroid
    (lower centroid_sim).  The lone vector in the other cluster is kept."""
    from tei_chunker_spark.operators.dedup import semantic_dedup

    emb = _embs(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.98, 0.05]),
            (3, [0.0, 1.0]),
        ],
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(emb, threshold=0.95, n_cells=2, iters=2).collect()
    }
    assert out[3].kept == 1 and out[3].n_dups == 0
    assert out[1].n_dups == 1 and out[2].n_dups == 1
    assert out[1].kept + out[2].kept == 1
    kept = out[1] if out[1].kept else out[2]
    dropped = out[2] if out[1].kept else out[1]
    assert kept.centroid_sim <= dropped.centroid_sim


def test_semantic_dedup_identical_vectors_min_id_kept(spark):
    """Equal centroid similarity ties break to the smaller vec_id."""
    from tei_chunker_spark.operators.dedup import semantic_dedup

    emb = _embs(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 1.0]),
        ],
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(emb, threshold=0.95, n_cells=2, iters=2).collect()
    }
    assert out[1].kept == 1 and out[2].kept == 0


def test_semantic_dedup_below_threshold_all_kept(spark):
    from tei_chunker_spark.operators.dedup import semantic_dedup

    emb = _embs(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.8, 0.6]),  # cos = 0.8 < 0.95 — same cell maybe, no dup
            (3, [0.0, 1.0]),
        ],
    )
    out = semantic_dedup(emb, threshold=0.95, n_cells=2, iters=2).collect()
    assert all(r.kept == 1 for r in out)
    assert all(r.n_dups == 0 for r in out)


# --- events_funnel / events_retention ---------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def test_funnel_requires_strict_order(spark):
    """A user whose click precedes every view has depth 1 — ordered
    funnel, not set membership."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_funnel

    ev = _events(
        spark,
        [
            # user 1: view -> click -> purchase (complete)
            (1, dt(2024, 1, 1, 10), 1, "view"),
            (2, dt(2024, 1, 1, 11), 1, "click"),
            (3, dt(2024, 1, 1, 12), 1, "purchase"),
            # user 2: click BEFORE view — no ordered completion
            (4, dt(2024, 1, 2, 9), 2, "click"),
            (5, dt(2024, 1, 2, 10), 2, "view"),
            (6, dt(2024, 1, 2, 8), 2, "purchase"),
            # user 3: never viewed — not in output
            (7, dt(2024, 1, 3, 9), 3, "click"),
        ],
    )
    out = {r.user_id: r for r in events_funnel(ev).collect()}
    assert set(out) == {1, 2}
    assert out[1].depth == 3
    assert out[2].depth == 1 and out[2].t2 is None and out[2].t3 is None


def test_funnel_picks_earliest_qualifying_times(spark):
    """t2 is the FIRST click after t1, not any click; a later purchase
    before that click does not count."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_funnel

    ev = _events(
        spark,
        [
            (1, dt(2024, 1, 1, 8), 1, "view"),
            (2, dt(2024, 1, 1, 9), 1, "purchase"),  # before first click: no
            (3, dt(2024, 1, 1, 10), 1, "click"),
            (4, dt(2024, 1, 1, 11), 1, "click"),  # later click ignored
            (5, dt(2024, 1, 1, 12), 1, "purchase"),
        ],
    )
    r = events_funnel(ev).collect()[0]
    assert r.t2 == dt(2024, 1, 1, 10)
    assert r.t3 == dt(2024, 1, 1, 12)
    assert r.depth == 3


def test_retention_offsets_and_ratios(spark):
    """Two users cohorted in week of Jan 1 2024 (Monday); one returns in
    week+1 — retention 1.0 at offset 0, 0.5 at offset 1."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_retention

    ev = _events(
        spark,
        [
            (1, dt(2024, 1, 2, 10), 1, "view"),  # week of Mon Jan 1
            (2, dt(2024, 1, 3, 10), 2, "view"),
            (3, dt(2024, 1, 9, 10), 1, "click"),  # week of Mon Jan 8
        ],
    )
    out = {(r.cohort_week, r.week_offset): r for r in events_retention(ev).collect()}
    cw = dt(2024, 1, 1)
    assert out[(cw, 0)].n_active == 2 and out[(cw, 0)].retention == 1.0
    assert out[(cw, 1)].n_active == 1 and out[(cw, 1)].retention == 0.5
    assert out[(cw, 0)].cohort_size == 2


def test_funnel_rejects_short_step_list(spark):
    from tei_chunker_spark.operators.relational import events_funnel

    with pytest.raises(ValueError):
        events_funnel(_events(spark, []), steps=("view",))


# --- hybrid_rrf_topk / distinct_count_kmv -----------------------------------


def test_rrf_rewards_presence_in_both_rankings(spark):
    """A doc ranked mid in BOTH lists outscores docs that top one list
    but miss the other: 1/(60+r_a) + 1/(60+r_b) > 1/(60+1)."""
    from tei_chunker_spark.operators.retrieval import hybrid_rrf_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = hybrid_rrf_topk(
        docs, emb, "hash join vector", query_vec_id=0, k=10
    ).collect()
    both = [r for r in rows if r.rank_lex is not None and r.rank_vec is not None]
    single = [r for r in rows if r.rank_lex is None or r.rank_vec is None]
    if both and single:
        assert max(r.rrf_micro for r in both) > max(
            r.rrf_micro for r in single
        )
    # exact rational scores: 10^9 div (60 + rank) summed
    for r in rows:
        expect = 0
        if r.rank_lex is not None:
            expect += 10**9 // (60 + r.rank_lex)
        if r.rank_vec is not None:
            expect += 10**9 // (60 + r.rank_vec)
        assert r.rrf_micro == expect
    # output ordered by (rrf desc, doc_id)
    keys = [(-r.rrf_micro, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_kmv_exact_below_k_and_estimates_above(spark):
    from tei_chunker_spark.operators.corpusops import distinct_count_kmv

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # unigram vocab is 31 < k: the sketch IS the vocabulary — exact
    r1 = distinct_count_kmv(docs, n=1, k=64).collect()[0]
    assert r1.n_sketch == 31 and r1.est_distinct == 31
    # bigram vocab >> k: estimator branch; standard error ~ 1/sqrt(k)
    r2 = distinct_count_kmv(docs, n=2, k=128).collect()[0]
    assert r2.n_sketch == 128
    from pyspark.sql import functions as F

    from tei_chunker_spark.functions.columns import tokens, word_ngrams

    exact = (
        docs.select(F.explode(word_ngrams(tokens(F.col("text")), 2)).alias("g"))
        .filter(F.col("g") != "")
        .distinct()
        .count()
    )
    assert abs(r2.est_distinct - exact) / exact < 0.35  # ~4 sigma at k=128


def test_kmv_deterministic(spark):
    from tei_chunker_spark.operators.corpusops import distinct_count_kmv

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = distinct_count_kmv(docs, n=2, k=128).collect()[0]
    b = distinct_count_kmv(docs, n=2, k=128).collect()[0]
    assert a == b


# --- plan guards for the round-6b operator family ---------------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_semantic_dedup_plan_no_cartesian(spark):
    """The within-cell verify is an equi-join on cell; never NLJ over
    vectors (the 1-row centroid literal is a projection, not a join)."""
    from tei_chunker_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, threshold=0.3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_plan_all_hash_joins(spark):
    from tei_chunker_spark.operators.relational import events_funnel

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(events_funnel(ev))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every step join is a user_id equi-join
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_kmv_plan_is_take_ordered(spark):
    """The bottom-k never compiles to a full global Sort: the distinct
    vocab table feeds TakeOrderedAndProject."""
    from tei_chunker_spark.operators.corpusops import distinct_count_kmv

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(distinct_count_kmv(docs, n=2, k=64))
    assert "TakeOrderedAndProject" in plan


def test_containment_plan_no_cartesian(spark):
    from tei_chunker_spark.operators.dedup import containment_pairs, shingle_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(
        containment_pairs(shingle_table(docs, 2), threshold=0.9, max_shingle_df=20)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_score_single_tokenize_pass(spark):
    """The per-doc bigram table is checkpointed: global/context counts
    derive from it, so the corpus parquet is scanned at most twice (once
    for transitions, once for the doc spine) — never once per count
    table."""
    from tei_chunker_spark.operators.corpusops import lm_bigram_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(lm_bigram_score(docs))
    assert plan.count("Scan parquet") <= 2


# --- curate fluency gate ------------------------------------------------------


def test_curate_fluency_gate_drops_gibberish(spark):
    """With --fluency-min-ppm the funnel gains an after_fluency census
    gate that drops one-off-transition docs while frequent-transition
    docs survive; off by default (census key absent)."""
    from tei_chunker_spark.curate import curate

    rows = [(i, "the cat sat on the mat and then the cat sat on the mat again ok")
            for i in range(20)]
    rows.append((99, "zq xv bn mk lp rs tu wy az bq cr ds et fu gv hw"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame(
        [(1000, "nothing shared here at all")], "doc_id long, text string"
    )
    # default: no fluency gate, no census key
    _, census_off = curate(spark, docs, eval_docs, quality_min=0.0)
    assert "after_fluency" not in census_off
    # the gate trains the LM on the POST-DEDUP survivors (docs 0 and 99
    # — the 20 copies collapse first), so compute the floor there
    from tei_chunker_spark.operators.corpusops import lm_bigram_score

    survivors = docs.filter(F.col("doc_id").isin(0, 99))
    scores = {r.doc_id: r.score_ppm for r in lm_bigram_score(survivors).collect()}
    floor = (scores[0] + scores[99]) // 2
    assert scores[0] > floor > scores[99]
    packed, census_on = curate(
        spark, docs, eval_docs, quality_min=0.0, fluency_min_ppm=floor
    )
    assert census_on["after_fluency"] == 1  # 20 dups collapse to 1 fluent doc
    kept_ids = {r.doc_id for r in packed.collect()}
    assert 99 not in kept_ids


# --- doc_ngram_novelty / source_overlap_matrix ------------------------------


def test_novelty_first_owner_wins(spark):
    """A later doc repeating an earlier doc's grams has zero novelty;
    the first doc owns them all."""
    from tei_chunker_spark.operators.corpusops import doc_ngram_novelty

    docs = _docs(
        spark,
        [
            (1, "a b c d e"),
            (2, "a b c d e"),           # full copy: novelty 0
            (3, "a b c x y z"),         # shares gram 'a b c' only
        ],
    )
    out = {r.doc_id: r for r in doc_ngram_novelty(docs, n=3).collect()}
    assert out[1].novelty == 1.0 and out[1].n_grams == 3
    assert out[2].novelty == 0.0 and out[2].n_novel == 0
    # doc 3: grams {a b c, b c x, c x y, x y z}; 'a b c' owned by doc 1
    assert out[3].n_grams == 4 and out[3].n_novel == 3
    assert out[3].novelty == 0.75


def test_novelty_short_docs_null(spark):
    from tei_chunker_spark.operators.corpusops import doc_ngram_novelty

    docs = _docs(spark, [(1, "a b"), (2, "   ")])
    out = {r.doc_id: r for r in doc_ngram_novelty(docs, n=3).collect()}
    assert out[1].n_grams == 0 and out[1].novelty is None
    assert out[2].n_grams == 0 and out[2].novelty is None


def test_source_overlap_detects_copied_feed(spark):
    from tei_chunker_spark.operators.corpusops import source_overlap_matrix

    rows = [
        (1, "a b c d e f", "s1"),
        (2, "a b c d e f", "s2"),       # s2 copies s1 verbatim
        (3, "q r s t u v", "s3"),       # disjoint
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.src_a, r.src_b): r for r in source_overlap_matrix(docs, n=3).collect()}
    assert out[("s1", "s2")].jaccard == 1.0
    assert ("s1", "s3") not in out and ("s2", "s3") not in out  # no shared gram


def test_source_overlap_null_source_kept(spark):
    from tei_chunker_spark.operators.corpusops import source_overlap_matrix

    rows = [(1, "a b c d", "s1"), (2, "a b c d", None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = source_overlap_matrix(docs, n=3).collect()
    assert len(out) == 1
    r = out[0]
    assert r.jaccard == 1.0
    assert {r.src_a, r.src_b} == {"s1", None}


# --- events_hopping_census --------------------------------------------------


def test_hopping_event_lands_in_width_over_slide_windows(spark):
    """width 600 / slide 300: every event appears in exactly 2 windows,
    whose starts bracket it."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_hopping_census

    ev = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 0, 7, 30), 1, "view", 2.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = events_hopping_census(ev, 600, 300).collect()
    starts = sorted(r.window_start for r in rows)
    assert starts == [dt(2024, 1, 1, 0, 0), dt(2024, 1, 1, 0, 5)]
    assert all(r.n_events == 1 and r.value_sum == 2.0 for r in rows)


def test_hopping_counts_sum_to_events_times_hops(spark):
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.relational import events_hopping_census

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    total = events_hopping_census(ev, 600, 300).agg(F.sum("n_events")).first()[0]
    assert total == ev.count() * 2


def test_hopping_rejects_nonmultiple_slide(spark):
    from tei_chunker_spark.operators.relational import events_hopping_census

    ev = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    with pytest.raises(ValueError):
        events_hopping_census(ev, 600, 250)


# --- events_gap_fill --------------------------------------------------------


def test_gap_fill_carries_last_value_forward(spark):
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_gap_fill

    ev = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 0, 10), 1, "view", 5.0),
            (2, dt(2024, 1, 1, 3, 20), 1, "view", 7.0),  # 2-hour gap
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    rows = sorted(events_gap_fill(ev, 3600).collect(), key=lambda r: r.period)
    assert len(rows) == 4  # hours 0..3 inclusive
    assert [r.is_gap for r in rows] == [0, 1, 1, 0]
    assert [r.n_events for r in rows] == [1, 0, 0, 1]
    assert [r.filled_value for r in rows] == [5.0, 5.0, 5.0, 7.0]
    assert rows[1].value_sum is None


def test_gap_fill_spine_is_per_user(spark):
    """Each user's spine spans only their own activity range."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_gap_fill

    ev = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 0), 1, "view", 1.0),
            (2, dt(2024, 1, 1, 5), 1, "view", 1.0),
            (3, dt(2024, 2, 1, 0), 2, "view", 1.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    out = events_gap_fill(ev, 3600).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    assert len(by_user[1]) == 6 and len(by_user[2]) == 1


# --- shipping_priority / returned_item_revenue ------------------------------


def test_shipping_priority_plan_pushes_filters_and_takes_top_k(spark):
    from tei_chunker_spark.operators.relational import shipping_priority

    sf = "/root/testdata/sf0.001"
    df = shipping_priority(
        spark.read.parquet(f"{sf}/customer.parquet"),
        spark.read.parquet(f"{sf}/orders.parquet"),
        spark.read.parquet(f"{sf}/lineitem.parquet"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert len(rows) <= 10
    keys = [(-r.revenue_cents, r.o_orderdate, r.l_orderkey) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r.revenue == round(r.revenue_cents / 100.0, 2)


def test_returned_revenue_only_counts_R_lines(spark):
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import returned_item_revenue

    customer = spark.createDataFrame(
        [(1, "Alice", 10, 50.0, "BUILDING")],
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(100, 1, "O", 1.0, dt(1996, 2, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li_rows = [
        (100, 1, 1, 1, 1.0, 100.0, 0.1, 0.0, "R", "F", dt(1996, 2, 10)),
        (100, 1, 1, 2, 1.0, 999.0, 0.0, 0.0, "N", "F", dt(1996, 2, 11)),
    ]
    lineitem = spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    nation = spark.createDataFrame(
        [(10, "FRANCE", 0)], "n_nationkey long, n_name string, n_regionkey long"
    )
    rows = returned_item_revenue(customer, orders, lineitem, nation).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.revenue_cents == 9000  # only the R line: 100 * 0.9 = 90.00
    assert r.n_name == "FRANCE" and r.acctbal == 50.0


# --- promo_revenue_share / brand_size_revenue --------------------------------


def test_promo_share_hand_computed(spark):
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import promo_revenue_share

    li = spark.createDataFrame(
        [
            (1, 10, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "F", dt(1996, 1, 5)),
            (1, 20, 1, 2, 1.0, 300.0, 0.0, 0.0, "N", "F", dt(1996, 1, 6)),
            (1, 10, 1, 3, 1.0, 999.0, 0.0, 0.0, "N", "F", dt(1997, 1, 1)),  # out of window
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp",
    )
    part = spark.createDataFrame(
        [(10, "a", "Brand#1", "PROMO", 5, 1.0), (20, "b", "Brand#2", "LARGE", 5, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, p_size long, p_retailprice double",
    )
    r = promo_revenue_share(li, part).collect()[0]
    assert r.promo_cents == 10000 and r.total_cents == 40000
    assert r.promo_revenue_pct == 25.0


def test_brand_size_branches_partition_matches(spark):
    """Each matched row contributes to >= 1 branch; the branch sums cover
    the total exactly when branches are disjoint (different brands)."""
    from tei_chunker_spark.operators.relational import brand_size_revenue

    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    part = spark.read.parquet(f"{sf}/part.parquet")
    r = brand_size_revenue(li, part).collect()[0]
    assert r.branch1_cents + r.branch2_cents == r.total_cents
    plan_df = brand_size_revenue(li, part)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # dim side broadcast, pre-filtered


# --- NaN / epoch-boundary regression guards (round-6 review findings) -------


def test_semantic_dedup_zero_vector_is_not_anyones_dup(spark):
    """A zero-magnitude embedding has NaN cosine to everything; Spark
    orders NaN above all reals, so an unguarded >= threshold would make
    it a 'duplicate' of every cell-mate (and DuckDB would disagree).
    The guard drops such pairs on both sides."""
    from tei_chunker_spark.operators.dedup import semantic_dedup

    emb = _embs(
        spark,
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(emb, threshold=0.3, n_cells=2, iters=1).collect()
    }
    assert all(r.n_dups == 0 and r.kept == 1 for r in out.values())
    assert out[2].centroid_sim is None  # zero norm -> NULL, not NaN


def test_hybrid_rrf_zero_vector_never_ranks(spark):
    from tei_chunker_spark.operators.retrieval import hybrid_rrf_topk

    docs = _docs(spark, [(0, "hash join"), (1, "hash join"), (2, "vector")])
    emb = _embs(
        spark,
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
    )
    rows = hybrid_rrf_topk(docs, emb, "hash", query_vec_id=0, k=10).collect()
    by_id = {r.doc_id: r for r in rows}
    # the zero vector holds no vector rank (unguarded it would crash the
    # job under ANSI, or rank #1 without ANSI) — and doc 2 has no query
    # term either, so it is absent from the fused result entirely
    assert 2 not in by_id
    assert by_id[1].rank_vec == 1


def test_hopping_pre_epoch_fractional_event_excluded(spark):
    """1969-12-31 23:59:59.5: truncating unix_timestamp would read epoch
    0 and admit the event on the Spark side only; the floor-epoch
    derivation excludes it identically to the oracle."""
    from datetime import datetime as dt

    from tei_chunker_spark.operators.relational import events_hopping_census

    ev = spark.createDataFrame(
        [(1, dt(1969, 12, 31, 23, 59, 59, 500000), 1, "view", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    assert events_hopping_census(ev, 600, 300).collect() == []


# --- ann_ivf_range_search ---------------------------------------------------


def test_ivf_range_threshold_semantics_vs_topk(spark):
    """Range search returns EVERY probed-cell neighbor above min_sim —
    a superset of the same-parameters top-k restricted to the threshold;
    no window appears in the plan (threshold needs no ranking)."""
    from pyspark.sql import functions as F

    from tei_chunker_spark.operators.kmeans import (
        ann_ivf_range_search,
        ann_ivf_trained_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    rng = ann_ivf_range_search(emb, qs, min_sim=0.2, n_probe=2)
    got = {(r.query_id, r.neighbor_id): r.cos_sim for r in rng.collect()}
    topk = ann_ivf_trained_topk(emb, qs, k=10, n_probe=2).collect()
    for r in topk:
        if r.cos_sim >= 0.2:
            assert (r.query_id, r.neighbor_id) in got
            assert got[(r.query_id, r.neighbor_id)] == r.cos_sim
    assert all(v >= 0.2 for v in got.values())
    plan = rng._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan  # join -> filter, no ranking stage


def test_ivf_range_zero_vector_dropped(spark):
    from tei_chunker_spark.operators.kmeans import ann_ivf_range_search

    emb = spark.createDataFrame(
        [(i, [1.0, float(i) / 10]) for i in range(8)] + [(8, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = ann_ivf_range_search(
        emb, emb.filter("vec_id < 2"), min_sim=0.0, n_cells=2, iters=1
    ).collect()
    assert all(r.neighbor_id != 8 for r in out)  # NULL cos, never aborts


# --- dup_graph_degree_census ------------------------------------------------


def test_dup_degree_census_hand_computed(spark):
    """3 mutually-near docs (triangle) + 1 pair + 1 loner: degrees are
    {2: 3 docs, 1: 2 docs}; the loner never appears (degree 0 rows would
    require the full corpus spine — documented out of scope)."""
    from tei_chunker_spark.operators.dedup import dup_graph_degree_census

    tri = "t1 t2 t3 t4 t5 t6 t7 t8"
    pair = "p1 p2 p3 p4 p5 p6"
    docs = _docs(
        spark,
        [
            (1, tri),
            (2, tri),
            (3, tri),
            (4, pair),
            (5, pair),
            (6, "lone wolf content here"),
        ],
    )
    out = {r.degree: r.n_docs for r in dup_graph_degree_census(docs).collect()}
    assert out == {2: 3, 1: 2}


def test_curate_cli_fluency_flag(spark, tmp_path):
    """The --fluency-min-ppm flag threads through main(): census gains
    the after_fluency key and output still lands."""
    import json

    from tei_chunker_spark.curate import main

    src = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated_fluency")
    main(
        [
            "--input", src, "--eval", src, "--output", out,
            "--quality-min", "0.0", "--contamination-max", "1.0",
            "--fluency-min-ppm", "1000",
        ]
    )
    with open(f"{out}/_census.json") as fh:
        c = json.load(fh)
    assert "after_fluency" in c
    assert c["after_fluency"] <= c["after_quality"]


# --- source_top_terms --------------------------------------------------------


def test_source_top_terms_ranks_and_shares(spark):
    rows = [
        (1, "x x x y z", "s1"),
        (2, "x y y", "s1"),
        (3, "q q r", "s2"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from tei_chunker_spark.operators.corpusops import source_top_terms

    out = {(r.source, r.rank): r for r in source_top_terms(docs, k=2).collect()}
    # s1: x=4, y=3 of 8 tokens
    assert out[("s1", 1)].token == "x" and out[("s1", 1)].n == 4
    assert out[("s1", 1)].share == 0.5
    assert out[("s1", 2)].token == "y" and out[("s1", 2)].n == 3
    assert out[("s2", 1)].token == "q" and out[("s2", 1)].n == 2
    assert ("s1", 3) not in out  # k = 2


def test_source_top_terms_null_source_ranked(spark):
    rows = [(1, "a a b", None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from tei_chunker_spark.operators.corpusops import source_top_terms

    out = source_top_terms(docs, k=1).collect()
    assert len(out) == 1 and out[0].source is None and out[0].token == "a"
