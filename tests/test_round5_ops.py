"""Round-5 operator tests: SQ8 quantization bounds, vocabulary coverage
semantics, provenance report edge rows, grouping-sets bitmask, and the
census-decomposed ntile."""
from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tei_chunker_spark.functions.columns import token_count
from tei_chunker_spark.operators import corpusops, relational
from tei_chunker_spark.operators.quantize import embed_quantize

SF = "/root/testdata/sf0.001"


# --- embed_quantize ---------------------------------------------------------


def test_embed_quantize_codes_and_error_bound(spark):
    """Codes live in [0, 255]; the reconstruction error of min/max SQ is
    at most half a quantization step per dimension, so max_err <=
    max_d (mx_d - mn_d) / 255 / 2 (+ rounding slack)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embed_quantize(e)
    rows = out.collect()
    assert len(rows) == e.count()
    bounds = (
        e.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg((F.max("x") - F.min("x")).alias("w"))
        .agg(F.max("w"))
        .first()[0]
    )
    step_half = bounds / 255 / 2 + 1e-6
    for r in rows:
        assert all(0 <= c <= 255 for c in r.codes)
        assert r.max_err <= step_half, (r.vec_id, r.max_err, step_half)


def test_embed_quantize_constant_dim_and_exact_corners(spark):
    """A constant dimension codes 0 with zero error; the min and max of a
    varying dimension code exactly 0 and `levels` and reconstruct
    exactly (the corners of the quantization grid are lossless)."""
    e = spark.createDataFrame(
        [(1, [0.0, 5.0]), (2, [0.0, -3.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in embed_quantize(e, levels=8).collect()}
    assert [got[i].codes[0] for i in (1, 2, 3)] == [0, 0, 0]  # constant dim
    assert got[2].codes[1] == 0  # min corner
    assert got[1].codes[1] == 8  # max corner
    assert got[1].max_err == 0.0 and got[2].max_err == 0.0
    # interior: 1.0 in [-3, 5] with 8 levels -> (1+3)/8*8 = 4.0 exactly
    assert got[3].codes[1] == 4 and got[3].max_err == 0.0


# --- vocab_coverage ---------------------------------------------------------


def test_vocab_coverage_counts_and_cumulative(spark):
    docs = spark.createDataFrame(
        [(1, "a a a b b c", "en"), (2, "a b x", "en"), (3, "   ", "en")],
        "doc_id long, text string, lang string",
    )
    rows = {r.rank: r for r in corpusops.vocab_coverage(docs, k=2).collect()}
    # counts: a=4 b=3 c=1 x=1, total 9; blank doc contributes nothing
    assert (rows[1].term, rows[1].n_occurrences) == ("a", 4)
    assert (rows[2].term, rows[2].n_occurrences) == ("b", 3)
    assert rows[1].share == round(4 / 9, 6)
    assert rows[2].cum_share == round(7 / 9, 6)
    assert len(rows) == 2


def test_vocab_coverage_tie_break_and_monotone(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = corpusops.vocab_coverage(docs, k=30).collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (-a.n_occurrences, a.term) < (-b.n_occurrences, b.term)
        assert a.cum_share <= b.cum_share
    assert rows[-1].cum_share <= 1.0


# --- source_stats -----------------------------------------------------------


def test_source_stats_dups_quality_and_langs(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "crawl"),
            (2, "alpha beta gamma", "de", "crawl"),  # exact dup of 1
            (3, "delta epsilon", "en", "crawl"),
            (4, "   ", "en", "books"),  # degenerate: NULL quality
            (5, "zeta eta theta iota", "fr", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = {r.source: r for r in corpusops.source_stats(docs).collect()}
    crawl, books = got["crawl"], got["books"]
    assert (crawl.n_docs, crawl.n_distinct_texts, crawl.n_langs) == (3, 2, 2)
    assert crawl.dup_rate == round(1 - 2 / 3, 6)
    assert crawl.n_tokens == 8  # dup's tokens still counted (3 + 3 + 2)
    # books: one NULL-quality doc excluded from the mean, counted in n_docs
    assert (books.n_docs, books.n_tokens) == (2, 4)
    from tei_chunker_spark.operators.textstats import doc_quality

    q5 = doc_quality(docs).filter(F.col("doc_id") == 5).first().quality
    assert books.mean_quality == round(q5, 6)


def test_source_stats_all_degenerate_source_null_mean(spark):
    docs = spark.createDataFrame(
        [(1, "", "en", "s"), (2, "  ", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    r = corpusops.source_stats(docs).first()
    assert r.mean_quality is None and r.n_docs == 2


# --- revenue_grouping_sets --------------------------------------------------


def test_grouping_sets_bitmask_and_totals(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    rows = relational.revenue_grouping_sets(orders).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    # gid 0 = (year, priority); 1 = (year); 2 = (priority); 3 = ()
    assert set(by_gid) == {0, 1, 2, 3}
    assert len(by_gid[3]) == 1
    grand = by_gid[3][0]
    assert grand.o_year is None and grand.o_orderpriority is None
    assert grand.n_orders == orders.count()
    assert sum(r.n_orders for r in by_gid[0]) == grand.n_orders
    assert sum(r.n_orders for r in by_gid[1]) == grand.n_orders
    # per-year subtotal equals the sum of its (year, priority) cells
    y = by_gid[1][0]
    cells = [r for r in by_gid[0] if r.o_year == y.o_year]
    assert sum(r.n_orders for r in cells) == y.n_orders
    assert round(sum(r.revenue for r in cells), 2) == y.revenue


# --- doc_length_deciles -----------------------------------------------------


def test_deciles_match_native_ntile_skewed(spark):
    """The census + closed-form rank decomposition must equal Spark's own
    ntile on a corpus with heavy ties and a group smaller than k (both
    remainder branches of the ntile formula exercised)."""
    rows = [(i, "w " * (i % 4), "en") for i in range(1, 38)]  # many ties
    rows += [(100 + i, "x " * i, "tiny") for i in range(3)]  # n < k group
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = relational.doc_length_deciles(docs)
    base = docs.select(
        "doc_id", "lang", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    naive = (
        base.withColumn(
            "decile",
            F.ntile(10).over(
                Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
            ),
        )
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


def test_deciles_plan_no_bare_lang_window_over_data(spark):
    """The data-side window must be partitioned (lang, n_tokens, _sb) —
    md5-salted tie sub-buckets only; the per-lang ordered window runs
    over the histogram census (an aggregate output), mirroring the
    asof/seq_pack device.  Partition keys are the windowspecdefinition
    prefix before the first ordered (ASC/DESC) key."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        relational.doc_length_deciles(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    specs = re.findall(r"windowspecdefinition\(([^()]*)", plan)

    def part_cols(s):
        # prefix before the first ASC/DESC, minus its last token (that
        # token is the first ORDER key, not a partition key)
        pre = s.split(" ASC")[0].split(" DESC")[0]
        return [c.strip() for c in pre.split(",")][:-1]

    part_keys = {tuple(part_cols(s)) for s in specs}
    assert part_keys, plan[:2000]
    data_side = [p for p in part_keys if any("_sb#" in c for c in p)]
    census_side = [p for p in part_keys if not any("_sb#" in c for c in p)]
    # data window: salted tie groups (lang, n_tokens, _sb)
    assert data_side and all(len(p) == 3 for p in data_side), part_keys
    # census window: per-lang over the aggregate, never over raw data
    assert census_side and all(
        len(p) == 1 and "lang#" in p[0] for p in census_side
    ), part_keys


# --- pq_encode --------------------------------------------------------------


def test_pq_encode_codes_domain_and_training_improves(spark):
    """Codes are m values in [0, n_cells); total distortion after 2 Lloyd
    iterations must be <= distortion with the raw init codebooks (training
    can only improve the integer objective on the assign step)."""
    from tei_chunker_spark.operators.quantize import pq_encode

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    trained = pq_encode(e, m=4, n_cells=8, iters=2)
    init = pq_encode(e, m=4, n_cells=8, iters=0)
    rows = trained.collect()
    assert len(rows) == e.count()
    for r in rows[:50]:
        assert len(r.codes) == 4
        assert all(0 <= c < 8 for c in r.codes)
    t = trained.agg(F.sum("qdist")).first()[0]
    i = init.agg(F.sum("qdist")).first()[0]
    assert t <= i, (t, i)


def test_pq_encode_rejects_indivisible_dim(spark):
    from tei_chunker_spark.operators.quantize import pq_encode

    e = spark.createDataFrame(
        [(1, [0.1] * 10)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError):
        pq_encode(e, m=3)


def test_pq_encode_plan_is_scan_stage(spark):
    """Encoding (after training) must be shuffle-free: no Exchange in the
    encode plan — the codebooks are folded literals, not a join side."""
    from tei_chunker_spark.operators.quantize import pq_encode

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        pq_encode(e, m=4, n_cells=8, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan[:1500]


def test_pq_adc_topk_ranking_semantics(spark):
    """Ranks are 1..k per query, self excluded, adc_dist non-decreasing
    with rank, and the whole query is deterministic (two runs identical
    — integer domain, total order)."""
    from tei_chunker_spark.operators.quantize import pq_adc_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    a = pq_adc_topk(e, q, k=5).collect()
    by_q = {}
    for r in sorted(a, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        assert all(r.neighbor_id != qid for r in rows)
        dists = [r.adc_dist for r in rows]
        assert dists == sorted(dists)
    b = pq_adc_topk(e, q, k=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# --- dedup_normalized -------------------------------------------------------


def test_dedup_normalized_collapses_case_punct_ws(spark):
    from tei_chunker_spark.operators.dedup import dedup_normalized, normalized_text

    docs = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),          # same normal form as 1
            (3, "HELLO\tWORLD !!"),      # and 3
            (4, "hello worlds"),          # different
            (5, "***"),                   # normalizes to ''
            (6, "  "),                    # also ''
        ],
        "doc_id long, text string",
    )
    groups = {r.canonical_doc_id: r for r in dedup_normalized(docs).collect()}
    assert groups[1].group_size == 3
    assert groups[4].group_size == 1
    assert groups[5].group_size == 2  # both degenerate forms share ''
    norm = docs.select(normalized_text(F.col("text")).alias("n")).collect()
    assert [r.n for r in norm] == [
        "hello world", "hello world", "hello world", "hello worlds", "", "",
    ]


# --- snapshot_diff ----------------------------------------------------------


def test_snapshot_diff_statuses(spark):
    from tei_chunker_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2"), (4, "d", "s2")],
        "doc_id long, text string, source string",
    )
    new = spark.createDataFrame(
        [(1, "a", "s1"), (2, "B2", "s1"), (4, "d", "s2"), (9, "new", "s3")],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source, r.status): r.n_docs for r in snapshot_diff(old, new).collect()
    }
    assert got == {
        ("s1", "unchanged"): 1,
        ("s1", "changed"): 1,
        ("s2", "removed"): 1,
        ("s2", "unchanged"): 1,
        ("s3", "added"): 1,
    }


# --- merge_upsert -----------------------------------------------------------


def test_merge_upsert_semantics(spark):
    from tei_chunker_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "one", "s"), (2, "two", "s"), (3, "three", "s"), (4, None, "s")],
        "doc_id long, text string, source string",
    )
    changes = spark.createDataFrame(
        [
            (2, "upsert", "two v2", "s2"),   # matched update
            (3, "delete", None, None),        # matched delete
            (9, "upsert", "nine", "s9"),      # unmatched insert
            (7, "delete", None, None),        # unmatched delete: no-op
        ],
        "doc_id long, op string, text string, source string",
    )
    got = {r.doc_id: r for r in merge_upsert(base, changes).collect()}
    assert set(got) == {1, 2, 4, 9}
    assert (got[2].text, got[2].source) == ("two v2", "s2")
    assert got[1].text == "one"
    assert got[4].text is None  # NULL-text base row survives untouched
    assert got[9].text == "nine"


def test_merge_upsert_rejects_duplicate_change_keys(spark):
    from tei_chunker_spark.operators.relational import merge_upsert

    base = spark.createDataFrame([(1, "one", "s")], "doc_id long, text string, source string")
    dup = spark.createDataFrame(
        [(1, "upsert", "a", "s"), (1, "delete", None, None)],
        "doc_id long, op string, text string, source string",
    )
    with pytest.raises(ValueError):
        merge_upsert(base, dup)


# --- bpe_merge_candidates ---------------------------------------------------


def test_bpe_pairs_weighted_by_word_frequency(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab cd", "en"), (2, "ab x", "en"), (3, "abc", "en"),
         (4, "  ", "en")],
        "doc_id long, text string, lang string",
    )
    rows = {r.pair: r for r in corpusops.bpe_merge_candidates(docs, k=10).collect()}
    # 'ab': word 'ab' freq 3 + word 'abc' freq 1 -> 4; 'bc' from 'abc';
    # 'cd' once; 1-char word 'x' contributes nothing; blank doc nothing
    assert rows["ab"].n_occurrences == 4 and rows["ab"].rank == 1
    assert rows["bc"].n_occurrences == 1
    assert rows["cd"].n_occurrences == 1
    assert "x" not in rows and len(rows) == 3


# --- randomized cross-checks ------------------------------------------------


def test_normalized_text_matches_python_reference(spark):
    """normalized_text vs an independent Python re reference over a
    charset stressing every cross-engine trap the repo has hit: the
    ASCII-ws class members, \\x0b specifically, unicode letters, NBSP,
    and punctuation runs (300 seeded random strings, one batched
    compare)."""
    import random
    import re

    from tei_chunker_spark.operators.dedup import _LOWER, _UPPER, normalized_text

    rng = random.Random(99)
    charset = "abcXYZ019 \t\n\x0b\f\r.,!?-_Ωé$@# "
    texts = [
        "".join(rng.choice(charset) for _ in range(rng.randrange(0, 40)))
        for _ in range(300)
    ]
    ws = " \t\n\x0B\f\r"

    def ref(t: str) -> str:
        t = t.translate(str.maketrans(_UPPER, _LOWER))
        t = re.sub(rf"[^a-z0-9{ws}]", "", t)
        t = re.sub(rf"[{ws}]+", " ", t)
        return re.sub(rf"^[{ws}]+|[{ws}]+$", "", t)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", normalized_text(F.col("text")).alias("n")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref(t), repr(t)


def test_deciles_random_corpus_matches_native(spark):
    """Census-decomposed ntile vs Spark's native ntile on a seeded random
    corpus (4 langs, heavy length ties, group sizes straddling k)."""
    import random

    rng = random.Random(41)
    rows = [
        (i, "w " * rng.randrange(0, 12), rng.choice(["en", "de", "fr", "xx"]))
        for i in range(1, 150)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = relational.doc_length_deciles(docs)
    base = docs.select(
        "doc_id", "lang", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    naive = (
        base.withColumn(
            "decile",
            F.ntile(10).over(
                Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
            ),
        )
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0


# --- rollup_merge -----------------------------------------------------------


def test_rollup_merge_identity_and_new_groups(spark):
    """merge(rollup(A), B) == rollup(A ∪ B), including groups that exist
    only in the delta and the derived-mean recompute (never an average
    of averages)."""
    from tei_chunker_spark.operators.relational import corpus_rollup, rollup_merge

    a = spark.createDataFrame(
        [(1, "aaaa", "en", "s1"), (2, "bb", "en", "s1"), (3, "cccc", "de", "s2")],
        "doc_id long, text string, lang string, source string",
    )
    b = spark.createDataFrame(
        [(4, "dddddd", "en", "s1"), (5, "e", "fr", "s9")],
        "doc_id long, text string, lang string, source string",
    )
    merged = sorted(map(tuple, rollup_merge(corpus_rollup(a), b).collect()))
    scratch = sorted(map(tuple, corpus_rollup(a.unionByName(b)).collect()))
    assert merged == scratch
    got = {(r.lang, r.source): r for r in rollup_merge(corpus_rollup(a), b).collect()}
    assert got[("en", "s1")].n_docs == 3
    assert got[("en", "s1")].mean_chars == round(12 / 3, 6)
    assert got[("fr", "s9")].n_docs == 1  # delta-only group


# --- plan-shape pins for the round-5 scale claims ---------------------------


def test_embed_quantize_plan_partial_aggregates_explode(spark):
    """The posexplode's n x d rows must collapse to d rows per task
    BEFORE the exchange (partial min/max), and the bounds must attach as
    a broadcast — the operator's whole 100 TB story."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = (
        embed_quantize(e)._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_min" in plan and "partial_max" in plan, plan[:1500]
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_and_bpe_plans_take_ordered(spark):
    """Both top-k censuses must plan TakeOrderedAndProject over the agg
    output — never a full sort of the vocabulary/pair table."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        corpusops.vocab_coverage(docs, k=30),
        corpusops.bpe_merge_candidates(docs, k=20),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_merge_and_diff_plans_single_shuffle_join(spark):
    """merge_upsert and snapshot_diff are ONE join each on the unique
    id; text/md5 must be projected in the scan stage (no text column
    crossing the exchange is approximated by: exactly one join node)."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    from tei_chunker_spark.operators.relational import merge_upsert, snapshot_diff

    changes = docs.limit(10).select(
        "doc_id", F.lit("upsert").alias("op"), "text", "source"
    )
    p1 = merge_upsert(docs, changes)._jdf.queryExecution().executedPlan().toString()
    p2 = snapshot_diff(docs, docs)._jdf.queryExecution().executedPlan().toString()
    for p in (p1, p2):
        joins = len(re.findall(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", p))
        assert joins == 1, p[:2000]


# --- curate CLI driver ------------------------------------------------------


def test_curate_driver_funnel_and_packing(spark, tmp_path):
    """The composed curation job: census monotone per gate, survivors
    carry contiguous packing offsets, parquet output + census JSON land
    on disk (the operational surface a user actually submits)."""
    import json

    from tei_chunker_spark.curate import curate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0)
    packed, census = curate(spark, docs, eval_docs)
    assert (
        census["input"]
        >= census["after_exact_dedup"]
        >= census["after_quality"]
        >= census["after_decontamination"]
        > 0
    )
    rows = sorted(packed.collect(), key=lambda r: r.start_offset)
    assert len(rows) == census["after_decontamination"]
    off = 0
    for r in rows:
        assert r.start_offset == off
        off += r.n_tokens
    # CLI end-to-end with output files
    from tei_chunker_spark.curate import main

    out = str(tmp_path / "curated")
    src = f"{SF}/documents.parquet"
    main([
        "--input", src, "--eval", src, "--output", out,
    ])
    with open(f"{out}/_census.json") as fh:
        c = json.load(fh)
    assert c["after_decontamination"] == 0  # eval == train: all removed


def test_ivf_pq_topk_probe_restricts_to_query_cell(spark):
    """Every returned neighbor shares the query's coarse cell, ranks are
    1..k with non-decreasing ADC distance, self excluded; and within the
    probed cell the ranking must agree with global ADC restricted to
    that cell (the probe changes the candidate set, not the metric)."""
    from tei_chunker_spark.operators.quantize import ivf_pq_topk, pq_adc_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    rows = sorted(
        ivf_pq_topk(e, q, k=5).collect(), key=lambda r: (r.query_id, r.rank)
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    full = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in pq_adc_topk(e, q, k=500).collect()
    }
    for qid, rs in by_q.items():
        cells = {r.cell for r in rs}
        assert len(cells) == 1  # one probed cell per query
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        dists = [r.adc_dist for r in rs]
        assert dists == sorted(dists)
        assert all(r.neighbor_id != qid for r in rs)
        for r in rs:  # metric identical to the global ADC computation
            assert full[(qid, r.neighbor_id)] == r.adc_dist


def test_ivf_pq_multiprobe_recall_not_worse_than_single(spark):
    """Multi-probe candidates are a superset of single-probe, so the
    probed ADC top-k must be at least as close to global ADC: for every
    query, multiprobe's rank-1 distance <= single-probe's rank-1, and
    its top-k set overlap with global ADC top-k is >= single-probe's."""
    from tei_chunker_spark.operators.quantize import ivf_pq_topk, pq_adc_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)

    def topmap(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, {})[r.neighbor_id] = (r.rank, r.adc_dist)
        return out

    single = topmap(ivf_pq_topk(e, q, k=5))
    multi = topmap(ivf_pq_topk(e, q, k=5, n_probe=2))
    glob = topmap(pq_adc_topk(e, q, k=5))
    for qid in single:
        s1 = min(d for (_, d) in single[qid].values())
        m1 = min(d for (_, d) in multi[qid].values())
        assert m1 <= s1
        ov_s = len(set(single[qid]) & set(glob[qid]))
        ov_m = len(set(multi[qid]) & set(glob[qid]))
        assert ov_m >= ov_s


# --- budget_sample_census ---------------------------------------------------


def test_budget_sample_semantics(spark):
    """Zero budget keeps nothing; a boundary-crossing doc is kept (start
    < budget); a budget >= source total keeps everything; monotone in
    the budget."""
    docs = spark.createDataFrame(
        [(i, "w " * 10, "en", "a") for i in range(1, 6)]
        + [(10, "x " * 4, "en", "b"), (11, "y " * 4, "en", "c")],
        "doc_id long, text string, lang string, source string",
    )
    got = {
        r.source: r
        for r in corpusops.budget_sample_census(
            docs, budgets={"a": 25, "b": 0}, default_budget=1000
        ).collect()
    }
    a = got["a"]
    # source a: 5 docs x 10 tokens in hash order; starts 0,10,20,30,40 —
    # starts 0,10,20 < 25 => 3 kept incl. the doc crossing the boundary
    assert (a.n_docs, a.n_kept, a.tokens_kept, a.budget) == (5, 3, 30, 25)
    assert (got["b"].n_kept, got["b"].tokens_kept) == (0, 0)
    assert got["c"].n_kept == 1  # default budget covers the whole source
    bigger = {
        r.source: r.n_kept
        for r in corpusops.budget_sample_census(
            docs, budgets={"a": 26, "b": 0}, default_budget=1000
        ).collect()
    }
    assert bigger["a"] >= a.n_kept


def test_budget_sample_matches_naive_window(spark):
    """Two-level (source, md5-bucket) decomposition == a single
    per-source running-sum window over (md5, id) order on the real
    corpus."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = corpusops.budget_sample_census(docs, budgets={}, default_budget=700)
    base = docs.select(
        "source",
        F.col("doc_id").cast("string").alias("sid"),
        F.expr("md5(cast(doc_id as string))").alias("h"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "sid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    naive = (
        base.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("keep", ((F.col("cum") - F.col("n_tokens")) < 700).cast("int"))
        .groupBy("source")
        .agg(
            F.lit(700).cast("long").alias("budget"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("keep").cast("long").alias("n_kept"),
            F.sum(F.col("keep") * F.col("n_tokens")).cast("long").alias("tokens_kept"),
        )
    )
    assert got.exceptAll(naive).count() == 0
    assert naive.exceptAll(got).count() == 0
