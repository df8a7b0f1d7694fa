"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001.
``queries()`` exposes every implemented operator (SURVEY.md §2 plus the
training-data-pipeline operators); ``oracle_sql()`` gives a DuckDB oracle
for EVERY entry.  The extraction pipeline is a whole-document fold
(reference chunking.py:185-265) that SQL cannot express — its entries are
oracled through precomputed golden fixtures (the corpus is a pure
function of doc_id; scripts/make_golden_fixtures.py), and additionally
pinned by the golden/parity pytest suite (FIXTURES.md §3).

Column-name/type parity notes: every computed column is aliased
identically on both sides; integer outputs are cast to bigint on both
sides (DuckDB ``count``/``len``/``sum`` return bigint/hugeint, Spark
``size``/``row_number`` return int); doubles are rounded at the same
decimal on both sides; hashes live in the md5-hex-string domain so no
engine-specific hash function appears anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, row_frame
from tei_chunker_spark.operators import (
    corpusops,
    dedup,
    kmeans,
    multimodal,
    quantize,
    relational,
    retrieval,
    similarity,
    textstats,
    udtfs,
)
from tei_chunker_spark.operators.extract import (
    extract_pipeline,
    media_ref_pipeline,
    section_metadata_pipeline,
)
from tei_chunker_spark.sources.tables import load, spread_scan

# Golden fixtures: the interleaved corpus is a pure function of doc_id, so
# the extraction family's expected output is precomputed with the pure-
# Python core (scripts/make_golden_fixtures.py) and the DuckDB oracle
# simply reads it back, restricted to the current SF's doc_id set.
_FIXTURES = "/root/repo/tests/fixtures"
_DOCS_JOIN = "join documents d on g.doc_id = cast(d.doc_id as varchar)"

# ---------------------------------------------------------------------------
# flagship pipeline helpers
# ---------------------------------------------------------------------------

_FLAGSHIP_JOB = JobConfig(
    chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50),
    shuffle_partitions=32,
)

def _interleaved_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved-span input table keyed by the driver's
    documents.doc_id (BASELINE.json input_hint shape; no external data)."""

    def gen(batches):
        for pdf in batches:
            yield row_frame(str(int(d)) for d in pdf["doc_id"])

    ids = load(spark, sf_dir, "documents").select("doc_id")
    # Generation parallelism follows the session's core count instead of a
    # fixed constant (a fixed 16 would cap corpus synthesis on big hosts).
    # The round-robin already spreads the documents uniformly over the
    # cores, so extraction adds no exchange of its own: _salted reads the
    # repartition's count from the plan and finds the cores filled.
    return ids.repartition(spark.sparkContext.defaultParallelism).mapInPandas(
        gen, INPUT_SCHEMA_DDL
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over sf0.001-derived corpus."""
    return extract_pipeline(_interleaved_corpus(spark, "/root/testdata/sf0.001"), _FLAGSHIP_JOB)


# ---------------------------------------------------------------------------
# shared augmentations (mirrored 1:1 in the oracle SQL)
# ---------------------------------------------------------------------------


def _docs_with_exact_dups(
    spark: SparkSession, sf_dir: str, widen: bool | str = False
) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    u = d.select("doc_id", "text").unionByName(dups)
    return spread_scan(u, sf_dir, "documents", widen)


def _docs_with_near_dups(
    spark: SparkSession, sf_dir: str, widen: bool | str = False
) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("dup variant "), F.col("text")).alias("text"),
    )
    u = d.select("doc_id", "text").unionByName(dups)
    # widen AFTER the union so one round-robin exchange serves both
    # branches (guide §2.5).
    return spread_scan(u, sf_dir, "documents", widen)


def _docs_with_case_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus case/punctuation variants of every 25th doc — the
    near-exact-dup class byte-exact dedup misses and dedup_normalized
    collapses (translate, not upper(): ASCII byte-wise on both engines)."""
    d = load(spark, sf_dir, "documents")
    v = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(
            F.lit("*** "),
            F.translate(
                F.col("text"),
                "abcdefghijklmnopqrstuvwxyz",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            ),
            F.lit(" !!!"),
        ).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(v)


def _incremental_split(spark: SparkSession, sf_dir: str):
    """(base, new) pair for incremental dedup: base = doc_id % 3 != 0;
    the new batch = the % 3 == 0 docs plus exact copies of base docs
    (% 15 == 1), case/punct variants of base docs (% 15 == 2),
    within-batch exact copies (% 15 == 0), and within-batch case/punct
    variants (% 15 == 3) — one deterministic specimen per funnel gate."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    upper_variant = F.concat(
        F.lit("*** "),
        F.translate(
            F.col("text"),
            "abcdefghijklmnopqrstuvwxyz",
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        ),
        F.lit(" !!!"),
    )
    base = d.filter(F.col("doc_id") % 3 != 0)
    new = (
        d.filter(F.col("doc_id") % 3 == 0)
        .unionByName(
            d.filter(F.col("doc_id") % 15 == 1).select(
                (F.col("doc_id") + 500000).alias("doc_id"), "text", "source"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 15 == 2).select(
                (F.col("doc_id") + 600000).alias("doc_id"),
                upper_variant.alias("text"),
                "source",
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 15 == 0).select(
                (F.col("doc_id") + 700000).alias("doc_id"), "text", "source"
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 15 == 3).select(
                (F.col("doc_id") + 800000).alias("doc_id"),
                upper_variant.alias("text"),
                "source",
            )
        )
    )
    return base, new


_BM25_QUERIES = [
    ("q1", "hash join vector"),
    ("q2", "scan filter"),
    ("q3", "customer order group line"),
]


def _bm25_queries(spark: SparkSession) -> DataFrame:
    """The probe batch for bm25_batch (mirrored as a VALUES CTE in the
    oracle)."""
    return spark.createDataFrame(
        _BM25_QUERIES, "query_id string, query_text string"
    )


def _snapshot_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'today' snapshot for snapshot_diff: every 17th doc removed,
    every 11th edited, every 13th re-added under a new id."""
    d = load(spark, sf_dir, "documents")
    changed = F.when(
        F.col("doc_id") % 11 == 5, F.concat(F.col("text"), F.lit(" edited"))
    ).otherwise(F.col("text"))
    base = d.filter(F.col("doc_id") % 17 != 3).select(
        "doc_id", changed.alias("text"), "source"
    )
    added = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.concat(F.lit("new doc "), F.col("text")).alias("text"),
        "source",
    )
    return base.unionByName(added)


def _change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MERGE change feed: every 19th doc deleted, every
    11th (not also 19th — one change per key, the MERGE cardinality
    rule) updated, every 13th re-inserted under a new id."""
    d = load(spark, sf_dir, "documents")
    deletes = d.filter(F.col("doc_id") % 19 == 2).select(
        "doc_id",
        F.lit("delete").alias("op"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("source"),
    )
    updates = d.filter(
        (F.col("doc_id") % 11 == 5) & (F.col("doc_id") % 19 != 2)
    ).select(
        "doc_id",
        F.lit("upsert").alias("op"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
        "source",
    )
    inserts = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.lit("upsert").alias("op"),
        F.concat(F.lit("ins "), F.col("text")).alias("text"),
        "source",
    )
    return deletes.unionByName(updates).unionByName(inserts)


def _docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic synthetic PII appended (the raw corpus
    has none; both engines build the identical augmented text).  Widened:
    the consumer is a per-row regex cascade, the classic compute-heavy
    scan stage a single-row-group file would serialize (guide §2.5)."""
    d = load(spark, sf_dir, "documents", widen=True)
    did = F.col("doc_id")
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit(" call +1 555-123-4567 now")).otherwise(
                F.lit("")
            ),
            F.when(
                did % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (did % 256).cast("string"),
                    F.lit(".25"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_PII_AUG_SQL = (
    "select doc_id, text"
    " || case when doc_id % 3 = 0 then ' contact user' || cast(doc_id as varchar) || '@example.com' else '' end"
    " || case when doc_id % 5 = 0 then ' call +1 555-123-4567 now' else '' end"
    " || case when doc_id % 7 = 0 then ' from 10.0.' || cast(doc_id % 256 as varchar) || '.25' else '' end"
    " as text from documents"
)

_EXACT_AUG_SQL = (
    "select doc_id, text from documents union all "
    "select doc_id + 200000 as doc_id, text from documents where doc_id % 25 = 0"
)
_NEAR_AUG_SQL = (
    "select doc_id, text from documents union all "
    "select doc_id + 100000 as doc_id, 'dup variant ' || text as text "
    "from documents where doc_id % 20 = 0"
)

# whitespace-robust: regexp_replace strips ALL leading/trailing
# whitespace (trim() is ASCII-space-only — a trailing \n kept a phantom
# '' token); 'g' flag because DuckDB replaces only the first match
# explicit ASCII-ws class: RE2's \s excludes \x0b while Java's
# includes it (see functions/columns.py::WS_CLASS)
_TOKENS = "string_split_regex(regexp_replace(text, '^[ \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+$', '', 'g'), '[ \t\n\x0b\f\r]+')"
# 64-bit simhash: bit b (0..63) from hex char b//4+1 of each token's md5,
# bit b%4; set when the +/-1 vote sum is strictly positive.  Same nibble
# domain as tei_chunker_spark.operators.textstats.simhash64.
_SIMHASH_SQL_BODY = """
toks as (
    select doc_id, unnest(list_distinct({tokens})) as token from {src}
),
bits as (
    select doc_id, b,
           case when (strpos('0123456789abcdef', substr(md5(token), (b // 4) + 1, 1)) - 1)
                     & (1 << (b % 4)) > 0 then 1 else -1 end as vote
    from toks, unnest(generate_series(0, 63)) as t(b)
),
per_bit as (select doc_id, b, sum(vote) as s from bits group by doc_id, b),
simhash_t as (
    -- DuckDB raises on 1::bigint << 63; bit 63's two's-complement weight
    -- is min-bigint, spelled without overflowing the positive literal.
    select doc_id,
           cast(sum(case when s <= 0 then 0::bigint
                         when b = 63 then (-9223372036854775807 - 1)
                         else (1::bigint << b) end) as bigint) as simhash
    from per_bit group by doc_id
)
"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


# Driver-recorded correctness window: the driver persists oracle results
# for the FIRST 50 queries() entries each round (CORRECTNESS_rN.json).
# Round-6 rotation (VERDICT r5 item 1): every query added in rounds 3-5
# — none of which ever appeared in a driver correctness file — comes
# first, then round-6 additions, then the most load-bearing §2 queries
# fill the window.  Long-stable extraction/TPC entries rotated past
# position 50 keep their r1-r5 driver records and remain gated by
# pytest + scripts/check_oracles.py (ORACLES_rN.json artifact).
_WINDOW_FIRST = [
    # rounds 3-5, never driver-recorded (26)
    "seq_pack",
    "seq_pack_hash",
    "doc_repetition",
    "curation_census",
    "decontaminate",
    "stratified_sample",
    "boilerplate_stats",
    "doc_familiarity",
    "corpus_bigrams",
    "doc_top_terms",
    "doc_segments_udtf",
    "vocab_coverage",
    "source_stats",
    "embed_quantize",
    "pq_encode",
    "dedup_normalized",
    "snapshot_diff",
    "ivf_pq_topk",
    "ivf_pq_multiprobe",
    "rollup_merge",
    "budget_sample",
    "bpe_pairs",
    "merge_upsert",
    "pq_adc_topk",
    "revenue_grouping_sets",
    "doc_length_deciles",
    # round-6 additions (never recorded) slot here, before the fillers
    "bpe_train_steps",
    "bpe_segment_census",
    "dedup_substring",
    "dedup_incremental",
    "bm25_topk",
    "bm25_batch",
    "phrase_match",
    "cdc_segments",
    "dedup_containment",
    "winnow_census",
    "lm_bigram_score",
    "semantic_dedup",
    "events_funnel",
    "events_retention",
    "source_top_terms",
    "dup_degree_census",
    "ann_ivf_range",
    "hybrid_rrf",
    "distinct_kmv",
    "ngram_novelty",
    "source_overlap",
    "events_hopping",
    "events_gap_fill",
    "shipping_priority",
    "returned_revenue",
    "promo_revenue",
    "brand_size_revenue",
    # load-bearing long-green fillers (window positions up to 50)
    "extract_spans_pipeline",
    "extract_doc_metrics",
    "extract_sections",
    "media_features_stub",
    "media_frame_sample",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_banded",
    "dedup_ngram_jaccard",
    "dedup_embedding_trained",
    "dedup_components",
    "dedup_canonical",
    "ann_bruteforce_topk",
    "ann_ivf_trained",
    "ann_ivf_multiprobe",
    "events_asof_bucketed",
    "events_sessionize",
    "pricing_summary",
    "revenue_by_nation",
    "events_range_join",
    "top_docs_per_lang",
    "metrics_cube",
    "events_variant_hist",
    "pii_scrub",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- extraction pipeline (rows-only: whole-doc fold, not SQL-expressible;
    #    exact semantics pinned by the pytest golden/parity suite)
    q["extract_spans_pipeline"] = lambda spark, sf: extract_pipeline(
        _interleaved_corpus(spark, sf), _FLAGSHIP_JOB
    )
    q["extract_doc_metrics"] = lambda spark, sf: (
        extract_pipeline(_interleaved_corpus(spark, sf), _FLAGSHIP_JOB)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("kind") == "text", 1).otherwise(0)).alias("n_text"),
            F.sum(F.when(F.col("kind") == "media_ref", 1).otherwise(0)).alias("n_media"),
        )
    )
    q["media_features_stub"] = lambda spark, sf: multimodal.media_features(
        multimodal.attach_payloads(
            # media-only projection: no chunker pass (extract.media_ref_pipeline)
            media_ref_pipeline(_interleaved_corpus(spark, sf))
        )
    )
    q["extract_sections"] = lambda spark, sf: section_metadata_pipeline(
        _interleaved_corpus(spark, sf), _FLAGSHIP_JOB
    )
    q["media_frame_sample"] = lambda spark, sf: _cast_long(
        multimodal.media_frame_sample(
            multimodal.attach_payloads(
                media_ref_pipeline(_interleaved_corpus(spark, sf))
            )
        ),
        ["frame_idx"],
    )

    # -- text analysis
    q["doc_stats"] = lambda spark, sf: _cast_long(
        textstats.doc_stats(load(spark, sf, "documents", widen=True)),
        ["char_len", "n_tokens", "n_distinct_tokens", "n_bpe_tokens", "max_token_len"],
    )
    q["doc_quality"] = lambda spark, sf: textstats.doc_quality(
        load(spark, sf, "documents", widen=True)
    )
    q["doc_langid"] = lambda spark, sf: _cast_long(
        textstats.doc_langid(load(spark, sf, "documents", widen=True)),
        ["en_hits", "de_hits", "fr_hits", "es_hits"],
    )
    q["doc_fingerprint"] = lambda spark, sf: textstats.doc_fingerprint(
        load(spark, sf, "documents", widen=True)
    )

    # -- dedup family
    q["dedup_exact"] = lambda spark, sf: dedup.exact_dedup(_docs_with_exact_dups(spark, sf))
    q["dedup_minhash_lsh"] = lambda spark, sf: dedup.minhash_lsh_pairs(
        _docs_with_near_dups(spark, sf), n=2, threshold=0.5
    )
    q["dedup_simhash"] = lambda spark, sf: dedup.simhash_pairs(
        _docs_with_near_dups(spark, sf, widen=True)
    )
    q["dedup_simhash_banded"] = lambda spark, sf: dedup.simhash_banded_pairs(
        _docs_with_near_dups(spark, sf), max_hamming=3
    )
    q["dedup_ngram_jaccard"] = lambda spark, sf: dedup.jaccard_pairs(
        dedup.shingle_table(_docs_with_near_dups(spark, sf), n=2),
        threshold=0.5,
        max_shingle_df=20,
    )
    q["dedup_embedding"] = lambda spark, sf: dedup.embedding_dup_pairs(
        load(spark, sf, "embeddings", widen=True), threshold=0.3
    )
    q["dedup_embedding_trained"] = lambda spark, sf: dedup.embedding_dup_pairs_trained(
        load(spark, sf, "embeddings", widen=True), threshold=0.3, n_cells=8, iters=2
    )
    q["dedup_components"] = lambda spark, sf: dedup.connected_components(
        dedup.minhash_lsh_pairs(_docs_with_near_dups(spark, sf), n=2, threshold=0.5)
    )
    q["dedup_canonical"] = lambda spark, sf: dedup.canonical_assignment(
        _docs_with_near_dups(spark, sf),
        dedup.minhash_lsh_pairs(_docs_with_near_dups(spark, sf), n=2, threshold=0.5),
    )
    q["dedup_substring"] = lambda spark, sf: dedup.substring_dup_spans(
        _docs_with_near_dups(spark, sf, widen=True), k=8
    )
    q["dedup_incremental"] = lambda spark, sf: dedup.incremental_dedup_census(
        *_incremental_split(spark, sf)
    )
    q["bm25_topk"] = lambda spark, sf: retrieval.bm25_topk(
        load(spark, sf, "documents", widen="auto"), "hash join vector", k=15
    )
    q["bm25_batch"] = lambda spark, sf: retrieval.bm25_topk_batch(
        load(spark, sf, "documents", widen="auto"), _bm25_queries(spark), k=10
    )
    q["phrase_match"] = lambda spark, sf: retrieval.phrase_match_census(
        load(spark, sf, "documents", widen="auto"), "hash join"
    )
    q["cdc_segments"] = lambda spark, sf: corpusops.cdc_segment_census(
        _docs_with_near_dups(spark, sf, widen="auto")
    )
    q["dedup_containment"] = lambda spark, sf: dedup.containment_pairs(
        dedup.shingle_table(_docs_with_near_dups(spark, sf, widen="auto"), n=2),
        threshold=0.9,
        max_shingle_df=20,
    )
    q["winnow_census"] = lambda spark, sf: textstats.winnow_fingerprint_census(
        _docs_with_near_dups(spark, sf, widen=True), k=3, w=4
    )
    q["lm_bigram_score"] = lambda spark, sf: corpusops.lm_bigram_score(
        load(spark, sf, "documents", widen=True)
    )
    q["semantic_dedup"] = lambda spark, sf: dedup.semantic_dedup(
        load(spark, sf, "embeddings", widen=True), threshold=0.3
    )
    q["source_top_terms"] = lambda spark, sf: corpusops.source_top_terms(
        load(spark, sf, "documents"), k=5
    )
    q["dup_degree_census"] = lambda spark, sf: dedup.dup_graph_degree_census(
        _docs_with_near_dups(spark, sf), n=2, threshold=0.5
    )
    q["ann_ivf_range"] = lambda spark, sf: kmeans.ann_ivf_range_search(
        load(spark, sf, "embeddings", widen=True),
        load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
        min_sim=0.2,
        n_probe=2,
    )
    q["hybrid_rrf"] = lambda spark, sf: retrieval.hybrid_rrf_topk(
        load(spark, sf, "documents"),
        load(spark, sf, "embeddings"),
        "hash join vector",
        query_vec_id=0,
        k=15,
        n_candidates=30,
    )
    q["distinct_kmv"] = lambda spark, sf: corpusops.distinct_count_kmv(
        load(spark, sf, "documents"), n=2, k=256
    )
    q["ngram_novelty"] = lambda spark, sf: corpusops.doc_ngram_novelty(
        _docs_with_near_dups(spark, sf), n=3
    )
    q["source_overlap"] = lambda spark, sf: corpusops.source_overlap_matrix(
        load(spark, sf, "documents"), n=3
    )
    q["pii_scrub"] = lambda spark, sf: _cast_long(
        textstats.pii_scrub(_docs_with_pii(spark, sf)),
        ["n_email", "n_phone", "n_ipv4"],
    )
    q["hash_split_census"] = lambda spark, sf: relational.hash_split_census(
        load(spark, sf, "documents")
    )

    # -- similarity search
    q["ann_bruteforce_topk"] = lambda spark, sf: _cast_long(
        similarity.ann_bruteforce_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
        ),
        ["rank"],
    )
    q["ann_ivf_topk"] = lambda spark, sf: _cast_long(
        similarity.ann_ivf_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
        ),
        ["rank"],
    )
    q["ann_ivf_trained"] = lambda spark, sf: _cast_long(
        kmeans.ann_ivf_trained_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
            n_cells=8,
            iters=2,
        ),
        ["rank"],
    )
    q["ann_ivf_multiprobe"] = lambda spark, sf: _cast_long(
        kmeans.ann_ivf_trained_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
            n_cells=8,
            iters=2,
            n_probe=2,
        ),
        ["rank"],
    )

    # -- relational coverage
    q["resume_anti_join"] = lambda spark, sf: relational.resume_anti_join(
        load(spark, sf, "documents")
    )
    q["metrics_cube"] = lambda spark, sf: relational.metrics_cube(
        load(spark, sf, "documents")
    )
    q["events_type_pivot"] = lambda spark, sf: relational.events_type_pivot(
        load(spark, sf, "events")
    )
    q["events_type_unpivot"] = lambda spark, sf: relational.events_type_unpivot(
        load(spark, sf, "events")
    )
    q["metrics_rollup"] = lambda spark, sf: relational.metrics_rollup(
        load(spark, sf, "documents")
    )
    q["top_docs_per_lang"] = lambda spark, sf: _cast_long(
        relational.top_docs_per_group(load(spark, sf, "documents")), ["rnk"]
    )
    q["events_hourly"] = lambda spark, sf: relational.events_hourly(load(spark, sf, "events"))
    q["events_quantiles"] = lambda spark, sf: relational.events_quantiles(
        load(spark, sf, "events")
    )
    q["events_value_mad"] = lambda spark, sf: relational.events_value_mad(
        load(spark, sf, "events")
    )
    q["events_value_mad_sketch"] = lambda spark, sf: relational.events_value_mad_sketch(
        load(spark, sf, "events"), bin_width=0.05
    )
    q["events_asof_enrich"] = lambda spark, sf: _asof_enrich(spark, sf)
    q["events_asof_bucketed"] = lambda spark, sf: _asof_enrich(
        spark, sf, bucketed=True
    )
    q["revenue_filter_agg"] = lambda spark, sf: relational.revenue_filter_agg(
        load(spark, sf, "lineitem")
    )
    q["top_orders_by_revenue"] = lambda spark, sf: relational.top_orders_by_revenue(
        load(spark, sf, "customer"),
        load(spark, sf, "orders"),
        load(spark, sf, "lineitem"),
    )
    q["events_robust_zscore"] = lambda spark, sf: relational.events_robust_zscore(
        load(spark, sf, "events")
    )
    q["events_json_stats"] = lambda spark, sf: relational.events_json_stats(
        load(spark, sf, "events")
    )
    q["events_variant_hist"] = lambda spark, sf: relational.events_variant_hist(
        load(spark, sf, "events")
    )
    q["events_session_native"] = lambda spark, sf: relational.events_session_native(
        load(spark, sf, "events")
    )
    q["events_sessionize"] = lambda spark, sf: relational.events_sessionize(
        load(spark, sf, "events")
    )
    q["events_funnel"] = lambda spark, sf: relational.events_funnel(
        load(spark, sf, "events")
    )
    q["events_retention"] = lambda spark, sf: relational.events_retention(
        load(spark, sf, "events")
    )
    q["events_hopping"] = lambda spark, sf: relational.events_hopping_census(
        load(spark, sf, "events"), width_seconds=600, slide_seconds=300
    )
    q["events_gap_fill"] = lambda spark, sf: relational.events_gap_fill(
        load(spark, sf, "events"), step_seconds=3600
    )
    q["shipping_priority"] = lambda spark, sf: relational.shipping_priority(
        load(spark, sf, "customer"),
        load(spark, sf, "orders"),
        load(spark, sf, "lineitem"),
    )
    q["returned_revenue"] = lambda spark, sf: relational.returned_item_revenue(
        load(spark, sf, "customer"),
        load(spark, sf, "orders"),
        load(spark, sf, "lineitem"),
        load(spark, sf, "nation"),
    )
    q["promo_revenue"] = lambda spark, sf: relational.promo_revenue_share(
        load(spark, sf, "lineitem"), load(spark, sf, "part")
    )
    q["brand_size_revenue"] = lambda spark, sf: relational.brand_size_revenue(
        load(spark, sf, "lineitem"), load(spark, sf, "part")
    )
    q["pricing_summary"] = lambda spark, sf: relational.pricing_summary(
        load(spark, sf, "lineitem")
    )
    q["events_range_join"] = lambda spark, sf: relational.events_range_join(
        load(spark, sf, "events")
    )
    q["events_interval_overlap"] = lambda spark, sf: relational.events_interval_overlap(
        load(spark, sf, "events")
    )
    q["user_event_paths"] = lambda spark, sf: relational.user_event_paths(
        load(spark, sf, "events")
    )
    q["supplier_census"] = lambda spark, sf: relational.supplier_census(
        load(spark, sf, "supplier"), load(spark, sf, "nation"), load(spark, sf, "region")
    )
    q["part_type_stats"] = lambda spark, sf: relational.part_type_stats(
        load(spark, sf, "part")
    )
    q["revenue_by_nation"] = lambda spark, sf: relational.revenue_by_nation(
        load(spark, sf, "customer"),
        load(spark, sf, "orders"),
        load(spark, sf, "lineitem"),
        load(spark, sf, "nation"),
    )

    # -- corpus-preparation family (corpusops.py) + UDTF surface
    q["seq_pack"] = lambda spark, sf: corpusops.seq_pack(
        load(spark, sf, "documents"), budget=256, bucket_size=64
    )
    q["seq_pack_hash"] = lambda spark, sf: corpusops.seq_pack_by_hash(
        load(spark, sf, "documents"), budget=256
    )
    q["doc_repetition"] = lambda spark, sf: corpusops.doc_repetition(
        load(spark, sf, "documents")
    )
    # the composed curation funnel: exact dedup -> quality floor ->
    # decontamination vs the %50 pseudo-eval slice, with per-gate counts.
    # Input is the exact-dup AUGMENTED corpus so gate 1 has real work
    # (the raw documents table has no byte-identical texts).
    q["curation_census"] = lambda spark, sf: corpusops.curation_census(
        _docs_with_exact_dups(spark, sf),
        load(spark, sf, "documents").filter(F.col("doc_id") % 50 == 0),
    )
    # deterministic pseudo-eval set: every 50th document acts as the
    # held-out benchmark; the rest of the corpus is scanned against it
    q["decontaminate"] = lambda spark, sf: corpusops.contamination_stats(
        load(spark, sf, "documents").filter(F.col("doc_id") % 50 != 0),
        load(spark, sf, "documents").filter(F.col("doc_id") % 50 == 0),
        n=3,
    )
    q["stratified_sample"] = lambda spark, sf: _cast_long(
        corpusops.stratified_sample_census(load(spark, sf, "documents")),
        ["n_total", "n_sampled"],
    )
    q["boilerplate_stats"] = lambda spark, sf: corpusops.boilerplate_stats(
        _docs_with_exact_dups(spark, sf, widen="auto")
    )
    q["doc_familiarity"] = lambda spark, sf: corpusops.doc_familiarity(
        load(spark, sf, "documents")
    )
    q["corpus_bigrams"] = lambda spark, sf: corpusops.corpus_ngram_counts(
        load(spark, sf, "documents"), n=2, k=20
    )
    q["doc_top_terms"] = lambda spark, sf: corpusops.doc_top_terms(
        load(spark, sf, "documents", widen="auto"), k=3
    )
    q["doc_segments_udtf"] = lambda spark, sf: udtfs.doc_segments(
        spark, load(spark, sf, "documents"), width=20
    )

    # -- round-5 additions: vocab census, provenance report, SQ8
    # quantization, grouping sets, decile histogram
    q["vocab_coverage"] = lambda spark, sf: corpusops.vocab_coverage(
        load(spark, sf, "documents", widen="auto"), k=50
    )
    q["source_stats"] = lambda spark, sf: corpusops.source_stats(
        load(spark, sf, "documents")
    )
    # codes stringified: the cross-engine compare hashes scalar columns
    # (array renderings differ between pandas/numpy producers)
    q["embed_quantize"] = lambda spark, sf: quantize.embed_quantize(
        load(spark, sf, "embeddings", widen=True)
    ).select(
        "vec_id", F.concat_ws(",", "codes").alias("codes_csv"), "max_err"
    )
    q["pq_encode"] = lambda spark, sf: quantize.pq_encode(
        load(spark, sf, "embeddings", widen=True), m=4, n_cells=8, iters=2
    ).select(
        "vec_id", F.concat_ws(",", "codes").alias("codes_csv"), "qdist"
    )
    q["dedup_normalized"] = lambda spark, sf: _cast_long(
        dedup.dedup_normalized(_docs_with_case_variants(spark, sf)),
        ["group_size"],
    )
    q["snapshot_diff"] = lambda spark, sf: relational.snapshot_diff(
        load(spark, sf, "documents"), _snapshot_new(spark, sf)
    )
    # incremental view maintenance: maintained rollup over 2/3 of the
    # corpus + the remaining 1/3 as the delta batch; the oracle
    # recomputes from scratch over everything — the IVM identity itself
    # is the correctness check
    q["ivf_pq_topk"] = lambda spark, sf: _cast_long(
        quantize.ivf_pq_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
        ),
        ["rank"],
    )
    q["ivf_pq_multiprobe"] = lambda spark, sf: _cast_long(
        quantize.ivf_pq_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
            n_probe=2,
        ),
        ["rank"],
    )
    q["rollup_merge"] = lambda spark, sf: relational.rollup_merge(
        relational.corpus_rollup(
            load(spark, sf, "documents").filter(F.col("doc_id") % 3 != 0)
        ),
        load(spark, sf, "documents").filter(F.col("doc_id") % 3 == 0),
    )
    # token-budget mixture sampling: zero / small / large / default
    # budgets all exercised; the budget map is mirrored verbatim in SQL
    q["budget_sample"] = lambda spark, sf: corpusops.budget_sample_census(
        load(spark, sf, "documents"),
        budgets={"src0": 500, "src5": 1200, "src13": 0},
        default_budget=800,
    )
    q["bpe_pairs"] = lambda spark, sf: corpusops.bpe_merge_candidates(
        load(spark, sf, "documents"), k=20
    )
    q["bpe_train_steps"] = lambda spark, sf: corpusops.bpe_train(
        load(spark, sf, "documents"), n_merges=8
    )
    q["bpe_segment_census"] = lambda spark, sf: corpusops.bpe_segment_census(
        load(spark, sf, "documents"), n_merges=8
    )
    q["merge_upsert"] = lambda spark, sf: relational.merge_upsert(
        load(spark, sf, "documents").select("doc_id", "text", "source"),
        _change_feed(spark, sf),
    )
    q["pq_adc_topk"] = lambda spark, sf: _cast_long(
        quantize.pq_adc_topk(
            load(spark, sf, "embeddings", widen=True),
            load(spark, sf, "embeddings").filter(F.col("vec_id") < 5),
            k=10,
        ),
        ["rank"],
    )
    q["revenue_grouping_sets"] = lambda spark, sf: relational.revenue_grouping_sets(
        load(spark, sf, "orders")
    )
    q["doc_length_deciles"] = lambda spark, sf: relational.doc_length_deciles(
        load(spark, sf, "documents")
    )
    missing = [n for n in _WINDOW_FIRST if n not in q]
    if missing:  # fail fast on a typo'd window entry
        raise KeyError(f"_WINDOW_FIRST names unknown queries: {missing}")
    ordered = {n: q[n] for n in _WINDOW_FIRST}
    ordered.update((n, f) for n, f in q.items() if n not in ordered)
    return ordered


def _asof_enrich(
    spark: SparkSession, sf_dir: str, bucketed: bool = False
) -> DataFrame:
    """Each event enriched with the PREVIOUS completed hour's average value
    for its type — the canonical as-of join (latest right row at-or-before
    the event's timestamp).  ``bucketed`` runs the scale-safe
    time-bucketed variant (event_type has FIVE values, so the plain
    per-key window serializes a fifth of all events on one task at
    100 TB); both are registered, oracled against the same DuckDB native
    ASOF JOIN, and must produce identical rows."""
    from tei_chunker_spark.operators.asof import asof_join, asof_join_bucketed

    events = load(spark, sf_dir, "events")
    # Exact-decimal sum, then one double division: a plain avg(double) is
    # order-dependent in the last ulp under distributed partial
    # aggregation, which flips the 6th rounded decimal on boundary values
    # at sf0.1 row counts; the decimal sum is exact and engine-portable
    # (verified bit-identical to DuckDB over the full table).
    hourly = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            (
                F.sum(F.col("value").cast("decimal(20,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("prev_hour_avg")
        )
        .withColumn("hour_end", F.col("hour") + F.expr("INTERVAL 1 HOUR"))
    )
    join_fn = asof_join_bucketed if bucketed else asof_join
    joined = join_fn(
        events.select("event_id", "ts", "event_type"),
        hourly.select("event_type", "hour_end", "prev_hour_avg"),
        key="event_type",
        left_ts="ts",
        right_ts="hour_end",
        payload_cols=["prev_hour_avg"],
        # groupBy makes (event_type, hour_end) unique by construction;
        # validate=True turns that assumption into an enforced invariant
        # for one tiny aggregate on the hourly side.
        validate=True,
    )
    return joined.select(
        "event_id", "event_type", F.round("prev_hour_avg", 6).alias("prev_hour_avg")
    )


def _cast_long(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # -- extraction family: golden-fixture oracles (see _FIXTURES note).
    o["extract_spans_pipeline"] = f"""
select g.doc_id, g.offset, g.kind, g.text, g.media_ref
from read_parquet('{_FIXTURES}/golden_spans.parquet') g
{_DOCS_JOIN}
"""

    o["extract_doc_metrics"] = f"""
select g.doc_id,
       count(*) as n_spans,
       cast(sum(case when g.kind = 'text' then 1 else 0 end) as bigint) as n_text,
       cast(sum(case when g.kind = 'media_ref' then 1 else 0 end) as bigint) as n_media
from read_parquet('{_FIXTURES}/golden_spans.parquet') g
{_DOCS_JOIN}
group by g.doc_id
"""

    o["extract_sections"] = f"""
select g.doc_id, g.section_idx, g.title, g.level, g.length, g.subsection_count
from read_parquet('{_FIXTURES}/golden_sections.parquet') g
{_DOCS_JOIN}
"""

    o["media_features_stub"] = f"""
select g.media_ref, g.media_kind, g.byte_len, g.feat_checksum,
       g.feat_width, g.feat_height
from read_parquet('{_FIXTURES}/golden_media_features.parquet') g
{_DOCS_JOIN}
"""

    # payload = unhex(sha256(media_ref)); frame i = payload[8i:8i+8];
    # checksum = md5(lowercase-hex(frame)) = md5(substr(sha256hex, 16i+1, 16));
    # frame count = 1 + payload[0] % 4 (first byte from the first two nibbles).
    o["media_frame_sample"] = f"""
with m as (
    select g.media_ref, sha256(g.media_ref) as hx
    from read_parquet('{_FIXTURES}/golden_media_features.parquet') g
    {_DOCS_JOIN}
),
n as (
    select media_ref, hx,
           1 + ((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)) % 4 as nf
    from m
)
select media_ref, cast(i as bigint) as frame_idx,
       md5(substr(hx, i * 16 + 1, 16)) as frame_checksum
from n, unnest(generate_series(0, nf - 1)) as t(i)
"""

    o["doc_stats"] = f"""
select doc_id,
       cast(length(text) as bigint) as char_len,
       cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as bigint) as n_tokens,
       cast(len(list_distinct({_TOKENS})) as bigint) as n_distinct_tokens,
       cast(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]')) as bigint) as n_bpe_tokens,
       case when length(text) > 0
            then round(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text), 6)
       end as alpha_ratio,
       cast(coalesce(list_max([length(w) for w in {_TOKENS}]), 0) as bigint) as max_token_len
from documents
"""

    o["doc_quality"] = f"""
with t as (
    select doc_id,
           case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as n_tok,
           len(list_distinct({_TOKENS})) as n_distinct,
           length(text) as n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as n_alpha
    from documents
),
g as (
    select doc_id, n_tok,
           case when n_tok > 0 and n_chars > 0 then n_distinct / cast(n_tok as double) end as distinct_ratio,
           case when n_tok > 0 and n_chars > 0 then n_alpha / cast(n_chars as double) end as alpha_ratio
    from t
)
select doc_id,
       round(0.3 * least(1.0, n_tok / 100.0) + 0.3 * distinct_ratio + 0.4 * alpha_ratio, 6) as quality,
       round(distinct_ratio, 6) as distinct_ratio,
       round(alpha_ratio, 6) as alpha_ratio
from g
"""

    en = "['the','a','of','and','to','in','is','it','that','for']"
    de = "['der','die','das','und','mit','für','ist','ein','nicht','von']"
    fr = "['le','la','les','des','une','pour','dans','est','que','et']"
    es = "['el','la','los','para','con','una','es','que','de','no']"
    o["doc_langid"] = f"""
with h as (
    select doc_id,
           cast(len(list_filter({_TOKENS}, w -> list_contains({en}, w))) as bigint) as en_hits,
           cast(len(list_filter({_TOKENS}, w -> list_contains({de}, w))) as bigint) as de_hits,
           cast(len(list_filter({_TOKENS}, w -> list_contains({fr}, w))) as bigint) as fr_hits,
           cast(len(list_filter({_TOKENS}, w -> list_contains({es}, w))) as bigint) as es_hits
    from documents
)
select *,
       case when greatest(en_hits, de_hits, fr_hits, es_hits) <= 0 then 'und'
            when en_hits = greatest(en_hits, de_hits, fr_hits, es_hits) then 'en'
            when de_hits = greatest(en_hits, de_hits, fr_hits, es_hits) then 'de'
            when fr_hits = greatest(en_hits, de_hits, fr_hits, es_hits) then 'fr'
            else 'es' end as lang_guess
from h
"""

    o["doc_fingerprint"] = f"""
with sh as (
    select doc_id, [md5(substr(text, i, 16)) for i in generate_series(1, greatest(length(text) - 15, 0), 4)] as fps
    from documents
),
{_SIMHASH_SQL_BODY.format(tokens=_TOKENS, src='documents')}
select sh.doc_id,
       list_aggregate(fps, 'min') as min_shingle_fp,
       list_aggregate(fps, 'max') as max_shingle_fp,
       simhash
from sh join simhash_t on sh.doc_id = simhash_t.doc_id
"""

    o["dedup_exact"] = f"""
with docs_aug as ({_EXACT_AUG_SQL})
select md5(text) as text_md5,
       count(*) as group_size,
       min(doc_id) as canonical_doc_id
from docs_aug group by md5(text)
"""

    grams = (
        f"[t[i] || ' ' || t[i+1] for i in generate_series(1, greatest(len(t) - 1, 0))]"
    )
    minhash_ctes = f"""docs_aug as ({_NEAR_AUG_SQL}),
tok as (select doc_id, {_TOKENS} as t from docs_aug),
grams as (select doc_id, list_distinct({grams}) as g from tok),
sig as (
    select doc_id,
           list_aggregate([md5('s0/' || x) for x in g], 'min') as mh0,
           list_aggregate([md5('s1/' || x) for x in g], 'min') as mh1,
           list_aggregate([md5('s2/' || x) for x in g], 'min') as mh2,
           list_aggregate([md5('s3/' || x) for x in g], 'min') as mh3
    from grams
),
bands as (select doc_id, mh0 || '|' || mh1 as band0, mh2 || '|' || mh3 as band1 from sig),
cand as (
    select distinct x.doc_id as a_id, y.doc_id as b_id
    from bands x join bands y on x.band0 = y.band0 and x.doc_id < y.doc_id
    union
    select distinct x.doc_id, y.doc_id
    from bands x join bands y on x.band1 = y.band1 and x.doc_id < y.doc_id
),
sh as (select doc_id, unnest(g) as shingle from grams),
sizes as (select doc_id, count(*) as set_size from sh group by doc_id),
inter as (
    select a.doc_id as a_id, b.doc_id as b_id, count(*) as inter
    from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
),
scored as (
    select i.a_id, i.b_id,
           round(i.inter / cast(sa.set_size + sb.set_size - i.inter as double), 6) as jaccard
    from inter i
    join cand c on i.a_id = c.a_id and i.b_id = c.b_id
    join sizes sa on i.a_id = sa.doc_id
    join sizes sb on i.b_id = sb.doc_id
)"""
    o["dedup_minhash_lsh"] = (
        "with "
        + minhash_ctes
        + "\nselect a_id, b_id, jaccard from scored where jaccard >= 0.5\n"
    )

    o["source_top_terms"] = f"""
with tok as (
    select source, unnest({_TOKENS}) as token from documents
),
counts as (
    select source, token, cast(count(*) as bigint) as n
    from tok where token != '' group by source, token
),
totals as (
    select source, cast(sum(n) as bigint) as source_tokens
    from counts group by source
),
ranked as (
    select source, token, n,
           row_number() over (partition by source order by n desc, token asc)
             as rank
    from counts
)
select r.source, cast(r.rank as int) as rank, r.token, r.n,
       round(r.n / cast(t.source_tokens as double), 6) as share
from ranked r join totals t on r.source is not distinct from t.source
where r.rank <= 5
"""

    # degree census over the verified near-dup pair set: same minhash
    # CTE chain, endpoints exploded to both sides, two nested counts.
    o["dup_degree_census"] = (
        "with "
        + minhash_ctes
        + """,
pairs as (select a_id, b_id from scored where jaccard >= 0.5),
ends as (
    select a_id as doc_id from pairs
    union all
    select b_id as doc_id from pairs
),
degrees as (select doc_id, cast(count(*) as bigint) as degree
            from ends group by doc_id)
select degree, cast(count(*) as bigint) as n_docs
from degrees group by degree
"""
    )

    o["dedup_components"] = (
        "with recursive "
        + minhash_ctes
        + """,
pairs as (select a_id, b_id from scored where jaccard >= 0.5),
edges as (
    select a_id as s, b_id as d from pairs
    union
    select b_id, a_id from pairs
),
reach(n, r) as (
    select s, s from (select distinct s from edges) t
    union
    select e.d, reach.r from reach join edges e on e.s = reach.n
)
select n as node, min(r) as comp from reach group by n
"""
    )

    o["dedup_canonical"] = (
        "with recursive "
        + minhash_ctes
        + """,
pairs as (select a_id, b_id from scored where jaccard >= 0.5),
edges as (
    select a_id as s, b_id as d from pairs
    union
    select b_id, a_id from pairs
),
reach(n, r) as (
    select s, s from (select distinct s from edges) t
    union
    select e.d, reach.r from reach join edges e on e.s = reach.n
),
comp as (select n as node, min(r) as c from reach group by n)
select d.doc_id,
       coalesce(comp.c, d.doc_id) as canonical_id,
       d.doc_id = coalesce(comp.c, d.doc_id) as is_canonical
from docs_aug d left join comp on d.doc_id = comp.node
"""
    )

    pii_email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    pii_phone = "\\+?[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ]?[0-9]{4}"
    pii_ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    o["pii_scrub"] = f"""
with docs_pii as ({_PII_AUG_SQL}),
s1 as (
    select doc_id,
           cast(len(regexp_extract_all(text, '{pii_email}')) as bigint) as n_email,
           regexp_replace(text, '{pii_email}', '<EMAIL>', 'g') as t1
    from docs_pii
),
s2 as (
    select doc_id, n_email,
           cast(len(regexp_extract_all(t1, '{pii_phone}')) as bigint) as n_phone,
           regexp_replace(t1, '{pii_phone}', '<PHONE>', 'g') as t2
    from s1
),
s3 as (
    select doc_id, n_email, n_phone,
           cast(len(regexp_extract_all(t2, '{pii_ip}')) as bigint) as n_ipv4,
           regexp_replace(t2, '{pii_ip}', '<IP>', 'g') as t3
    from s2
)
select doc_id, n_email, n_phone, n_ipv4, md5(t3) as scrubbed_md5 from s3
"""

    o["hash_split_census"] = """
with s as (
    select case when strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1 < 13 then 'train'
                when strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1 < 14 then 'val'
                else 'test' end as split,
           n_chars
    from documents
)
select split, count(*) as n_docs, cast(sum(n_chars) as bigint) as total_chars
from s group by split
"""

    o["dedup_simhash"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
{_SIMHASH_SQL_BODY.format(tokens=_TOKENS, src='docs_aug')}
select a.doc_id as a_id, b.doc_id as b_id, a.simhash as simhash
from simhash_t a join simhash_t b on a.simhash = b.simhash and a.doc_id < b.doc_id
"""

    o["dedup_simhash_banded"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
{_SIMHASH_SQL_BODY.format(tokens=_TOKENS, src='docs_aug')},
bands as (
    select doc_id, simhash, i as band_idx,
           (simhash >> (16 * i)) & 65535 as band_val
    from simhash_t, unnest(generate_series(0, 3)) as t(i)
),
cand as (
    select distinct a.doc_id as a_id, b.doc_id as b_id,
           a.simhash as sim_a, b.simhash as sim_b
    from bands a join bands b
      on a.band_idx = b.band_idx and a.band_val = b.band_val
     and a.doc_id < b.doc_id
)
select a_id, b_id, cast(bit_count(xor(sim_a, sim_b)) as int) as hamming
from cand where bit_count(xor(sim_a, sim_b)) <= 3
"""

    o["dedup_ngram_jaccard"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
tok as (select doc_id, {_TOKENS} as t from docs_aug),
grams as (select doc_id, list_distinct({grams}) as g from tok),
sh0 as (select doc_id, unnest(g) as shingle from grams),
keep as (select shingle from sh0 group by shingle having count(*) <= 20),
sh as (select sh0.* from sh0 semi join keep on sh0.shingle = keep.shingle),
sizes as (select doc_id, count(*) as set_size from sh group by doc_id),
inter as (
    select a.doc_id as a_id, b.doc_id as b_id, count(*) as inter
    from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
),
scored as (
    select i.a_id, i.b_id,
           round(i.inter / cast(sa.set_size + sb.set_size - i.inter as double), 6) as jaccard
    from inter i join sizes sa on i.a_id = sa.doc_id join sizes sb on i.b_id = sb.doc_id
)
select a_id, b_id, jaccard from scored where jaccard >= 0.5
"""

    cos = (
        "list_sum([{a}.embedding[i]::double * {b}.embedding[i]::double for i in generate_series(1, len({a}.embedding))])"
        " / (sqrt(list_sum([{a}.embedding[i]::double * {a}.embedding[i]::double for i in generate_series(1, len({a}.embedding))]))"
        " * sqrt(list_sum([{b}.embedding[i]::double * {b}.embedding[i]::double for i in generate_series(1, len({b}.embedding))])))"
    )
    o["dedup_embedding"] = f"""
with scored as (
    select a.vec_id as a_id, b.vec_id as b_id,
           round({cos.format(a='a', b='b')}, 6) as cos_sim
    from embeddings a join embeddings b on a.label = b.label and a.vec_id < b.vec_id
)
select * from scored where cos_sim >= 0.3
"""

    o["ann_bruteforce_topk"] = f"""
with pairs as (
    select q.vec_id as query_id, c.vec_id as neighbor_id,
           {cos.format(a='q', b='c')} as cos_sim_raw
    from embeddings q join embeddings c on q.vec_id != c.vec_id
    where q.vec_id < 5
),
ranked as (
    select query_id, neighbor_id,
           row_number() over (partition by query_id order by cos_sim_raw desc, neighbor_id asc) as rank,
           round(cos_sim_raw, 6) as cos_sim
    from pairs
)
select query_id, neighbor_id, cast(rank as bigint) as rank, cos_sim from ranked where rank <= 10
"""

    o["ann_ivf_topk"] = f"""
with pairs as (
    select q.vec_id as query_id, c.vec_id as neighbor_id,
           {cos.format(a='q', b='c')} as cos_sim_raw
    from embeddings q join embeddings c on q.label = c.label and q.vec_id != c.vec_id
    where q.vec_id < 5
),
ranked as (
    select query_id, neighbor_id,
           row_number() over (partition by query_id order by cos_sim_raw desc, neighbor_id asc) as rank,
           round(cos_sim_raw, 6) as cos_sim
    from pairs
)
select query_id, neighbor_id, cast(rank as bigint) as rank, cos_sim from ranked where rank <= 10
"""

    # Unrolled 2-iteration Lloyd's k-means in the integer-quantized domain
    # (same determinism contract as operators/kmeans.py: exact bigint L2^2,
    # ties to the smallest cell, centroid = element-wise floor division).
    _dist = "list_sum([(x.qv[i] - c.cv[i]) * (x.qv[i] - c.cv[i]) for i in generate_series(1, len(x.qv))])"
    _assign = """
a{n} as (
    select vec_id, qv, embedding, cell from (
        select x.vec_id, x.qv, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {dist}, c.cell
               ) as rn
        from q x cross join c{m} c
    ) where rn = 1
),
s{n} as (
    select cell, i, sum(qv[i]) as sv, count(*) as n
    from a{n}, unnest(generate_series(1, len(qv))) as g(i)
    group by cell, i
),
u{n} as (
    -- explicit floor: DuckDB integer // truncates toward zero, but the
    -- Spark-side centroid update uses Python floor division.
    select cell, list(cast(floor(sv / n) as bigint) order by i) as cv
    from s{n} group by cell
),
c{n} as (
    select c{m}.cell, coalesce(u{n}.cv, c{m}.cv) as cv
    from c{m} left join u{n} on c{m}.cell = u{n}.cell
)"""
    o["ann_ivf_trained"] = (
        f"""
with q as (
    select vec_id, embedding,
           [cast(round(x::double * 10000) as bigint) for x in embedding] as qv
    from embeddings
),
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
pairs as (
    select pq.vec_id as query_id, pc.vec_id as neighbor_id, pq.cell,
           {cos.format(a='pq', b='pc')} as cos_sim_raw
    from af pq join af pc on pq.cell = pc.cell and pq.vec_id != pc.vec_id
    where pq.vec_id < 5
),
ranked as (
    select query_id, neighbor_id, cell,
           row_number() over (partition by query_id order by cos_sim_raw desc, neighbor_id asc) as rank,
           round(cos_sim_raw, 6) as cos_sim
    from pairs
)
select query_id, neighbor_id, cell, cast(rank as bigint) as rank, cos_sim
from ranked where rank <= 10
"""
    )

    # Multi-probe IVF: same trained codebook chain; queries fan out to
    # their 2 nearest cells (row_number over exact integer distances, ties
    # to the smaller cell — identical rule to the Spark probe ranking).
    o["ann_ivf_multiprobe"] = (
        f"""
with q as (
    select vec_id, embedding,
           [cast(round(x::double * 10000) as bigint) for x in embedding] as qv
    from embeddings
),
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
probes as (
    select vec_id as query_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn <= 2 and vec_id < 5
),
pairs as (
    select p.query_id, a.vec_id as neighbor_id, a.cell,
           {cos.format(a='p', b='a')} as cos_sim_raw
    from probes p join af a on p.cell = a.cell and p.query_id != a.vec_id
),
ranked as (
    select query_id, neighbor_id, cell,
           row_number() over (partition by query_id order by cos_sim_raw desc, neighbor_id asc) as rank,
           round(cos_sim_raw, 6) as cos_sim
    from pairs
)
select query_id, neighbor_id, cell, cast(rank as bigint) as rank, cos_sim
from ranked where rank <= 10
"""
    )

    # Trained-cell embedding dedup: identical codebook chain as
    # ann_ivf_trained (c0 -> c1 -> c2 -> final assignment af), then the
    # within-cell pair verify at the dedup threshold.
    o["dedup_embedding_trained"] = (
        f"""
with q as (
    select vec_id, embedding,
           [cast(round(x::double * 10000) as bigint) for x in embedding] as qv
    from embeddings
),
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
scored as (
    select a.vec_id as a_id, b.vec_id as b_id,
           round({cos.format(a='a', b='b')}, 6) as cos_sim
    from af a join af b on a.cell = b.cell and a.vec_id < b.vec_id
)
select * from scored where cos_sim >= 0.3
"""
    )

    # SemDeDup: same codebook chain; af carries qv so centroid similarity
    # is exact-integer dot/norms with only IEEE sqrt/divide at the end;
    # keep rule compares 6-rounded values (bit-identical cross-engine).
    o["semantic_dedup"] = (
        f"""
with q as (
    select vec_id, embedding,
           [cast(round(x::double * 10000) as bigint) for x in embedding] as qv
    from embeddings
),
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, embedding, qv, cell from (
        select x.vec_id, x.embedding, x.qv, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
cs as (
    select af.vec_id, af.embedding, af.cell,
           case when list_sum([af.qv[i] * af.qv[i]
                               for i in generate_series(1, len(af.qv))]) > 0
                 and list_sum([c.cv[i] * c.cv[i]
                               for i in generate_series(1, len(c.cv))]) > 0
           then round(
               list_sum([af.qv[i] * c.cv[i]
                         for i in generate_series(1, len(af.qv))])::double
               / (sqrt(list_sum([af.qv[i] * af.qv[i]
                                 for i in generate_series(1, len(af.qv))])::double)
                  * sqrt(list_sum([c.cv[i] * c.cv[i]
                                   for i in generate_series(1, len(c.cv))])::double)),
               6)
           end as centroid_sim
    from af join c2 c on af.cell = c.cell
),
pairs as (
    select a.vec_id, b.vec_id as other_id,
           a.centroid_sim as my_sim, b.centroid_sim as other_sim
    from cs a join cs b on a.cell = b.cell and a.vec_id != b.vec_id
    where round({cos.format(a='a', b='b')}, 6) >= 0.3
),
per as (
    select vec_id, cast(count(*) as bigint) as n_dups,
           max(case when other_sim < my_sim
                      or (other_sim = my_sim and other_id < vec_id)
                    then 1 else 0 end) as dropped
    from pairs group by vec_id
)
select cs.vec_id, cs.cell, cs.centroid_sim,
       cast(coalesce(per.n_dups, 0) as bigint) as n_dups,
       cast(1 - coalesce(per.dropped, 0) as int) as kept
from cs left join per using (vec_id)
"""
    )

    # IVF range search: multiprobe chain, threshold instead of rank
    # (NULL cosine from a zero vector is dropped by WHERE — matching the
    # Spark side's cosine_safe isNotNull filter).
    o["ann_ivf_range"] = (
        f"""
with q as (
    select vec_id, embedding,
           [cast(round(x::double * 10000) as bigint) for x in embedding] as qv
    from embeddings
),
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
probes as (
    select vec_id as query_id, embedding, cell from (
        select x.vec_id, x.embedding, c.cell,
               row_number() over (
                   partition by x.vec_id
                   order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn <= 2 and vec_id < 5
)
select p.query_id, a.vec_id as neighbor_id, a.cell,
       round({cos.format(a='p', b='a')}, 6) as cos_sim
from probes p join af a on p.cell = a.cell and p.query_id != a.vec_id
where round({cos.format(a='p', b='a')}, 6) >= 0.2
"""
    )

    o["resume_anti_join"] = """
select doc_id, lang, n_chars from documents d
where not exists (
    select 1 from documents x where x.doc_id = d.doc_id and x.doc_id % 10 < 3
)
"""

    o["metrics_cube"] = """
select lang, source, count(*) as n_docs, cast(sum(n_chars) as bigint) as total_chars
from documents group by cube(lang, source)
"""

    o["events_type_pivot"] = """
select date_trunc('hour', ts) as hour,
       cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as n_click,
       cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as n_error,
       cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as n_purchase,
       cast(sum(case when event_type = 'signup' then 1 else 0 end) as bigint) as n_signup,
       cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as n_view
from events group by date_trunc('hour', ts)
"""

    o["events_type_unpivot"] = """
with w as (select date_trunc('hour', ts) as hour,
       cast(sum(case when event_type = 'click' then 1 else 0 end) as bigint) as n_click,
       cast(sum(case when event_type = 'error' then 1 else 0 end) as bigint) as n_error,
       cast(sum(case when event_type = 'purchase' then 1 else 0 end) as bigint) as n_purchase,
       cast(sum(case when event_type = 'signup' then 1 else 0 end) as bigint) as n_signup,
       cast(sum(case when event_type = 'view' then 1 else 0 end) as bigint) as n_view
from events group by date_trunc('hour', ts))
select hour, event_type, cast(n_events as bigint) as n_events
from w unpivot (n_events for event_type in (n_click, n_error, n_purchase, n_signup, n_view))
"""

    o["metrics_rollup"] = """
select lang, source, count(*) as n_docs, cast(sum(n_chars) as bigint) as total_chars
from documents group by rollup(lang, source)
"""

    o["top_docs_per_lang"] = """
with r as (
    select lang, doc_id, n_chars,
           row_number() over (partition by lang order by n_chars desc, doc_id asc) as rnk
    from documents
)
select lang, doc_id, n_chars, cast(rnk as bigint) as rnk from r where rnk <= 3
"""

    o["events_hourly"] = """
select date_trunc('hour', ts) as hour, event_type,
       count(*) as n_events, round(cast(sum(cast(value as decimal(25,10))) as double), 6) as sum_value
from events group by date_trunc('hour', ts), event_type
"""

    # Grouped-map robust z-score: DuckDB's median/mad are the same
    # interpolated statistics pandas computes; both are IEEE-exact
    # ((a+b)/2 and correctly-rounded division), so round(x,6) matches.
    o["events_robust_zscore"] = """
with m as (
    select event_type, median(value) as med, mad(value) as madv
    from events group by event_type
)
select e.event_id, e.event_type, e.value,
       case when m.madv > 0 then round((e.value - m.med) / m.madv, 6) end as rz
from events e join m using (event_type)
"""

    o["events_json_stats"] = """
with x as (
    select event_type, cast(json_extract(props, '$.k') as bigint) as k from events
)
select event_type, count(*) as n_events,
       cast(sum(case when k is null then 1 else 0 end) as bigint) as n_bad,
       cast(sum(k) as bigint) as sum_k,
       cast(min(k) as bigint) as min_k,
       cast(max(k) as bigint) as max_k
from x group by event_type
"""

    o["events_variant_hist"] = """
with x as (
    select floor(cast(json_extract(props, '$.k') as bigint) / 10) as k_bucket, user_id
    from events
)
select cast(k_bucket as bigint) as k_bucket,
       count(*) as n_events,
       cast(count(distinct user_id) as bigint) as n_users
from x group by k_bucket
"""

    # Native session_window mirror: split on gap STRICTLY > 30 min
    # (exact-gap events merge — probed in relational.events_session_native),
    # end = last event + gap.
    o["events_session_native"] = """
with e as (
    select *, lag(ts) over (partition by user_id order by ts, event_id) as prev_ts from events
),
f as (
    select *, case when prev_ts is null or epoch(ts) - epoch(prev_ts) > 1800 then 1 else 0 end as flag from e
),
g as (
    select *, sum(flag) over (
        partition by user_id order by ts, event_id
        rows between unbounded preceding and current row
    ) as sid from f
)
select user_id,
       min(ts) as session_start,
       max(ts) + interval 30 minute as session_end,
       count(*) as n_events,
       round(cast(sum(cast(value as decimal(25,10))) as double), 6) as session_value
from g group by user_id, sid
"""

    o["events_sessionize"] = """
with e as (
    select *, lag(ts) over (partition by user_id order by ts, event_id) as prev_ts from events
),
f as (
    select *, case when prev_ts is null or epoch(ts) - epoch(prev_ts) > 1800 then 1 else 0 end as flag from e
),
g as (
    select *, sum(flag) over (
        partition by user_id order by ts, event_id
        rows between unbounded preceding and current row
    ) as session_seq from f
)
select user_id, cast(session_seq as bigint) as session_seq,
       count(*) as n_events, min(ts) as session_start, max(ts) as session_end,
       round(cast(sum(cast(value as decimal(25,10))) as double), 6) as session_value
from g group by user_id, session_seq
"""

    # strictly-increasing ordered funnel (t_k = first step-k event AFTER
    # t_{k-1}); left joins carry the partial-depth users.
    o["events_funnel"] = """
with s1 as (
    select user_id, min(ts) as t1 from events
    where event_type = 'view' group by user_id
),
s2 as (
    select e.user_id, min(e.ts) as t2 from events e
    join s1 on e.user_id = s1.user_id
    where e.event_type = 'click' and e.ts > s1.t1 group by e.user_id
),
s3 as (
    select e.user_id, min(e.ts) as t3 from events e
    join s2 on e.user_id = s2.user_id
    where e.event_type = 'purchase' and e.ts > s2.t2 group by e.user_id
)
select s1.user_id, s1.t1, s2.t2, s3.t3,
       cast(1 + (case when s2.t2 is not null then 1 else 0 end)
              + (case when s3.t3 is not null then 1 else 0 end) as int) as depth
from s1 left join s2 on s1.user_id = s2.user_id
        left join s3 on s1.user_id = s3.user_id
"""

    # weekly cohorts: date_trunc('week') is Monday in BOTH engines;
    # offset = integer epoch-diff div 604800 (never datediff('week')).
    o["events_retention"] = """
with first as (
    select user_id, cast(date_trunc('week', min(ts)) as timestamp) as cohort_week
    from events group by user_id
),
activity as (
    select distinct user_id, cast(date_trunc('week', ts) as timestamp) as w
    from events
),
cohort_size as (
    select cohort_week, cast(count(*) as bigint) as cohort_size
    from first group by cohort_week
),
cells as (
    select cohort_week, week_offset, cast(count(*) as bigint) as n_active from (
        select f.cohort_week,
               (cast(epoch(a.w) as bigint)
                - cast(epoch(f.cohort_week) as bigint)) // 604800 as week_offset
        from activity a join first f on a.user_id = f.user_id
    ) group by cohort_week, week_offset
)
select c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
       round(c.n_active / cast(s.cohort_size as double), 6) as retention
from cells c join cohort_size s on c.cohort_week = s.cohort_week
"""

    # hopping windows (600s width, 300s slide → 2 starts per event):
    # floor(epoch) both sides (Spark unix_timestamp truncates; DuckDB
    # epoch keeps micros — a bare bigint cast would ROUND); naive-UTC
    # timestamps via make_timestamp (to_timestamp is TIMESTAMPTZ).
    o["events_hopping"] = """
with e as (
    select event_type, cast(value as decimal(25,10)) as v,
           cast(floor(epoch(ts)) as bigint) as es
    from events
),
hopped as (
    select event_type, v, ((es // 300) - i) * 300 as ws
    from e, unnest(generate_series(0, 1)) as g(i)
    where es >= 0
)
select make_timestamp(ws * 1000000) as window_start, event_type,
       cast(count(*) as bigint) as n_events,
       round(cast(sum(v) as double), 6) as value_sum
from hopped where ws >= 0
group by ws, event_type
"""

    # gap fill: per-user hourly spine (generate_series), left join, last
    # IGNORE NULLS carry-forward — identical frame semantics both engines.
    o["events_gap_fill"] = """
with e as (
    select user_id, cast(floor(epoch(ts)) as bigint) // 3600 as p,
           cast(value as decimal(25,10)) as v
    from events
),
per as (
    select user_id, p, cast(count(*) as bigint) as n_events,
           round(cast(sum(v) as double), 6) as value_sum
    from e group by user_id, p
),
spine as (
    select user_id, unnest(generate_series(min(p), max(p))) as p
    from e group by user_id
),
j as (
    select s.user_id, s.p, per.n_events, per.value_sum
    from spine s left join per on s.user_id = per.user_id and s.p = per.p
)
select user_id, make_timestamp(p * 3600 * 1000000) as period,
       cast(coalesce(n_events, 0) as bigint) as n_events,
       value_sum,
       last_value(value_sum ignore nulls) over (
           partition by user_id order by p
           rows between unbounded preceding and current row
       ) as filled_value,
       cast(case when n_events is null then 1 else 0 end as int) as is_gap
from j
"""

    # TPC-H Q3 shape: exact-cents LONG rank key (floor(x*100+0.5) — the
    # csum device), rounded display double alongside.
    o["shipping_priority"] = """
with c as (select c_custkey from customer where c_mktsegment = 'BUILDING'),
o as (select o_orderkey, o_custkey, o_orderdate from orders
      where o_orderdate < timestamp '1998-01-01'),
li as (select l_orderkey, l_extendedprice, l_discount from lineitem
       where l_shipdate > timestamp '1998-01-01'),
per as (
    select li.l_orderkey, o.o_orderdate,
           cast(sum(cast(floor(li.l_extendedprice * (1 - li.l_discount) * 100
                               + 0.5) as bigint)) as bigint) as revenue_cents
    from li join o on li.l_orderkey = o.o_orderkey
            join c on o.o_custkey = c.c_custkey
    group by li.l_orderkey, o.o_orderdate
)
select l_orderkey, o_orderdate, revenue_cents,
       round(revenue_cents / 100.0, 2) as revenue
from per order by revenue_cents desc, o_orderdate, l_orderkey limit 10
"""

    # TPC-H Q10 shape: returned-item revenue per customer, quarter window.
    o["returned_revenue"] = """
with o as (
    select o_orderkey, o_custkey from orders
    where o_orderdate >= timestamp '1996-01-01'
      and o_orderdate < timestamp '1996-04-01'
),
li as (select l_orderkey, l_extendedprice, l_discount from lineitem
       where l_returnflag = 'R'),
per as (
    select c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
           cast(sum(cast(floor(li.l_extendedprice * (1 - li.l_discount) * 100
                               + 0.5) as bigint)) as bigint) as revenue_cents
    from li join o on li.l_orderkey = o.o_orderkey
            join customer c on o.o_custkey = c.c_custkey
            join nation n on c.c_nationkey = n.n_nationkey
    group by c.c_custkey, c.c_name, c.c_acctbal, n.n_name
)
select c_custkey, c_name, n_name,
       round(cast(c_acctbal as double), 2) as acctbal,
       revenue_cents, round(revenue_cents / 100.0, 2) as revenue
from per order by revenue_cents desc, c_custkey limit 20
"""

    # TPC-H Q14 shape: exact-cents conditional sums; one final double div.
    o["promo_revenue"] = """
with j as (
    select cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                as bigint) as cents,
           p.p_type
    from lineitem l join part p on l.l_partkey = p.p_partkey
    where l.l_shipdate >= timestamp '1996-01-01'
      and l.l_shipdate < timestamp '1996-02-01'
)
select cast(sum(case when p_type = 'PROMO' then cents else 0 end) as bigint)
         as promo_cents,
       cast(sum(cents) as bigint) as total_cents,
       round(100.0 * sum(case when p_type = 'PROMO' then cents else 0 end)
             / sum(cents), 6) as promo_revenue_pct
from j
"""

    # TPC-H Q19 shape: disjunctive branch revenue, exact cents per branch.
    o["brand_size_revenue"] = """
with j as (
    select cast(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                as bigint) as cents,
           p.p_brand, p.p_size, l.l_quantity
    from lineitem l
    join part p on l.l_partkey = p.p_partkey
    where (p.p_brand = 'Brand#12' and p.p_size <= 15)
       or (p.p_brand = 'Brand#23' and p.p_size <= 30)
),
m as (
    select *,
           (p_brand = 'Brand#12' and p_size <= 15
            and l_quantity >= 1 and l_quantity <= 20) as b1,
           (p_brand = 'Brand#23' and p_size <= 30
            and l_quantity >= 10 and l_quantity <= 35) as b2
    from j
)
select cast(sum(case when b1 then cents else 0 end) as bigint) as branch1_cents,
       cast(sum(case when b2 then cents else 0 end) as bigint) as branch2_cents,
       cast(sum(cents) as bigint) as total_cents,
       cast(count(*) as bigint) as n_items
from m where b1 or b2
"""

    o["events_quantiles"] = """
select event_type,
       round(quantile_cont(value, 0.25), 6) as p25,
       round(quantile_cont(value, 0.5), 6) as p50,
       round(quantile_cont(value, 0.9), 6) as p90,
       count(*) as n
from events group by event_type
"""

    o["events_value_mad"] = """
select event_type, round(mad(value), 6) as mad_value, count(*) as n
from events group by event_type
"""

    # Histogram-sketch MAD (relational.events_value_mad_sketch): the same
    # fixed-width binning, lower weighted median, and midpoint deviations —
    # integer counts + identical IEEE double ops, so exactly reproducible.
    o["events_value_mad_sketch"] = """
with hist as (
    select event_type, cast(floor(value / 0.05) as bigint) as bin, count(*) as cnt
    from events group by 1, 2
),
h as (
    select *,
           sum(cnt) over (partition by event_type) as n,
           sum(cnt) over (partition by event_type order by bin
                          rows between unbounded preceding and current row) as cum
    from hist
),
med as (
    select event_type, n, (min(bin) + 0.5) * 0.05 as med
    from h where 2 * cum >= n group by event_type, n
),
dev as (
    select hist.event_type, med.n,
           abs((hist.bin + 0.5) * 0.05 - med.med) as dev,
           sum(cnt) as cnt
    from hist join med on hist.event_type = med.event_type
    group by 1, 2, 3
),
d as (
    select *,
           sum(cnt) over (partition by event_type order by dev
                          rows between unbounded preceding and current row) as cum
    from dev
)
select event_type, round(min(dev), 6) as mad_value, cast(n as bigint) as n
from d where 2 * cum >= n group by event_type, n
"""

    o["events_asof_enrich"] = """
with hourly as (
    select event_type,
           date_trunc('hour', ts) + interval 1 hour as hour_end,
           cast(sum(cast(value as decimal(20,10))) as double) / count(*) as prev_hour_avg
    from events group by event_type, date_trunc('hour', ts)
)
select e.event_id, e.event_type, round(h.prev_hour_avg, 6) as prev_hour_avg
from events e
asof left join hourly h
  on e.event_type = h.event_type and e.ts >= h.hour_end
"""

    # the bucketed variant must reproduce the same native ASOF JOIN
    o["events_asof_bucketed"] = o["events_asof_enrich"]

    o["revenue_filter_agg"] = """
select round(cast(sum(cast(l_extendedprice * l_discount as decimal(25,10))) as double), 2) as revenue,
       count(*) as n_items
from lineitem
where l_shipdate >= timestamp '1997-01-01'
  and l_shipdate < timestamp '1998-01-01'
  and l_discount >= 0.03 and l_discount <= 0.07
  and l_quantity < 24
"""

    o["top_orders_by_revenue"] = """
select l_orderkey, o_orderdate,
       round(cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(25,10))) as double), 2) as revenue
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
where c_mktsegment = 'BUILDING'
  and o_orderdate < timestamp '1997-06-01'
  and l_shipdate > timestamp '1997-06-01'
group by l_orderkey, o_orderdate
order by revenue desc, o_orderdate asc, l_orderkey asc
limit 10
"""

    o["pricing_summary"] = """
select l_returnflag, l_linestatus,
       round(sum(cast(floor(l_quantity * 100 + 0.5) as bigint)) / 100.0, 2) as sum_qty,
       round(sum(cast(floor(l_extendedprice * 100 + 0.5) as bigint)) / 100.0, 2) as sum_base_price,
       round(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)) / 100.0, 2) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       round(avg(l_discount), 4) as avg_disc,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02'
group by l_returnflag, l_linestatus
order by l_returnflag, l_linestatus
"""

    o["events_range_join"] = """
with b as (
    select floor(epoch(min(ts)))::bigint as lo,
           floor((floor(epoch(max(ts)))::bigint - floor(epoch(min(ts)))::bigint) / 24)::bigint + 1 as width
    from events
),
w as (
    select unnest(generate_series(0, 23)) as w, lo, width from b
),
windows as (
    select w,
           to_timestamp(lo + w * width)::timestamp as w_start,
           to_timestamp(lo + (w + 1) * width)::timestamp as w_end
    from w
)
select w, count(*) as n_events, round(cast(sum(cast(value as decimal(25,10))) as double), 6) as sum_value
from events join windows on ts >= w_start and ts < w_end
group by w
"""

    o["events_interval_overlap"] = """
with b as (
    select floor(epoch(min(ts)))::bigint as lo,
           floor((floor(epoch(max(ts)))::bigint - floor(epoch(min(ts)))::bigint) / 24)::bigint + 1 as width
    from events
),
w as (
    select unnest(generate_series(0, 23)) as w, lo, width from b
),
win as (
    select w, lo + w * width as s,
           lo + w * width + width + width // 2 as e
    from w
)
select w, count(*) as n_events, round(cast(sum(cast(value as decimal(25,10))) as double), 6) as sum_value
from events join win
  on floor(epoch(ts))::bigint >= s and floor(epoch(ts))::bigint < e
group by w
"""

    o["user_event_paths"] = """
select user_id,
       string_agg(event_type, ',' order by ts, event_id) as event_path,
       count(*) as n_events
from events
where user_id < 500
group by user_id
"""

    o["supplier_census"] = """
select r_name, n_name, count(*) as n_suppliers,
       round(cast(sum(cast(s_acctbal as decimal(25,10))) as double), 2) as total_acctbal
from supplier
join nation on s_nationkey = n_nationkey
join region on n_regionkey = r_regionkey
group by rollup(r_name, n_name)
"""

    o["part_type_stats"] = """
select p_type, count(*) as n_parts,
       count(distinct p_brand) as n_brands,
       round(avg(p_retailprice), 4) as avg_price,
       cast(sum(case when p_size >= 25 then 1 else 0 end) as bigint) as n_large
from part group by p_type
"""

    o["revenue_by_nation"] = """
select n_name,
       round(sum(cast(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) as bigint)) / 100.0, 2) as revenue,
       count(*) as n_items
from lineitem
join orders on l_orderkey = o_orderkey
join customer on o_custkey = c_custkey
join nation on c_nationkey = n_nationkey
group by n_name
"""

    # -- corpus-preparation family.  seq_pack's oracle is the naive global
    # running sum the Spark side decomposes into a two-level prefix sum —
    # bit-equality here proves the decomposition exact.
    o["seq_pack"] = f"""
with t as (
    select doc_id,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as bigint) as n_tokens
    from documents
),
c as (
    select doc_id, n_tokens,
           cast(sum(n_tokens) over (order by doc_id rows between unbounded preceding and current row) as bigint) as cum_end
    from t
)
select doc_id, n_tokens,
       cast(cum_end - n_tokens as bigint) as start_offset,
       cast((cum_end - n_tokens) // 256 as bigint) as first_pack,
       cast(greatest(cum_end - 1, cum_end - n_tokens) // 256
            - (cum_end - n_tokens) // 256 + 1 as bigint) as n_packs
from c
"""

    # Gopher-style repetition signals (top-unigram / duplicate-bigram
    # fractions); token domain filters out the ''-token like doc_top_terms
    o["doc_repetition"] = f"""
with toks as (
    select doc_id, t.term
    from (select doc_id, {_TOKENS} as tk from documents) s, unnest(s.tk) as t(term)
    where length(t.term) > 0
),
uni as (
    select doc_id, cast(sum(cnt) as bigint) as n_tokens,
           cast(max(cnt) as bigint) as top_cnt
    from (select doc_id, term, count(*) as cnt from toks group by doc_id, term)
    group by doc_id
),
tt as (select doc_id, {_TOKENS} as tk from documents),
bg as (
    select doc_id, tk[i] || ' ' || tk[i + 1] as gram
    from tt, unnest(generate_series(1, cast(greatest(len(tk) - 1, 0) as int))) as u(i)
),
bi as (
    select doc_id, cast(sum(cnt) as bigint) as n_bigrams,
           cast(count(*) as bigint) as n_distinct_bigrams
    from (select doc_id, gram, count(*) as cnt from bg group by doc_id, gram)
    group by doc_id
)
select d.doc_id,
       coalesce(uni.n_tokens, 0) as n_tokens,
       case when coalesce(uni.n_tokens, 0) > 0
            then round(uni.top_cnt / uni.n_tokens, 6) end as top_unigram_frac,
       coalesce(bi.n_bigrams, 0) as n_bigrams,
       case when coalesce(bi.n_bigrams, 0) > 0
            then round((bi.n_bigrams - bi.n_distinct_bigrams) / bi.n_bigrams, 6)
       end as dup_bigram_frac
from (select doc_id from documents) d
left join uni on d.doc_id = uni.doc_id
left join bi on d.doc_id = bi.doc_id
"""

    # the composed curation funnel: each CTE replicates one gate's
    # already-oracled formula over the previous gate's survivors
    o["curation_census"] = f"""
with docs_aug as ({_EXACT_AUG_SQL}),
dedup_keep as (
    select min(doc_id) as doc_id from docs_aug group by md5(text)
),
g1 as (select d.doc_id, d.text from docs_aug d join dedup_keep using (doc_id)),
tq as (
    select doc_id,
           case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as n_tok,
           len(list_distinct({_TOKENS})) as n_distinct,
           length(text) as n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as n_alpha
    from g1
),
ql as (
    select doc_id,
           round(0.3 * least(1.0, n_tok / 100.0)
                 + 0.3 * (case when n_tok > 0 and n_chars > 0 then n_distinct / cast(n_tok as double) end)
                 + 0.4 * (case when n_tok > 0 and n_chars > 0 then n_alpha / cast(n_chars as double) end),
                 6) as quality
    from tq
),
g2 as (
    select g1.doc_id, g1.text from g1 join ql using (doc_id) where ql.quality >= 0.5
),
tg as (
    select s.doc_id, s.toks[i] || ' ' || s.toks[i + 1] || ' ' || s.toks[i + 2] as gram
    from (select doc_id, {_TOKENS} as toks from g2) s,
         unnest(generate_series(1, cast(greatest(len(s.toks) - 2, 0) as int))) as u(i)
),
eg as (
    select distinct s.toks[i] || ' ' || s.toks[i + 1] || ' ' || s.toks[i + 2] as gram
    from (select {_TOKENS} as toks from documents where doc_id % 50 = 0) s,
         unnest(generate_series(1, cast(greatest(len(s.toks) - 2, 0) as int))) as u(i)
),
cont as (
    select tg.doc_id,
           count(*) as n_grams,
           sum(case when eg.gram is not null then 1 else 0 end) as n_hit
    from tg left join eg on tg.gram = eg.gram
    group by tg.doc_id
),
g3 as (
    select g2.doc_id from g2
    left join cont on g2.doc_id = cont.doc_id
    where coalesce(round(cast(cont.n_hit as double) / cont.n_grams, 6), 0.0) <= 0.2
)
select gate, n_docs from (
    select '0_input' as gate, cast(count(*) as bigint) as n_docs from docs_aug
    union all
    select '1_exact_dedup', cast(count(*) as bigint) from g1
    union all
    select '2_quality', cast(count(*) as bigint) from g2
    union all
    select '3_decontaminated', cast(count(*) as bigint) from g3
)
"""

    # decontamination: per-train-doc trigram occurrences colliding with
    # the (distinct) trigram set of the pseudo-eval slice (doc_id % 50)
    o["decontaminate"] = f"""
with tr as (select doc_id, text from documents where doc_id % 50 <> 0),
ev as (select text from documents where doc_id % 50 = 0),
tt as (select doc_id, {_TOKENS} as toks from tr),
tg as (
    select doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] as gram
    from tt, unnest(generate_series(1, cast(greatest(len(toks) - 2, 0) as int))) as u(i)
),
et as (select {_TOKENS} as toks from ev),
eg as (
    select distinct toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] as gram
    from et, unnest(generate_series(1, cast(greatest(len(toks) - 2, 0) as int))) as u(i)
),
pd as (
    select tg.doc_id,
           cast(count(*) as bigint) as n_grams,
           cast(sum(case when eg.gram is not null then 1 else 0 end) as bigint) as n_contaminated
    from tg left join eg on tg.gram = eg.gram
    group by tg.doc_id
)
select d.doc_id,
       coalesce(pd.n_grams, 0) as n_grams,
       coalesce(pd.n_contaminated, 0) as n_contaminated,
       case when coalesce(pd.n_grams, 0) > 0
            then round(pd.n_contaminated / pd.n_grams, 6) end as contamination
from (select doc_id from tr) d
left join pd on d.doc_id = pd.doc_id
"""

    # seq_pack_by_hash: string-id packing in (full md5, id) order — the
    # bucket (integer value of the first two md5 nibbles) is a PREFIX of
    # that sort key, a pure parallelism knob; the oracle is again the
    # naive single global running sum over that order — bit-equality
    # proves the bucketed decomposition exact.
    o["seq_pack_hash"] = f"""
with t as (
    select doc_id,
           cast(doc_id as varchar) as sid,
           md5(cast(doc_id as varchar)) as h,
           cast((strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1) * 16
                + strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 2, 1)) - 1 as int) as bucket,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as bigint) as n_tokens
    from documents
),
c as (
    select doc_id, bucket, n_tokens,
           cast(sum(n_tokens) over (order by h, sid rows between unbounded preceding and current row) as bigint) as cum_end
    from t
)
select doc_id, bucket, n_tokens,
       cast(cum_end - n_tokens as bigint) as start_offset,
       cast((cum_end - n_tokens) // 256 as bigint) as first_pack,
       cast(greatest(cum_end - 1, cum_end - n_tokens) // 256
            - (cum_end - n_tokens) // 256 + 1 as bigint) as n_packs
from c
"""

    o["stratified_sample"] = """
with s as (
    select lang,
           case when strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), 1, 1)) - 1
                     < case lang when 'en' then 4 when 'de' then 8 when 'fr' then 12
                                 when 'es' then 16 when 'zh' then 2 end
                then 1 else 0 end as keep
    from documents
)
select lang, count(*) as n_total, cast(sum(keep) as bigint) as n_sampled,
       round(cast(sum(keep) as double) / count(*), 6) as sample_rate
from s group by lang
"""

    o["boilerplate_stats"] = f"""
with docs_aug as ({_EXACT_AUG_SQL}),
t as (
    select doc_id, {_TOKENS} as toks from docs_aug
),
s as (
    select doc_id,
           md5(array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' ')) as seg_hash
    from t, unnest(generate_series(1, cast(len(toks) // 10 as int))) as g(i)
),
dfh as (
    select seg_hash, count(distinct doc_id) as n_docs from s group by seg_hash
),
pd as (
    select s.doc_id, cast(count(*) as bigint) as n_segs,
           cast(sum(case when dfh.n_docs >= 2 then 1 else 0 end) as bigint) as n_dup_segs
    from s join dfh using (seg_hash)
    group by s.doc_id
)
select d.doc_id,
       cast(coalesce(pd.n_segs, 0) as bigint) as n_segs,
       cast(coalesce(pd.n_dup_segs, 0) as bigint) as n_dup_segs,
       case when coalesce(pd.n_segs, 0) > 0
            then round(pd.n_dup_segs / cast(pd.n_segs as double), 6) end as dup_ratio
from (select doc_id from docs_aug) d left join pd using (doc_id)
"""

    o["doc_familiarity"] = f"""
with t as (select doc_id, {_TOKENS} as toks from documents),
g as (
    select doc_id, toks[i] || ' ' || toks[i + 1] as gram
    from t, unnest(generate_series(1, cast(greatest(len(toks) - 1, 0) as int))) as u(i)
),
dfq as (select gram, count(*) as gram_df from g group by gram),
pd as (
    select g.doc_id, cast(count(*) as bigint) as n_grams,
           cast(sum(dfq.gram_df) as bigint) as df_sum
    from g join dfq using (gram) group by g.doc_id
)
select d.doc_id,
       cast(coalesce(pd.n_grams, 0) as bigint) as n_grams,
       cast(coalesce(pd.df_sum, 0) as bigint) as df_sum,
       round(pd.df_sum / cast(pd.n_grams as double), 6) as familiarity
from (select doc_id from documents) d left join pd using (doc_id)
"""

    o["corpus_bigrams"] = f"""
with t as (select {_TOKENS} as toks from documents),
g as (
    select toks[i] || ' ' || toks[i + 1] as gram
    from t, unnest(generate_series(1, cast(greatest(len(toks) - 1, 0) as int))) as u(i)
)
select gram, count(*) as n_occurrences
from g group by gram
order by n_occurrences desc, gram asc
limit 20
"""

    # Ranking is the integer-lexicographic (tf desc, df asc, term asc) —
    # see corpusops.doc_top_terms for why ln stays out of the ORDER BY.
    o["doc_top_terms"] = f"""
with tf as (
    select doc_id, term, cast(count(*) as bigint) as tf
    from (select doc_id, unnest({_TOKENS}) as term from documents) u
    where length(term) > 0
    group by doc_id, term
),
dfx as (
    select term, cast(count(*) as bigint) as df from tf group by term
),
n as (
    select cast(count(distinct doc_id) as double) as n_docs from documents
),
r as (
    select tf.doc_id, tf.term, tf.tf, dfx.df,
           row_number() over (
               partition by tf.doc_id
               order by tf.tf desc, dfx.df asc, tf.term asc
           ) as rank,
           round(tf.tf * ln(n.n_docs / dfx.df), 6) as tfidf
    from tf join dfx using (term), n
)
select doc_id, term, tf, df, cast(rank as bigint) as rank, tfidf
from r where rank <= 3
"""

    # SegmentSplit UDTF: fixed 20-token windows, tail partial included,
    # whitespace-only docs emit nothing (Python str.split() drops empties).
    o["doc_segments_udtf"] = f"""
with t as (
    select doc_id, {_TOKENS} as toks
    from documents where not regexp_matches(text, '^[ \t\n\x0b\f\r]*$')
)
select doc_id, cast(i as int) as seg_idx,
       array_to_string(toks[i * 20 + 1 : least((i + 1) * 20, len(toks))], ' ') as seg_text,
       cast(least((i + 1) * 20, len(toks)) - i * 20 as int) as n_tokens
from t, unnest(generate_series(0, cast((len(toks) - 1) // 20 as int))) as g(i)
"""

    # dedup_normalized: casefold/punct/ws normal form via translate +
    # explicit ASCII classes (lower()'s Unicode mapping is
    # engine-defined; translate is byte-wise on both).  Same op order as
    # the Spark chain: translate -> strip non-[a-z0-9 ws] -> collapse ws
    # -> ws-trim.
    _ws = " \t\n\x0b\f\r"
    _norm = (
        "regexp_replace(regexp_replace(regexp_replace("
        "translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
        f"'[^a-z0-9{_ws}]', '', 'g'), "
        f"'[{_ws}]+', ' ', 'g'), "
        f"'^[{_ws}]+|[{_ws}]+$', '', 'g')"
    )
    o["dedup_normalized"] = f"""
with docs_aug as (
    select doc_id, text from documents
    union all
    select doc_id + 300000 as doc_id,
           '*** ' || translate(text, 'abcdefghijklmnopqrstuvwxyz',
                               'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!' as text
    from documents where doc_id % 25 = 0
)
select md5({_norm}) as norm_md5,
       cast(count(*) as bigint) as group_size,
       min(doc_id) as canonical_doc_id
from docs_aug group by norm_md5
"""

    # substring-level dup census (k = 8 token windows): the oracle
    # re-derives the gaps-and-islands merge with DuckDB's own window
    # frames — identical ROWS BETWEEN semantics on both engines, and the
    # md5 window-hash domain is the same engine-portable one as LSH.
    o["dedup_substring"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as bigint) as n_tokens
    from docs_aug
),
w as (
    select doc_id, i as start, md5(array_to_string(toks[i : i + 7], ' ')) as w_hash
    from t, unnest(generate_series(1, cast(n_tokens - 7 as int))) as g(i)
),
dh as (select w_hash from w group by w_hash having count(*) >= 2),
d2 as (select w.doc_id, w.start from w join dh using (w_hash)),
m as (
    select doc_id, start,
           max(start + 7) over (partition by doc_id order by start
               rows between unbounded preceding and 1 preceding) as prev_end
    from d2
),
i as (
    select doc_id, start,
           sum(case when prev_end is null or start > prev_end + 1 then 1 else 0 end)
               over (partition by doc_id order by start
                     rows between unbounded preceding and current row) as island
    from m
),
sp as (
    select doc_id, island, min(start) as s, max(start) + 7 as e,
           count(*) as nw
    from i group by doc_id, island
),
pd as (
    select doc_id, cast(count(*) as bigint) as n_dup_spans,
           cast(sum(e - s + 1) as bigint) as dup_tokens,
           cast(sum(nw) as bigint) as n_dup_windows
    from sp group by doc_id
)
select t.doc_id, t.n_tokens,
       cast(coalesce(pd.n_dup_windows, 0) as bigint) as n_dup_windows,
       cast(coalesce(pd.n_dup_spans, 0) as bigint) as n_dup_spans,
       cast(coalesce(pd.dup_tokens, 0) as bigint) as dup_tokens,
       case when t.n_tokens > 0
            then round(coalesce(pd.dup_tokens, 0) / cast(t.n_tokens as double), 6)
       end as dup_fraction
from t left join pd using (doc_id)
"""

    # incremental-ingest dedup funnel; the base/new split and variant
    # constructions mirror _incremental_split 1:1.
    o["dedup_incremental"] = f"""
with base as (select doc_id, text, source from documents where doc_id % 3 != 0),
newb as (
    select doc_id, text, source from documents where doc_id % 3 = 0
    union all
    select doc_id + 500000, text, source from documents where doc_id % 15 = 1
    union all
    select doc_id + 600000,
           '*** ' || translate(text, 'abcdefghijklmnopqrstuvwxyz',
                               'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!',
           source
    from documents where doc_id % 15 = 2
    union all
    select doc_id + 700000, text, source from documents where doc_id % 15 = 0
    union all
    select doc_id + 800000,
           '*** ' || translate(text, 'abcdefghijklmnopqrstuvwxyz',
                               'ABCDEFGHIJKLMNOPQRSTUVWXYZ') || ' !!!',
           source
    from documents where doc_id % 15 = 3
),
be as (select distinct md5(text) as h from base),
bn as (select distinct md5({_norm}) as nh from base),
n as (select doc_id, source, md5(text) as h, md5({_norm}) as nh from newb),
mh as (select h, min(doc_id) as min_id_h from n group by h),
mn as (select nh, min(doc_id) as min_id_nh from n group by nh),
j as (
    select n.source,
           case when be.h is not null then 'exact_vs_base'
                when n.doc_id > mh.min_id_h then 'exact_in_batch'
                when bn.nh is not null then 'norm_vs_base'
                when n.doc_id > mn.min_id_nh then 'norm_in_batch'
                else 'kept' end as gate
    from n
    left join be on n.h = be.h
    left join bn on n.nh = bn.nh
    join mh on n.h = mh.h
    join mn on n.nh = mn.nh
)
select source,
       cast(count(*) as bigint) as n_new,
       cast(sum(case when gate = 'exact_vs_base' then 1 else 0 end) as bigint) as n_exact_vs_base,
       cast(sum(case when gate = 'exact_in_batch' then 1 else 0 end) as bigint) as n_exact_in_batch,
       cast(sum(case when gate = 'norm_vs_base' then 1 else 0 end) as bigint) as n_norm_vs_base,
       cast(sum(case when gate = 'norm_in_batch' then 1 else 0 end) as bigint) as n_norm_in_batch,
       cast(sum(case when gate = 'kept' then 1 else 0 end) as bigint) as n_kept
from j group by source
"""

    # exact-integer rational-idf BM25 (operators/retrieval.py docstring):
    # every product stays in hugeint and the integral quotient (`//` here,
    # decimal(38,0) `div` Spark-side) is the rank key, so the top-k is
    # bit-for-bit across engines.
    o["bm25_topk"] = f"""
with t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as hugeint) as dl
    from documents
),
g as (
    select cast(count(*) as hugeint) as n_docs,
           cast(sum(dl) as hugeint) as total_tokens
    from t
),
tf as (
    select doc_id, term, cast(count(*) as hugeint) as tf
    from (select doc_id, unnest(toks) as term from t) u
    where term in ('hash', 'join', 'vector')
    group by doc_id, term
),
dfx as (select term, cast(count(*) as hugeint) as df from tf group by term),
s as (
    select tf.doc_id,
           ((2 * g.n_docs - 2 * dfx.df + 1) * 22000000::hugeint * tf.tf
            * 1000000::hugeint)
           // ((2 * dfx.df + 1)
               * (10000000::hugeint * tf.tf + 3000000::hugeint
                  + 9::hugeint * ((1000000::hugeint * t2.dl * g.n_docs)
                                  // g.total_tokens))) as w
    from tf
    join dfx using (term)
    join t t2 using (doc_id)
    cross join g
),
pd as (
    select doc_id, cast(count(*) as bigint) as n_terms_matched,
           cast(sum(w) as bigint) as score_micro
    from s group by doc_id
)
select doc_id, n_terms_matched, score_micro,
       round(score_micro / 1000000.0, 6) as bm25
from pd
order by score_micro desc, doc_id asc
limit 15
"""

    # RRF hybrid: bm25 candidate chain verbatim (rank <= 30 == top-30
    # then rank, under the deterministic tiebreak) + cosine ranking to
    # query vector 0; the fuse is exact bigint // throughout.
    o["hybrid_rrf"] = f"""
with t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as hugeint) as dl
    from documents
),
g as (
    select cast(count(*) as hugeint) as n_docs,
           cast(sum(dl) as hugeint) as total_tokens
    from t
),
tf as (
    select doc_id, term, cast(count(*) as hugeint) as tf
    from (select doc_id, unnest(toks) as term from t) u
    where term in ('hash', 'join', 'vector')
    group by doc_id, term
),
dfx as (select term, cast(count(*) as hugeint) as df from tf group by term),
s as (
    select tf.doc_id,
           ((2 * g.n_docs - 2 * dfx.df + 1) * 22000000::hugeint * tf.tf
            * 1000000::hugeint)
           // ((2 * dfx.df + 1)
               * (10000000::hugeint * tf.tf + 3000000::hugeint
                  + 9::hugeint * ((1000000::hugeint * t2.dl * g.n_docs)
                                  // g.total_tokens))) as w
    from tf
    join dfx using (term)
    join t t2 using (doc_id)
    cross join g
),
lex as (
    select doc_id,
           row_number() over (order by score_micro desc, doc_id) as rank_lex
    from (select doc_id, cast(sum(w) as bigint) as score_micro
          from s group by doc_id)
),
lex30 as (select doc_id, rank_lex from lex where rank_lex <= 30),
qv as (select embedding from embeddings where vec_id = 0),
vc as (
    select e.vec_id as doc_id,
           round({cos.format(a='e', b='qv')}, 6) as cos_sim
    from embeddings e cross join qv where e.vec_id != 0
),
vr as (
    -- zero-magnitude vectors: 0.0/0.0 is NULL here, NaN Spark-side;
    -- both engines drop them before ranking (Spark: isnan filter)
    select doc_id,
           row_number() over (order by cos_sim desc, doc_id) as rank_vec
    from vc where cos_sim is not null
),
vr30 as (select doc_id, rank_vec from vr where rank_vec <= 30),
f as (
    select coalesce(l.doc_id, v.doc_id) as doc_id,
           cast(l.rank_lex as int) as rank_lex,
           cast(v.rank_vec as int) as rank_vec,
           coalesce(1000000000::bigint // (60 + l.rank_lex), 0)
           + coalesce(1000000000::bigint // (60 + v.rank_vec), 0) as rrf_micro
    from lex30 l full outer join vr30 v on l.doc_id = v.doc_id
)
select doc_id, rank_lex, rank_vec, cast(rrf_micro as bigint) as rrf_micro
from f order by rrf_micro desc, doc_id limit 15
"""

    # KMV bottom-k cardinality sketch over word bigrams: every
    # intermediate deterministic (unlike HLL, whose hash family differs
    # per engine); 48-bit hash = 12 hex chars of md5.
    o["distinct_kmv"] = f"""
with tok as (select {_TOKENS} as t from documents),
gr as (
    select unnest([t[i] || ' ' || t[i+1]
                   for i in generate_series(1, greatest(len(t) - 1, 0))]) as gram
    from tok
),
h as (
    select distinct ('0x' || substr(md5(gram), 1, 12))::bigint as h
    from gr where gram != ''
),
sk as (select h from h order by h limit 256),
a as (select cast(count(*) as bigint) as n_sketch, max(h) as kth_hash from sk)
select cast(256 as int) as k, n_sketch, kth_hash,
       case when n_sketch < 256 then n_sketch
            else (255::bigint * 281474976710656::bigint) // kth_hash
       end as est_distinct
from a
"""

    _tri = (
        "[t[i] || ' ' || t[i+1] || ' ' || t[i+2]"
        " for i in generate_series(1, greatest(len(t) - 2, 0))]"
    )
    # first-occurrence novelty: gram owner = min doc_id; two hash aggs +
    # one equi-join, mirrored exactly.
    o["ngram_novelty"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
tok as (select doc_id, {_TOKENS} as t from docs_aug),
g as (
    select distinct doc_id, gram from (
        select doc_id, unnest({_tri}) as gram from tok
    ) where gram != ''
),
f as (select gram, min(doc_id) as first_doc from g group by gram),
per as (
    select g.doc_id, cast(count(*) as bigint) as n_grams,
           cast(sum(case when f.first_doc = g.doc_id then 1 else 0 end)
                as bigint) as n_novel
    from g join f using (gram) group by g.doc_id
)
select d.doc_id,
       cast(coalesce(per.n_grams, 0) as bigint) as n_grams,
       cast(coalesce(per.n_novel, 0) as bigint) as n_novel,
       case when per.n_grams > 0
            then round(per.n_novel / cast(per.n_grams as double), 6)
       end as novelty
from (select doc_id from docs_aug) d left join per using (doc_id)
"""

    # source-level n-gram Jaccard; NULL-source slices kept (IS NOT
    # DISTINCT FROM == Spark eqNullSafe).
    o["source_overlap"] = f"""
with tok as (select source, {_TOKENS} as t from documents),
sg as (
    select distinct source, gram from (
        select source, unnest({_tri}) as gram from tok
    ) where gram != ''
),
sizes as (select source, count(*) as set_size from sg group by source),
inter as (
    select a.source as src_a, b.source as src_b, count(*) as inter
    from sg a join sg b on a.gram = b.gram
    where coalesce(a.source, chr(1)) < coalesce(b.source, chr(1))
    group by a.source, b.source
)
select i.src_a, i.src_b, cast(i.inter as bigint) as n_shared_grams,
       round(i.inter / cast(sa.set_size + sb.set_size - i.inter as double), 6)
         as jaccard
from inter i
join sizes sa on i.src_a is not distinct from sa.source
join sizes sb on i.src_b is not distinct from sb.source
"""

    # batched BM25: same integer weight, per-query row_number top-k; the
    # probe batch mirrors _BM25_QUERIES as a VALUES CTE.
    _tokens_q = _TOKENS.replace("(text,", "(query_text,")
    _qs_values = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in _BM25_QUERIES)
    o["bm25_batch"] = f"""
with qs as (
    select * from (values {_qs_values}) v(query_id, query_text)
),
qt as (
    select distinct query_id, term
    from (select query_id, unnest({_tokens_q}) as term from qs) u
    where term != ''
),
terms as (select distinct term from qt),
t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as hugeint) as dl
    from documents
),
g as (
    select cast(count(*) as hugeint) as n_docs,
           cast(sum(dl) as hugeint) as total_tokens
    from t
),
tf as (
    select doc_id, term, cast(count(*) as hugeint) as tf
    from (select doc_id, unnest(toks) as term from t) u
    join terms using (term)
    group by doc_id, term
),
dfx as (select term, cast(count(*) as hugeint) as df from tf group by term),
s as (
    select qt.query_id, tf.doc_id,
           ((2 * g.n_docs - 2 * dfx.df + 1) * 22000000::hugeint * tf.tf
            * 1000000::hugeint)
           // ((2 * dfx.df + 1)
               * (10000000::hugeint * tf.tf + 3000000::hugeint
                  + 9::hugeint * ((1000000::hugeint * t2.dl * g.n_docs)
                                  // g.total_tokens))) as w
    from tf
    join dfx using (term)
    join qt using (term)
    join t t2 on tf.doc_id = t2.doc_id
    cross join g
),
pd as (
    select query_id, doc_id, cast(count(*) as bigint) as n_terms_matched,
           cast(sum(w) as bigint) as score_micro
    from s group by query_id, doc_id
),
r as (
    select *, row_number() over (partition by query_id
                                 order by score_micro desc, doc_id asc) as rk
    from pd
)
select query_id, doc_id, cast(rk as bigint) as rank, n_terms_matched,
       score_micro, round(score_micro / 1000000.0, 6) as bm25
from r where rk <= 10
"""

    # exact token-phrase census ('hash join', p = 2): positions where the
    # 2-token slice equals the literal; only matching docs are emitted.
    o["phrase_match"] = f"""
with t as (
    select doc_id, {_TOKENS} as toks,
           case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                else len({_TOKENS}) end as n_tokens
    from documents
),
s as (
    select doc_id, i
    from t, unnest(generate_series(1, cast(n_tokens - 1 as int))) as g(i)
    where array_to_string(toks[i : i + 1], ' ') = 'hash join'
)
select doc_id, cast(count(*) as bigint) as n_matches,
       cast(min(i) as bigint) as first_pos
from s group by doc_id
"""

    # content-defined chunking census: boundary after any token whose md5
    # starts with '0'; DuckDB's ordered string_agg rebuilds the segment
    # exactly as Spark's array_sort(collect_list(struct(pos, token))).
    o["cdc_segments"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as bigint) as n_tokens
    from docs_aug
),
tok as (
    select doc_id, i as pos, toks[i] as token
    from t, unnest(generate_series(1, cast(n_tokens as int))) as g(i)
),
b as (
    select doc_id, pos, token,
           case when substr(md5(token), 1, 1) = '0' then 1 else 0 end as bf
    from tok
),
s as (
    select doc_id, pos, token,
           coalesce(sum(bf) over (partition by doc_id order by pos
                    rows between unbounded preceding and 1 preceding), 0) as seg_id
    from b
),
seg as (
    select doc_id, seg_id, md5(string_agg(token, ' ' order by pos)) as seg_hash
    from s group by doc_id, seg_id
),
cf as (select seg_hash, count(*) as n_occ from seg group by seg_hash),
pd as (
    select seg.doc_id, cast(count(*) as bigint) as n_segs,
           cast(sum(case when cf.n_occ >= 2 then 1 else 0 end) as bigint) as n_dup_segs
    from seg join cf using (seg_hash) group by seg.doc_id
)
select t.doc_id, t.n_tokens,
       cast(coalesce(pd.n_segs, 0) as bigint) as n_segs,
       cast(coalesce(pd.n_dup_segs, 0) as bigint) as n_dup_segs,
       case when pd.n_segs > 0
            then round(pd.n_dup_segs / cast(pd.n_segs as double), 6)
       end as cdc_dup_ratio
from t left join pd using (doc_id)
"""

    # directional containment: one intersection per unordered pair,
    # unpivoted to both directions (same as the Spark explode).
    o["dedup_containment"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
tok as (select doc_id, {_TOKENS} as t from docs_aug),
grams as (select doc_id, list_distinct({grams}) as g from tok),
sh0 as (select doc_id, unnest(g) as shingle from grams),
keep as (select shingle from sh0 group by shingle having count(*) <= 20),
sh as (select sh0.* from sh0 semi join keep on sh0.shingle = keep.shingle),
sizes as (select doc_id, count(*) as set_size from sh group by doc_id),
inter as (
    select a.doc_id as a_id, b.doc_id as b_id, count(*) as inter
    from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
    group by a.doc_id, b.doc_id
),
both_t as (
    select i.a_id, i.b_id, i.inter, sa.set_size as a_size, sb.set_size as b_size
    from inter i join sizes sa on i.a_id = sa.doc_id
                 join sizes sb on i.b_id = sb.doc_id
),
directed as (
    select a_id as src_id, b_id as dst_id,
           round(inter / cast(a_size as double), 6) as containment from both_t
    union all
    select b_id as src_id, a_id as dst_id,
           round(inter / cast(b_size as double), 6) as containment from both_t
)
select src_id, dst_id, containment from directed where containment >= 0.9
"""

    # winnowing: the window key md5(gram) || lpad(10^8 - pos) makes plain
    # string MIN pick (min hash, rightmost pos) in both engines.
    o["winnow_census"] = f"""
with docs_aug as ({_NEAR_AUG_SQL}),
t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as bigint) as n_tokens
    from docs_aug
),
g as (
    select doc_id, i as gpos, greatest(n_tokens - 2, 0) as n_grams,
           md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             || lpad(cast(99999999 - i as varchar), 8, '0') as key
    from t, unnest(generate_series(1, cast(greatest(n_tokens - 2, 0) as int))) as u(i)
),
win as (
    select doc_id, gpos, n_grams,
           min(key) over (partition by doc_id order by gpos
                          rows between current row and 3 following) as sel_key
    from g
),
sel as (select distinct doc_id, sel_key from win where gpos <= n_grams - 3),
fps as (select doc_id, substr(sel_key, 1, 32) as fp_hash from sel),
dfp as (
    select fp_hash, count(*) as fp_df
    from (select distinct doc_id, fp_hash from fps) group by fp_hash
),
per_doc as (
    select fps.doc_id, cast(count(*) as bigint) as n_fp,
           cast(sum(case when dfp.fp_df >= 2 then 1 else 0 end) as bigint) as n_shared_fp
    from fps join dfp using (fp_hash) group by fps.doc_id
)
select t.doc_id, t.n_tokens,
       cast(coalesce(per_doc.n_fp, 0) as bigint) as n_fp,
       cast(coalesce(per_doc.n_shared_fp, 0) as bigint) as n_shared_fp,
       case when per_doc.n_fp > 0
            then round(per_doc.n_shared_fp / cast(per_doc.n_fp as double), 6)
       end as shared_ratio
from t left join per_doc using (doc_id)
"""

    # exact-integer bigram LM: every quotient is hugeint // (== Spark
    # decimal(38,0) div); no ln anywhere (libm rounding is engine-defined).
    o["lm_bigram_score"] = f"""
with t as (
    select doc_id, {_TOKENS} as toks,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0
                     else len({_TOKENS}) end as bigint) as n_tokens
    from documents
),
tr as (
    select doc_id, toks[i] as w1, toks[i+1] as w2
    from t, unnest(generate_series(1, cast(n_tokens - 1 as int))) as u(i)
),
dbg as (
    select doc_id, w1, w2, cast(count(*) as hugeint) as cnt
    from tr group by doc_id, w1, w2
),
bg as (select w1, w2, cast(sum(cnt) as hugeint) as c12 from dbg group by w1, w2),
ctx as (select w1, cast(sum(c12) as hugeint) as c1 from bg group by w1),
v as (select cast(count(distinct w2) as hugeint) as v_types from bg),
weighted as (
    select dbg.doc_id,
           cast(sum(dbg.cnt) as bigint) as n_transitions,
           cast(sum(dbg.cnt * (((bg.c12 + 1) * 1000000::hugeint)
                               // (ctx.c1 + v.v_types)))
                // sum(dbg.cnt) as bigint) as score_ppm
    from dbg join bg on dbg.w1 = bg.w1 and dbg.w2 = bg.w2
             join ctx on dbg.w1 = ctx.w1
             cross join v
    group by dbg.doc_id
)
select t.doc_id, t.n_tokens,
       cast(coalesce(w.n_transitions, 0) as bigint) as n_transitions,
       w.score_ppm
from t left join weighted w using (doc_id)
"""

    o["snapshot_diff"] = """
with newsnap as (
    select doc_id,
           case when doc_id % 11 = 5 then text || ' edited' else text end as text,
           source
    from documents where doc_id % 17 != 3
    union all
    select doc_id + 400000 as doc_id, 'new doc ' || text as text, source
    from documents where doc_id % 13 = 0
),
o as (select doc_id, md5(text) as oh, source as os from documents),
n as (select doc_id, md5(text) as nh, source as ns from newsnap),
j as (
    select coalesce(n.ns, o.os) as source,
           case when o.oh is null then 'added'
                when n.nh is null then 'removed'
                when o.oh != n.nh then 'changed'
                else 'unchanged' end as status
    from o full outer join n using (doc_id)
)
select source, status, cast(count(*) as bigint) as n_docs
from j group by source, status
"""

    # rollup_merge: the oracle is the FROM-SCRATCH recompute over the
    # whole corpus — merged(rollup(A), B) must equal rollup(A ∪ B).
    o["rollup_merge"] = """
select lang, source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(length(text)) as bigint) as n_chars_sum,
       round(cast(sum(length(text)) as bigint) / cast(count(*) as double), 6) as mean_chars
from documents group by lang, source
"""

    # budget_sample: the naive per-source running sum over (md5, id)
    # order — bit-equality proves the per-(source, bucket) decomposition
    # exact (same proof style as seq_pack_hash's oracle).
    _BUDGET_CASE = (
        "case when source = 'src0' then 500 when source = 'src5' then 1200 "
        "when source = 'src13' then 0 else 800 end"
    )
    o["budget_sample"] = f"""
with t as (
    select source, cast(doc_id as varchar) as sid,
           md5(cast(doc_id as varchar)) as h,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as bigint) as n_tokens
    from documents
),
c as (
    select source, n_tokens,
           cast(sum(n_tokens) over (
               partition by source order by h, sid
               rows between unbounded preceding and current row
           ) as bigint) as cum
    from t
),
k as (
    select source, n_tokens,
           cast({_BUDGET_CASE} as bigint) as budget,
           case when cum - n_tokens < ({_BUDGET_CASE}) then 1 else 0 end as keep
    from c
)
select source, max(budget) as budget,
       cast(count(*) as bigint) as n_docs,
       cast(sum(keep) as bigint) as n_kept,
       cast(sum(keep * n_tokens) as bigint) as tokens_kept
from k group by source
"""

    # bpe_pairs: corpus-weighted adjacent char-pair counts over the
    # distinct-word table (the first BPE merge decision); rank window
    # over the top-k census only.
    o["bpe_pairs"] = f"""
with wds as (
    select w as word, cast(count(*) as bigint) as freq
    from (select unnest({_TOKENS}) as w from documents) u
    where length(w) > 0 group by w
),
prs as (
    select substr(word, i, 2) as pair, freq
    from wds, unnest(generate_series(1, cast(length(word) - 1 as int))) as g(i)
    where length(word) > 1
),
cnt as (
    select pair, cast(sum(freq) as bigint) as n_occurrences
    from prs where length(pair) = 2 group by pair
),
top as (
    select pair, n_occurrences from cnt
    order by n_occurrences desc, pair asc limit 20
)
select cast(row_number() over (order by n_occurrences desc, pair asc) as bigint) as rank,
       pair, n_occurrences
from top
"""

    # bpe_train_steps: the iterated Sennrich loop UNROLLED — step i's
    # pair census runs over the vocabulary AFTER step i-1's merge (the
    # same device as the k-means/PQ unrolled-iteration oracles).  Same
    # delimited-symbol-string representation as corpusops.bpe_train;
    # replace() is left-to-right non-overlapping in both engines, which
    # IS the greedy BPE merge application.  CTEs are materialized so the
    # chained w0..wN vocab states evaluate once each.
    _bpe_steps = 8

    def _bpe_ctes(steps: int, final_vocab: bool) -> list[str]:
        """CTE chain w0..wN of vocab states + per-step winning pair
        t1..tN; ``final_vocab`` also emits the post-merge wN that
        bpe_segment_census reads back (bpe_train_steps never does)."""
        parts = [
            f"""w0 as materialized (
    select w as word,
           regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') as enc,
           cast(count(*) as bigint) as freq
    from (select unnest({_TOKENS}) as w from documents) u
    where length(w) > 0
      and not regexp_matches(w, '[' || chr(1) || chr(2) || ']')
    group by w)"""
        ]
        for i in range(1, steps + 1):
            p = i - 1
            parts.append(
                f"""p{i} as (
    select l, r, cast(sum(freq) as bigint) as cnt from (
        select freq, arr[i] as l, arr[i + 1] as r
        from (select freq, string_split(substr(enc, 2, length(enc) - 2),
                                        chr(2) || chr(1)) as arr
              from w{p}) a,
             unnest(generate_series(1, cast(len(arr) - 1 as int))) g(i)
        where len(arr) > 1)
    group by l, r)"""
            )
            parts.append(
                f"t{i} as materialized (select l, r, cnt from p{i} "
                f"order by cnt desc, l asc, r asc limit 1)"
            )
            if i < steps or final_vocab:
                parts.append(
                    f"""w{i} as materialized (
    select word,
           replace(enc,
                   chr(1) || (select l from t{i}) || chr(2) ||
                   chr(1) || (select r from t{i}) || chr(2),
                   chr(1) || (select l from t{i}) ||
                   (select r from t{i}) || chr(2)) as enc,
           freq
    from w{p})"""
                )
        return parts

    o["bpe_train_steps"] = (
        "with "
        + ",\n".join(_bpe_ctes(_bpe_steps, final_vocab=False))
        + "\n"
        + "\nunion all\n".join(
            f'select cast({_i} as bigint) as step, l as "left", '
            f'r as "right", l || r as merged, cnt as n_occurrences '
            f"from t{_i}"
            for _i in range(1, _bpe_steps + 1)
        )
    )

    # bpe_segment_census: the trained segmentation applied back to the
    # corpus — per-word symbol counts from the FINAL vocab state, joined
    # to per-(doc, word) counts.
    o["bpe_segment_census"] = (
        "with "
        + ",\n".join(_bpe_ctes(_bpe_steps, final_vocab=True))
        + f""",
wf as (
    select word,
           cast(len(string_split(substr(enc, 2, length(enc) - 2),
                                 chr(2) || chr(1))) as bigint) as n_syms
    from w{_bpe_steps}),
dw as (
    select doc_id, w as word, cast(count(*) as bigint) as c
    from (select doc_id, unnest({_TOKENS}) as w from documents) u
    where length(w) > 0
      and not regexp_matches(w, '[' || chr(1) || chr(2) || ']')
    group by doc_id, w)
select doc_id, cast(sum(c) as bigint) as n_words,
       cast(sum(c * n_syms) as bigint) as n_bpe_tokens
from dw join wf using (word)
group by doc_id
"""
    )

    o["merge_upsert"] = """
with ch as (
    select doc_id, 'delete' as op, cast(null as varchar) as text,
           cast(null as varchar) as source
    from documents where doc_id % 19 = 2
    union all
    select doc_id, 'upsert', text || ' v2', source
    from documents where doc_id % 11 = 5 and doc_id % 19 != 2
    union all
    select doc_id + 500000, 'upsert', 'ins ' || text, source
    from documents where doc_id % 13 = 0
),
b as (select doc_id, text as bt, source as bs, true as bex from documents),
j as (
    select coalesce(b.doc_id, c.doc_id) as doc_id,
           b.bt, b.bs, b.bex, c.op, c.text as ct, c.source as cs
    from b full outer join ch c on b.doc_id = c.doc_id
)
select doc_id, coalesce(ct, bt) as text, coalesce(cs, bs) as source
from j where (op is null and bex is not null) or op = 'upsert'
"""

    # vocab_coverage: top-50 term census; rank/share windows over the
    # tiny top-k table, never the vocabulary (mirrors the Spark plan).
    o["vocab_coverage"] = f"""
with term as (
    select t as term from (select unnest({_TOKENS}) as t from documents) u
    where length(t) > 0
),
cnt as (select term, cast(count(*) as bigint) as n_occurrences from term group by term),
tot as (select cast(count(*) as double) as total from term),
top as (
    select term, n_occurrences from cnt
    order by n_occurrences desc, term asc limit 50
),
r as (
    select term, n_occurrences,
           row_number() over (order by n_occurrences desc, term asc) as rank,
           sum(n_occurrences) over (
               order by n_occurrences desc, term asc
               rows between unbounded preceding and current row
           ) as cum
    from top
)
select cast(r.rank as bigint) as rank, r.term, r.n_occurrences,
       round(r.n_occurrences / tot.total, 6) as share,
       round(r.cum / tot.total, 6) as cum_share
from r, tot
"""

    # source_stats: decimal-accumulated mean quality (quality itself is
    # the doc_quality formula, 6-dp rounded, so the decimal sum is exact).
    o["source_stats"] = f"""
with t as (
    select doc_id, source, lang, md5(text) as th,
           case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as n_tok,
           len(list_distinct({_TOKENS})) as n_distinct,
           length(text) as n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as n_alpha
    from documents
),
g as (
    select source, lang, th, n_tok,
           round(0.3 * least(1.0, n_tok / 100.0)
                 + 0.3 * (case when n_tok > 0 and n_chars > 0 then n_distinct / cast(n_tok as double) end)
                 + 0.4 * (case when n_tok > 0 and n_chars > 0 then n_alpha / cast(n_chars as double) end),
                 6) as q
    from t
)
select source,
       cast(count(*) as bigint) as n_docs,
       cast(sum(n_tok) as bigint) as n_tokens,
       cast(count(distinct th) as bigint) as n_distinct_texts,
       round(1 - count(distinct th) / cast(count(*) as double), 6) as dup_rate,
       case when count(q) > 0
            then round(cast(sum(cast(q as decimal(25,10))) as double) / count(q), 6) end as mean_quality,
       cast(count(distinct lang) as bigint) as n_langs
from g group by source
"""

    # embed_quantize: SQ8 codes + L-inf reconstruction error; floor(+0.5)
    # in double on both engines (round() is engine-defined), codes joined
    # to csv because the compare hashes scalar renderings.
    o["embed_quantize"] = """
with u as (
    select vec_id, generate_subscripts(embedding, 1) as d,
           cast(unnest(embedding) as double) as x
    from embeddings
),
b as (select d, min(x) as mn, max(x) as mx from u group by d),
c as (
    select u.vec_id, u.d, u.x, b.mn, b.mx,
           cast(case when b.mx > b.mn
                     then floor((u.x - b.mn) / (b.mx - b.mn) * 255 + 0.5)
                     else 0 end as int) as code
    from u join b using (d)
)
select vec_id,
       string_agg(code::varchar, ',' order by d) as codes_csv,
       round(max(abs(x - (mn + code * (mx - mn) / 255))), 6) as max_err
from c group by vec_id
"""

    # revenue_grouping_sets: GROUPING() bitmask must match Spark's
    # grouping_id() bit order (left column = high bit on both engines).
    o["revenue_grouping_sets"] = """
select cast(year(o_orderdate) as int) as o_year, o_orderpriority,
       cast(grouping(year(o_orderdate), o_orderpriority) as bigint) as gid,
       round(cast(sum(cast(o_totalprice as decimal(25,10))) as double), 2) as revenue,
       cast(count(*) as bigint) as n_orders
from orders
group by grouping sets ((year(o_orderdate), o_orderpriority),
                        (year(o_orderdate)), (o_orderpriority), ())
"""

    # pq_encode: per-subspace unrolled integer-domain Lloyd (the same
    # determinism contract as ann_ivf_trained's oracle: round(x*10000),
    # exact int L2^2, ties to smallest cell, floor-mean updates) —
    # generated per subspace because PQ trains m independent codebooks.
    _pq_m, _pq_w, _pq_k, _pq_iters = 4, 16, 8, 2
    _pq_dist = (
        "list_sum([(x.sq[i] - c.cv[i]) * (x.sq[i] - c.cv[i]) "
        "for i in generate_series(1, len(x.sq))])"
    )
    _pq_parts = [
        "q as (select vec_id, [cast(round(x::double * 10000) as bigint) "
        "for x in embedding] as qv from embeddings)"
    ]
    for j in range(_pq_m):
        lo, hi = j * _pq_w + 1, (j + 1) * _pq_w
        _pq_parts.append(
            f"p{j}q as (select vec_id, qv[{lo}:{hi}] as sq from q)"
        )
        _pq_parts.append(
            f"p{j}c0 as (select cast(row_number() over (order by vec_id) - 1 "
            f"as int) as cell, sq as cv from p{j}q order by vec_id limit {_pq_k})"
        )
        for n in range(1, _pq_iters + 1):
            p = n - 1
            _pq_parts.append(
                f"""p{j}a{n} as (
    select vec_id, sq, cell from (
        select x.vec_id, x.sq, c.cell,
               row_number() over (
                   partition by x.vec_id order by {_pq_dist}, c.cell
               ) as rn
        from p{j}q x cross join p{j}c{p} c) where rn = 1)"""
            )
            _pq_parts.append(
                f"p{j}s{n} as (select cell, i, sum(sq[i]) as sv, count(*) as n "
                f"from p{j}a{n}, unnest(generate_series(1, len(sq))) as g(i) "
                "group by cell, i)"
            )
            _pq_parts.append(
                f"p{j}u{n} as (select cell, list(cast(floor(sv / n) as bigint) "
                f"order by i) as cv from p{j}s{n} group by cell)"
            )
            _pq_parts.append(
                f"p{j}c{n} as (select p{j}c{p}.cell, "
                f"coalesce(p{j}u{n}.cv, p{j}c{p}.cv) as cv from p{j}c{p} "
                f"left join p{j}u{n} on p{j}c{p}.cell = p{j}u{n}.cell)"
            )
        _pq_parts.append(
            f"""p{j}f as (
    select vec_id, cell, d from (
        select x.vec_id, c.cell, {_pq_dist} as d,
               row_number() over (
                   partition by x.vec_id order by {_pq_dist}, c.cell
               ) as rn
        from p{j}q x cross join p{j}c{_pq_iters} c) where rn = 1)"""
        )
    _pq_codes = " || ',' || ".join(f"p{j}f.cell::varchar" for j in range(_pq_m))
    _pq_qd = " + ".join(f"p{j}f.d" for j in range(_pq_m))
    _pq_joins = " ".join(f"join p{j}f using (vec_id)" for j in range(1, _pq_m))
    o["pq_encode"] = (
        "with "
        + ",\n".join(_pq_parts)
        + f"""
select p0f.vec_id, {_pq_codes} as codes_csv, cast({_pq_qd} as bigint) as qdist
from p0f {_pq_joins}
"""
    )

    # pq_adc_topk: asymmetric distance = per-subspace L2^2 from the RAW
    # (quantized-domain) query subvector to the candidate's ASSIGNED
    # centroid — exact integers end-to-end, ranked (dist asc, id asc).
    _adc_cvjoins = " ".join(
        f"join p{j}c{_pq_iters} cb{j} on p{j}f.cell = cb{j}.cell"
        for j in range(_pq_m)
    )
    _adc_cvcols = ", ".join(f"cb{j}.cv as cv{j}" for j in range(_pq_m))
    _adc_terms = " + ".join(
        f"list_sum([(aq.qv[{j * _pq_w} + i] - xc.cv{j}[i]) * "
        f"(aq.qv[{j * _pq_w} + i] - xc.cv{j}[i]) "
        f"for i in generate_series(1, {_pq_w})])"
        for j in range(_pq_m)
    )
    o["pq_adc_topk"] = (
        "with "
        + ",\n".join(_pq_parts)
        + f""",
xc as (
    select p0f.vec_id as neighbor_id, {_adc_cvcols}
    from p0f {_pq_joins} {_adc_cvjoins}
),
aq as (select vec_id as query_id, qv from q where vec_id < 5),
prs as (
    select aq.query_id, xc.neighbor_id, {_adc_terms} as adc_dist
    from aq, xc where aq.query_id != xc.neighbor_id
),
rk as (
    select query_id, neighbor_id, adc_dist,
           row_number() over (
               partition by query_id order by adc_dist, neighbor_id
           ) as rank
    from prs
)
select query_id, neighbor_id, cast(rank as bigint) as rank,
       cast(adc_dist as bigint) as adc_dist
from rk where rank <= 10
"""
    )

    # ivf_pq_topk: the full IVF-PQ composition — the coarse trained-
    # codebook chain (ann_ivf_trained's CTEs) + the per-subspace PQ
    # chains (sharing a widened q that carries the raw embedding for the
    # coarse distance) + the ADC distance restricted to the query's own
    # coarse cell.
    _ivfpq_parts = [
        "q as (select vec_id, embedding, [cast(round(x::double * 10000) "
        "as bigint) for x in embedding] as qv from embeddings)"
    ] + _pq_parts[1:]
    o["ivf_pq_topk"] = (
        "with "
        + ",\n".join(_ivfpq_parts)
        + """,
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, cell from (
        select x.vec_id, c.cell,
               row_number() over (
                   partition by x.vec_id order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
xc as (
    select p0f.vec_id as neighbor_id, afx.cell, {_adc_cvcols}
    from p0f {_pq_joins} {_adc_cvjoins}
    join af afx on p0f.vec_id = afx.vec_id
),
aq as (
    select q.vec_id as query_id, q.qv, af.cell
    from q join af on q.vec_id = af.vec_id
    where q.vec_id < 5
),
prs as (
    select aq.query_id, xc.neighbor_id, xc.cell, {_adc_terms} as adc_dist
    from aq join xc on aq.cell = xc.cell and aq.query_id != xc.neighbor_id
),
rk as (
    select query_id, neighbor_id, cell, adc_dist,
           row_number() over (
               partition by query_id order by adc_dist, neighbor_id
           ) as rank
    from prs
)
select query_id, neighbor_id, cell, cast(rank as bigint) as rank,
       cast(adc_dist as bigint) as adc_dist
from rk where rank <= 10
"""
    )

    # ivf_pq_multiprobe: same composition, query fans out to its 2
    # nearest coarse cells (row_number <= 2 over exact integer dists,
    # ties to the smaller cell — ann_ivf_multiprobe's rule); a corpus
    # vector lives in exactly one cell so the union needs no dedup.
    o["ivf_pq_multiprobe"] = (
        "with "
        + ",\n".join(_ivfpq_parts)
        + """,
c0 as (
    select cast(row_number() over (order by vec_id) - 1 as int) as cell, qv as cv
    from q order by vec_id limit 8
),"""
        + _assign.format(n=1, m=0, dist=_dist)
        + ","
        + _assign.format(n=2, m=1, dist=_dist)
        + f""",
af as (
    select vec_id, cell from (
        select x.vec_id, c.cell,
               row_number() over (
                   partition by x.vec_id order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn = 1
),
xc as (
    select p0f.vec_id as neighbor_id, afx.cell, {_adc_cvcols}
    from p0f {_pq_joins} {_adc_cvjoins}
    join af afx on p0f.vec_id = afx.vec_id
),
aq as (
    select vec_id as query_id, qv, cell from (
        select x.vec_id, x.qv, c.cell,
               row_number() over (
                   partition by x.vec_id order by {_dist}, c.cell
               ) as rn
        from q x cross join c2 c
    ) where rn <= 2 and vec_id < 5
),
prs as (
    select aq.query_id, xc.neighbor_id, xc.cell, {_adc_terms} as adc_dist
    from aq join xc on aq.cell = xc.cell and aq.query_id != xc.neighbor_id
),
rk as (
    select query_id, neighbor_id, cell, adc_dist,
           row_number() over (
               partition by query_id order by adc_dist, neighbor_id
           ) as rank
    from prs
)
select query_id, neighbor_id, cell, cast(rank as bigint) as rank,
       cast(adc_dist as bigint) as adc_dist
from rk where rank <= 10
"""
    )

    # doc_length_deciles: the oracle uses NATIVE ntile — an independent
    # re-derivation of the engine's census + closed-form decomposition.
    o["doc_length_deciles"] = f"""
with d as (
    select doc_id, lang,
           cast(case when regexp_matches(text, '^[ \t\n\x0b\f\r]*$') then 0 else len({_TOKENS}) end as bigint) as n_tokens
    from documents
),
t as (
    select lang, n_tokens,
           ntile(10) over (partition by lang order by n_tokens, doc_id) as decile
    from d
)
select lang, cast(decile as int) as decile,
       cast(count(*) as bigint) as n_docs,
       min(n_tokens) as min_tokens, max(n_tokens) as max_tokens
from t group by lang, decile
"""

    return o
