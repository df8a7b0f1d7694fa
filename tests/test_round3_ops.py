"""Round-3 operator tests: histogram-sketch MAD tolerance, asof right-side
uniqueness validation, the simhash64 lane-capacity guard, and the
oversized-tail stress document through the full extraction pipeline."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tei_chunker_spark.config import ChunkerConfig, JobConfig
from tei_chunker_spark.core import extract_spans
from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, doc_to_row, synth_tei
from tei_chunker_spark.operators.asof import asof_join
from tei_chunker_spark.operators.extract import extract_pipeline
from tei_chunker_spark.operators.relational import (
    events_value_mad,
    events_value_mad_sketch,
)
from tei_chunker_spark.operators.textstats import simhash64

SF = "/root/testdata/sf0.001"


def _lower_median(sorted_vals):
    """Lower median: smallest value whose cumulative count reaches half —
    the sketch's (deterministic, interpolation-free) convention."""
    return sorted_vals[(len(sorted_vals) + 1) // 2 - 1]


def test_mad_sketch_within_bin_width(spark):
    """The histogram sketch's documented error bound: within bin_width of
    the exact SAME-CONVENTION (lower-median) MAD — midpoint quantization
    moves every order statistic by <= w/2, twice."""
    events = spark.read.parquet(f"{SF}/events.parquet")
    w = 0.05
    pdf = events.select("event_type", "value").toPandas()
    sk = {
        r.event_type: (r.mad_value, r.n)
        for r in events_value_mad_sketch(events, bin_width=w).collect()
    }
    exact_interp = {r.event_type: r.mad_value for r in events_value_mad(events).collect()}
    assert set(sk) == set(exact_interp)
    for k, grp in pdf.groupby("event_type"):
        vals = sorted(grp["value"])
        med = _lower_median(vals)
        mad_lower = _lower_median(sorted(abs(v - med) for v in vals))
        assert sk[k][1] == len(vals)
        assert abs(sk[k][0] - mad_lower) <= w, (k, sk[k][0], mad_lower)
        # sanity vs the interpolated exact UDAF: convention gap is half the
        # middle order-statistic gap — loose but must stay in the ballpark.
        assert abs(sk[k][0] - exact_interp[k]) <= w + 1.0


def test_mad_exact_flag_dispatches_to_sketch(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    via_flag = sorted(map(tuple, events_value_mad(events, exact=False).collect()))
    direct = sorted(map(tuple, events_value_mad_sketch(events).collect()))
    assert via_flag == direct


def test_asof_validate_rejects_duplicate_right(spark):
    left = spark.createDataFrame([(1, 10)], "id long, ts long")
    right_dup = spark.createDataFrame(
        [("k", 5, 1.0), ("k", 5, 2.0)], "k string, rts long, pay double"
    )
    left2 = left.withColumn("k", F.lit("k"))
    with pytest.raises(ValueError, match="duplicate"):
        asof_join(left2, right_dup, key="k", left_ts="ts", right_ts="rts",
                  payload_cols=["pay"], validate=True)
    # unique right side passes validation and still matches
    right_ok = spark.createDataFrame([("k", 5, 1.0)], "k string, rts long, pay double")
    out = asof_join(left2, right_ok, key="k", left_ts="ts", right_ts="rts",
                    payload_cols=["pay"], validate=True).collect()
    assert out[0].pay == 1.0


def test_simhash_lane_guard_raises_beyond_capacity(spark):
    """The 32768 guard is the SHARP bound, not a 2x margin (round-3
    advisory re-derived): the signed-64 accumulator's top lane lives in
    bits 48-63, so a top-lane counter reaching 32768 crosses 2^63 and
    ANSI addition raises mid-aggregate.  Three regimes pinned here:
    (a) n in [32768, ~65000]: accumulation survives (top counters ~n/2)
        and the explicit guard raises its clear capacity message;
    (b) n ~ 66000 balanced: the accumulation itself overflows (loud
        ARITHMETIC_OVERFLOW — deterministic, never silent corruption),
        the empirical refutation of the unsigned 65535 reading;
    (c) n below the guard: signature produced."""
    guarded = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(33000)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="lane capacity"):
        simhash64(guarded).collect()
    overflowing = spark.createDataFrame(
        [(2, " ".join(str(i) for i in range(66000)))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|lane capacity"):
        simhash64(overflowing).collect()
    ok = spark.createDataFrame(
        [(3, " ".join(str(i) for i in range(1000)))], "doc_id long, text string"
    )
    assert len(simhash64(ok).collect()) == 1


def test_multiprobe_recall_at_least_single_probe(spark):
    """Probing the 2 nearest trained cells must recover at least the
    single-probe neighbors (superset of scanned candidates) and close
    some of the gap to exact brute force."""
    from tei_chunker_spark.operators.kmeans import ann_ivf_trained_topk
    from tei_chunker_spark.operators.similarity import ann_bruteforce_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)

    def topk(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk(ann_bruteforce_topk(emb, qs, k=10))
    single = topk(ann_ivf_trained_topk(emb, qs, k=10, n_cells=8, iters=2))
    multi = topk(ann_ivf_trained_topk(emb, qs, k=10, n_cells=8, iters=2, n_probe=2))

    def recall(approx):
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        total = sum(len(exact[q]) for q in exact)
        return hits / total

    assert recall(multi) >= recall(single)
    # n_probe = n_cells degenerates to exact brute force over all cells
    allp = topk(ann_ivf_trained_topk(emb, qs, k=10, n_cells=8, iters=2, n_probe=8))
    assert allp == exact


def _find_oversized_doc_id(lo: int = 0, hi: int = 2000) -> str:
    """Scan the deterministic corpus for an oversized-tail document
    (~20-40x median length) — the skew case the salted shuffle defuses."""
    lens = {i: len(synth_tei(str(i))) for i in range(lo, hi)}
    med = sorted(lens.values())[len(lens) // 2]
    for i, n in lens.items():
        if n > 15 * med:
            return str(i)
    raise AssertionError("no oversized doc in range — corpus profile changed?")


def test_oversized_tail_doc_through_pipeline(spark):
    """One ~20-40x-median document end-to-end through extract_pipeline
    equals the pure-core fold — the straggler row the 100 TB plan must
    survive (small Arrow batches + salted routing)."""
    doc_id = _find_oversized_doc_id()
    row = doc_to_row(doc_id)
    df = spark.createDataFrame([
        (row["doc_id"], [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]])
    ], INPUT_SCHEMA_DDL)
    cfg = ChunkerConfig(500, 50)
    got = sorted(
        (r.doc_id, r.offset, r.kind, r.text, r.media_ref)
        for r in extract_pipeline(df, JobConfig(chunker=cfg, shuffle_partitions=8)).collect()
    )
    want = sorted(
        (s.doc_id, s.offset, s.kind, s.text, s.media_ref)
        for s in extract_spans(
            row["doc_id"],
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]],
            cfg,
        )
    )
    assert got == want
    assert len(got) > 20  # oversized doc must actually split into many spans


def test_session_native_boundary_semantics(spark):
    """Pin the probed session_window boundary rule: an event EXACTLY gap
    after its predecessor merges; one microsecond past the gap splits."""
    import datetime as dt

    from tei_chunker_spark.operators.relational import events_session_native

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, base, 1.0, "{}"),
        (2, 1, base + dt.timedelta(minutes=30), 1.0, "{}"),          # == gap: merge
        (3, 2, base, 1.0, "{}"),
        (4, 2, base + dt.timedelta(minutes=30, microseconds=1), 1.0, "{}"),  # > gap: split
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double, props string"
    )
    got = {}
    for r in events_session_native(ev).collect():
        got.setdefault(r.user_id, []).append(r)
    assert len(got[1]) == 1 and got[1][0].n_events == 2
    assert got[1][0].session_end == base + dt.timedelta(minutes=60)
    assert len(got[2]) == 2


def test_events_json_stats_counts_malformed_as_null(spark):
    from tei_chunker_spark.operators.relational import events_json_stats

    ev = spark.createDataFrame(
        [
            (1, "click", '{"k": 5}'),
            (2, "click", "not json"),
            (3, "click", '{"other": 1}'),
        ],
        "event_id long, event_type string, props string",
    )
    r = events_json_stats(ev).collect()[0]
    assert (r.n_events, r.n_bad, r.sum_k) == (3, 2, 5)
