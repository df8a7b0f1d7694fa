"""Relational operator coverage: joins (broadcast/anti), aggregations
(hash/rollup), window functions, sessionization, tumbling time windows,
sorts/top-k — the SURVEY.md §2.2 categories our pipeline uses, each with a
DuckDB oracle in __spark_entry__.py.

Plans to expect (and what the 100 TB version keeps):

* dims (nation/region) broadcast — no shuffle on the fact side beyond the
  aggregate's own exchange;
* aggregates do map-side partial aggregation (HashAggregate x2 around one
  Exchange);
* windows shuffle once on the partition key;
* the anti-join resume filter broadcasts the tiny "done" side.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dsum(col, scale: int) -> F.Column:
    """Order-independent rounded sum of a double expression.

    ``round(sum(double), k)`` is a latent flake: distributed partial
    aggregation sums in nondeterministic order, the last ulp wanders, and
    a group whose true sum sits near a rounding boundary flips its k-th
    decimal between runs/engines (observed once at sf0.1 before this
    hardening).  Accumulating in decimal(25,10) is exact and
    order-independent; the per-row double->decimal cast and the final
    decimal->double cast are both deterministic.  DuckDB mirror:
    ``round(cast(sum(cast(x as decimal(25,10))) as double), k)``."""
    return F.round(F.sum(col.cast("decimal(25,10)")).cast("double"), scale)


def csum(col, scale: int, unit: int = 100) -> F.Column:
    """Order-independent money sum via exact integer "cents": the fast
    sibling of :func:`dsum` for high-volume money/quantity aggregates.

    Each row's value is quantized to ``1/unit`` ticks with
    ``floor(x * unit + 0.5)`` — the same engine-portable half-up device as
    quantize.py (identical IEEE ops on both engines; no dependence on
    either dialect's ``round()`` tie-breaking) — then summed as LONGS.
    Long addition is exact and order-independent, so the distributed
    partial-aggregation order can never move the result, and it stays in
    whole-stage-codegen primitive arithmetic: measured 2x faster than the
    decimal(25,10) path on the agg stage (dsum boxes a Decimal per row).

    Semantics: the "ledger" reading — every line amount IS a cents
    amount; totals are exact sums of cents.  For inputs with <= 2 true
    decimal places (quantities, prices) this equals dsum exactly; for
    computed amounts (price * (1-discount)) the per-line quantization is
    at 1/unit instead of dsum's 1e-10.

    Capacity: |group sum| <= 9.2e18 / unit (long max over the tick size)
    — ~9.2e16 "dollars" at unit=100, five orders of magnitude above a
    TPC-H sf100k Q1 group total (~5e15 over 4 groups), and ANSI mode
    makes any breach a loud overflow error, never silent wraparound.
    Use dsum when values can exceed that envelope or need >2dp ticks."""
    return F.round(
        F.sum(F.floor(col * unit + F.lit(0.5)).cast("long")) / float(unit),
        scale,
    )


def revenue_cents(price_col="l_extendedprice", discount_col="l_discount") -> F.Column:
    """Per-row exact-cents revenue: ``floor(price * (1 - discount) * 100
    + 0.5)`` as LONG — csum's half-up quantization device exposed as a
    single-row expression, shared by every TPC-H-shape op that ranks or
    partitions on exact revenue (Q3/Q10/Q14/Q19).  One definition so the
    engine-portability-critical rounding can never drift between ops."""
    return F.floor(
        F.col(price_col) * (1 - F.col(discount_col)) * 100 + F.lit(0.5)
    ).cast("long")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1 shape: filter -> hash aggregate -> sort."""
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            csum(F.col("l_quantity"), 2).alias("sum_qty"),
            csum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            csum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, nation: DataFrame
) -> DataFrame:
    """Fact-to-fact join with a broadcast dim: revenue per customer nation."""
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            csum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def metrics_rollup(documents: DataFrame) -> DataFrame:
    """Grouping-set aggregation: per (lang, source), per lang, grand total."""
    return documents.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def metrics_cube(documents: DataFrame) -> DataFrame:
    """CUBE over (lang, source): all four grouping sets in one pass —
    rollup's superset (adds the per-source margin).  Physically one Expand
    node multiplies each input row into its grouping sets before the hash
    agg, so the cost is (#sets x input), not #sets separate scans."""
    return documents.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def events_type_pivot(events: DataFrame) -> DataFrame:
    """PIVOT: hourly rows, one count column per event type.  The pivot
    VALUES are declared literally — at scale an undeclared pivot forces an
    extra distinct-scan job to discover the column set and makes the
    output schema data-dependent (a downstream-breaking property); the
    declared list keeps it one aggregation pass with a fixed schema."""
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        events.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        # pivot leaves absent (hour, type) cells NULL; a count is 0
        .select(
            "hour",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                for t in types
            ],
        )
    )


def events_type_unpivot(events: DataFrame) -> DataFrame:
    """UNPIVOT (melt): the wide hourly pivot back to long form — one row
    per (hour, type-column).  Narrow per-row transform (an Expand node,
    no shuffle beyond the pivot's own aggregation), the standard bridge
    from a reporting-wide table back into a relational pipeline.  The
    variable column keeps the literal source column names (n_click, …),
    exactly like SQL UNPIVOT."""
    types = ["click", "error", "purchase", "signup", "view"]
    return events_type_pivot(events).unpivot(
        "hour",
        [f"n_{t}" for t in types],
        "event_type",
        "n_events",
    )


def top_docs_per_group(documents: DataFrame, k: int = 3) -> DataFrame:
    """Window top-k: longest documents per language — via the shared
    two-stage salted device (operators/ranking.py), because ``lang`` is
    a LOW-cardinality key (~dozens of values) and a single per-lang
    window would merge one language's k x P survivors on ONE task.  The
    ordering (n_chars desc, doc_id asc) is a total order, so the result
    is bit-identical to the single-window formulation."""
    from .ranking import two_stage_topk

    return two_stage_topk(
        documents,
        part_cols=["lang"],
        order_cols=[F.col("n_chars").desc(), F.col("doc_id").asc()],
        salt_col="doc_id",
        k=k,
        rank_alias="rnk",
    ).select("lang", "doc_id", "n_chars", "rnk")


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type."""
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).alias("sum_value"),
        )
    )


def events_sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Session windows via the lag/cumulative-sum idiom: a new session
    starts when the gap to the previous event of the same user exceeds
    ``gap_seconds``.  One shuffle on user_id."""
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts")).over(order)
    # Integer microsecond arithmetic keeps sub-second precision (DuckDB
    # epoch() parity); unix_timestamp would truncate to whole seconds and
    # mis-bucket sub-second gaps.  NTZ timestamps are cast via TIMESTAMP
    # (session tz is UTC) because NTZ has no direct numeric cast.
    micros = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    new_session = F.when(
        prev_ts.isNull()
        | ((micros(F.col("ts")) - micros(prev_ts)) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    with_ids = events.withColumn(
        "session_seq",
        F.sum(new_session).over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return with_ids.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum(F.col("value"), 6).alias("session_value"),
    )


def events_value_mad_sketch(events: DataFrame, bin_width: float = 0.05) -> DataFrame:
    """MAD per event type from a fixed-width HISTOGRAM SKETCH — the
    high-cardinality-key path the exact UDAF's docstring promises: the only
    state per key is its (bin, count) histogram (bounded by the value range
    / bin_width, independent of row count), built by one map-side-partial
    hash aggregate, so no executor ever holds a group's raw values.

    Approximation contract: every value is represented by its bin midpoint
    ((bin + 0.5) * w), so each order statistic moves by <= w/2 and the
    sketch MAD is within w (= bin_width) of the exact LOWER-median MAD —
    the same convention the sketch uses: the smallest value whose
    cumulative count reaches half (2*cum >= n), deterministic and
    engine-portable (no interpolation, no floating-point accumulation
    ordering: counts are integers, bin arithmetic is identical IEEE ops in
    Spark and DuckDB, which is what makes this sketch ORACLE-ABLE unlike
    percentile_approx).  Against an INTERPOLATED-median MAD (numpy /
    DuckDB mad()) there is an extra data-dependent term of half the gap
    between the two middle order statistics — interpolation conventions
    differ on even counts regardless of binning.
    tests/test_round3_ops.py asserts the w bound against a same-convention
    exact reference.

    Two narrow aggregates + two tiny per-key windows; the second pass runs
    over the histogram (not the data), so total data-side cost is ONE scan.
    """
    w = float(bin_width)
    hist = events.groupBy(
        "event_type", F.floor(F.col("value") / w).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_key = Window.partitionBy("event_type")
    cum_by_bin = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    h = hist.withColumn("n", F.sum("cnt").over(per_key)).withColumn(
        "cum", F.sum("cnt").over(cum_by_bin)
    )
    med = (
        h.filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type", "n")
        .agg(F.min("bin").alias("med_bin"))
        .select(
            "event_type",
            "n",
            ((F.col("med_bin") + 0.5) * w).alias("med"),
        )
    )
    dev = (
        hist.join(med, "event_type")
        .groupBy(
            "event_type",
            "n",
            F.abs((F.col("bin") + 0.5) * w - F.col("med")).alias("dev"),
        )
        .agg(F.sum("cnt").alias("cnt"))
    )
    cum_by_dev = (
        Window.partitionBy("event_type")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = dev.withColumn("cum", F.sum("cnt").over(cum_by_dev))
    return (
        d.filter(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type", "n")
        .agg(F.min("dev").alias("mad_approx"))
        .select(
            "event_type",
            F.round("mad_approx", 6).alias("mad_value"),
            F.col("n").cast("long").alias("n"),
        )
    )


def events_value_mad(events: DataFrame, exact: bool = True) -> DataFrame:
    """Median absolute deviation of value per event type — the UDAF
    surface: Spark has no MAD builtin, so this is a genuine case for a
    vectorized ``pandas_udf`` GROUPED_AGG (Arrow-batched, one call per
    group — never a row-at-a-time udf()).

    Deterministic despite being floating point: medians are order
    statistics (sort-based, interpolated the same way by numpy and
    DuckDB's ``mad``), not order-dependent sums.  At scale the groups
    must fit in one executor's memory per key — correct for low-cardinality
    keys like event_type; ``exact=False`` switches to the bounded-error
    histogram sketch (events_value_mad_sketch) whose per-key state is a
    histogram, never the raw values — the high-cardinality-safe path."""
    if not exact:
        return events_value_mad_sketch(events)
    # Series -> scalar type hints make these GROUPED_AGG.  Under postponed
    # annotations (PEP 563) Spark resolves the hints against the module's
    # globals, hence the module-level pandas import.
    @F.pandas_udf("double")
    def _mad(v: pd.Series) -> float:
        med = v.median()
        return float((v - med).abs().median())

    # Spark disallows mixing pandas and JVM aggregates in one agg(), so
    # the group size comes from a second GROUPED_AGG.
    @F.pandas_udf("long")
    def _n(v: pd.Series) -> int:
        return len(v)

    return events.groupBy("event_type").agg(
        F.round(_mad("value"), 6).alias("mad_value"),
        _n("value").alias("n"),
    )


def events_quantiles(events: DataFrame) -> DataFrame:
    """Exact interpolated percentiles per event type (sort-based agg)."""
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


def revenue_filter_agg(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q6 shape: tight scan-filter-aggregate (predicate pushdown)."""
    return lineitem.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def top_orders_by_revenue(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, k: int = 10
) -> DataFrame:
    """TPC-H Q3 shape: selective join -> aggregate -> deterministic top-k."""
    cutoff = F.lit("1997-06-01").cast("timestamp")
    return (
        lineitem.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff).select(
                "o_orderkey", "o_custkey", "o_orderdate"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(k)
    )


def events_range_join(events: DataFrame, n_windows: int = 24) -> DataFrame:
    """Range join: count events falling inside derived half-open time
    windows (interval table broadcast; the non-equi condition stays a
    BroadcastNestedLoop on a tiny build side — the only sane plan for
    interval joins without an interval index)."""
    bounds = events.agg(
        F.unix_timestamp(F.min("ts")).alias("lo"),
        F.unix_timestamp(F.max("ts")).alias("hi"),
    ).select(
        "lo",
        (F.floor((F.col("hi") - F.col("lo")) / n_windows) + 1).alias("width"),
    )
    windows = bounds.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_windows - 1))).alias("w"),
        "lo",
        "width",
    ).select(
        "w",
        F.timestamp_seconds(F.col("lo") + F.col("w") * F.col("width")).alias("w_start"),
        F.timestamp_seconds(
            F.col("lo") + (F.col("w") + 1) * F.col("width")
        ).alias("w_end"),
    )
    return (
        events.join(
            F.broadcast(windows),
            (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).alias("sum_value"),
        )
    )


def events_interval_overlap(events: DataFrame, n_windows: int = 24) -> DataFrame:
    """Range join, the 100 TB pattern: OVERLAPPING half-open windows
    (length 1.5x the stride, so an event can fall in 1-2 windows) joined
    to events by BUCKETIZATION — each interval explodes to the fixed-width
    buckets it covers, events compute their bucket arithmetically, the
    join is a plain EQUI-join on bucket, and exact containment is a
    post-filter.  ``events_range_join`` keeps the BroadcastNLJ variant
    (right when the interval table is tiny); this one is the shape that
    survives when intervals number in the millions — the NLJ's
    |events| x |intervals| comparisons become |events| + |postings| hash
    probes, shuffled on a key Catalyst can distribute."""
    bounds = events.agg(
        F.unix_timestamp(F.min("ts")).alias("lo"),
        F.unix_timestamp(F.max("ts")).alias("hi"),
    ).select(
        "lo",
        (F.floor((F.col("hi") - F.col("lo")) / n_windows) + 1).alias("width"),
    )
    windows = bounds.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_windows - 1))).alias("w"),
        "lo",
        "width",
    ).select(
        "w",
        (F.col("lo") + F.col("w") * F.col("width")).alias("s"),
        (
            F.col("lo")
            + F.col("w") * F.col("width")
            + F.col("width")
            + F.floor(F.col("width") / 2)
        ).alias("e"),
    )
    # interval -> covered buckets: length 1.5*width spans exactly buckets
    # w and w+1 (half-open end).
    postings = windows.select(
        "w", "s", "e", F.explode(F.sequence(F.col("w"), F.col("w") + 1)).alias("bucket")
    )
    ev = events.crossJoin(F.broadcast(bounds)).select(
        "value",
        F.unix_timestamp(F.col("ts")).alias("ev_s"),
        F.floor((F.unix_timestamp(F.col("ts")) - F.col("lo")) / F.col("width")).alias(
            "bucket"
        ),
    )
    return (
        ev.join(postings, "bucket")
        .filter((F.col("ev_s") >= F.col("s")) & (F.col("ev_s") < F.col("e")))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).alias("sum_value"),
        )
    )


def user_event_paths(events: DataFrame, max_users: int = 500) -> DataFrame:
    """Ordered re-nest: per user, the comma-joined sequence of event types
    in (ts, event_id) order — collect_list + array_sort, the same idiom the
    pipeline uses to re-nest spans into per-document arrays."""
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", F.col("event_type").alias("et")))
        ),
        lambda s: s["et"],
    )
    return (
        events.filter(F.col("user_id") < max_users)
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", seq).alias("event_path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def supplier_census(supplier: DataFrame, nation: DataFrame, region: DataFrame) -> DataFrame:
    """Two broadcast dims + rollup over the region/nation hierarchy."""
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            dsum(F.col("s_acctbal"), 2).alias("total_acctbal"),
        )
    )


def part_type_stats(part: DataFrame) -> DataFrame:
    """Distinct aggregation + conditional aggregation over part."""
    return part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        F.sum(F.when(F.col("p_size") >= 25, 1).otherwise(0)).alias("n_large"),
    )


def hash_split_census(documents: DataFrame) -> DataFrame:
    """Deterministic train/val/test split by first md5 nibble of doc_id —
    the standard leakage-proof way to split a training corpus: membership
    is a pure function of the id (stable across reruns, machines,
    engines; no sampling state to persist), and the 16-way nibble gives
    13/1/2 sixteenths = 81.25% / 6.25% / 12.5%.

    Output: one census row per split (split, n_docs, total_chars) — at
    100 TB the assignment column is added to the corpus with the same
    expression; the census is the cheap audit query over it.  Hash domain
    is md5-of-decimal-string so the DuckDB oracle reproduces it exactly."""
    nib = F.expr(
        "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1"
    )
    split = (
        F.when(nib < 13, F.lit("train"))
        .when(nib < 14, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        documents.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def resume_anti_join(documents: DataFrame) -> DataFrame:
    """Anti-join demo mirroring the manifest resume path: drop documents
    whose id is in the (broadcast) completed set."""
    done = documents.filter(F.col("doc_id") % 10 < 3).select("doc_id")
    return (
        documents.join(F.broadcast(done), "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


def events_robust_zscore(events: DataFrame) -> DataFrame:
    """Per-type robust z-scores ((value - median) / MAD) via GROUPED-MAP
    ``applyInPandas`` — the remaining pandas-UDx surface (grouped map:
    one Arrow batch per group in, N rows out; vs the GROUPED_AGG UDAF in
    events_value_mad which returns one scalar per group).

    Group-at-once is inherent to the statistic (median needs the whole
    group) and fine for low-cardinality event_type; the high-cardinality
    escape hatch is the histogram-sketch family (events_value_mad_sketch).
    Determinism note mirrored by the DuckDB oracle: interpolated medians
    are (a+b)/2 — IEEE-exact — and the final division is correctly
    rounded, so the raw double is cross-engine identical; the display
    rounding happens SPARK-side (HALF_UP, like DuckDB's round) because
    pandas/numpy round is banker's (half-to-even) and would disagree on
    exact .5 boundaries.  MAD-zero groups yield NULL (never a silent drop
    or an ANSI divide error)."""
    import pandas as pd

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        med = pdf["value"].median()
        mad = (pdf["value"] - med).abs().median()
        rz = (pdf["value"] - med) / mad if mad > 0 else None
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "value": pdf["value"],
                "rz": rz,
            }
        )

    return (
        events.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(
            fn, "event_id long, event_type string, value double, rz double"
        )
        .withColumn("rz", F.round("rz", 6))
    )


def events_json_stats(events: DataFrame) -> DataFrame:
    """Typed JSON extraction + aggregation over the semi-structured
    ``props`` column: parse with a SCHEMA (``from_json``, JVM-side Jackson
    inside codegen — never a Python json.loads UDF), then one hash agg.

    At 100 TB the parse cost is the story: from_json with an explicit
    narrow schema materializes only the requested field (no generic JSON
    tree), stays in the scan stage, and malformed rows yield NULL (counted
    here as n_bad) instead of failing the job — the PERMISSIVE-mode
    contract a web-scale pipeline needs for dirty data."""
    k = F.from_json(F.col("props"), "k bigint").getField("k")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("k").isNull().cast("long")).alias("n_bad"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def events_variant_hist(events: DataFrame) -> DataFrame:
    """Histogram of props.k deciles through the VARIANT type (Spark 4):
    ``parse_json`` materializes the open-schema binary variant encoding
    once, ``variant_get`` then extracts typed paths WITHOUT re-parsing
    the JSON text per access — the right shape when several fields of a
    big semi-structured column are touched (from_json-with-schema, as in
    events_json_stats, remains right when the field set is known and
    narrow).  Typed-path misses and malformed documents surface as NULL
    (bucketed separately here, never dropped)."""
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select(
            F.floor(k / 10).cast("long").alias("k_bucket"), "user_id"
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def events_session_native(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session aggregation via Spark's NATIVE session_window operator —
    the built-in counterpart of the lag/cumsum idiom in
    ``events_sessionize`` (kept: its session ids are stable, and it is the
    shape engines without session_window must use).

    Boundary semantics (probed empirically, not assumed): an event
    EXACTLY ``gap`` after its predecessor still merges — the split rule is
    strictly-greater-than, identical to the lag/cumsum idiom's — and
    window.end is last_ts + gap, not max(ts).  One shuffle on user_id,
    same as the manual idiom; in STREAMING mode this same expression gets
    incremental state merging for free."""
    w = F.session_window(F.col("ts"), gap)
    return (
        events.groupBy("user_id", w.alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 6).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def revenue_grouping_sets(orders: DataFrame) -> DataFrame:
    """GROUPING SETS aggregation (SURVEY.md §2.2 aggregation row:
    rollup/cube's general form): order revenue by (year, priority) with
    explicit subtotal sets ((year, priority), (year), (priority), ()) —
    the shape rollup/cube cannot express (rollup omits (priority),
    cube adds nothing here but computes all four anyway).
    ``grouping_id`` disambiguates real NULL group keys from subtotal
    rows, the standard trap with grouped NULLs.

    Shape at 100 TB: one Expand (4 replicas of the narrow projection) +
    one partial-aggregated hash agg — the same linear plan as rollup;
    no joins, no windows."""
    year = F.year("o_orderdate").cast("int").alias("o_year")
    return (
        orders.groupingSets(
            [["o_year", "o_orderpriority"], ["o_year"], ["o_orderpriority"], []],
            year,
            F.col("o_orderpriority"),
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            dsum(F.col("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select("o_year", "o_orderpriority", "gid", "revenue", "n_orders")
    )


def doc_length_deciles(
    documents: DataFrame,
    k: int = 10,
    broadcast_census: bool = True,
    n_salt_nibbles: int = 2,
) -> DataFrame:
    """Per-language document-length decile summary: ntile(``k``) over
    (n_tokens) within each language, reported as (lang, decile,
    n_docs, min_tokens, max_tokens) — the length-distribution table a
    curation job reads before choosing truncation/packing budgets.

    Scale story — a bare ``ntile().over(partitionBy(lang))`` is the
    low-cardinality-key trap this engine refuses everywhere (one
    language = one task over its whole corpus slice).  Instead the rank
    is decomposed exactly like seq_pack's prefix sum: (1) a (lang,
    n_tokens, salt) histogram census — hash agg, bounded by n_langs x
    distinct lengths x 16^n_salt_nibbles OCCUPIED cells, orders of
    magnitude smaller than the corpus; (2) exclusive cumulative counts
    over the census (the only per-lang ordered window, over the census);
    (3) per-(lang, n_tokens, salt) row_number over the data; rank =
    census prefix + in-cell row_number, and ntile's bucket is then a
    closed-form function of (rank, n): the first n % k buckets get
    n div k + 1 rows, the rest n div k (the standard SQL ntile
    definition, which the DuckDB oracle's native ntile re-derives
    independently).  The final rollup is a hash agg on (lang, decile).

    The salt is the first ``n_salt_nibbles`` of md5(doc_id) — it splits
    LENGTH-TIE groups, so a degenerate fixed-length corpus (exactly what
    boilerplate/dedup outputs produce) no longer collapses the tie
    window into one task (round-5 verdict item 6): the largest window
    partition is tie_size / 16^n_salt_nibbles.  Ranks are assigned in
    (n_tokens, salt, md5, doc_id) order — a different tie-break than
    native ntile's (n_tokens, doc_id), which is invisible in the output:
    every member of a tie group has the same (lang, n_tokens), so any
    bijective in-tie ranking yields the identical census.

    NULL langs are first-class: the census joins are null-safe (``<=>``),
    so a NULL-lang slice gets its own deciles exactly as native
    ntile-partition-by would (round-5 advisory — inner equi-joins were
    silently dropping them).

    ``broadcast_census``: the census typically broadcasts; for corpora
    where (lengths x salt) cells explode set False and the attach
    becomes an ordinary shuffled join on the well-distributed
    (lang, n_tokens, salt) key (same escape hatch as
    contamination_stats' broadcast_eval)."""
    from ..functions.columns import token_count

    nn = int(n_salt_nibbles)
    if not 1 <= nn <= 7:
        raise ValueError(f"n_salt_nibbles must be in 1..7, got {nn}")
    docs = documents.select(
        "doc_id",
        "lang",
        F.expr("md5(cast(doc_id as string))").alias("_h"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).withColumn(
        "_sb", F.expr(f"cast(conv(substring(_h, 1, {nn}), 16, 10) as int)")
    )
    hist = docs.groupBy("lang", "n_tokens", "_sb").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_census = (
        Window.partitionBy("lang")
        .orderBy("n_tokens", "_sb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    census = hist.select(
        F.col("lang").alias("_cl"),
        F.col("n_tokens").alias("_cn"),
        F.col("_sb").alias("_cb"),
        F.coalesce(F.sum("_c").over(w_census), F.lit(0).cast("long")).alias(
            "_before"
        ),
    )
    # per-lang totals come from the HISTOGRAM, not a second corpus agg —
    # the corpus is scanned exactly twice (histogram + ranked data side)
    totals = hist.groupBy("lang").agg(F.sum("_c").alias("_n")).select(
        F.col("lang").alias("_tl"), "_n"
    )
    w_tie = Window.partitionBy("lang", "n_tokens", "_sb").orderBy(
        "_h", "doc_id"
    )
    kk = int(k)
    # ntile(k) closed form: q = n div k rows per bucket, the first
    # m = n % k buckets hold q + 1.  greatest(q, 1) only guards the
    # never-taken CASE branch when n < k (ANSI mode would still reject a
    # literal div 0 at that spot if an engine evaluated it eagerly).
    bucket = F.expr(
        f"case when _r <= (_n % {kk}) * ((_n div {kk}) + 1) "
        f"then (_r - 1) div ((_n div {kk}) + 1) + 1 "
        f"else (_n % {kk}) + (_r - 1 - (_n % {kk}) * ((_n div {kk}) + 1)) "
        f"div greatest(_n div {kk}, 1) + 1 end"
    )
    maybe_bc = F.broadcast if broadcast_census else (lambda df: df)
    ranked = (
        docs.withColumn("_rn", F.row_number().over(w_tie))
        .join(
            maybe_bc(census),
            F.col("lang").eqNullSafe(F.col("_cl"))
            & (F.col("n_tokens") == F.col("_cn"))
            & (F.col("_sb") == F.col("_cb")),
        )
        .join(maybe_bc(totals), F.col("lang").eqNullSafe(F.col("_tl")))
        .withColumn("_r", F.col("_before") + F.col("_rn"))
        .withColumn("decile", bucket.cast("int"))
    )
    return ranked.groupBy("lang", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """CDC-style snapshot reconciliation: compare two corpus snapshots
    keyed by doc_id and report per-source counts of added / removed /
    changed / unchanged documents — the table a daily-ingest job emits
    before deciding whether a delta is sane to publish.  "Changed" is
    md5(text) inequality; source is taken from whichever side has the
    row (new wins for changed rows).

    Shape at 100 TB: one full outer shuffle join on the unique doc_id
    key (uniform, no skew) over narrow (doc_id, md5, source)
    projections — the text column is hashed in the scan stage and never
    shuffled; the census is one hash agg on (source, status)."""
    o = old.select(
        "doc_id", F.md5("text").alias("_oh"), F.col("source").alias("_os")
    )
    n = new.select(
        "doc_id", F.md5("text").alias("_nh"), F.col("source").alias("_ns")
    )
    joined = o.join(n, "doc_id", "full_outer").select(
        F.coalesce("_ns", "_os").alias("source"),
        F.when(F.col("_oh").isNull(), F.lit("added"))
        .when(F.col("_nh").isNull(), F.lit("removed"))
        .when(F.col("_oh") != F.col("_nh"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return joined.groupBy("source", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


def merge_upsert(base: DataFrame, changes: DataFrame) -> DataFrame:
    """MERGE INTO semantics as a batch operator: apply a change feed
    ``(doc_id, op, text, source)`` with op in {'upsert', 'delete'} to a
    base table — matched upserts update, unmatched upserts insert,
    deletes remove, everything else carries forward unchanged.  This is
    the engine-level kernel a lakehouse MERGE compiles to (the Iceberg
    writeTo path is jar-gated in this sandbox; the join shape is what
    survives to a real cluster).  Exactly one change per key (the SQL
    MERGE cardinality rule) — violations raise instead of producing a
    nondeterministic result, matching MERGE's runtime error.

    Shape at 100 TB: ONE full-outer shuffle join on the unique doc_id
    key; both sides project narrow columns; the output is
    copy-on-write's logical result, ready for an overwrite or a
    partition-level replace.  The cardinality check is one aggregate on
    the (small) change feed."""
    # One validation pass over the (small) change feed: the MERGE
    # cardinality rule AND the op domain.  An out-of-domain op (e.g.
    # 'update', 'Upsert', NULL) would otherwise fall through the merge
    # filter and silently DELETE the matched base row — data loss, not
    # carry-forward (round-5 advisory).
    checks = (
        changes.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("op").isin("upsert", "delete"), 0).otherwise(1)
            ).alias("_bad_op"),
        )
        .agg(
            F.max("_n").alias("_max_n"),
            F.sum("_bad_op").alias("_n_bad_op"),
        )
        .first()
    )
    if checks["_max_n"] is not None and checks["_max_n"] > 1:
        raise ValueError(
            "merge_upsert: multiple change rows for one doc_id — MERGE "
            "cardinality violation; deduplicate the change feed first"
        )
    if checks["_n_bad_op"]:
        raise ValueError(
            "merge_upsert: change feed contains op values outside "
            "{'upsert', 'delete'} (ops are case-sensitive; NULL is "
            "invalid) — fix the feed instead of silently dropping rows"
        )
    b = base.select(
        "doc_id",
        F.col("text").alias("_bt"),
        F.col("source").alias("_bs"),
        F.lit(True).alias("_bex"),  # presence flag: _bt may be NULL
    )
    c = changes.select(
        "doc_id",
        F.col("op").alias("_op"),
        F.col("text").alias("_ct"),
        F.col("source").alias("_cs"),
    )
    merged = (
        b.join(c, "doc_id", "full_outer")
        # delete rows vanish; unmatched-delete is a no-op (SQL MERGE:
        # WHEN NOT MATCHED AND op = 'delete' has no applicable clause)
        .filter(
            (F.col("_op").isNull() & F.col("_bex").isNotNull())
            | (F.col("_op") == "upsert")
        )
        .select(
            "doc_id",
            F.coalesce("_ct", "_bt").alias("text"),
            F.coalesce("_cs", "_bs").alias("source"),
        )
    )
    return merged


def rollup_merge(base_rollup: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental view maintenance for the per-(lang, source) corpus
    rollup: merge a delta batch's PARTIAL aggregates into a maintained
    rollup table instead of recomputing the corpus — the kernel behind
    keeping a 100 TB corpus census fresh under daily ingest.  The
    maintained aggregates are chosen to be mergeable (count, sum — the
    classic algebraic aggregates): merged = group-sum of the union.
    Derived values (mean length) are recomputed FROM the merged sums,
    never averaged across batches (averaging averages is the textbook
    IVM bug).

    Output/maintained schema: (lang, source, n_docs, n_chars_sum,
    mean_chars).  Identity: rollup_merge(rollup(A), B) == rollup(A ∪ B)
    — pinned by test and by the oracle, which recomputes from scratch.

    Shape at 100 TB: the delta aggregates with map-side partials
    (delta-sized work), then ONE hash agg over
    |rollup| + |delta groups| rows — corpus-size-independent."""
    d = delta.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("n_chars_sum"),
    )
    merged = (
        base_rollup.select("lang", "source", "n_docs", "n_chars_sum")
        .unionByName(d)
        .groupBy("lang", "source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_chars_sum").cast("long").alias("n_chars_sum"),
        )
    )
    return merged.select(
        "lang",
        "source",
        "n_docs",
        "n_chars_sum",
        F.round(F.col("n_chars_sum") / F.col("n_docs"), 6).alias("mean_chars"),
    )


def corpus_rollup(documents: DataFrame) -> DataFrame:
    """The maintained rollup's from-scratch definition (rollup_merge's
    identity partner): per-(lang, source) doc count, char sum, mean."""
    return (
        documents.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("n_chars_sum"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_chars_sum",
            F.round(F.col("n_chars_sum") / F.col("n_docs"), 6).alias(
                "mean_chars"
            ),
        )
    )


def events_funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered-funnel analysis: per user, the earliest strictly-increasing
    completion times of the step sequence (t2 is the first step-2 event
    AFTER t1, etc. — the standard product-analytics funnel, not mere
    set-membership).  Output one row per user who reached step 1:
    (user_id, t1..tN, depth).

    Shape at scale: step k is a filtered scan of the step's events
    equi-joined to the step-(k-1) survivors on user_id, then a hash agg
    min — each stage's state is one row per surviving user (map-side
    partial min), the join key is the natural user partitioning, and
    depth-k tables only ever shrink.  No per-user ordered window, no
    collect_list of event history."""
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    cur = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col("event_type") == step)
            .join(cur, "user_id")
            .filter(F.col("ts") > F.col(f"t{k - 1}"))
            .groupBy("user_id", *[f"t{i}" for i in range(1, k)])
            .agg(F.min("ts").alias(f"t{k}"))
        )
        cur = cur.join(
            nxt.select("user_id", f"t{k}"), "user_id", "left"
        )
    depth = F.lit(1)
    for k in range(2, len(steps) + 1):
        depth = depth + F.col(f"t{k}").isNotNull().cast("int")
    return cur.select(
        "user_id",
        *[f"t{k}" for k in range(1, len(steps) + 1)],
        depth.cast("int").alias("depth"),
    )


def events_retention(events: DataFrame) -> DataFrame:
    """Weekly cohort retention: users cohorted by the ISO week of their
    first event; for each (cohort_week, week_offset) the number of
    cohort members active that week and the retention ratio.

    Cross-engine date discipline: cohort/activity weeks via
    ``date_trunc('week', ts)`` (Monday convention in BOTH Spark and
    DuckDB); the offset is integer epoch-seconds difference div 604800 —
    never datediff('week', …), whose boundary semantics are
    engine-defined.

    Shape at scale: first-seen is one hash agg over the event stream
    (map-side partial min); activity is a distinct on (user, week) — an
    agg, not a window; the cohort join is user-keyed; the final census
    is a hash agg on (cohort_week, offset).  All linear, all partial-agg
    friendly."""
    first = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        events.select("user_id", F.date_trunc("week", "ts").alias("w"))
        .distinct()
    )
    cohort_size = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        activity.join(first, "user_id")
        .select(
            "cohort_week",
            F.expr(
                "(cast(unix_timestamp(w) as bigint)"
                " - cast(unix_timestamp(cohort_week) as bigint)) div 604800"
            ).alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return cells.join(cohort_size, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


def events_hopping_census(
    events: DataFrame, width_seconds: int = 600, slide_seconds: int = 300
) -> DataFrame:
    """Batch HOPPING-window census: per (window_start, event_type), the
    event count and exact decimal value sum, with windows of
    ``width_seconds`` sliding every ``slide_seconds`` — each event lands
    in width/slide overlapping windows, filling the overlapping-window
    slot in the aggregation inventory.

    Implemented by the arithmetic fan-out Spark's own ``window()`` uses
    internally — explode the (width div slide) window starts each event
    covers, then ONE hash aggregation — but with integer epoch-second
    arithmetic end to end instead of the builtin's struct column, so the
    DuckDB oracle reproduces boundaries exactly (floor-div on
    NON-NEGATIVE epoch seconds only; events predate 1970 would need the
    div-vs-truncation care seq_pack documents).  The fan-out factor is
    the constant width/slide: linear work, map-side partials, no window
    functions at all."""
    if width_seconds % slide_seconds != 0:
        raise ValueError("width_seconds must be a multiple of slide_seconds")
    n_hops = width_seconds // slide_seconds
    # floor(cast(ts as double)) == DuckDB floor(epoch(ts)) EXACTLY —
    # unix_timestamp truncates the fractional second toward zero, so a
    # pre-1970 event at -0.5s would read 0 here but -1 in the oracle
    e = events.select(
        "event_type",
        F.col("value").cast("decimal(25,10)").alias("v"),
        F.expr(
            # inner cast: parquet NTZ -> session-tz timestamp (UTC session ==
            # DuckDB naive epoch); NTZ cannot cast to double directly
            "cast(floor(cast(cast(ts as timestamp) as double)) as bigint)"
        ).alias("es"),
    ).filter(F.col("es") >= 0)
    hopped = e.select(
        "event_type",
        "v",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_hops - 1}),"
                f" i -> ((es div {slide_seconds}) - i) * {slide_seconds})"
            )
        ).alias("ws"),
    )
    # an event belongs to window [ws, ws+width): the construction
    # guarantees ws <= es; drop the starts where es >= ws + width is
    # impossible by construction, so no post-filter is needed — but keep
    # ws >= 0 so the first partial windows match the oracle's domain
    out = (
        hopped.filter(F.col("ws") >= 0)
        .groupBy("ws", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("v").cast("double"), 6).alias("value_sum"),
        )
    )
    return out.select(
        F.timestamp_seconds(F.col("ws")).alias("window_start"),
        "event_type",
        "n_events",
        "value_sum",
    )


def events_gap_fill(events: DataFrame, step_seconds: int = 3600) -> DataFrame:
    """Regular-grid gap filling: per user, generate the complete
    ``step_seconds`` period spine from their first to last event and fill
    the empty periods — count 0, value carried forward from the last
    non-empty period (NULL before the first).  The standard time-series
    densification every monitoring/feature pipeline needs before
    resampling or diffing; the as-of family fills against ANOTHER table,
    this fills a series against its own grid.

    Scale shape: the per-period aggregation is one hash agg; the spine is
    an arithmetic ``sequence`` per user (rows bounded by time-range /
    step, independent of event volume); the only window is the per-user
    carry-forward, partition bounded by the user's period count.  Period
    ids are integer epoch-div products — floor(epoch) on both engines
    (see events_hopping_census for the cast-vs-floor trap)."""
    step = int(step_seconds)
    # floor-epoch (not unix_timestamp): see events_hopping_census
    e = events.select(
        "user_id",
        F.expr(
            f"(cast(floor(cast(cast(ts as timestamp) as double)) as bigint)"
            f" div {step})"
        ).alias("p"),
        F.col("value").cast("decimal(25,10)").alias("v"),
    )
    per = e.groupBy("user_id", "p").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("v").cast("double"), 6).alias("value_sum"),
    )
    spine = (
        e.groupBy("user_id")
        .agg(F.min("p").alias("lo"), F.max("p").alias("hi"))
        .select("user_id", F.explode(F.expr("sequence(lo, hi)")).alias("p"))
    )
    joined = spine.join(per, ["user_id", "p"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        F.timestamp_seconds(F.col("p") * step).alias("period"),
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        "value_sum",
        F.last("value_sum", ignorenulls=True).over(w).alias("filled_value"),
        F.col("n_events").isNull().cast("int").alias("is_gap"),
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    k: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): the selective three-way join —
    segment-filtered customers ⋈ orders placed before the cutoff ⋈ line
    items shipped after it — aggregated to per-order revenue, top-k by
    (revenue desc, orderdate asc, orderkey asc).

    Scale notes: both date filters and the segment filter push into the
    parquet scans (each side shrinks BEFORE the joins); the customer side
    reduces to a filtered key set driving a join on o_custkey; revenue
    uses the exact integer-cents accumulator (csum) so the sort key can
    never wobble across partial-agg orders; the final top-k is
    TakeOrderedAndProject, never a full sort.  The float revenue is
    deterministic, but ranking on a rounded double invites cross-engine
    tie surprises — so the ORDER BY key is the exact cents LONG, with
    the rounded display column alongside (same device as bm25)."""
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    per_order = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(revenue_cents()).alias("revenue_cents")
        )
    )
    return (
        per_order.orderBy(
            F.col("revenue_cents").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(k)
        .select(
            "l_orderkey",
            "o_orderdate",
            "revenue_cents",
            F.round(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
        )
    )


def returned_item_revenue(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    nation: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue): customers ranked by the
    revenue they returned (l_returnflag = 'R') in a quarter, with their
    nation — the four-table join pattern: two fact joins + one broadcast
    dim, filters pushed to every scan.

    Same exact-cents rank key discipline as shipping_priority; the
    customer attributes ride THROUGH the aggregation as group keys (they
    are functionally dependent on c_custkey, and grouping by the full
    tuple lets the hash agg keep map-side partials — re-joining customer
    after the agg would be a second shuffle of the big side)."""
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit(date_lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(date_hi).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    per_cust = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            customer.select("c_custkey", "c_name", "c_acctbal", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(revenue_cents()).alias("revenue_cents")
        )
    )
    return (
        per_cust.orderBy(F.col("revenue_cents").desc(), F.col("c_custkey"))
        .limit(k)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
            "revenue_cents",
            F.round(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
        )
    )


def promo_revenue_share(
    lineitem: DataFrame,
    part: DataFrame,
    date_lo: str = "1996-01-01",
    date_hi: str = "1996-02-01",
) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): the share of one month's
    revenue from PROMO-type parts — a fact⋈broadcast-dim join with a
    conditional aggregate, reduced to ONE output row.

    Exactness discipline: both the promo and total revenues accumulate as
    integer cents (order-independent LONG sums); only the final single
    percentage is a double division of two exact integers — one IEEE op,
    bit-identical cross-engine, then rounded for display."""
    cents = revenue_cents()
    j = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit(date_lo).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(date_hi).cast("timestamp"))
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(0)).alias(
            "promo_cents"
        ),
        F.sum(cents).alias("total_cents"),
    ).select(
        "promo_cents",
        "total_cents",
        F.round(
            F.lit(100.0) * F.col("promo_cents") / F.col("total_cents"), 6
        ).alias("promo_revenue_pct"),
    )


def brand_size_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): revenue from line
    items matching an OR-of-ANDs over part attributes and line quantity —
    the query planners historically mangled (the disjunction straddles
    both join sides, so naive planners evaluated it post-join on the full
    fact table).

    The scale-correct decomposition: the quantity disjunction's UNION
    bound (l_quantity in [1, 35] — the hull of both branch ranges) is
    hoisted to the lineitem scan as a pushable conjunct, the dim side
    pre-filters to rows satisfying ANY branch's part-conjuncts before
    broadcasting, and the residual disjunction evaluates on the joined
    (already shrunk) rows.  Output is one exact-cents row per branch
    plus the total."""
    part_f = part.select("p_partkey", "p_brand", "p_size").filter(
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 15))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 30))
    )
    cents = revenue_cents()
    j = (
        lineitem.select(
            "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
        )
        # hull of the branch quantity ranges — pushed to the scan
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 35))
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
    )
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size") <= 15)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size") <= 30)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 35)
    )
    matched = j.filter(b1 | b2)
    return matched.agg(
        F.sum(F.when(b1, cents).otherwise(0)).alias("branch1_cents"),
        F.sum(F.when(b2, cents).otherwise(0)).alias("branch2_cents"),
        F.sum(cents).alias("total_cents"),
        F.count(F.lit(1)).alias("n_items"),
    )
