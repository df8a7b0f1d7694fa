"""Table registry over the driver-provided parquet test data.

``load(spark, sf_dir, name)`` is the single entry point used by queries,
tests, and bench; on a cluster the same names resolve through the Iceberg
catalog instead (format chosen by JobConfig.input_format).
"""
from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Schema memo (r7, guide §1.2 "per-task work" at the driver): a bare
# ``spark.read.parquet(path)`` re-infers the schema from file footers on
# EVERY DataFrame construction (~70 ms each here; a catalog/Iceberg table
# reads its schema from the metastore instead and never pays this).  The
# memo caches the inferred StructType per resolved path — metadata only,
# never data or results — so repeated query constructions over the same
# immutable input skip the footer sniff exactly like a catalog table
# would.  Keyed by absolute path; the test corpora are read-only.
_SCHEMA_MEMO: dict[str, StructType] = {}

# widen_small gate: inputs estimated above this are left to the scan's
# own file splits (a repartition would move real bytes for parallelism
# the splits already provide).  Below it, the shuffle is negligible next
# to the per-row compute it parallelizes.
_WIDEN_CAP_BYTES = int(os.environ.get("TEI_WIDEN_CAP_BYTES", str(256 << 20)))

# Row floor for widen="auto" (r7): tables whose per-row compute is CHEAP
# relative to an exchange (one tokenize pass feeding an aggregate —
# bm25, top-terms, vocab census) measurably LOSE from widening at the
# fixture row counts (the extra exchange costs more than the single-core
# scan it parallelizes), but re-hit the one-row-group serialization as
# soon as the same single-file table carries ~10x the rows.  Byte size is
# a poor proxy here — the fixture corpora dictionary-compress ~100:1 —
# so the gate reads the parquet footer ROW COUNT (metadata only,
# memoized like the schema).  Below the floor: leave the scan narrow
# (measured faster).  Above it: widen (single-core tokenize grows
# linearly with rows while the round-robin shuffle stays bytes-cheap).
# Calibrated on single-row-group corpora of 5k/50k/500k rows (r7 A/B:
# bm25_topk 0.81/1.44/12.6 narrow vs 0.93/1.67/6.2 widened,
# doc_top_terms 0.94/3.3/28.4 vs 1.21/1.70/6.9): crossover sits between
# 20k and 100k rows, so 30k keeps the known-loss regime narrow and
# captures the 2-4x wins above it.
_WIDEN_MIN_ROWS = int(os.environ.get("TEI_WIDEN_MIN_ROWS", str(30_000)))
_ROWS_MEMO: dict[str, int] = {}


def table_size(sf_dir: str, name: str) -> int:
    """On-disk bytes of a registry table (0 when unknown) — the widen
    gate's size hint for frames DERIVED from a table (unions/filters),
    where the derived plan's stats are less direct than the file size."""
    try:
        return os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
    except OSError:
        return 0


def table_rows(sf_dir: str, name: str) -> int:
    """Footer row count of a registry table (0 when unknown) — metadata
    only, memoized; the widen="auto" gate's compute-volume proxy.  A
    failed read warns and is not memoized, so the next call retries."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    n = _ROWS_MEMO.get(path)
    if n is None:
        try:
            import pyarrow.parquet as pq

            n = _ROWS_MEMO[path] = pq.ParquetFile(path).metadata.num_rows
        except Exception as e:  # a size hint: never fail the query over it
            warnings.warn(
                f"footer row count of {path} unreadable ({e!r}); "
                'widen="auto" leaves this scan narrow',
                RuntimeWarning,
            )
            n = 0
    return n


def widen_small(
    df: DataFrame, size_bytes: int, rows: int | None = None
) -> DataFrame:
    """Scale-adaptive scan fan-out (guide §2.5 "input skew": one small /
    unsplittable file caps stage parallelism at its row-group count).
    The driver test tables are single-row-group parquet files, so every
    scan stage — and all the per-row compute fused into it — runs as ONE
    task regardless of cluster size.  For inputs small enough that the
    round-robin shuffle is negligible (<= _WIDEN_CAP_BYTES, default
    256 MB), repartition to cluster parallelism; for anything larger the
    scan's own splits provide parallelism and this is a no-op.  With a
    ``rows`` hint the fan-out additionally declines below
    _WIDEN_MIN_ROWS — the regime where the exchange costs more than the
    narrow compute it would parallelize (measured; see gate comment).
    Row-set semantics are unchanged — only physical placement moves."""
    if size_bytes <= 0 or size_bytes > _WIDEN_CAP_BYTES:
        return df
    if rows is not None and rows < _WIDEN_MIN_ROWS:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | str = False
) -> DataFrame:
    """``widen=True``: fan the scan out whenever the file is under the
    byte cap.  ``widen="auto"``: additionally require the footer row
    count to clear _WIDEN_MIN_ROWS — for cheap-per-row consumers where
    the exchange only pays for itself once the table is large.  Any
    other ``widen`` raises ValueError."""
    if widen is not False and widen is not True and widen != "auto":
        raise ValueError(f'widen must be False, True or "auto", not {widen!r}')
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMA_MEMO.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if widen:
        try:
            size = os.path.getsize(path)
        except OSError:
            size = 0
        rows = table_rows(sf_dir, name) if widen == "auto" else None
        df = widen_small(df, size, rows=rows)
    return df


def save_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a BUCKETED (and optionally per-bucket sorted)
    data-source table: ``bucketBy(n, key)`` writes each task's rows into
    hash(key)-addressed files and records the layout in the catalog, so
    downstream equi-joins and aggregations on ``key`` between tables
    bucketed the same way need NO shuffle — the co-location was paid once
    at write time.  This is the parquet-native analogue of the Iceberg
    ``bucket(P, doc_id)`` layout the extraction pipeline elides its
    shuffle on (scripts/iceberg_e2e.py), and the standard device for a
    fact table that will be joined on the same key by many queries at
    100 TB.  ``sortBy`` additionally orders rows inside each bucket file,
    letting a sort-merge join skip its per-partition sort when each
    bucket holds one file.

    Plain ``path``-based parquet cannot carry bucket metadata — the
    catalog table is what makes the layout visible to the planner —
    hence saveAsTable with an explicit external-table path."""
    writer = df.write.bucketBy(n_buckets, key)
    if sort:
        writer = writer.sortBy(key)
    writer.option("path", path).mode("overwrite").format("parquet").saveAsTable(
        table
    )
