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

# The scan-spread rule (r7, guide §2.5 "input skew"): the driver test
# tables are single-row-group parquet files, so every scan stage, and all
# the per-row compute fused into it, runs as ONE task regardless of
# cluster size.  ``spread_scan`` is the rule's only home.
#
# Byte cap: inputs above it are left to the scan's own file splits (a
# repartition would move real bytes for parallelism the splits already
# provide).  Below it, the shuffle is negligible next to the per-row
# compute it parallelizes.
_WIDEN_CAP_BYTES = 256 << 20

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
_WIDEN_MIN_ROWS = 30_000
_ROWS_MEMO: dict[str, int] = {}


def _footer_rows(path: str) -> int:
    """Footer row count of a parquet file (0 when unreadable) — metadata
    only, memoized.  A failed read warns and is not memoized, so the next
    call retries."""
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


def spread_scan(
    df: DataFrame, sf_dir: str, name: str, widen: bool | str
) -> DataFrame:
    """Fan a frame read from registry table ``name`` out to cluster
    parallelism, or return it unchanged.

    ``widen=False``: unchanged.  ``widen=True``: round-robin repartition
    to ``defaultParallelism`` whenever the table's file is non-empty and
    at most _WIDEN_CAP_BYTES.  ``widen="auto"``: additionally require its
    footer row count to reach _WIDEN_MIN_ROWS — for cheap-per-row
    consumers where the exchange only pays for itself once the table is
    large.  Any other ``widen`` raises ValueError.  ``df`` may be derived
    from the table (a union, a filter): the file is the size hint either
    way.  Row-set semantics are unchanged — only physical placement
    moves."""
    if widen is not False and widen is not True and widen != "auto":
        raise ValueError(f'widen must be False, True or "auto", not {widen!r}')
    if not widen:
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        size = os.path.getsize(path)
    except OSError:
        size = 0
    if size <= 0 or size > _WIDEN_CAP_BYTES:
        return df
    if widen == "auto" and _footer_rows(path) < _WIDEN_MIN_ROWS:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def load(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | str = False
) -> DataFrame:
    """Registry table ``name`` of ``sf_dir``, spread across cores as
    ``widen`` asks (see :func:`spread_scan`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _SCHEMA_MEMO.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    return spread_scan(df, sf_dir, name, widen)
