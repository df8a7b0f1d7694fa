"""The two materialization devices every operator uses.

``barrier(df)`` cuts a DataFrame's lineage so that several consumers
share one computation of it (a posting table read by both sides of a
self-join, a keep-table counted and joined, an iterative loop's state).
``materialized(expr, alias)`` makes one row-level expression evaluate once
per row instead of once per downstream reference.

Higher-order Catalyst expressions (transform, aggregate, filter over an
array) are interpreted, not codegen'd, and projection collapsing inlines
an aliased expression into every reference to it: a ``split`` read by
``size`` and n ``element_at`` calls re-splits the text n+1 times, and a
filter on a projected score is pushed below the projection and evaluates
the score twice.  A generator is a boundary the optimizer cannot inline
through, so the single-element ``explode(array(expr))`` pins ``expr`` to
one evaluation per row (measured: a 5k-row band join took 38 s with the
split re-inlined per probe and under 1 s behind the generator; the
trigram operators at sf0.1 went from 10-30 s to 1-2 s).
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def barrier(df: DataFrame) -> DataFrame:
    """``df`` with its lineage cut: a lazy local checkpoint.

    * Lazy: the blocks are written inside the first action that reads
      the result, and every later reference reads them instead of
      replaying the plan above.  A plan without a shuffle starts no job
      here.  Under adaptive execution a plan WITH shuffles runs the map
      stage of each one (one job per stage) at this call, because the
      adaptive plan's RDD exists only once its query stages have run;
      only the final stage waits for the first action.
    * A local checkpoint, not ``persist``: its RDD blocks belong to the
      ContextCleaner and are freed once the result is garbage-collected,
      whereas a persisted Dataset stays in the CacheManager until an
      explicit ``unpersist`` and leaks across a long session.
    * Executor loss: the blocks live only on the executor that wrote
      them and the lineage above them is gone, so losing that executor
      fails the query instead of recomputing.  Reliable checkpointing
      (or a table write) survives it, at the cost of a write to shared
      storage; changing that policy means changing this one function.
    """
    return df.localCheckpoint(eager=False)


def materialized(expr: Column, alias: str) -> Column:
    """``expr`` as column ``alias``, evaluated once per row: a
    single-element generator (see the module note) that no downstream
    reference can inline."""
    return F.explode(F.array(expr)).alias(alias)
