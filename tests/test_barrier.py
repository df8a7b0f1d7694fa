"""The materialization devices live in one place (plans/barrier.py):
``barrier`` cuts lineage and leaves the final stage to the first action,
every checkpoint and every single-element generator barrier in the
package goes through it, and the token table is split once per document.
"""
from __future__ import annotations

import ast
import contextlib
import pathlib

from tei_chunker_spark.operators.corpusops import source_stats
from tei_chunker_spark.plans.barrier import barrier
from tei_chunker_spark.plans.explain import executed_plan

PKG = pathlib.Path(__file__).resolve().parent.parent / "tei_chunker_spark"
BARRIER_MODULE = PKG / "plans" / "barrier.py"


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path, path.read_text(encoding="utf-8")


def _attr_name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


@contextlib.contextmanager
def _job_ids(spark, group):
    """Yields a function returning the ids of the jobs this thread has
    started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_barrier_starts_no_job_and_cuts_lineage(spark):
    df = spark.range(100).selectExpr("id", "id % 7 AS k", "md5(cast(id AS string)) AS h")
    with _job_ids(spark, "test-barrier-lazy") as job_ids:
        out = barrier(df)
        assert job_ids() == []
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.lstrip().startswith("LogicalRDD"), plan
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, df.collect()))
        # control: the same tracker does see the first action's job
        assert job_ids()


def test_barrier_over_a_shuffle_runs_its_map_stage_at_call(spark):
    """Under adaptive execution only the final stage is lazy: the map
    stage of each shuffle runs when the barrier is built."""
    df = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    with _job_ids(spark, "test-barrier-aqe") as job_ids:
        out = barrier(df)
        assert len(job_ids()) == 1
    assert sorted(r["count"] for r in out.collect()) == [14, 14, 14, 14, 14, 15, 15]


def test_local_checkpoint_only_in_barrier_module():
    users = [p.relative_to(PKG).as_posix() for p, src in _sources()
             if "localCheckpoint(" in src]
    assert users == ["plans/barrier.py"]
    assert BARRIER_MODULE.read_text(encoding="utf-8").count("localCheckpoint(") == 1


def test_single_element_generator_barrier_only_in_helper():
    """``explode(array(x))`` with ONE element is the generator barrier and
    is spelled by ``materialized``; multi-element unpivots are not
    barriers and may stay inline."""
    found = []
    for path, src in _sources():
        if path == BARRIER_MODULE:
            continue
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Call)
                and _attr_name(node.func) == "explode"
                and node.args
                and isinstance(node.args[0], ast.Call)
                and _attr_name(node.args[0].func) == "array"
                and len(node.args[0].args) == 1
                and not isinstance(node.args[0].args[0], ast.Starred)
            ):
                found.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert found == []


def test_source_stats_splits_each_document_once(spark):
    docs = spark.createDataFrame(
        [(1, "s1", "en", "a b  c\n"), (2, "s1", "en", " \n"), (3, "s2", "de", "x")],
        "doc_id long, source string, lang string, text string",
    )
    out = source_stats(docs)
    assert executed_plan(out).count("split(") == 1
    got = {r.source: r.n_tokens for r in out.collect()}
    assert got == {"s1": 3, "s2": 1}
