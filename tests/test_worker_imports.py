"""The Python worker's import path: the zip re-read guard installed by
``tei_chunker_spark/__init__.py`` and a ``--py-files`` deployment."""
from __future__ import annotations

import importlib
import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import tei_chunker_spark as tcs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY311 = sys.version_info < (3, 12)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


ZPKG = {
    "zgpkg/__init__.py": "X = 1\n",
    "zgpkg/sub/__init__.py": "Y = 2\n",
    "zgpkg/sub/mod.py": "Z = 3\n",
}


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A package with a subpackage in a zip on ``sys.path``, imported, so
    the archive has several importer instances; the stdlib
    ``invalidate_caches`` is put back afterwards."""
    original = zipimport.zipimporter.__dict__["invalidate_caches"]
    archive = str(tmp_path / "zgpkg.zip")
    _write_zip(archive, ZPKG)
    sys.path.insert(0, archive)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    try:
        importlib.import_module("zgpkg.sub.mod")
        yield archive, reads
    finally:
        zipimport.zipimporter.invalidate_caches = original
        sys.path.remove(archive)
        for name in [m for m in sys.modules if m == "zgpkg" or m.startswith("zgpkg.")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is original


@pytest.mark.skipif(not PY311, reason="guard applies to Python < 3.12 only")
def test_unchanged_archive_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    del reads[:]
    importlib.invalidate_caches()
    # Control: stock zipimport reads the archive once per importer instance.
    assert reads.count(archive) >= 3
    assert tcs._guard_zip_rereads()
    assert tcs._guard_zip_rereads()  # idempotent: wraps once
    assert zipimport.zipimporter.invalidate_caches.__wrapped__.__module__ == "zipimport"
    files = zipimport._zip_directory_cache[archive]
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert zipimport._zip_directory_cache[archive] is files
    assert importlib.import_module("zgpkg.sub").Y == 2


@pytest.mark.skipif(not PY311, reason="guard applies to Python < 3.12 only")
def test_rewritten_archive_is_reread_once(zip_pkg):
    archive, reads = zip_pkg
    assert tcs._guard_zip_rereads()
    files = zipimport._zip_directory_cache[archive]
    _write_zip(archive, {**ZPKG, "zgpkg/sub/new.py": "W = 4\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module("zgpkg.sub.new").W == 4


def test_nothing_installed_on_python_312(zip_pkg, monkeypatch):
    before = zipimport.zipimporter.__dict__["invalidate_caches"]
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert tcs._guard_zip_rereads() is False
    assert zipimport.zipimporter.__dict__["invalidate_caches"] is before


def test_guard_only_in_workers_and_cache_stable_per_worker(spark):
    """Each task reports its worker pid and the identity of pyspark.zip's
    cached directory: after a worker's first task it never changes (no
    re-read), and the Spark driver keeps the stdlib method."""
    import pandas as pd

    def probe(batches):
        import time
        import zipimport

        import tei_chunker_spark as pkg

        for _ in batches:
            pass
        archives = [k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip")]
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "t": [time.monotonic_ns()],
                "dir_id": [id(zipimport._zip_directory_cache[archives[0]]) if archives else -1],
                "guarded": [
                    pkg._in_python_worker()
                    and hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
                ],
            }
        )

    rows = (
        spark.range(0, 32 * 8, numPartitions=32)
        .mapInPandas(probe, "pid long, t long, dir_id long, guarded boolean")
        .collect()
    )
    assert len(rows) == 32
    by_pid = {}
    for r in sorted(rows, key=lambda r: r.t):
        by_pid.setdefault(r.pid, []).append(r)
    assert len(rows) > len(by_pid)  # some worker ran more than one task
    if PY311:
        assert all(r.dir_id != -1 for r in rows)
        for tasks in by_pid.values():
            assert len({r.dir_id for r in tasks[1:]}) <= 1
    assert all(r.guarded == PY311 for r in rows)
    method = zipimport.zipimporter.__dict__["invalidate_caches"]
    assert method.__module__ == "zipimport"
    assert not hasattr(method, "__wrapped__")


PY_FILES_CHILD = textwrap.dedent(
    """
    import os, sys
    from collections import Counter

    archive = sys.argv[1]
    sys.path.insert(0, archive)
    import tei_chunker_spark
    assert tei_chunker_spark.__file__.startswith(archive), tei_chunker_spark.__file__
    from tei_chunker_spark.config import ChunkerConfig, JobConfig
    from tei_chunker_spark.core import extract_spans
    from tei_chunker_spark.corpus import INPUT_SCHEMA_DDL, make_rows
    from tei_chunker_spark.operators.extract import extract_pipeline
    from tei_chunker_spark.sources.session import get_spark

    spark = get_spark("py-files", master="local[2]", shuffle_partitions=4)
    try:
        spark.sparkContext.addPyFile(archive)
        job = JobConfig(chunker=ChunkerConfig(max_chunk_size=500, overlap_size=50),
                        shuffle_partitions=4)
        rows = make_rows([f"pf{i}" for i in range(50)])
        df = spark.createDataFrame(rows, INPUT_SCHEMA_DDL)
        got = Counter(tuple(r) for r in extract_pipeline(df, job)
                      .select("doc_id", "offset", "kind", "text", "media_ref").collect())
        want = Counter()
        for row in rows:
            spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
            want.update(tuple(s) for s in extract_spans(row["doc_id"], spans, job.chunker))
        assert got == want, (len(got), len(want))
        assert sum(want.values()) > 80
        print("SPANS", sum(got.values()))
    finally:
        spark.stop()
    """
)


def test_py_files_zip_runs_extract_pipeline(tmp_path):
    """The ``--py-files`` deployment: the package comes only from the zip
    built by scripts/package.py, in the Spark driver and in its workers."""
    spec = importlib.util.spec_from_file_location(
        "package", os.path.join(REPO, "scripts", "package.py")
    )
    package = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(package)
    archive = package.build(str(tmp_path / "tei_chunker_spark.zip"))
    env = {
        k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS")
    }
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", PY_FILES_CHILD, archive],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SPANS" in proc.stdout
