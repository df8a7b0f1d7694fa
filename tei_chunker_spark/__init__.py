"""tei-chunker-spark: PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the computational semantics of
dmarx/tei-chunker (GROBID TEI XML -> hierarchical chunks), built as a
DataFrame pipeline over tables of interleaved text+media documents:
Scan -> Project -> MapInPandas -> Sink, one stage when the scan's byte-sized
splits already fill the cores, with a doc_id Exchange before MapInPandas
otherwise; a checkpoint manifest gives resume and per-partition
lineage/metrics.
"""

import sys

__version__ = "0.1.0"

from .config import ChunkerConfig, JobConfig  # noqa: F401
from .core import Span, chunk_tei, extract_spans, parse_tei  # noqa: F401


def _guard_zip_rereads() -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the file changed.  Returns whether the guard is installed.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task.  On Python < 3.12 that re-reads the whole central
    directory of every zip on ``sys.path`` at once, once per importer
    instance: a reused worker holds ~16 importers for pyspark.zip (1328
    entries), plus any ``--py-files`` zip, and the re-reads cost ~250 ms
    per task before it reads a row.  CPython 3.12 made the re-read lazy
    (gh-103200); here an archive is re-read only when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at its
    last read.  A rewrite that keeps all three is not seen.

    The importers already open are stamped at install.  That assumes their
    cached directories are current, which holds in a worker: the task's
    set-up has just re-read every archive.  So only a worker's first task
    pays."""
    if sys.version_info >= (3, 12):
        return False
    import os
    import zipimport

    cls = zipimport.zipimporter
    cache = zipimport._zip_directory_cache
    reread = cls.invalidate_caches
    if getattr(reread, "__wrapped__", None) is not None:
        return True
    stamps: dict = {}

    def stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size, st.st_ino)

    def invalidate_caches(self):
        # Stat before reading: a file that changes in between keeps the
        # old stamp, so the next call reads it again.
        now = stamp(self.archive)
        files = cache.get(self.archive)
        if now is not None and files is not None and stamps.get(self.archive) == now:
            self._files = files
            return
        reread(self)
        if now is not None:
            stamps[self.archive] = now

    invalidate_caches.__wrapped__ = reread
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, cls) and importer.archive in cache:
            now = stamp(importer.archive)
            if now is not None:
                stamps[importer.archive] = now
    cls.invalidate_caches = invalidate_caches
    return True


def _in_python_worker() -> bool:
    """True inside a Spark Python worker's task (Spark's driver has no task
    context); pyspark is never imported here just to ask."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


if _in_python_worker():
    _guard_zip_rereads()
