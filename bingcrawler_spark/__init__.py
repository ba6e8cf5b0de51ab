"""bingcrawler_spark — a brand-new PySpark-native analytics + crawl-frontier
engine with the query and data-processing capabilities of the reference
crawler (kelleszzz/BingCrawler), re-expressed Spark-first.

Layout (SURVEY.md §7):
  session.py        SparkSession factory tuned for local[N] and cluster use
  synth.py          deterministic synthetic web-graph / profiles generators
  functions/        scalar ops (P1..P16): canon, entities, md5, simhash, extract
  frontier.py       wave algebra (F1..F9): pop, dedup-insert, settle, reweight
  bloom.py          sharded Bloom-filter seen-set prefilter (north-rule)
  statestore.py     snapshot-versioned parquet tables (Iceberg-style commits)
  crawler.py        the wave loop (§3.1) with checkpoint/resume + metrics
  oracle.py         pure-Python single-node reference semantics (parity tests)
  analytics.py      batch analytics layer (R1..R16)
  pipeline/         training-data ops: dedup, similarity, text QA, multimodal
  streaming.py      Structured Streaming variants of the event queries

Importing the package in a PySpark worker also installs the zipimport
fix below (_install_zip_shim); the driver is left as it is.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _reread_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's ``(st_mtime_ns, st_size, st_ino)``
    differs from what this importer last read, or cannot be stat'ed.

    PySpark workers call ``importlib.invalidate_caches()`` at the start of
    every task (``worker_util.setup_spark_files``).  On CPython < 3.13 each
    zipimporter then re-reads its archive's whole directory: pyspark.zip's
    ~1.3k entries once per imported sub-package, 16 reads and ~40 ms of
    CPU per task on a 4-vCPU VM.  CPython 3.13 instead drops the archive's
    cached directory and re-reads it once, on the next import from it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        self._read_always()
        self._read_stamp = stamp


def _install_zip_shim() -> None:
    """Swap in ``_reread_if_changed``, once per process, in PySpark worker
    processes (a task context is set) on CPython < 3.13.  The importers
    that exist already are re-read once, so each carries the stamp of what
    it holds and the next task reads nothing."""
    from pyspark import TaskContext

    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or TaskContext.get() is None or "_read_always" in cls.__dict__:
        return
    cls._read_always = cls.invalidate_caches
    cls.invalidate_caches = _reread_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()


_install_zip_shim()
