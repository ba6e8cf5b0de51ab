"""A warm wave or query pass reuses the one-time work of the first one.

Compiles: the session's codegen cache holds the engine's working set
(session.CODEGEN_CONF), so a plan that ran before compiles nothing with
Janino.  Counted with Spark's CodegenMetrics compilation histogram, read
over py4j.

Imports: a PySpark worker calls importlib.invalidate_caches() at the start
of every task; on CPython < 3.13 that re-read pyspark.zip's directory once
per imported sub-package.  Importing bingcrawler_spark in a worker makes
each zipimporter re-read only an archive that changed."""

import importlib
import os
import sys
import tempfile
import zipfile
import zipimport

import pandas as pd
from pyspark.sql import functions as F

import bingcrawler_spark as BCS
from bingcrawler_spark import driver_queries as DQ
from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import robots_df, seed_urls, synth_pages_df

# perfbench's analytics query set
ANALYTICS = [
    "f1_frontier_pop",
    "r10_keyword_cooccurrence",
    "dd_semdedup",
    "gr_host_pagerank",
    "ix_bm25_search",
]


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_warm_query_pass_compiles_nothing(spark, sf_dir):
    """The pass compiles ~140 classes; with Spark's default 100-entry cache
    every warm pass compiled ~130 of them again."""
    for _ in range(2):
        before = _compiles(spark)
        for q in ANALYTICS:
            DQ.QUERIES[q](spark, sf_dir).collect()
            spark.catalog.clearCache()
    assert _compiles(spark) - before == 0


def test_warm_bloom_wave_compiles_only_wave_literals(spark):
    """A warm wave compiles only the 7 classes whose code inlines the wave
    number as a literal (fewer when an earlier crawl of the same shape in
    this session reached the same wave); at 100 entries it compiled 39-59."""
    store = SnapshotStore(spark, tempfile.mkdtemp(prefix="wh_codegen_"))
    eng = CrawlEngine(
        spark, store, synth_pages_df(spark, 300, 6), robots_df(spark, 6),
        CrawlConfig(wave_size=12, n_partitions=4, use_bloom=True),
    )
    eng.bootstrap(seed_urls(300, 6))
    eng.run_wave()
    compiled = []
    for _ in range(2):
        before = _compiles(spark)
        assert not eng.run_wave().get("done")
        compiled.append(_compiles(spark) - before)
    assert max(compiled) <= 7, compiled


# ------------------------------------------------------------ zipimport


def _write_zip(path, modules: dict[str, str]) -> None:
    """Write the archive under a new name and rename it into place, as a
    deploy would (a new inode as well as a new size)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def _with_shim(monkeypatch) -> None:
    """The fix as a worker gets it, swapped in for this test only: the
    driver process is never patched."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "_read_always", cls.invalidate_caches, raising=False)
    monkeypatch.setattr(cls, "invalidate_caches", BCS._reread_if_changed)


def _forget(archive, *modules) -> None:
    for m in modules:
        sys.modules.pop(m, None)
    for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
        del sys.path_importer_cache[p]


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zs_pkg/__init__.py": "", "zs_pkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        importlib.import_module("zs_pkg.a")  # one importer per package level
        _with_shim(monkeypatch)
        importlib.invalidate_caches()  # each importer records what it read
        reads = []
        read = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read(p))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []
    finally:
        _forget(archive, "zs_pkg", "zs_pkg.a")


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zs_pkg2/__init__.py": "", "zs_pkg2/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zs_pkg2.a").X == 1
        _with_shim(monkeypatch)
        importlib.invalidate_caches()
        _write_zip(
            archive,
            {"zs_pkg2/__init__.py": "", "zs_pkg2/a.py": "X = 1\n", "zs_pkg2/b.py": "Y = 2\n"},
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zs_pkg2.b").Y == 2
    finally:
        _forget(archive, "zs_pkg2", "zs_pkg2.a", "zs_pkg2.b")


def test_zip_shim_active_in_workers_only(spark):
    """In a worker the fix is in place (on CPython < 3.13), a second
    install changes nothing, and a task's invalidate_caches() reads no
    archive directory; the driver's zipimporter is untouched."""

    @F.pandas_udf("string")
    def probe(ids: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import bingcrawler_spark

        cls = zipimport.zipimporter
        active = cls.invalidate_caches is bingcrawler_spark._reread_if_changed
        bingcrawler_spark._install_zip_shim()
        still = cls.invalidate_caches is bingcrawler_spark._reread_if_changed
        orig_kept = cls.__dict__.get("_read_always") is not bingcrawler_spark._reread_if_changed
        reads = []
        read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return pd.Series([f"{active} {still} {orig_kept} {len(reads)}"] * len(ids))

    shim = sys.version_info < (3, 13)
    got = {r[0] for r in spark.range(0, 8, 1, 4).select(probe("id")).collect()}
    assert got == {f"{shim} {shim} True 0"}
    assert "_read_always" not in zipimport.zipimporter.__dict__
    assert zipimport.zipimporter.invalidate_caches is not BCS._reread_if_changed
