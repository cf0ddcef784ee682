"""The stat-guarded zip directory cache (``_zipcache``): an unchanged
archive is not re-read on ``importlib.invalidate_caches()``, a changed one
is, and the guard is active inside Spark's Python workers."""

import importlib
import sys
import zipfile
import zipimport

from logstash_filter_aggregate_spark import _zipcache  # the package import installs it


def _count_reads(monkeypatch):
    reads: list[str] = []
    original = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    try:
        import zc_probe_a

        assert zc_probe_a.X == 1
        importlib.invalidate_caches()  # records the archive's key
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert archive not in reads

        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zc_probe_a.py", "X = 1\n")
            z.writestr("zc_probe_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        import zc_probe_b

        assert zc_probe_b.Y == 2
    finally:
        sys.path_importer_cache.pop(archive, None)
        for m in ("zc_probe_a", "zc_probe_b"):
            sys.modules.pop(m, None)


def test_install_twice_does_not_stack():
    guarded = zipimport.zipimporter.invalidate_caches
    _zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_guard_is_active_in_workers(spark):
    def probe(batches):
        # nested, so it is pickled by value: the workers cannot import this
        # module. The package import installs the guard, the first
        # invalidation stands in for the set-up of the worker's next task,
        # and the second is the one counted.
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import logstash_filter_aggregate_spark  # noqa: F401

        importers = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        importlib.invalidate_caches()
        reads = []
        original = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or original(archive)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        for _ in batches:
            pass
        yield pd.DataFrame({"importers": [importers], "reads": [len(reads)]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "importers long, reads long").collect()
    assert len(rows) == 4
    # the workers import pyspark from its zip, so there is work to skip
    assert all(r.importers > 0 for r in rows)
    assert [r.reads for r in rows] == [0, 0, 0, 0]
