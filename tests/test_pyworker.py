"""The Python worker daemon's stat-checked zipimporter invalidation."""

import importlib
import sys
import zipfile
import zipimport

import pytest


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12 invalidates zip caches lazily"
)
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    """Two importers read the archive (its root and its package, as for
    pyspark.zip): neither re-reads it while it is unchanged, and after a
    rewrite both see the new module."""
    from henbun_spark import pyworker

    archive = tmp_path / "mods.zip"

    def write(*modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("hb_zippkg/__init__.py", "")
            for name in modules:
                z.writestr(f"hb_zippkg/{name}.py", f"NAME = {name!r}\n")

    write("a")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("hb_zippkg.a").NAME == "a"

    reads = []
    read_directory = zipimport._read_directory

    def spy(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", spy)
    importlib.invalidate_caches()  # the first call per archive reads it
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert str(archive) not in reads

    write("a", "b")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("hb_zippkg.b").NAME == "b"
    for name in ("hb_zippkg", "hb_zippkg.a", "hb_zippkg.b"):
        sys.modules.pop(name)


def test_spark_workers_run_the_stat_checked_invalidate(spark):
    """The session's worker daemon installs the check before any task."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        from henbun_spark import pyworker

        patched = zipimport.zipimporter.invalidate_caches is pyworker.invalidate_caches
        for pdf in batches:
            yield pd.DataFrame({
                "patched": [patched] * len(pdf),
                "stock": [sys.version_info >= (3, 12)] * len(pdf),
            })

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(
        probe, "patched boolean, stock boolean"
    ).collect()
    assert len(rows) == 8
    assert all(r.patched != r.stock for r in rows)
