"""The zipimport guard ``pdfextraction_spark/__init__.py`` installs on
CPython < 3.12: ``importlib.invalidate_caches()``, which PySpark's worker
calls before every task, re-reads a zip archive's directory only when
the archive changed on disk since that importer last read it."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import pdfextraction_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="3.12+ zipimporter.invalidate_caches is lazy; no guard",
)

GUARD = "pdfextraction_spark._stat_guarded_invalidate_caches"


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_guard_rereads_an_archive_only_when_it_changed(tmp_path,
                                                       monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zguard_m1"])
    monkeypatch.syspath_prepend(archive)
    try:
        import zguard_m1

        assert zguard_m1.NAME == "zguard_m1"
        reads = []
        eager_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return eager_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()  # first call: eager
        assert reads.count(archive) == 1
        importlib.invalidate_caches()
        assert reads.count(archive) == 1  # unchanged: no re-read

        _write_zip(archive, ["zguard_m1", "zguard_m2"])  # size changes
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        import zguard_m2

        assert zguard_m2.NAME == "zguard_m2"
    finally:
        for name in ("zguard_m1", "zguard_m2"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_guard_is_live_in_python_workers(spark):
    import pyarrow as pa

    def probe(batches):
        import zipimport

        import pdfextraction_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "guard": [f"{fn.__module__}.{fn.__qualname__}"],
            "zip_importers": [n_zip],
        })

    rows = (spark.range(0, 4, 1, 4)
            .mapInArrow(probe, "guard string, zip_importers long")
            .collect())
    assert len(rows) == 4
    assert {r.guard for r in rows} == {GUARD}
    # the premise: workers import pyspark from a zip archive
    assert all(r.zip_importers > 0 for r in rows)
