"""Once-per-process worker set-up (``ocr_spark._worker``).

Worker side: inside a Spark task that imported ``ocr_spark``, the
stat-checked zipimport hook is installed (before CPython 3.13), the
import heap is frozen, and ``importlib.invalidate_caches()`` leaves an
unchanged archive's directory alone.  Driver side: the hook still
re-reads an archive that was rewritten, and the driver itself is left
untouched by importing the package.
"""

import gc
import importlib
import os
import sys
import zipfile
import zipimport

from ocr_spark import _worker

ZIP_LAZY = sys.version_info >= (3, 13)


def test_worker_set_up_inside_a_task(spark):
    def probe(batches):
        import gc
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import ocr_spark  # noqa: F401
        from ocr_spark import _worker

        for _ in batches:
            pass
        pyspark_zip = next(
            (p for p in zipimport._zip_directory_cache if p.endswith("pyspark.zip")), "")
        # The first call reads what this task's importers have not read
        # yet and records their stats; the second must read nothing.
        importlib.invalidate_caches()
        before = zipimport._zip_directory_cache.get(pyspark_zip)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(pyspark_zip)
        hooked = zipimport.zipimporter.invalidate_caches is _worker._invalidate_if_changed
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pd.DataFrame({
            "hooked": [hooked],
            "frozen": [gc.get_freeze_count()],
            "pyspark_zip": [pyspark_zip],
            "same_dir": [before is not None and before is after],
            "n_zip": [n_zip],
        })

    schema = "hooked boolean, frozen long, pyspark_zip string, same_dir boolean, n_zip long"
    for _ in range(2):
        rows = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r["hooked"] is (not ZIP_LAZY)
        assert r["frozen"] > 0
        assert r["n_zip"] > 0
        if not ZIP_LAZY and r["pyspark_zip"]:
            assert r["same_dir"], r


def test_driver_is_untouched():
    """Importing ocr_spark outside a task changes neither zipimport nor gc."""
    assert zipimport.zipimporter.invalidate_caches is _worker._original_invalidate
    assert gc.get_freeze_count() == 0


def _write_zip(path, modules):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


def test_changed_archive_is_still_reread(tmp_path, monkeypatch):
    # Restore the stock method once the test ends.
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _worker.install_zip_stat_check()
    hooked = zipimport.zipimporter.invalidate_caches is _worker._invalidate_if_changed
    assert hooked is (not ZIP_LAZY)

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"ocr_wz_first": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("ocr_wz_first").X == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        importlib.invalidate_caches()
        if not ZIP_LAZY:
            files = zipimport._zip_directory_cache[archive]
            importlib.invalidate_caches()
            assert zipimport._zip_directory_cache[archive] is files  # unchanged: not re-read

        _write_zip(archive, {"ocr_wz_first": "X = 1\n", "ocr_wz_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("ocr_wz_second").Y == 2
    finally:
        for name in ("ocr_wz_first", "ocr_wz_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
