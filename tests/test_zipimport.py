"""zipimporter.invalidate_caches() keeps an unchanged archive's directory.

Before Python 3.13 every zipimporter re-parses its archive on each
``importlib.invalidate_caches()``, which PySpark's worker calls once per
task; importing the library makes the call re-read only a changed archive.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import gchq_data_quality_spark  # noqa: F401  (installs the zipimport change)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport re-reads lazily from 3.13"
)


def test_worker_keeps_unchanged_zip_directories(spark):
    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pandas as pd

        import gchq_data_quality_spark  # noqa: F401

        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        for _ in batches:
            pass
        yield pd.DataFrame({
            "zips": [sum(os.path.isfile(p) for p in sys.path)],
            "cached": [len(before)],
            "kept": [all(after.get(k) is v for k, v in before.items())],
        })

    rows = (
        spark.range(4).repartition(4)
        .mapInPandas(probe, "zips long, cached long, kept boolean")
        .collect()
    )
    if not any(r.zips for r in rows):
        pytest.skip("the Python workers have no zip on their path")
    assert all(r.cached for r in rows)
    assert all(r.kept for r in rows), rows


def test_rewritten_zip_is_read_again(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    names = [f"_dq_zipmod_{tmp_path.name}_{i}".replace("-", "_") for i in range(3)]

    def write(*mods):
        with zipfile.ZipFile(archive, "w") as zf:
            for mod in mods:
                zf.writestr(f"{mod}.py", f"NAME = {mod!r}\n")

    write(names[0])
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(names[0]).NAME == names[0]
        # first rewrite: an archive cached since the import, never stamped;
        # second: one stamped by the previous invalidate_caches()
        for i in (1, 2):
            write(*names[: i + 1])
            importlib.invalidate_caches()
            assert importlib.import_module(names[i]).NAME == names[i]
        files = zipimport._zip_directory_cache[str(archive)]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[str(archive)] is files
    finally:
        for mod in names:
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)
