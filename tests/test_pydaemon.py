"""The worker daemon's zip-finder drop: workers forked after it must not
re-read zip archives on ``importlib.invalidate_caches()``, yet imports
from those archives must keep working."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

from dask_felleskomponenter_spark.pydaemon import drop_zip_finders


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipmod_first.py", "def value():\n    return 41\n")
        zf.writestr("zipmod_second.py", "VALUE = 42\n")
    other_key = str(tmp_path / "not-a-zip")
    other_finder = object()

    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    try:
        sys.path.insert(0, str(archive))
        first = importlib.import_module("zipmod_first")
        assert isinstance(
            sys.path_importer_cache[str(archive)], zipimport.zipimporter
        )
        sys.path_importer_cache[other_key] = other_finder
        non_zip = {
            k: v
            for k, v in sys.path_importer_cache.items()
            if not isinstance(v, zipimport.zipimporter)
        }

        directory = zipimport._zip_directory_cache[str(archive)]

        assert drop_zip_finders() >= 1

        assert not any(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        # non-zip finders (and None entries) are untouched
        for key, finder in non_zip.items():
            assert sys.path_importer_cache[key] is finder
        # a task's invalidate_caches() no longer re-reads the archive
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[str(archive)] is directory
        # the already-imported module keeps its loader
        assert first.value() == 41
        # a sibling module from the same archive still imports
        second = importlib.import_module("zipmod_second")
        assert second.VALUE == 42
    finally:
        sys.path[:] = saved_path
        sys.path_importer_cache.clear()
        sys.path_importer_cache.update(saved_cache)
        sys.modules.pop("zipmod_first", None)
        sys.modules.pop("zipmod_second", None)
