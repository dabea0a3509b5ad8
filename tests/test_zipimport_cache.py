"""The stat-checked ``zipimporter.invalidate_caches`` installed by the
package: no Spark needed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from archive_to_parquet_spark import zipimport_cache  # installs the wrapper

eager_only = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="this interpreter's zipimporter re-reads lazily",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@eager_only
def test_unchanged_zip_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    try:
        assert importlib.import_module("zc_mod_a").VALUE == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        importlib.invalidate_caches()
        files = importer._files
        importlib.invalidate_caches()
        assert importer._files is files  # one stat, no re-read

        _write_zip(
            archive, {"zc_mod_a": "VALUE = 1\n", "zc_mod_b": "VALUE = 2\n"}
        )
        importlib.invalidate_caches()
        assert importer._files is not files
        assert importlib.import_module("zc_mod_b").VALUE == 2
    finally:
        sys.path_importer_cache.pop(archive, None)


@eager_only
def test_install_is_idempotent():
    wrapper = zipimport.zipimporter.invalidate_caches
    assert getattr(wrapper, "_stat_checked", False)
    assert zipimport_cache.install() is True
    assert zipimport.zipimporter.invalidate_caches is wrapper


def test_install_is_a_noop_for_lazy_importers():
    class LazyImporter(zipimport.zipimporter):
        def _get_files(self):
            return self._files

    assert zipimport_cache.install(LazyImporter) is False
    assert "invalidate_caches" not in LazyImporter.__dict__
