"""Spark-free checks of the session module's worker-side helpers."""

import sys
import zipfile
import zipimport

from doctr_spark.session import prune_zip_finders


def _zip_finders() -> list[str]:
    return [p for p, f in sys.path_importer_cache.items() if isinstance(f, zipimport.zipimporter)]


def test_prune_zip_finders_keeps_imports_working(tmp_path):
    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/one.py", "VALUE = 1\n")
        z.writestr("zpkg/two.py", "VALUE = 2\n")
    saved_path, saved_modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        import zpkg.one

        assert zpkg.one.VALUE == 1
        assert _zip_finders()
        prune_zip_finders()
        assert _zip_finders() == []
        import zpkg.two

        assert zpkg.two.VALUE == 2
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        for path in _zip_finders():
            if path.startswith(str(tmp_path)):
                del sys.path_importer_cache[path]
