"""Checks of the session module's helpers."""

import inspect
import pathlib
import sys
import zipfile
import zipimport

import pytest

from doctr_spark.session import local_frame, prune_zip_finders


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


@pytest.mark.parametrize("rows", [[(1, "a", 2.5), (2, None, None)], []], ids=["rows", "empty"])
def test_local_frame_is_a_local_relation(spark, rows):
    """No Python RDD (``Scan ExistingRDD``), so no pyspark daemon or
    worker, for any row count, and the schema is kept as given."""
    df = local_frame(spark, rows, "k int, s string, x double")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema.simpleString() == "struct<k:int,s:string,x:double>"
    assert [tuple(r) for r in df.collect()] == rows


def test_create_dataframe_only_in_local_frame():
    """Engine code builds driver-side tables through `session.local_frame`."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "doctr_spark"
    total = sum(p.read_text().count("createDataFrame(") for p in pkg.rglob("*.py"))
    assert total == inspect.getsource(local_frame).count("createDataFrame(")
