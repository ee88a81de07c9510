"""The session's Python daemon (``denrl_spark._daemon``): Spark's own
archives skip the per-task zip re-read, every other zip keeps it, and
the workers import the same pyspark release as the driver."""

import os
import sys
import zipfile
import zipimport

import pandas as pd
import pyspark
import pytest

from denrl_spark import _daemon


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


def _zip_pyspark_version():
    home = os.environ.get("SPARK_HOME")
    if not home:
        return None
    with zipfile.ZipFile(os.path.join(home, "python", "lib", "pyspark.zip")) as z:
        ns: dict = {}
        exec(z.read("pyspark/version.py"), ns)
        return ns["__version__"]


def test_late_py_file_zip_imports_in_udf(spark, tmp_path):
    spark.range(0, 4, 1, 4).mapInPandas(lambda it: it, "id long").collect()
    _write_zip(tmp_path / "late_pyfiles.zip", {"late_mod.py": "VALUE = 'late-42'\n"})
    spark.sparkContext.addPyFile(str(tmp_path / "late_pyfiles.zip"))

    def f(it):
        import late_mod

        for pdf in it:
            yield pd.DataFrame({"v": [late_mod.VALUE] * len(pdf)})

    got = spark.range(0, 4, 1, 4).mapInPandas(f, "v string").collect()
    assert [r.v for r in got] == ["late-42"] * 4


def test_workers_import_the_drivers_pyspark_release(spark):
    def f(it):
        import pyspark

        for _ in it:
            pass
        yield pd.DataFrame({"version": [pyspark.__version__], "file": [pyspark.__file__]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(f, "version string, file string").collect()
    assert {r.version for r in rows} == {pyspark.__version__}
    if _zip_pyspark_version() == pyspark.__version__:
        assert not any("pyspark.zip" in r.file for r in rows), rows


def test_other_zips_are_still_invalidated(tmp_path):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"a.py": "A = 1\n"})
    importer = zipimport.zipimporter(str(path))
    assert importer.find_spec("b") is None
    _write_zip(path, {"a.py": "A = 1\n", "b.py": "B = 2\n"})
    assert importer.find_spec("b") is None  # the cached directory is stale
    _daemon.invalidate_caches(importer)
    assert importer.find_spec("b") is not None


def test_spark_home_zips_skip_the_reread(tmp_path, monkeypatch):
    monkeypatch.setattr(_daemon, "SPARK_ROOT", os.path.realpath(tmp_path))
    path = tmp_path / "python" / "lib" / "frozen.zip"
    path.parent.mkdir(parents=True)
    _write_zip(path, {"a.py": "A = 1\n"})
    importer = zipimport.zipimporter(str(path))
    _write_zip(path, {"a.py": "A = 1\n", "b.py": "B = 2\n"})
    _daemon.invalidate_caches(importer)
    assert importer.find_spec("b") is None


@pytest.mark.parametrize("zip_version", [None, "0.0.0", pyspark.__version__])
def test_spark_archives_move_last_only_for_the_same_release(zip_version, tmp_path, monkeypatch):
    """No SPARK_HOME (None) or another release in pyspark.zip leaves
    ``sys.path`` as it is; the installed release moves the archive last."""
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    archive = str(lib / "pyspark.zip")
    _write_zip(archive, {"pyspark/version.py": f"__version__: str = '{zip_version}'\n"})
    monkeypatch.setattr(_daemon, "SPARK_ROOT", zip_version and os.path.realpath(tmp_path))
    rest = list(sys.path)
    monkeypatch.setattr(sys, "path", [archive] + rest)
    _daemon.prefer_installed_pyspark()
    if zip_version == pyspark.__version__:
        assert sys.path == rest + [archive]
    else:
        assert sys.path == [archive] + rest
