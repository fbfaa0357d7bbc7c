"""The stat-guarded zipimport cache (hydra_spark/zipcache.py): PySpark's
per-task importlib.invalidate_caches() must not re-read an unchanged
archive's directory, must still pick up a rewritten archive, and the
guard must stay out of the way on Python >= 3.13."""

import importlib
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport

import pytest

from hydra_spark import zipcache

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GUARDED = sys.version_info < (3, 13)


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def _count_reads(monkeypatch):
    reads = []
    inner = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return inner(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@pytest.mark.skipif(not GUARDED, reason="zipimport drops its cache lazily on Python >= 3.13")
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert zipcache.install()  # already installed by `import hydra_spark`
    import zc_mod_a

    assert zc_mod_a.X == 1
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert [a for a in reads if a == zip_on_path] == []


@pytest.mark.skipif(not GUARDED, reason="zipimport drops its cache lazily on Python >= 3.13")
def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    import zc_mod_a  # noqa: F401

    with pytest.raises(ImportError):
        import zc_mod_b  # noqa: F401
    _write_zip(zip_on_path, {"zc_mod_a": "X = 1\n", "zc_mod_b": "Y = 2\n"})
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1  # one importer re-reads, the rest share it
    import zc_mod_b

    assert zc_mod_b.Y == 2
    importlib.invalidate_caches()
    assert reads.count(zip_on_path) == 1


def test_noop_on_python_313(monkeypatch):
    inv, rd = zipimport.zipimporter.invalidate_caches, zipimport._read_directory
    plain_inv, plain_read = getattr(inv, "__wrapped__", inv), getattr(rd, "__wrapped__", rd)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", plain_inv)
    monkeypatch.setattr(zipimport, "_read_directory", plain_read)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is plain_inv
    assert zipimport._read_directory is plain_read


@pytest.mark.skipif(shutil.which("python3.13") is None, reason="no python3.13 on PATH")
def test_inert_under_real_python_313():
    code = (
        "import sys, zipimport; sys.path.insert(0, sys.argv[1]);"
        "inv, rd = zipimport.zipimporter.invalidate_caches, zipimport._read_directory;"
        "import hydra_spark;"
        "print(zipimport.zipimporter.invalidate_caches is inv and zipimport._read_directory is rd)"
    )
    r = subprocess.run(
        ["python3.13", "-c", code, REPO_ROOT], capture_output=True, text=True, timeout=60
    )
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "True"


def test_engine_udf_worker_runs_guarded(spark):
    """After one engine-UDF task, the worker that ran it reports from
    inside itself that invalidate_caches is the guarded one. The report
    UDF is a local function (pickled by value), so it does not import
    hydra_spark itself; sharing the engine UDF's Project puts both in
    one Python worker."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from hydra_spark.functions.text import normalize_transcript

    @pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import zipimport as zi

        inv = zi.zipimporter.invalidate_caches
        return s.map(lambda _: f"{getattr(inv, '_stat_guarded', False)}:{inv.__module__}")

    df = spark.range(8).repartition(1).select(F.col("id").cast("string").alias("t"))
    rows = df.select(normalize_transcript("t").alias("n"), report("t").alias("r")).collect()
    want = "True:hydra_spark.zipcache" if GUARDED else "False:zipimport"
    assert {r.r for r in rows} == {want}
