"""Local Python workers import pyspark from its directory install
(``plans.pydaemon``), the daemon's guard falls back to Spark's path, and
``run_tile_job`` leaves its input's cache state as it found it."""

import sys
import zipfile
import zipimport

import pytest
from pyspark import StorageLevel

from tile_gen_spark.plans import pydaemon


def test_local_workers_import_pyspark_from_directory(spark):
    def report(batches):
        import pyarrow as pa
        import pyspark
        zips = sorted(k for k, v in sys.path_importer_cache.items()
                      if isinstance(v, zipimport.zipimporter))
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"pyspark": [pyspark.__file__], "zips": [",".join(zips)]})

    n = spark.sparkContext.defaultParallelism
    rows = (spark.range(n, numPartitions=n)
            .mapInArrow(report, "pyspark string, zips string").collect())
    assert rows
    for r in rows:
        assert ".zip/" not in r.pyspark and ".jar/" not in r.pyspark
        assert r.zips == "", f"archive importers cached in a worker: {r.zips}"


def _fake_install(root, version, py4j=True):
    pkg = root / "site" / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')
    if py4j:
        (root / "site" / "py4j").mkdir()
        (root / "site" / "py4j" / "__init__.py").write_text("")
    return str(root / "site")


def _fake_spark_archives(root, version):
    lib = root / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    return [str(lib / n) for n in
            ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar")]


@pytest.mark.parametrize("case", ["same", "mismatch", "no_install", "no_py4j"])
def test_daemon_guard(tmp_path, monkeypatch, case):
    archives = _fake_spark_archives(tmp_path, "9.9.9")
    extra = [str(tmp_path / "elsewhere")]
    if case != "no_install":
        extra.append(_fake_install(tmp_path, "9.9.8" if case == "mismatch" else "9.9.9",
                                   py4j=case != "no_py4j"))
    path = archives + extra
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", {})
    for p in archives:
        sys.path_importer_cache[p] = zipimport.zipimporter(p)
    cleaned = pydaemon.clean_sys_path()
    if case == "same":
        assert cleaned and sys.path == extra
        assert not set(archives) & set(sys.path_importer_cache)
    else:
        assert not cleaned and sys.path == path
        assert set(archives) <= set(sys.path_importer_cache)


def test_run_tile_job_keeps_cache_state(spark, features, tmp_path):
    from tile_gen_spark.operators.checkpoint import run_tile_job
    uncached = features.limit(300)
    for i, df in enumerate((features, uncached)):
        before = (df.is_cached, df.storageLevel)
        run_tile_job(spark, df, str(tmp_path / f"out{i}"),
                     str(tmp_path / f"man{i}"), [2])
        assert (df.is_cached, df.storageLevel) == before
    assert features.storageLevel != StorageLevel.NONE
    assert uncached.storageLevel == StorageLevel.NONE
