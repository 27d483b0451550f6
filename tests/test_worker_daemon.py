"""The Python worker's path: SPARK_HOME's archives come off it when the
installed pyspark matches them (``big_data_bowl_spark.worker_daemon``),
so pyspark's per-task ``importlib.invalidate_caches()`` re-reads no
zip archive."""

from __future__ import annotations

import os
import zipfile

from big_data_bowl_spark.worker_daemon import (
    _archive_version,
    _installed_version,
    worker_path,
)


def _spark_path(tmp_path):
    """A worker path as Spark builds it, SPARK_HOME a symlink to the
    unpacked distribution (the jar is named by its resolved path)."""
    real = tmp_path / "spark-4.1.2-bin-hadoop3"
    home = tmp_path / "spark"
    os.symlink(real, home)
    lib = f"{home}/python/lib"
    stdlib = f"{tmp_path}/lib/python3.11"
    user_files = f"{tmp_path}/spark-1/userFiles-2"
    archives = [
        f"{lib}/pyspark.zip",
        f"{lib}/py4j-0.10.9.9-src.zip",
        f"{real}/jars/spark-core_2.13-4.1.2.jar",
    ]
    others = [
        f"{tmp_path}/repo",
        user_files,
        f"{user_files}/deps.zip",  # a --py-files archive
        f"{tmp_path}/lib/python311.zip",  # the stdlib archive
        stdlib,
        f"{stdlib}/site-packages",
    ]
    path = others[:2] + archives + others[2:]
    return str(home), path, others


def _versions(installed, archived):
    return lambda _: installed, lambda _: archived


def test_worker_path_drops_only_spark_archives_on_a_version_match(tmp_path):
    home, path, others = _spark_path(tmp_path)
    kept, dropped = worker_path(path, home, *_versions("4.1.2", "4.1.2"))
    assert kept == others
    assert dropped == [p for p in path if p not in others]
    assert worker_path(others, home, *_versions("4.1.2", "4.1.2")) == (others, [])


def test_worker_path_unchanged_without_a_matching_install(tmp_path):
    home, path, _ = _spark_path(tmp_path)
    for installed, archived in [(None, "4.1.2"), ("4.0.1", "4.1.2"), ("4.1.2", None)]:
        assert worker_path(path, home, *_versions(installed, archived)) == (path, [])


def test_versions_read_from_archive_and_install(tmp_path):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    assert _archive_version([str(archive)]) == "4.1.2"
    assert _archive_version([str(tmp_path / "other.jar")]) is None

    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text("__version__ = '4.0.1'\n")
    # pyspark resolves but py4j does not: no usable install
    assert _installed_version([str(site)]) is None
    (site / "py4j").mkdir()
    (site / "py4j" / "__init__.py").write_text("")
    assert _installed_version([str(site)]) == "4.0.1"
    assert _installed_version([str(tmp_path / "empty")]) is None


def test_python_tasks_hold_no_zip_importers(spark):
    """In a get_spark session, a Python task sees no zipimporter in its
    importer cache and imports pyspark from outside any archive, so the
    per-task ``invalidate_caches()`` re-reads nothing."""

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"zips": [len(zips)], "pyspark": [pyspark.__file__]})

    rows = (
        spark.range(0, 4, numPartitions=4)
        .mapInPandas(probe, "zips long, pyspark string")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r.zips == 0, r
        assert os.path.isfile(r.pyspark), r  # not a member of a zip


def test_python_workers_have_the_repository_on_their_path(spark):
    """get_spark hands the repository root to its workers' PYTHONPATH, so
    they import this package (and the daemon module) wherever the session
    is launched from, not only from the repository root."""
    from big_data_bowl_spark.session import _ROOT

    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"path": [os.environ.get("PYTHONPATH", "")]})

    rows = spark.range(0, 1).mapInPandas(probe, "path string").collect()
    assert _ROOT in rows[0].path.split(os.pathsep), rows
