"""Python worker daemon entry (named by ``session.get_spark`` in
``spark.python.daemon.module``).

Spark starts its Python workers with SPARK_HOME's ``pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar at the head of ``PYTHONPATH``.
pyspark calls ``importlib.invalidate_caches()`` at the start of every
task, and CPython re-reads the whole directory of every cached
zipimporter on that call: 16 entries over those three archives cost
0.12-0.24 s per task on a 4-core host. When the installed pyspark is the
same version as the archive, this module drops the three archives from
``sys.path`` (and their cached importers) once, at daemon start, and
then runs ``pyspark.daemon`` as ``__main__`` with ``sys.argv`` intact.
Otherwise it leaves the path as Spark built it. It must not import
pyspark before the path is set.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from collections.abc import Callable
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def is_spark_archive(entry: str, spark_home: str) -> bool:
    """True for the archives Spark itself puts on a worker's path."""
    entry, home = os.path.realpath(entry), os.path.realpath(spark_home)
    lib, name = os.path.dirname(entry), os.path.basename(entry)
    if lib == os.path.join(home, "python", "lib"):
        return name == "pyspark.zip" or (
            name.startswith("py4j-") and name.endswith("-src.zip")
        )
    return lib == os.path.join(home, "jars") and name.endswith(".jar")


def worker_path(
    path: list[str],
    spark_home: str,
    installed: Callable[[list[str]], str | None],
    archived: Callable[[list[str]], str | None],
) -> tuple[list[str], list[str]]:
    """Split ``path`` into (kept, dropped). SPARK_HOME's archives are
    dropped when ``installed(kept)`` (the pyspark version that resolves
    without them; None if pyspark or py4j does not) equals
    ``archived(archives)`` (the archive's version); else none are."""
    archives = [p for p in path if is_spark_archive(p, spark_home)]
    rest = [p for p in path if p not in archives]
    found = installed(rest) if archives else None
    if found is None or found != archived(archives):
        return list(path), []
    return rest, archives


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(archives: list[str]) -> str | None:
    for entry in archives:
        if os.path.basename(entry) == "pyspark.zip":
            try:
                with zipfile.ZipFile(entry) as z:
                    return _version(z.read("pyspark/version.py").decode())
            except (OSError, KeyError, zipfile.BadZipFile):
                return None
    return None


def _installed_version(path: list[str]) -> str | None:
    pyspark = PathFinder.find_spec("pyspark", path)
    if pyspark is None or pyspark.origin is None:
        return None
    if PathFinder.find_spec("py4j", path) is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(pyspark.origin), "version.py")) as f:
            return _version(f.read())
    except OSError:
        return None


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home:
        kept, dropped = worker_path(
            sys.path, spark_home, _installed_version, _archive_version
        )
        sys.path[:] = kept
        for key in list(sys.path_importer_cache):
            if any(key == a or key.startswith(a + os.sep) for a in dropped):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
