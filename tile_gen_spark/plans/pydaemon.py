"""PySpark worker daemon that imports pyspark from its installed directory.

Spark starts every Python worker with ``pyspark.zip``, the py4j source zip
and the spark-core jar at the head of ``sys.path``. Each task then runs
``importlib.invalidate_caches()``, which on CPython 3.11/3.12 makes every
cached ``zipimporter`` re-read its archive's directory: about 0.27 s per
task on 4 cores, most of a trivial task's cost. Before pyspark is imported,
this daemon drops those archives from ``sys.path`` (and their importers from
``sys.path_importer_cache``); the workers it forks inherit the clean path.

It drops them only when pyspark and py4j still resolve to directory installs
without them, and that pyspark has the version of the pyspark archive it
replaces. Otherwise ``sys.path`` stays exactly as Spark set it. Selected by
``get_spark`` through ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

#: the archives Spark puts on a worker's path (PythonUtils.sparkPythonPath)
_SPARK_ARCHIVE = re.compile(r"(^|/)(pyspark\.zip|py4j-[^/]*\.zip|[^/]*\.jar)$")
_VERSION = re.compile(r"""__version__[^=\n]*=\s*["']([^"']+)["']""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_free_path(path: list[str]) -> list[str] | None:
    """``path`` without Spark's archives, or None when that would change
    which pyspark (or whether py4j) imports."""
    drop = [p for p in path if _SPARK_ARCHIVE.search(p)]
    keep = [p for p in path if p not in drop]
    installed = PathFinder.find_spec("pyspark", keep) if drop else None
    if installed is None or PathFinder.find_spec("py4j", keep) is None:
        return None
    zipped = [p for p in drop if p.endswith("pyspark.zip") and os.path.isfile(p)]
    try:
        with open(os.path.join(os.path.dirname(installed.origin), "version.py")) as f:
            have = _version(f.read())
        for p in zipped:
            with zipfile.ZipFile(p) as z:
                if _version(z.read("pyspark/version.py").decode()) != have:
                    return None
    except (OSError, KeyError, TypeError, zipfile.BadZipFile):
        return None
    return keep if have else None


def clean_sys_path() -> bool:
    """Drop Spark's archives from this process's import path if safe."""
    keep = _archive_free_path(sys.path)
    if keep is None:
        return False
    gone = tuple(p for p in sys.path if p not in keep)
    sys.path[:] = keep
    for k in [k for k in sys.path_importer_cache if k.startswith(gone)]:
        del sys.path_importer_cache[k]
    return True


if __name__ == "__main__":
    clean_sys_path()
    from pyspark import daemon
    daemon.manager()
