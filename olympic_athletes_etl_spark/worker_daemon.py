"""Python-worker daemon whose workers import pyspark from a directory.

Spark puts archives on every Python worker's ``sys.path``:
``pyspark.zip``, the py4j zip and the ``spark-core`` jar. pyspark's
worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``), and every ``zipimporter`` in
``sys.path_importer_cache`` re-reads its archive's central directory on
that call. Measured on a 4-vCPU VM with Spark 4.1.2: 0.23 CPU s per
call with the 16 zipimporters a worker caches; dropping only the jar's
two (5,359 entries) leaves 0.10 s.

When the directories on the path hold an unpacked pyspark of the
archived one's version (and py4j), this daemon drops every file entry
from ``sys.path`` and their importers from ``sys.path_importer_cache``
before anything imports pyspark, then runs the stock
``pyspark.daemon.manager()``. Forked workers inherit the trimmed path.
Otherwise the path is left as it is and pyspark's daemon runs
unchanged.

``session.get_spark`` selects it with ``spark.python.daemon.module``.
Nothing here may import pyspark before the path is trimmed.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile
import zipimport

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def archived_pyspark_version(path: list[str]) -> str | None:
    """Version of the pyspark in the first archive on ``path`` that
    holds one (the one an unfiltered worker imports), or None."""
    for entry in path:
        if not (os.path.isfile(entry) and zipfile.is_zipfile(entry)):
            continue
        with zipfile.ZipFile(entry) as z:
            try:
                return _version(z.read("pyspark/version.py").decode())
            except KeyError:
                continue
    return None


def unpacked_pyspark_version(path: list[str]) -> str | None:
    """Version of the pyspark that the directories on ``path`` hold, or
    None when there is none or no py4j beside it."""
    dirs = [e for e in path if not os.path.isfile(e)]
    find = importlib.machinery.PathFinder.find_spec
    spec = find("pyspark", dirs)
    if spec is None or not spec.submodule_search_locations or find("py4j", dirs) is None:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py) as fh:
            return _version(fh.read())
    except OSError:
        return None


def worker_path(path: list[str], unpacked: str | None, archived: str | None) -> list[str]:
    """``path`` without its file entries when the unpacked pyspark is
    the archived one's version; otherwise ``path`` unchanged."""
    if unpacked is None or unpacked != archived:
        return list(path)
    return [e for e in path if not os.path.isfile(e)]


def main() -> None:
    path = worker_path(
        sys.path, unpacked_pyspark_version(sys.path), archived_pyspark_version(sys.path)
    )
    if path != sys.path:
        sys.path[:] = path
        for key, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter):
                del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
