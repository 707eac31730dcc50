"""Python worker daemon that imports pyspark from its installed directory.

Spark starts the worker daemon with its own archives at the front of
``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar. Each package imported from an archive leaves a
``zipimporter`` in ``sys.path_importer_cache``, and every task calls
``importlib.invalidate_caches()``, which on CPython 3.11 makes each of those
importers re-read its archive's whole central directory: about 170 ms of
worker CPU per task on a 4-core x86 VM, more than most UDF bodies take.

When the same pyspark, and a py4j, are installed as directories further down
the path, this daemon drops Spark's archives before pyspark is imported, then
runs pyspark's own daemon loop. Otherwise it leaves the path as it is. Run as
``python -m search_engine_spark.worker_daemon``; ``get_spark`` selects it
with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder

_PACKAGE = "search_engine_spark"


def _is_spark_archive(entry: str) -> bool:
    """True for a path entry that is one of Spark's own archives."""
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or fnmatch.fnmatch(name, "py4j-*-src.zip"))


def _package_dir(name: str, path: list[str]) -> str | None:
    """Directory a regular package ``name`` imports from on ``path``."""
    spec = PathFinder.find_spec(name, path)
    if (spec is None or spec.origin is None
            or not spec.submodule_search_locations):
        return None
    return spec.submodule_search_locations[0]


def strip_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives (``pyspark.zip``, ``py4j-*-src.zip``,
    ``*.jar``), if pyspark and py4j resolve from the remaining entries and
    that pyspark's ``version.py`` equals the zip's; else ``path`` unchanged.
    Any other archive, e.g. a ``--py-files`` zip, stays."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if not _is_spark_archive(p)]
    pkg = _package_dir("pyspark", rest)
    if not zips or pkg is None or _package_dir("py4j", rest) is None:
        return list(path)
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zipped = z.read("pyspark/version.py")
        with open(os.path.join(pkg, "version.py"), "rb") as f:
            installed = f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return rest if zipped == installed else list(path)


def main() -> None:
    before = list(sys.path)
    sys.path[:] = strip_spark_archives(before)
    dropped = {p for p in before if p not in sys.path}
    below = tuple(d + os.sep for d in dropped)

    def inside(p: str | None) -> bool:
        return bool(p) and (p in dropped or p.startswith(below))

    def from_archive(mod) -> bool:
        return any(map(inside, [*getattr(mod, "__path__", []),
                                getattr(mod, "__file__", None)]))

    # runpy imported this package to reach here; a forked worker imports it
    # again from its own task path, where a --py-files copy comes first. Also
    # forget what came from a dropped archive, e.g. the ``org`` namespace
    # package ``copy`` finds in the jar while probing for Jython.
    for name, mod in list(sys.modules.items()):
        if name.partition(".")[0] == _PACKAGE or from_archive(mod):
            del sys.modules[name]
    # importers of the dropped archives and of packages inside them
    for key in [k for k in sys.path_importer_cache if inside(k)]:
        del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
