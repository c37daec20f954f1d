"""PySpark's Python-worker daemon, started on a trimmed ``sys.path``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and every ``zipimporter`` answers that by re-reading its whole
archive directory.  Spark puts ``pyspark.zip`` and the spark-core jar
first on the workers' path, so each Python task re-read ~6,700 archive
entries (125-300 ms of CPU) before its own code ran.  This module drops
the archives that serve no import, forgets their importers, and then
runs ``pyspark.daemon.manager()`` unchanged.  ``get_spark`` installs it
through ``spark.python.daemon.module`` when the workers can import it.

Run as ``python -m dask_relabeling_spark.worker_daemon``: the package
root is lazy, so no PySpark module is loaded before the trim.
"""
import os
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION_PY = "pyspark/version.py"


def _archive_read(path, read):
    try:
        with zipfile.ZipFile(path) as zf:
            return read(zf)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def kept_paths(paths, installed_version):
    """``paths`` without the entries no worker imports from: a ``.jar``
    holding no ``.py`` file, and a ``pyspark.zip`` whose
    ``pyspark/version.py`` equals ``installed_version`` (the bytes of the
    installed PySpark's, or None).  Unreadable archives stay."""
    def drop(p):
        if p.endswith(".jar"):
            names = _archive_read(p, zipfile.ZipFile.namelist)
            return names is not None and not any(
                n.endswith(".py") for n in names)
        if os.path.basename(p) == "pyspark.zip" and installed_version:
            return _archive_read(
                p, lambda zf: zf.read(_VERSION_PY)) == installed_version
        return False
    return [p for p in paths if not drop(p)]


def forget_importers(cache, dropped):
    """Delete every ``cache`` key equal to or under a ``dropped`` path."""
    for key in [k for k in cache if any(
            k == d or k.startswith(d + os.sep) for d in dropped)]:
        del cache[key]


def installed_version(paths):
    """Bytes of ``pyspark/version.py`` of the PySpark importable from the
    non-archive entries of ``paths``, or None."""
    spec = PathFinder.find_spec(
        "pyspark", [p for p in paths if not os.path.isfile(p)])
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0],
                               "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


if __name__ == "__main__":
    before = list(sys.path)
    sys.path[:] = kept_paths(before, installed_version(before))
    forget_importers(sys.path_importer_cache,
                     [p for p in before if p not in sys.path])
    from pyspark.daemon import manager
    manager()
