"""Python worker daemon: ``pyspark.daemon`` without Spark's archives on
``sys.path``.

Spark starts its Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j source zip and the spark-core jar at the head of ``PYTHONPATH``, so
the daemon and every worker it forks import pyspark from the zip.  Each task
then runs ``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``), and under CPython 3.11 every ``zipimporter`` in
``sys.path_importer_cache`` re-reads its whole archive directory in pure
Python on that call: 16 importers (12 of them pyspark.zip subpackages), about
0.1-0.2 s of CPU per task.

Run as the daemon (``spark.python.daemon.module``, set by
:func:`doctor_spark.session.get_spark`), this module drops Spark's archives
from ``sys.path`` and evicts their importers *before* anything imports
pyspark, then hands off to ``pyspark.daemon.manager()``.  The daemon and its
forked workers then import the installed pyspark and py4j, as the driver
does.  When the installed packages cannot stand in for the archives (missing,
or a pyspark version other than the archive's), the path is left as it is and
the daemon is Spark's own.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipimport
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _zip_importer(entry: str, importers: dict) -> zipimport.zipimporter | None:
    cached = importers.get(entry)
    if isinstance(cached, zipimport.zipimporter):
        return cached
    try:
        return zipimport.zipimporter(entry)
    except zipimport.ZipImportError:
        return None


def _is_spark_archive(entry: str, importers: dict) -> bool:
    """Spark's jars, and the zips that carry pyspark or py4j.  Other zips
    (a user's dependencies, an interpreter's stdlib zip) stay on the path."""
    if entry.lower().endswith(".jar"):
        return True
    if not entry.lower().endswith(".zip"):
        return False
    importer = _zip_importer(entry, importers)
    return importer is not None and any(
        importer.find_spec(name) is not None for name in ("pyspark", "py4j"))


def _archived_pyspark_version(archives: list[str], importers: dict) -> str | None:
    for entry in archives:
        importer = _zip_importer(entry, importers)
        if importer is None:
            continue
        try:
            text = importer.get_data("pyspark/version.py").decode()
        except OSError:
            continue
        m = _VERSION.search(text)
        if m:
            return m.group(1)
    return None


def strip_spark_archives(path: list[str], importers: dict) -> list[str]:
    """Drop Spark's archives from ``path`` and their importers, subpackage
    paths included, from ``importers``; both are changed in place.

    Nothing changes unless pyspark and py4j resolve on the remaining path
    and the pyspark installed there has the archive's version.  Returns the
    dropped entries (empty when the path is left alone)."""
    archives = [e for e in path if _is_spark_archive(e, importers)]
    if not archives:
        return []
    kept = [e for e in path if e not in archives]
    if any(PathFinder.find_spec(name, kept) is None
           for name in ("pyspark", "py4j")):
        return []
    archived = _archived_pyspark_version(archives, importers)
    installed = next((d.version for d in importlib.metadata.distributions(
        name="pyspark", path=kept)), None)
    if archived is None or archived != installed:
        return []
    path[:] = kept
    for key in [k for k in importers if any(
            k == a or k.startswith(a + os.sep) for a in archives)]:
        del importers[key]
    return archives


def main() -> None:
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
