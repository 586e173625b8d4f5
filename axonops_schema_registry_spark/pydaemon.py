"""PySpark's Python worker daemon, with CPython 3.13's lazy zipimport
invalidation.

``session.get_spark`` names this module as ``spark.python.daemon.module``:
Spark starts it once per executor (``python -m``) and forks every Python
worker from it.  Before each task a worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Before CPython 3.13, every ``zipimporter`` answers that by re-reading the
whole central directory of its archive.  The workers import pyspark from
``pyspark.zip``, and a reused worker holds one zipimporter per pyspark
package directory (16 in a plain worker), so each task re-parsed about
26,700 zip entries: 140–230 ms of CPU per task on a 4-core host, nearly
all of a small task's cost.

CPython 3.13 made the invalidation lazy: ``invalidate_caches`` drops the
archive's entry from ``zipimport._zip_directory_cache``, and the directory
is read again on the next lookup, once per archive and only if a lookup
happens.  On older Pythons this module installs the same semantics, then
runs ``pyspark.daemon.manager()`` unchanged; the forked workers inherit
them.  On 3.13 and later it only runs the manager.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self) -> dict:
    """The archive's directory: the cached one, else read now and cached
    (3.13's ``zipimporter._get_files``).  A missing or unreadable archive
    has no files."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self) -> None:
    """Forget the archive's directory; the next lookup reads it again."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install_lazy_zipimport() -> None:
    """Give ``zipimport.zipimporter`` CPython 3.13's lazy invalidation.

    Every 3.11/3.12 lookup reads ``self._files``; it becomes a property
    over the shared directory cache, and ``__init__``'s assignment to it
    is dropped (``__init__`` has just filled the cache).  A property
    shadows the instance attribute, so importers created earlier read the
    cache too."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter._files = property(_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install_lazy_zipimport()
    from pyspark.daemon import manager

    manager()
