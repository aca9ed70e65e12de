"""Python 3.12's lazy ``zipimporter.invalidate_caches`` for 3.10-3.11.

Every PySpark task calls ``importlib.invalidate_caches()`` (worker
``setup_spark_files``). Before 3.12, each ``zipimporter`` in
``sys.path_importer_cache`` answers by re-reading its archive's whole
central directory on the spot, and a worker holds one per imported
package of ``pyspark.zip`` plus the py4j zip and the ``spark-core`` jar
(16 re-reads in a PySpark 4.1 worker, 0.2-0.7 s per task on a 4-core
host). 3.12 only drops the cached directory and reads it again on the
next lookup that needs it; an archive that can no longer be read looks
empty.

The engine's UDFs live in this package, so a worker applies this when
it unpickles its first task's function, and every later task on the
reused worker starts without the re-reads.
"""

from __future__ import annotations

import sys
import zipimport


def _get_files(self):
    """The archive's directory, read on first use after invalidation."""
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            return {}
        zipimport._zip_directory_cache[self.archive] = files
        return files


def _invalidate_caches(self):
    """Drop the cached directory of the archive path."""
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    """Give ``zipimporter`` the 3.12 behaviour; a no-op from 3.12 on.

    ``_files`` becomes a read-through view of the module-level cache,
    so importers that already exist follow it too. Its setter ignores
    the assignment in ``zipimporter.__init__``, which has already put
    the same dict into the cache.
    """
    if sys.version_info >= (3, 12):
        return
    zipimport.zipimporter._files = property(_get_files, lambda self, files: None)
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
