"""Python worker daemon for the engine's sessions.

Spark's Python worker calls ``importlib.invalidate_caches()`` before
every runner invocation (``pyspark.worker_util.setup_spark_files``).
Before CPython 3.13 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-parse its whole archive; a worker holds
about 17 of them over ``pyspark.zip`` (1328 entries), and the re-reads
are most of a small task's worker CPU. 3.13 made the invalidation lazy
for the same reason.

This module swaps in a zipimporter whose ``invalidate_caches()``
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed,
then runs the stock ``pyspark.daemon``; the workers it forks inherit
the swap. Directory finders are still refreshed on every task, a zip
that really changed is still re-read, and a zip added later (for
example by ``addPyFile``) gets a new importer through
``sys.path_hooks``. No pyspark internals are patched.

``session.get_spark`` selects this module with Spark's
``spark.python.daemon.module``; Spark runs it as
``python -m nova_pulsar_spark.worker_daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before this module
# last read the archive's directory into zipimport._zip_directory_cache
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StampedZipImporter(zipimport.zipimporter):
    """A zipimporter that re-reads its archive only when the file changed.

    All importers of one archive share one read: the first to see a new
    stamp re-reads the directory, the others pick up the cached copy.
    """

    def __init__(self, path):
        super().__init__(path)
        if self.archive not in _read_at:
            self.invalidate_caches()

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or stamp != _read_at.get(self.archive):
            super().invalidate_caches()
            _read_at[self.archive] = stamp
        else:
            self._files = files


def install() -> None:
    """Use :class:`StampedZipImporter` for zip paths from now on, and in
    place of the zip importers already in ``sys.path_importer_cache``."""
    sys.path_hooks[:] = [StampedZipImporter if h is zipimport.zipimporter else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[path] = StampedZipImporter(path)
            except ImportError:
                pass  # the archive is gone; keep the stock importer


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
