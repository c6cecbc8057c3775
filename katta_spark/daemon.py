"""Spark Python daemon that stops every task from re-reading zip archives.

Before each task a reused Python worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``), so that
zips shipped with ``addPyFile`` since the last task become importable.
On CPython 3.11 ``zipimporter.invalidate_caches`` re-reads the whole
archive directory, once per importer. ``pyspark.zip`` (1,328 entries)
has one importer per imported package directory, about a dozen, so every
task paid 140-160 ms (4-core host) before running a line of user code.

This module replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since this module last read
it, and hands that one read to every importer of the archive; an
archive that cannot be stat-ed keeps the stdlib behaviour. Spark starts
it in place of ``pyspark.daemon`` when
``spark.python.daemon.module=katta_spark.daemon`` (set by
``katta_spark.session.get_spark``): it installs the method, refreshes
the importers that already exist, and runs ``pyspark.daemon.manager()``,
so every forked worker inherits the patch from its first task on.
Importing this module changes nothing; only running it does.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> (st_mtime_ns, st_size) of the directory this module
# last read into zipimport._zip_directory_cache; importers of one archive
# share that directory, so a change is read once, not once per importer
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _stdlib_invalidate(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and refresh every existing zip importer.

    Existing importers read their directory at an unknown time, so each
    archive is read once more here, stamped with a stat taken before that
    read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
