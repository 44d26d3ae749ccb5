"""Python task start without per-task zip directory re-reads.

Why this exists: PySpark 4.1.2 starts every Python task of a reused
worker with ``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Under CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and each one re-reads its whole archive
directory (``zipimport._read_directory``). A worker holds ~16 of them
(``pyspark.zip`` and its subpackages, the py4j zip, the spark-core jar,
a ``--py-files`` zip), so every ``mapInPandas`` / ``pandas_udf`` task
paid ~250 ms of worker CPU before it read a row — more than the
percolation kernel costs per pass.

:func:`install` wraps ``zipimporter.invalidate_caches`` so that an
archive is re-read only when its ``os.stat`` key ``(st_ino, st_size,
st_mtime_ns)`` differs from the key taken just before its last read;
otherwise the importer rebinds ``_files`` to the shared
``zipimport._zip_directory_cache`` entry, so one re-read serves every
importer of that archive. The key is safe because the cases
``invalidate_caches`` exists for still change it: an archive added by
``addPyFile`` is a new path (a new importer, read on construction), and
an archive rewritten in place gets a new size or mtime (replaced by a
rename, a new inode) — the test CPython itself applies to a ``.pyc``
against its source. The key is taken before the read, so an archive
changed during a read is read again next time. A path that cannot be
stat'ed (a deleted archive) takes the stock path.

``koncorde_spark/__init__.py`` installs it once per PySpark worker
process; the driver's import semantics are untouched. When ``zipimport``
lacks the CPython 3.11 shape (``_zip_directory_cache``, a Python-level
``invalidate_caches`` that re-reads via ``_read_directory`` into
``_files``), :func:`install` leaves the stock behaviour in place.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> stat key taken just before its last directory read
_read_keys: dict[str, tuple[int, int, int]] = {}


def installed() -> bool:
    """True when this process's zipimporters re-read only changed archives."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` once per process (a second
    call is a no-op). Returns whether the wrapper is in place."""
    if installed():
        return True
    stock = zipimport.zipimporter.invalidate_caches
    names = getattr(getattr(stock, "__code__", None), "co_names", ())
    if not (isinstance(getattr(zipimport, "_zip_directory_cache", None), dict)
            and {"_files", "_read_directory", "_zip_directory_cache"} <= set(names)):
        return False

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _read_keys.get(self.archive) == key:
            self._files = files
        else:
            stock(self)
            _read_keys[self.archive] = key

    invalidate_caches._stat_keyed = True
    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
