"""Keep zip archives' directories across ``importlib.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before CPython 3.12 that makes every ``zipimporter`` on
``sys.path`` re-read its archive's whole central directory (pyspark.zip,
the py4j zip, the Spark core jar: 16 reads, 0.15-0.40 s per task on a
4-CPU host). Here the cached directory is kept while the archive's
inode, size and mtime match the stamp taken at its last read; a changed
archive is re-read. CPython 3.12 reads lazily (gh-103200): no patch.
"""
import os
import sys
import zipimport

if sys.version_info < (3, 12):
    _stdlib_invalidate = zipimport.zipimporter.invalidate_caches
    _stamps: dict = {}

    def _stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_ino, st.st_size, st.st_mtime_ns

    def _invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read it vouches for
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        _stdlib_invalidate(self)
        _stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
