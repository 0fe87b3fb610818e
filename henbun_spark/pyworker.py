"""Python worker daemon for henbun_spark sessions.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython < 3.12 that makes each ``zipimporter`` re-read its
archive's whole central directory; the workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` through one zipimporter per
package directory, so every task re-read that archive some 16 times
before its UDF started. Here the re-read happens only when the archive's
``(st_ino, st_size, st_mtime_ns)`` differs from the last read; the first
call per archive, a changed archive and an ``OSError`` keep the stock
behaviour. CPython 3.12 made the invalidation lazy, so there this
installs nothing.

``sources.get_spark`` sets ``spark.python.daemon.module`` to this
module: run as ``__main__`` it installs the check and hands over to
``pyspark.daemon.manager()``, so every forked worker inherits it. Running
it imports the henbun_spark package into the daemon, so workers fork with
numpy, pandas and pyarrow loaded and share those pages with it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int, int]] = {}  # archive -> stat at last read


def invalidate_caches(self):
    """Stat-checked `zipimporter.invalidate_caches`."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        return _stock_invalidate(self)
    key = (st.st_ino, st.st_size, st.st_mtime_ns)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if _read_at.get(self.archive) == key and cached is not None:
        # another importer of the same archive may have made the last read
        self._files = cached
        return
    _stock_invalidate(self)
    if self.archive in zipimport._zip_directory_cache:
        _read_at[self.archive] = key
    else:  # the read failed: leave the next call to read again
        _read_at.pop(self.archive, None)


def install() -> None:
    """Patch `zipimport.zipimporter` for this process (CPython < 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install through the package module, so workers see one copy of it
    from henbun_spark import pyworker
    from pyspark.daemon import manager

    pyworker.install()
    manager()
