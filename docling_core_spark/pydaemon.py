"""Python worker daemon that stops every task re-reading unchanged zip archives.

At the start of each task pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  ``zipimport.zipimporter.invalidate_caches``
answers by re-reading the archive's whole central directory, once per importer;
a worker holds one importer per imported package of ``pyspark.zip`` (1,328
entries), so every task paid ~16 re-reads, ~200 ms on a 4-core host.  The
replacement re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since it was last read, and otherwise reuses the directory already cached in
``zipimport._zip_directory_cache``.  ``session.get_spark`` sets this module as
``spark.python.daemon.module``; workers forked from the daemon inherit the patch.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}  # archive -> stat stamp at its last read


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips rescans of unchanged archives."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)  # stat before the read: a write racing the read forces another
    if stamp is not None:
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    # run as ``python -m``: patch with the importable copy of this module so
    # the patched method names ``docling_core_spark.pydaemon``, not ``__main__``
    from docling_core_spark import pydaemon
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = pydaemon.invalidate_caches
    daemon.manager()
