"""Python worker daemon: pyspark from a compiled install, and no per-task zip rescans.

**Compiled pyspark.**  The JVM starts the daemon with ``$SPARK_HOME/python/lib/
pyspark.zip`` first on ``PYTHONPATH``.  That zip ships sources only and
zipimport never caches bytecode, so every daemon recompiled ~100 pyspark
modules before it could fork a worker: ``import pyspark.daemon, pyspark.worker``
took 0.9-1.3 s from the zip and ~0.2 s from an installed pyspark's
``__pycache__`` on a 4-core host.  Before it imports pyspark the daemon takes
the archives that shadow a directory install of pyspark off ``sys.path``, but
only when each one's ``pyspark/version.py`` is byte-identical to the install's
(:func:`compiled_pyspark_path`); otherwise ``sys.path`` is left as it is.  The
forked workers inherit the path.

**No per-task rescans.**  At the start of each task pyspark's worker calls
``importlib.invalidate_caches()`` (``worker_util.setup_spark_files``).
``zipimport.zipimporter.invalidate_caches`` answers by re-reading the archive's
whole central directory, once per importer; a worker that imports pyspark from
``pyspark.zip`` (1,328 entries) holds one importer per imported package, so
every task paid ~16 re-reads, ~200 ms on a 4-core host.  The replacement
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since it
was last read, and otherwise reuses the directory already cached in
``zipimport._zip_directory_cache``; the py4j zip, jars and ``addPyFile``
archives still go through it.

``session.get_spark`` sets this module as ``spark.python.daemon.module``;
workers forked from the daemon inherit both changes.
"""

from __future__ import annotations

import os
import sys
import zipimport
from importlib.machinery import PathFinder, SourceFileLoader

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


def compiled_pyspark_path(path: list[str]) -> list[str]:
    """``path`` without the archives that shadow a same-release directory install of pyspark.

    Entries are searched in import order with the import system's own finders.
    Each archive (zip or jar) that provides ``pyspark`` ahead of the first
    directory that does is dropped, provided every such archive's
    ``pyspark/version.py`` equals the directory's byte for byte.  With no
    shadowing archive, no directory install, or any version that differs or
    cannot be read, ``path`` itself is returned.
    """
    shadowing: dict[str, bytes] = {}  # archive -> its pyspark/version.py
    for entry in path:
        spec = PathFinder.find_spec("pyspark", [entry])
        if spec is None or spec.origin is None:  # absent, or a namespace portion
            continue
        loader = spec.loader
        if not isinstance(loader, (zipimport.zipimporter, SourceFileLoader)):
            return path
        try:
            version = loader.get_data(os.path.join(os.path.dirname(spec.origin), "version.py"))
        except OSError:
            return path
        if isinstance(loader, zipimport.zipimporter):
            shadowing[entry] = version
            continue
        if shadowing and set(shadowing.values()) == {version}:
            return [e for e in path if e not in shadowing]
        return path
    return path


if __name__ == "__main__":
    # run as ``python -m``: use the importable copy of this module so the
    # patched method names ``docling_core_spark.pydaemon``, not ``__main__``
    from docling_core_spark import pydaemon

    sys.path[:] = pydaemon.compiled_pyspark_path(sys.path)  # before pyspark loads
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = pydaemon.invalidate_caches
    daemon.manager()
