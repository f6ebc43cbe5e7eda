"""Spark Python worker daemon that stops per-task zip re-scans.

Before every task, pyspark's ``setup_spark_files`` calls
``importlib.invalidate_caches()`` so that archives shipped by
``addPyFile`` become importable. On CPython 3.11 that makes every cached
``zipimporter`` re-read its whole archive directory. A worker holds one
zipimporter per package path it imported from ``pyspark.zip`` (16 of
them over 1,328 entries), so each task paid that re-read before doing
any work.

``get_spark`` runs this module as ``spark.python.daemon.module``. It
makes ``zipimporter.invalidate_caches`` skip the re-read while the
archive is unchanged: same ``(st_mtime_ns, st_size, st_ino)`` as at
this process's last read, with its directory still cached. A changed
archive is re-read as before, so ``addPyFile`` semantics hold. Then it
runs pyspark's own daemon, which forks the workers.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before this process last read it
_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and cached is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    # stat BEFORE the read: an archive rewritten during the read keeps
    # the old stamp, so the next call reads it again
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    install()
    # one stamped read per archive here, so forked workers inherit the
    # stamps and skip even their first re-read
    importlib.invalidate_caches()
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    # run through the package module so workers find it in sys.modules
    # under its import name, not only as __main__
    from sketchlib.spark import worker_daemon
    worker_daemon.main()
