"""Python worker daemon: ``pyspark.daemon`` minus the per-task re-read of
every zip archive on the worker path.

Spark starts this module (``spark.python.daemon.module`` in
``session.DEFAULT_CONFS``) once per worker factory; every Python worker is
forked from it and inherits the patch below.  Each task, even in a reused
worker, calls ``importlib.invalidate_caches()``, and before CPython 3.13
(which made it lazy) ``zipimporter.invalidate_caches`` re-reads its
archive's whole central directory: 16 importers over ``pyspark.zip``
(1,328 entries) and the ``spark-core`` jar (5,359 entries) per task.  The
patch re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stamp taken before its last read, so a new or rewritten archive is
still read and an unchanged one keeps its listing.
"""

from __future__ import annotations

import collections
import importlib
import os
import sys
import zipimport

# Central-directory reads per archive in this process (the daemon's own
# reads are inherited by every forked worker).
reads: collections.Counter = collections.Counter()
_stamps: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    listing = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp and listing is not None:
        self._files = listing
        return
    _reread(self)
    reads[self.archive] += 1
    _stamps[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        importlib.invalidate_caches()  # stamp every archive once, before forking
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the importable copy, so tasks read ``reads`` under the module's
    # own name rather than ``__main__``.
    from big_data_lab_three_spark import pyworker

    pyworker.main()
