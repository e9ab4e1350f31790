"""Skip re-reading unchanged zip archives in ``importlib.invalidate_caches()``.

PySpark starts every call into a reused Python worker with
``worker_util.setup_spark_files()``, which ends in
``importlib.invalidate_caches()``.  On CPython 3.10-3.12 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory at once.  Workers import pyspark
from ``$SPARK_HOME/python/lib/pyspark.zip`` (~1,670 entries) and hold
one zipimporter per imported pyspark sub-package, so each call spent
~0.1-0.25 s re-reading an archive that had not changed.  A streaming
sink pays that three times per micro-batch (writer planning, each
write task, driver-side commit).

On those versions this module wraps ``zipimporter.invalidate_caches``
so that an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` differs from when that importer
last read it.  A changed or missing archive goes through the original
method, so a rewritten archive is still picked up.  CPython 3.13 made
the method lazy (it only drops the cache entry); there this module
does nothing.

``pgshovel_spark/__init__.py`` imports this module first, so every
process that runs pgshovel code — Spark Python workers included —
installs the wrapper.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install(cls=zipimport.zipimporter, version=sys.version_info) -> bool:
    """Wrap ``cls.invalidate_caches`` (idempotent); return whether the
    wrapper is in place.  Does nothing on CPython >= 3.13 or where the
    method does not exist."""
    original = getattr(cls, "invalidate_caches", None)
    if version >= (3, 13) or original is None:
        return False
    if hasattr(original, "__wrapped__"):
        return True

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            key = _stat_key(self.archive)
        except (OSError, ValueError):
            key = None
        if key is None or key != getattr(self, "_pgshovel_read_key", None):
            # the stat is taken before the read: an archive rewritten
            # in between is re-read again on the next call
            original(self)
            self._pgshovel_read_key = key

    cls.invalidate_caches = invalidate_caches
    return True


install()
