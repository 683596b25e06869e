"""Keep zip importers from re-reading an unchanged archive.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python runner (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.12 that makes every ``zipimporter`` on ``sys.path_importer_cache``
re-read its archive's whole central directory at once. A worker holds
about 18 importers into ``pyspark.zip`` (1,328 entries), so each pandas
UDF or keyed-state runner (streaming/keyed_state.py) paid ~130 ms
(median, on a 4-vCPU machine) before it touched a row — and the CEP
stage starts two runners per task every batch.

``install()`` wraps ``zipimporter.invalidate_caches``: each importer
keeps an ``(st_ino, st_size, st_mtime_ns)`` stamp of its archive and
re-reads only when it has no stamp yet, when the stamp changed, or when
the archive cannot be stat'ed. An archive rewritten in place (``addPyFile``,
``--py-files``) is still picked up. CPython 3.12 invalidates zip
importers lazily, so there ``install()`` does nothing.

The package ``__init__`` calls ``install()``; every gush UDF is unpickled
by module reference, so the first runner of each worker process installs
it and the worker's later runners skip the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def installed() -> bool:
    """True when zip importers skip re-reading unchanged archives."""
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    Python >= 3.12)."""
    if sys.version_info >= (3, 12) or installed():
        return
    original = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_gush_stamp", None):
            original(self)
            self._gush_stamp = stamp

    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
