"""Python worker daemon: pyspark's own, with zip importers that keep their
archive directory until the archive changes.

Before every task a pyspark worker calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every zip importer on ``sys.path`` re-read its
archive's central directory. A worker's path holds ``pyspark.zip``, the
py4j zip and the spark-core jar (~5 000 entries), and the re-reads cost
~250 ms per task. Here an importer re-reads only when its archive's
``(mtime_ns, size)`` differs from the one its cached directory was read
at. Archives read before the fork are stamped, so no worker re-reads an
unchanged archive, even on its first task.

``get_spark`` selects this module with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size) when its cached directory was read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _invalidate(self)
        _stamps[self.archive] = stamp
    else:
        self._files = files


def install() -> None:
    """Stamp every archive read so far and route each zip importer's
    ``invalidate_caches`` through the change check."""
    for archive in zipimport._zip_directory_cache:
        _stamps[archive] = _stamp(archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    from pyspark.daemon import manager  # reads the archives it imports from

    install()
    manager()
