"""Stop Spark Python workers from re-reading unchanged zip archives.

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task. On CPython 3.11 that makes every ``zipimport.zipimporter``
re-read its archive's whole central directory, and a worker holds one
importer per imported package of ``pyspark.zip`` (1,300+ entries),
py4j's zip and the engine zip shipped by ``session.attach`` — about
0.2 s of Python per task before any row is read.

``install`` wraps ``zipimporter.invalidate_caches`` so that an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` stamp differs from the stamp taken
before its last read; a rewritten or replaced zip is still picked up.
It only acts inside a Spark Python worker, recognised by the
``PYTHON_WORKER_FACTORY_SECRET`` variable that Spark's worker factory
sets and a driver never has.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> (stamp taken before the read, directory read). One
# entry per archive for the whole process, like zipimport's own
# ``_zip_directory_cache``: every importer of an archive shares it.
_seen: dict = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    seen = _seen.get(archive)
    if seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _stdlib_invalidate_caches(self)
    # the stdlib drops the archive from its cache when the read fails
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _seen[archive] = (stamp, self._files)
    else:
        _seen.pop(archive, None)


def install() -> None:
    """Install the guard when running inside a Spark Python worker.

    Each archive already imported from is read once more here, so its
    stamp belongs to a read made after the stamp was taken.
    """
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
