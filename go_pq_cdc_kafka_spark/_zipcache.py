"""Re-read a zip archive's directory on ``invalidate_caches()`` only when the
archive changed on disk.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` since the previous task become importable. Before Python 3.13,
``zipimporter.invalidate_caches`` eagerly re-reads the whole central
directory of its archive, and a worker holds one importer per package
directory it imported from a zip, ~17 in all over ``pyspark.zip`` (1 328
entries), py4j and this package's shipped zip. On a 4-core x86
host that re-reading took 120-230 ms of every task, more than decoding a
whole 8 000-row replication trigger; with :func:`install` the call takes
~0.2 ms. Python 3.13 made the re-read lazy, so there :func:`install` does
nothing.

Below 3.13, :func:`install` records each archive's stat signature whenever
its directory is read, and ``invalidate_caches()`` points the importer at
the shared ``zipimport._zip_directory_cache`` entry while that signature is
unchanged. An archive rewritten on disk is still re-read, which is what the
invalidation exists for.

The patch is process-wide by nature (it replaces a method of the
``zipimporter`` class); the package ``__init__`` installs it, so every Python
worker that unpickles engine code has it from then on.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> stat signature taken just before its last directory read
_signatures: dict[str, tuple[int, int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino)


def _read_directory(archive: str, _read=zipimport._read_directory) -> dict:
    # stat BEFORE reading: a rewrite that lands during the read leaves the
    # older signature recorded, so the next invalidation reads again
    signature = _signature(archive)
    files = _read(archive)
    _signatures[archive] = signature
    return files


def _invalidate_caches(
    self: zipimport.zipimporter,
    _invalidate=zipimport.zipimporter.invalidate_caches,
) -> None:
    files = zipimport._zip_directory_cache.get(self.archive)
    signature = _signature(self.archive)
    if (
        files is not None
        and signature is not None
        and _signatures.get(self.archive) == signature
    ):
        self._files = files
    else:
        _invalidate(self)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives in this
    process. Idempotent; a no-op on Python >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
