"""The Python worker daemon of build_session's sessions: pyspark's own
daemon, started after install() has guarded the zip-directory cache.

pyspark's worker calls importlib.invalidate_caches() before every task
(worker_util.setup_spark_files). On CPython 3.11 that makes each cached
zipimporter re-read its archive's whole directory: a worker holds 16 of
them on pyspark.zip (1,328 entries), 0.11–0.20 CPU-s per task on a 4-core
VM. The guard re-reads an archive only when its (st_mtime_ns, st_size,
st_ino) differs from the stamp taken when this process last read it, so
it is not a no-op: an archive replaced under the same path (addPyFile)
is still re-read. Importing this module patches nothing; only
``python -m sbb_ocr_postcorrection_spark._daemon`` (the session's
spark.python.daemon.module) installs the guard, and the forked workers
inherit it.
"""

import os
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Guard zipimporter.invalidate_caches; the stock behaviour stays on a
    Python without CPython's private _zip_directory_cache."""
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if cache is None:
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple | None] = {}  # archive -> stamp at its last read

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and self.archive in cache:
            self._files = cache[self.archive]
            return
        reread(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
