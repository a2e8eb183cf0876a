"""Re-read a zip's directory on invalidate_caches() only if the file changed:
before Python 3.13 every call re-parses the archive, and a PySpark worker calls
it per task for ~16 importers on pyspark.zip (0.1-0.4 s a task)."""

import os
import sys
import zipimport

_STAMPS = {}  # archive -> os.stat stamp taken before its cached directory was read


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp and files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)
        _STAMPS[self.archive] = stamp


if sys.version_info < (3, 13) and zipimport.zipimporter.invalidate_caches.__module__ != __name__:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for importer in list(sys.path_importer_cache.values()):  # read and stamp each archive once
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()
