"""Python worker daemon for the sessions ``session.get_spark`` builds.

Spark forks every Python worker from this process, so what it installs is
inherited by all of them. Each task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and before Python 3.13 every
cached ``zipimporter`` then re-reads its archive's whole directory: pyspark.zip,
py4j and the spark-core jar, 16 reads and ~0.2 s per task (Python 3.11, Spark
4.1). On those versions this installs Python 3.13's lazy invalidation: it
only drops the archive's ``_zip_directory_cache`` entry, and ``_files`` reads
through that cache, so a changed archive is re-read at its next lookup.
"""

from __future__ import annotations

import sys
import zipimport


def _files(self):
    try:
        return zipimport._zip_directory_cache[self.archive]
    except KeyError:
        try:
            files = zipimport._zip_directory_cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def _invalidate_caches(self):
    zipimport._zip_directory_cache.pop(self.archive, None)


def install() -> None:
    if sys.version_info < (3, 13):
        # __init__ assigns _files after it has filled the cache
        zipimport.zipimporter._files = property(_files, lambda self, files: None)
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # import by name, so the installed functions belong to this module
    from work_order_pdf_extractor_spark.pyworker import install

    install()
    from pyspark.daemon import manager

    manager()
