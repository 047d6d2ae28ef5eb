"""The Python worker daemon of local sessions (`spark.python.daemon.module`,
set by `session.get_spark`): `pyspark.daemon` with Spark's own archives
pinned.  Every task re-reads the directory of each archive on the
worker's path (see `session`); the archives on the path when the daemon
starts (pyspark.zip, py4j, the spark-core jar) do not change while it
runs, so their importers skip that re-read.  Workers fork from this
process and inherit the pinned importers; archives added later
(`addPyFile`, `--py-files`) keep CPython's invalidation.
"""

import sys
import zipimport


class _PinnedZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        pass


def _pin_archives() -> None:
    """Pin the importers over the archives on the path now, and the ones
    the zip path hook makes over the same archives later."""
    archives = {
        i.archive for i in sys.path_importer_cache.values()
        if isinstance(i, zipimport.zipimporter)
    }

    def pin(importer):
        if type(importer) is zipimport.zipimporter and importer.archive in archives:
            importer.__class__ = _PinnedZipImporter
        return importer

    for importer in list(sys.path_importer_cache.values()):
        pin(importer)
    sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = (
        lambda path: pin(zipimport.zipimporter(path))
    )


if __name__ == "__main__":
    import pyspark.daemon  # reads the worker module from sys.argv, as always

    _pin_archives()
    pyspark.daemon.manager()
