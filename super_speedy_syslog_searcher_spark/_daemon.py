"""pyspark's Python worker daemon, with zip importers that keep their caches.

Run as ``spark.python.daemon.module`` (see ``session.get_spark``).  Every
task calls ``importlib.invalidate_caches()``, which re-reads the central
directory of each cached zip importer's archive; no zip on a worker's
path is rewritten while the worker lives, so the forked workers skip it.
"""

import zipimport


def _keep_cache(self):
    """zipimporter.invalidate_caches: keep the archive's directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_cache
    from pyspark import daemon

    daemon.manager()
