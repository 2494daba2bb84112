"""Spark's Python worker daemon (``spark.python.daemon.module``), on the
installed pyspark.

Spark puts pyspark.zip, the py4j zip and the spark-core jar first on each
worker's sys.path; every task's ``importlib.invalidate_caches()`` then makes
each zip importer re-read its archive's central directory (0.15-0.4 s of CPU
per task). When pyspark and py4j resolve outside the archives, drop the
archives and the importers runpy cached for them, before anything imports
pyspark; otherwise keep Spark's path."""
import importlib.util
import os
import sys


def drop_archives() -> None:
    saved = list(sys.path)
    archives = [p for p in saved if os.path.isfile(p)]
    sys.path[:] = [p for p in saved if p not in archives]
    if not all(importlib.util.find_spec(m) for m in ("pyspark", "py4j")):
        sys.path[:] = saved
        return
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    drop_archives()
    from pyspark import daemon
    daemon.manager()
