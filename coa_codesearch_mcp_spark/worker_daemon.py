"""PySpark worker daemon that keeps zip-archive directories cached.

Before every task, a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On Python 3.11 that
makes each ``zipimport.zipimporter`` re-read its whole archive
directory: one importer per package imported from ``pyspark.zip`` (1 328
entries), so a reused worker spends most of a small task re-parsing the
same zip. The zips on a worker's path never change while it runs, so
this daemon makes ``zipimporter.invalidate_caches`` a no-op before it
starts ``pyspark.daemon.manager()``; forked workers inherit the patch.
``FileFinder`` invalidation, which ``SparkContext.addPyFile`` relies on,
is untouched.

``session.get_spark`` selects it (``spark.python.daemon.module``) for
``local[...]`` masters only, where the workers run in the driver's
environment and can import this package. Run directly with
``python -m coa_codesearch_mcp_spark.worker_daemon``.
"""

import zipimport


def keep_zip_directory(self) -> None:
    """Replacement for ``zipimporter.invalidate_caches``: keep the
    directory read at import time."""


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = keep_zip_directory
    manager()
