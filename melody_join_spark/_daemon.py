"""The pyspark worker daemon, minus the per-task zip directory re-read.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``).  On Python 3.11 that makes
every ``zipimporter`` on the path re-read its archive's whole directory
(pyspark.zip, the py4j zip, the spark-core jar: ~27k entries a task).  The
archives on a worker's path never change while it lives, and a path added
later by ``addPyFile`` still gets a fresh importer, so the re-read is made a
no-op here; the daemon's forked workers inherit it.  ``get_spark`` selects
this module through ``spark.python.daemon.module``.
"""

import zipimport


def _keep_directory(self):
    """The archive is unchanged: keep the directory already read."""


def manager():
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = _keep_directory
    daemon.manager()


if __name__ == "__main__":
    # run under the module's own name, so a worker can tell what it runs in
    from melody_join_spark._daemon import manager

    manager()
