"""The session's Python workers run under the library's worker daemon."""

from __future__ import annotations


def test_workers_run_under_the_daemon(spark):
    def probe(_):
        import sys
        import zipimport

        mod = sys.modules.get("melody_join_spark._daemon")
        yield (
            mod is not None,
            mod is not None and zipimport.zipimporter.invalidate_caches is mod._keep_directory,
        )

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect() == [(True, True)]
