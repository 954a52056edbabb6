"""spark-graft engine — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference incremental-ETL pipeline
(NYPL/patron-info-poller), re-expressed Spark-first.

Layout (SURVEY.md §7):

- :mod:`engine.session`   — SparkSession builder tuned for the harness
- :mod:`engine.schemas`   — every explicit StructType (SURVEY §1.3: never infer)
- :mod:`engine.ops`       — one module per SURVEY §2 operator category
- :mod:`engine.pipeline`  — the three incremental pipeline mode graphs (SURVEY §3)
- :mod:`engine.streaming` — Structured Streaming layer (SURVEY §2.9)
- :mod:`engine.extended`  — scale-oriented LLM-data-pipeline operators
"""

import sys as _sys

__version__ = "0.1.0"


def _keep_launcher_archive_listings() -> None:
    """In a Spark Python worker, make ``importlib.invalidate_caches()`` skip
    the zip importers over the archives Spark's launcher put on the worker's
    ``PYTHONPATH`` (``pyspark.zip``, the py4j zip, the spark-core jar).

    pyspark calls ``invalidate_caches()`` in every task's set-up
    (``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each zip
    importer then re-reads its archive's whole directory (the cost is in the
    :mod:`engine.session` docstring).  Those archives do not change while
    the application runs.  Any other zip (``addPyFile``, a path added later)
    is still re-read."""
    import os
    import zipimport

    fixed = {
        p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
        if os.path.isfile(p)
    }
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in fixed:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# pyspark sets this flag in a worker's task set-up, before it unpickles the
# code that imports this package; it is never set in the driver.
_files = _sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    _keep_launcher_archive_listings()
del _files
