"""SparkSession construction for the engine.

One place for every config knob so that tests, the driver contract
(``__spark_entry__``), and ``bench.py`` run with identical, scale-aware
settings.  Key decisions (SURVEY §4, §7):

- **UTC session timezone.**  The reference pins ET-vs-GMT semantics in its
  golden tests (reference ``tests/test_pipeline_controller.py:23-26``); we pin
  UTC at the session level and convert explicitly with
  ``from_utc_timestamp`` where local-date semantics are required (F6), so no
  result ever depends on the host timezone.  This also makes DuckDB-oracle
  comparisons exact (DuckDB timestamps are naive-UTC).
- **AQE on.**  Runtime coalescing of shuffle partitions + skew-join splitting
  replace hand-tuned partition counts when the same plan runs at 1000×
  the local test data size.
- **Arrow on.**  Every Python seam runs over Arrow batches, never
  row-at-a-time: the geocode cascade and the Kinesis put are ``mapInArrow``
  passes, hashing and address parsing are pandas UDFs.
- **Python worker set-up.**  pyspark calls ``importlib.invalidate_caches()``
  in every Python task's set-up, and on Python 3.11 that re-reads the
  directory of ``pyspark.zip``, the py4j zip and the spark-core jar behind
  each of their zip importers: 0.15-0.25 s of CPU per task, more than a
  500-row micro-batch's own Python work.  Those archives do not change while
  the application runs, so the first import of ``engine`` inside a worker
  makes their importers keep their listings (``engine/__init__.py``).  It
  is not a session setting: the fix must act in whatever worker runs engine
  code, needs no module importable before ``--py-files`` arrive, and does
  nothing in the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _mem_bytes(size: str) -> int:
    """JVM memory string -> bytes ('4g', '4096m', '512', '1gb' all parse).

    A bare number is MiB: ``spark.driver.memory`` parses unitless strings
    with byteStringAsMb (JavaUtils.byteStringAsMb), so the comparison below
    must use the same magnitude or a unitless env/gateway value mis-warns
    by 2^20.  An explicit byte suffix ('4294967296b') stays BYTES — the
    MiB default applies only to truly unitless strings (review catch: the
    first cut stripped the 'b' and then multiplied bytes by 2^20)."""
    s = size.strip().lower()
    had_b = s.endswith("b")
    s = s.removesuffix("b")
    if s and s[-1] in _MEM_UNITS:
        return int(float(s[:-1]) * _MEM_UNITS[s[-1]])
    return int(s) if had_b else int(s) * _MEM_UNITS["m"]


def get_spark(
    app_name: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points run unchanged on a real cluster where ``master`` is
    supplied by spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode executor heap: Spark's 1g default dies on wide-row
        # stages (Expand over the 10× stress tables), while an oversized
        # heap REGRESSES the shuffle-heavy queries (measured: minhash 2.8 s
        # at 4g vs 6.9 s at 24g — bigger young gen, worse locality).  4g is
        # the measured sweet spot on this box; override via env.  A cluster
        # manager's per-executor setting takes over off-local.  NOTE:
        # spark.driver.memory only takes effect when THIS builder launches
        # the JVM — a getOrCreate against an already-running gateway keeps
        # the existing heap (we warn below when they differ).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
        )
        # deterministic timezone semantics (SURVEY §7 risk 4)
        .config("spark.sql.session.timeZone", "UTC")
        # adaptive execution: partition coalescing + skew-join handling at scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas_udf / mapInPandas / toPandas hop
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet scans: pushdown + pruning are the point (SURVEY §4)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # quiet the UI/logs for harness runs
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    requested_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    # unset conf on a pre-existing gateway means the JVM runs Spark's 1g
    # default — exactly the mismatch worth warning about; compare in BYTES
    # so '4096m' vs '4g' never false-positives
    actual_mem = spark.conf.get("spark.driver.memory", "1g")
    if _mem_bytes(actual_mem) != _mem_bytes(requested_mem):
        import warnings

        warnings.warn(
            f"spark.driver.memory is {actual_mem!r} (JVM already running), "
            f"not the requested {requested_mem!r}; driver memory is "
            "first-launch-only in local mode",
            stacklevel=2,
        )
    return spark
