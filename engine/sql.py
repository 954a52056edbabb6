"""Pure-SQL surface for the engine (capability: a reference user can drive
the engine from ``spark.sql`` alone).

:func:`register_engine_sql` binds, on one SparkSession:

- the testdata tables as temp views (``region`` … ``embeddings``);
- the engine's Python-seam functions as SQL-callable UDFs
  (``engine_parse_address``, ``engine_obfuscate``);
- expression-level operators as SQL MACRO-style temp views is not possible in
  OSS Spark, so the expression operators are exposed through the DataFrame
  API and the query pack instead — everything in ``queries.py`` that is
  expression-only can already be written directly in Spark SQL (see the
  oracle strings, which are near-verbatim Spark SQL).

UDF registration uses the Arrow-batched implementations — registering them
does not change their execution path (still vectorized).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from engine.ops.address import parse_address_udf
from engine.schemas import register_views

__all__ = ["register_engine_sql"]


def register_engine_sql(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Make the engine usable from ``spark.sql(...)``."""
    if sf_dir:
        register_views(spark, sf_dir)

    spark.udf.register("engine_parse_address", parse_address_udf())

    @pandas_udf(StringType())
    def engine_obfuscate(value: pd.Series, salt: pd.Series) -> pd.Series:
        # keyed SHA-256, identical to obfuscate_col(mode='sha2') JVM-side
        def one(v, s):
            if v is None:
                return None
            return hashlib.sha256(((s or "") + v).encode("utf-8")).hexdigest()

        return pd.Series([one(v, s) for v, s in zip(value, salt)])

    spark.udf.register("engine_obfuscate", engine_obfuscate)
