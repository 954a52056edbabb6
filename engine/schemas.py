"""Every schema the engine touches, declared explicitly (SURVEY §1.3).

The reference hand-declares columns positionally (`lib/pipeline_controller.py:23-42`
in /root/reference) and fetches its output contract from an Avro registry; we keep
the same discipline Spark-side: one ``StructType`` per source/sink, zero
``inferSchema`` anywhere.  Also hosts the loaders for the deterministic
testdata tables (TESTDATA.md) used by the harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Domain schemas (reference data model, SURVEY §1)
# ---------------------------------------------------------------------------

#: Active-patrons scan result (S1) — column order mirrors the reference's
#: ``_SIERRA_COLUMNS`` (lib/pipeline_controller.py:27-30).
SIERRA_PATRONS = StructType(
    [
        StructField("patron_id_plaintext", StringType()),
        StructField("ptype_code", LongType()),
        StructField("pcode3", LongType()),
        StructField("patron_home_library_code", StringType()),
        StructField("city", StringType()),
        StructField("region", StringType()),
        StructField("postal_code", StringType()),
        StructField("address", StringType()),
        StructField("circ_active_date_et", DateType()),
        StructField("deletion_date_et", DateType()),
        StructField("last_updated_timestamp", TimestampType()),
        StructField("creation_timestamp", TimestampType()),
    ]
)

#: Deleted-patrons scan result (S2) — lib/pipeline_controller.py:258-260.
SIERRA_DELETED = StructType(
    [
        StructField("patron_id_plaintext", StringType()),
        StructField("deletion_date_et", DateType()),
    ]
)

#: Redshift warehouse / memo-cache table (S3, J5/J6/J8) —
#: ``_REDSHIFT_COLUMNS`` lib/pipeline_controller.py:23-26.
PATRON_INFO = StructType(
    [
        StructField("patron_id", StringType()),
        StructField("address_hash", StringType()),
        StructField("postal_code", StringType()),
        StructField("geoid", StringType()),
        StructField("creation_date_et", StringType()),
        StructField("circ_active_date_et", StringType()),
        StructField("ptype_code", LongType()),
        StructField("pcode3", LongType()),
        StructField("patron_home_library_code", StringType()),
        StructField("initial_patron_home_library_code", StringType()),
    ]
)

#: Census batch geocoder response CSV — 12 positional columns, no header
#: (lib/census_geocoder_api_client.py:37-41).
GEOCODER_RESPONSE = StructType(
    [
        StructField("index", LongType()),
        StructField("input_address", StringType()),
        StructField("match", StringType()),
        StructField("match_type", StringType()),
        StructField("matched_address", StringType()),
        StructField("coordinates", StringType()),
        StructField("tigerline_id", StringType()),
        StructField("tigerline_side", StringType()),
        StructField("state_id", StringType()),
        StructField("county_id", StringType()),
        StructField("tract_id", StringType()),
        StructField("block_id", StringType()),
    ]
)

#: The 11-field flat sink record (S7) — lib/pipeline_controller.py:31-42
#: (``_DTYPE_MAP``); emitted Avro-binary to Kinesis.
SINK_RECORD = StructType(
    [
        StructField("patron_id", StringType()),
        StructField("address_hash", StringType()),
        StructField("postal_code", StringType()),
        StructField("geoid", StringType()),
        StructField("creation_date_et", StringType()),
        StructField("deletion_date_et", StringType()),
        StructField("circ_active_date_et", StringType()),
        StructField("ptype_code", LongType()),
        StructField("pcode3", LongType()),
        StructField("patron_home_library_code", StringType()),
        StructField("initial_patron_home_library_code", StringType()),
    ]
)

#: Avro schema (JSON) matching SINK_RECORD — the engine-local stand-in for the
#: registry-fetched contract (lib/pipeline_controller.py:59).  All fields are
#: nullable unions, as Avro ETL contracts conventionally are.
SINK_AVRO_SCHEMA: dict = {
    "type": "record",
    "name": "PatronInfo",
    "fields": [
        {"name": f.name, "type": ["null", "long" if isinstance(f.dataType, LongType) else "string"], "default": None}
        for f in SINK_RECORD.fields
    ],
}

#: S3 poller-state checkpoint (S4/ST2) — 3 ISO-string watermarks
#: (lib/pipeline_controller.py:437-468).
POLLER_STATE = StructType(
    [
        StructField("creation_dt", StringType()),
        StructField("update_dt", StringType()),
        StructField("deletion_date", StringType()),
    ]
)

#: Defaults when no checkpoint exists (lib/pipeline_controller.py:445-450).
POLLER_STATE_DEFAULTS = {
    "creation_dt": "2020-01-01 00:00:00-05:00",
    "update_dt": "2020-01-01 00:00:00-05:00",
    "deletion_date": "2020-01-01",
}

# ---------------------------------------------------------------------------
# Testdata schemas (TESTDATA.md) — declared so reads never infer
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

EVENTS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

EMBEDDINGS = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)

#: Multimodal column convention (north-star): opaque payload + typed metadata.
MEDIA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table.  Parquet carries its own schema; no inference.

    The ``events`` table's timestamp physical type has varied across driver
    generations: nanosecond (Spark 4 refuses it by default with
    PARQUET_TYPE_ILLEGAL — read as int64 nanos, floor to microseconds,
    exactly DuckDB's TIMESTAMP_NS→TIMESTAMP cast) and µs with
    isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ, which Spark won't cast
    to BIGINT — reinterpret as a UTC instant; the session zone is pinned to
    UTC below, so the wall-clock values are unchanged and match the
    naive-timestamp DuckDB oracle).  Both normalize to plain TIMESTAMP so
    downstream epoch arithmetic (``cast(ts as long)``) works either way.
    """
    # deterministic timestamp semantics regardless of the hosting session:
    # instants render/parse as UTC (engine contract; matches the naive-UTC
    # DuckDB oracle).  Runtime conf — safe to set repeatedly.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: double division rounds at the µs boundary
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
