"""Top-level run orchestration — the reference's ``main.py`` equivalent
(main.py:11-24 in /root/reference: load config, then run the three pipeline
modes in sequence against one run timestamp).

:func:`run_all_modes` wires config (S9) + state store (S4) + the three mode
graphs (SURVEY §3) + sink (S7/S8) behind injected sources, so the same
function serves tests (in-memory frames + fakes), local batch runs (parquet),
and production (JDBC incremental sources, boto3 Kinesis transport).

The single ``now`` snapshot matters: the reference freezes the run timestamp
once so all three modes scan the same half-open interval (its tests pin this
with a frozen clock, tests/test_main.py:9).  Cross-mode dedup (a patron both
created and updated in the window emits once, ST4) falls out of sharing one
``IncrementalRunner`` — its session key set spans modes.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.ops.avro_codec import encode_record, to_avro_col
from engine.ops.sinks import kinesis_put_partitions, write_kinesis
from engine.pipeline import (
    IncrementalRunner,
    PipelineConfig,
    PipelineMode,
    RunStats,
    deleted_patrons_graph,
    new_patrons_graph,
    updated_patrons_graph,
)
from engine.schemas import SINK_AVRO_SCHEMA, SINK_RECORD

__all__ = ["RunReport", "make_avro_kinesis_sink", "run_all_modes"]


@dataclass
class RunReport:
    new: RunStats
    updated: RunStats
    deleted: RunStats
    started_at: dt.datetime


def make_avro_kinesis_sink(
    transport,
    *,
    dry_run: bool = False,
    schema_source: str | dict | None = None,
    schema_transport=None,
    mode: str = "executor",
):
    """Sink callable for IncrementalRunner: project to the 11-field contract,
    Avro-encode, put.  The default ``mode='executor'`` encodes and puts in
    one executor-side pass (:func:`engine.ops.sinks.kinesis_put_partitions`:
    each partition ships its own ≤500-record chunks, the driver sums one row
    per put and never holds the batch); ``mode='driver'`` is the explicit
    opt-in for in-memory test transports and strictly-ordered puts (the
    reference's single-process order, lib/kinesis_client.py).

    ``schema_source`` enables the SURVEY §1.3 startup guard (reference:
    registry fetch at controller construction, lib/pipeline_controller.py:59):
    a registry URL (fetched via the injected ``schema_transport``) or an
    already-parsed Avro schema dict, verified field-by-field against
    SINK_RECORD HERE — at sink construction — so a drifted contract raises
    SchemaDriftError before any batch runs.  The verified registry schema
    then drives the encoder.  ``None`` keeps the engine-local stand-in
    schema (no external registry in the sandbox)."""
    from engine.ops.avro_registry import check_schema_compat, fetch_avro_schema

    if schema_source is None:
        avro_schema = SINK_AVRO_SCHEMA
    else:
        avro_schema = (
            fetch_avro_schema(schema_source, transport=schema_transport)
            if isinstance(schema_source, str)
            else schema_source
        )
        check_schema_compat(avro_schema, SINK_RECORD)
    cols = [f.name for f in SINK_RECORD.fields]

    def sink(df: DataFrame, batch_id: int) -> int:
        live = not (dry_run or transport is None)
        if live and mode != "driver":
            return kinesis_put_partitions(
                df.select(*cols), transport, batch_id=batch_id,
                encode=partial(encode_record, schema=avro_schema),
            )[0]
        enc = df.select(to_avro_col(df, cols, avro_schema).alias("record"))
        if not live:
            # A bare count would let Catalyst prune the encode projection
            # away entirely — the dry run is exactly the run that must
            # SURFACE per-record encode failures before production
            # (reference IGNORE_KINESIS still encodes).  Aggregating over
            # the record bytes forces every row through the encoder
            # (review catch r8).
            row = enc.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.octet_length("record")).alias("__bytes"),
            ).collect()[0]
            return row["n"]
        return write_kinesis(enc, transport, batch_id=batch_id, mode="driver")

    return sink


def run_all_modes(
    spark: SparkSession,
    cfg: PipelineConfig,
    state_store,
    *,
    active_source: DataFrame,
    deleted_source: DataFrame,
    patron_info: DataFrame,
    sink=None,
    census=None,
    geosupport=None,
    now: dt.datetime | None = None,
) -> RunReport:
    """NEW → UPDATED → DELETED with one shared runner (shared dedup state) and
    one frozen run timestamp (reference main.py:13)."""
    started = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    runner = IncrementalRunner(spark, cfg, state_store, sink=sink)

    new_stats = runner.run_mode(
        active_source,
        PipelineMode.NEW_PATRONS,
        lambda batch, seen: new_patrons_graph(
            batch, cfg, seen=seen, census=census, geosupport=geosupport
        ),
        now=started,
    )
    upd_stats = runner.run_mode(
        active_source,
        PipelineMode.UPDATED_PATRONS,
        lambda batch, seen: updated_patrons_graph(
            batch, patron_info, cfg, seen=seen, census=census, geosupport=geosupport
        ),
        now=started,
    )
    del_stats = runner.run_mode(
        deleted_source,
        PipelineMode.DELETED_PATRONS,
        lambda batch, seen: deleted_patrons_graph(batch, patron_info, cfg, seen=seen),
        now=started,
    )
    return RunReport(new=new_stats, updated=upd_stats, deleted=del_stats, started_at=started)
