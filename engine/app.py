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

from engine.ops.avro_codec import encode_record
from engine.ops.sinks import discard_transport, kinesis_put_partitions
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
):
    """Sink callable for IncrementalRunner: project to the 11-field contract,
    then Avro-encode and put in one executor-side pass
    (:func:`engine.ops.sinks.kinesis_put_partitions`: each partition ships
    its own ≤500-record chunks, the driver sums one row per put and never
    holds the batch).  ``dry_run`` or ``transport=None`` runs the same pass
    with :func:`engine.ops.sinks.discard_transport` — every row goes through
    the production encoder and nothing is sent (the reference's
    ``IGNORE_KINESIS``, lib/pipeline_controller.py:72).

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
    if dry_run or transport is None:
        transport = discard_transport

    def sink(df: DataFrame, batch_id: int) -> int:
        return kinesis_put_partitions(
            df.select(*cols), transport, batch_id=batch_id,
            encode=partial(encode_record, schema=avro_schema),
        )[0]

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
