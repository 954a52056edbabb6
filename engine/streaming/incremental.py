"""The incremental pipeline as a genuine Structured Streaming query
(SURVEY §2.9 ST1-ST4; BASELINE.json north star: "Structured Streaming +
Kinesis sink"), and the engine's one ``availableNow`` drain.

:func:`run_available_now` wires: file/parquet ``readStream`` source →
watermark + stateful dedup → a pipeline mode graph → ``foreachBatch`` sink
(Avro encode + Kinesis put) → checkpointed offsets, triggered
``availableNow`` so a run drains everything currently available and stops —
the exact operational shape of the reference's poll loop, with Spark's
checkpoint dir replacing the hand-rolled S3 watermark (S4) and the state
store replacing ``processed_ids`` (ST4).

Every stream the engine starts goes through :func:`_drain`, the
trigger-and-commit discipline in one place: the sink maintainers in
:mod:`engine.streaming.sketches` and :mod:`engine.streaming.matview` hand
it their per-batch fold, :func:`run_available_now` its transform + sink.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from engine.streaming.windows import stream_dedup

__all__ = ["parquet_stream", "run_available_now"]


def parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (the harness's stand-in
    for the polled DB table; each new file = newly arrived rows)."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def _drain(
    stream_df: DataFrame,
    fold: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    query_name: str,
):
    """Run ``fold(batch_df, batch_id)`` over every micro-batch available
    now, then return the terminated query.

    ``foreachBatch`` is at-least-once: a failed batch can be re-delivered
    with the SAME batch id, and folding it twice would inflate a counter
    sketch or merge a snapshot twice.  So a batch id is skipped once
    folded, and recorded only after ``fold`` returns (a fold that raises
    is retried in full).  Across restarts the checkpoint skips committed
    batches, so this in-process guard is the only gap it has to close.
    """
    folded: set[int] = set()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in folded:
            return
        fold(batch_df, batch_id)
        folded.add(batch_id)

    query = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def run_available_now(
    stream_df: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    *,
    dedup_keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    query_name: str = "engine-incremental",
):
    """Drain all available input through ``transform`` into ``sink``.

    ``transform`` runs per micro-batch *inside* foreachBatch so mode graphs
    built for batch DataFrames (engine.pipeline) work unchanged; stateful
    dedup happens stream-side first, so the graphs see each key once
    (ST4 semantics).  A re-delivered batch id reaches ``sink`` once
    (:func:`_drain`).  Returns after the query terminates.
    """
    src = stream_df
    if dedup_keys:
        src = stream_dedup(src, dedup_keys, ts_col, watermark=watermark)
    return _drain(
        src,
        lambda batch_df, batch_id: sink(transform(batch_df), batch_id),
        checkpoint_dir,
        query_name,
    )
