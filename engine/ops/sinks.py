"""Record sinks (SURVEY §2.1 S7/S8): Avro projection + Kinesis-style batched put.

The reference Avro-encodes each record and PutRecords them to Kinesis in
chunks of ≤500 (lib/pipeline_controller.py:241-244; config/production.yaml:12),
with an ``IGNORE_KINESIS`` dry-run flag (:72).  OSS Spark has no first-party
Kinesis sink, so the put is one ``mapInArrow`` pass
(:func:`kinesis_put_partitions`) that calls a *transport* — injected, like the
geocode transports, so tests capture records and production plugs in boto3
``put_records``.  Each partition puts its own ≤500-record chunks and yields
one (records, bytes) row per put; the driver sums those rows.  The put is
therefore a SQL execution with operator metrics, and the count is what the
transport accepted: a put that raises fails the sink.

Delivery semantics: at-least-once, matching the reference (SURVEY §7 risk 3) —
a batch commits only after its sink returns, re-delivered boundary rows are
made no-ops by the upstream ST4 dedup, and the batchId is available to
idempotent transports.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine.ops.avro_codec import to_avro_col

__all__ = [
    "avro_project",
    "kinesis_put_batch",
    "kinesis_put_partitions",
    "write_kinesis",
    "CollectingTransport",
    "KinesisPutError",
]

KINESIS_MAX_BATCH = 500  # PutRecords service maximum (reference README.md:62)

#: PutRecords calls per chunk in :func:`boto3_kinesis_transport`, and the
#: backoff before the second; it doubles before each later call
PUT_ATTEMPTS = 5
PUT_BACKOFF_S = 0.1

#: transport signature: (records: list[bytes], batch_id: int) -> None; it
#: raises when the service did not accept every record
KinesisTransport = Callable[[list, int], None]

class KinesisPutError(RuntimeError):
    """Records the stream still refused after the last retry."""


def avro_project(df: DataFrame, cols: list[str], avro_schema: dict) -> DataFrame:
    """S7: project the sink columns into one Avro-binary ``record`` column.

    Skips the reference's DataFrame→JSON→dict hop (F13,
    lib/pipeline_controller.py:241-242) — encode straight from the columnar
    batch."""
    return df.select(to_avro_col(df, cols, avro_schema).alias("record"))


def kinesis_put_batch(
    records: list, transport: KinesisTransport, *, batch_id: int = 0
) -> int:
    """Chunk ≤500 and put in order; returns number of service calls."""
    calls = 0
    for i in range(0, len(records), KINESIS_MAX_BATCH):
        transport(records[i : i + KINESIS_MAX_BATCH], batch_id)
        calls += 1
    return calls


def kinesis_put_partitions(
    df: DataFrame,
    transport: KinesisTransport,
    *,
    batch_id: int = 0,
    encode: Callable[[dict], bytes] | None = None,
) -> tuple[int, int]:
    """Executor-side put as one ``mapInArrow`` pass: each partition puts its
    records in ≤500-record chunks, in order, and yields one (records, bytes)
    row per put.  Returns their sums (records, bytes), read through
    ``toLocalIterator`` so the driver never holds the batch.

    ``encode`` turns each row (a dict of ``df``'s columns) into its record
    bytes inside the same pass; without it ``df`` holds one binary
    ``record`` column.  The transport must be picklable (e.g.
    :func:`boto3_kinesis_transport`).
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        def put(chunk: list) -> pa.RecordBatch:
            transport(chunk, batch_id)
            return pa.RecordBatch.from_pydict(
                {"records": [len(chunk)], "bytes": [sum(len(r) for r in chunk)]}
            )

        buf: list = []
        for rb in batches:
            buf += (
                [encode(r) for r in rb.to_pylist()]
                if encode is not None
                else rb.column("record").to_pylist()
            )
            while len(buf) >= KINESIS_MAX_BATCH:
                yield put(buf[:KINESIS_MAX_BATCH])
                buf = buf[KINESIS_MAX_BATCH:]
        if buf:
            yield put(buf)

    summed = df.mapInArrow(run, "records long, bytes long").agg(
        F.coalesce(F.sum("records"), F.lit(0)).alias("records"),
        F.coalesce(F.sum("bytes"), F.lit(0)).alias("bytes"),
    )
    [row] = summed.toLocalIterator()
    return row["records"], row["bytes"]


def write_kinesis(
    df: DataFrame,
    transport: KinesisTransport | None,
    *,
    batch_id: int = 0,
    dry_run: bool = False,
    mode: str = "executor",
) -> int:
    """Put an Avro-record DataFrame (one binary ``record`` column) to the sink.

    ``mode='executor'`` (the scale path): :func:`kinesis_put_partitions` — puts
    run executor-side in parallel and the driver never holds the batch.

    ``mode='driver'``: collect then put from the driver — for tests with
    in-memory transports and for strictly-ordered streams (the reference puts
    from its single process, preserving batch order).

    Returns the record count; dry-run counts without calling the transport
    (mirrors the reference's IGNORE_KINESIS flag).
    """
    if dry_run or transport is None:
        return df.count()

    if mode == "driver":
        records = [row["record"] for row in df.collect()]
        kinesis_put_batch(records, transport, batch_id=batch_id)
        return len(records)

    return kinesis_put_partitions(df, transport, batch_id=batch_id)[0]


class CollectingTransport:
    """In-memory transport for tests (driver-side only — mirrors the
    reference's mocked KinesisClient).

    Use with ``mode='driver'``: under the default ``mode='executor'`` the
    transport would be pickled into Python workers, puts would mutate
    worker-side copies, and the sink would still report the full record
    count — success with zero records visible on the driver (advice-review
    catch r8).  Pickling therefore FAILS LOUDLY: task serialization raises
    before any put runs, instead of the silent record loss."""

    def __init__(self):
        self.batches: list[tuple[int, list]] = []

    def __call__(self, records: list, batch_id: int) -> None:
        self.batches.append((batch_id, list(records)))

    def __getstate__(self):
        raise TypeError(
            "CollectingTransport is driver-side only: shipping it to"
            " executors (write_kinesis mode='executor') would collect into"
            " worker-side copies and silently drop every record — pass"
            " mode='driver', or use a picklable transport"
        )

    @property
    def records(self) -> list:
        return [r for _, batch in self.batches for r in batch]


def boto3_kinesis_transport(stream_name: str) -> KinesisTransport:
    """Production transport: boto3 PutRecords.  The records a response marks
    failed are put again after an exponential backoff, up to
    :data:`PUT_ATTEMPTS` calls in all; records still failed raise
    :class:`KinesisPutError`, so the sink fails and the runner keeps its
    watermark (at-least-once).  The client is made on first use, in the
    process that puts, so the transport pickles into executors."""
    client = None

    def transport(records: list, batch_id: int) -> None:
        nonlocal client
        if client is None:
            import boto3

            client = boto3.client("kinesis")
        entries = [
            {"Data": bytes(r), "PartitionKey": str(hash(bytes(r)) % 1000)}
            for r in records
        ]
        for attempt in range(PUT_ATTEMPTS):
            if attempt:
                time.sleep(PUT_BACKOFF_S * 2 ** (attempt - 1))
            resp = client.put_records(StreamName=stream_name, Records=entries)
            entries = [e for e, r in zip(entries, resp["Records"]) if "ErrorCode" in r]
            if not entries:
                return
        raise KinesisPutError(
            f"{len(entries)} of {len(records)} records to {stream_name!r} still"
            f" failed after {PUT_ATTEMPTS} PutRecords calls"
        )

    return transport
