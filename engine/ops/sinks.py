"""Record sink (SURVEY §2.1 S7/S8): Avro-encode and put to Kinesis in chunks.

The reference Avro-encodes each record and PutRecords them to Kinesis in
chunks of ≤500 (lib/pipeline_controller.py:241-244; config/production.yaml:12);
its ``IGNORE_KINESIS`` flag (:72) skips only the put.  OSS Spark has no
first-party Kinesis sink, so the sink is one ``mapInArrow`` pass
(:func:`kinesis_put_partitions`) that encodes each row and calls a
*transport* — injected, like the geocode transports: production plugs in
:func:`boto3_kinesis_transport`, a dry run :func:`discard_transport`, tests a
file-backed recorder.  Each partition puts its own ≤500-record chunks and
yields one (records, bytes) row per put; the driver sums those rows.  The put
is therefore a SQL execution with operator metrics, and the count is what the
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

__all__ = [
    "kinesis_put_partitions",
    "discard_transport",
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


def discard_transport(records: list, batch_id: int) -> None:
    """Dry-run transport (the reference's ``IGNORE_KINESIS``): accepts every
    record and sends none, so a dry run still encodes each row."""


def kinesis_put_partitions(
    df: DataFrame,
    transport: KinesisTransport,
    *,
    batch_id: int = 0,
    encode: Callable[[dict], bytes],
) -> tuple[int, int]:
    """Executor-side encode and put as one ``mapInArrow`` pass: ``encode``
    turns each row (a dict of ``df``'s columns) into its record bytes, and
    each partition puts its records in ≤500-record chunks, in row order,
    yielding one (records, bytes) row per put.  Returns their sums
    (records, bytes), read through ``toLocalIterator`` so the driver never
    holds the batch.  The transport must be picklable (e.g.
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
            buf += [encode(r) for r in rb.to_pylist()]
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
