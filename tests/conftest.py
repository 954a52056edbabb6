from __future__ import annotations

import datetime as dt
import json
import os

import pandas as pd
import pytest

from engine.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="engine-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "100"},
    )
    yield s
    s.stop()


ET = "America/New_York"


@pytest.fixture()
def sierra_rows():
    """Golden active-patron rows mirroring the reference fixtures
    (tests/test_pipeline_controller.py:20-43 in /root/reference):
    patron 456 appears twice with different addresses (J4 must keep the
    lower display_order), patron 789 is all-null demographics."""
    ts = lambda h: dt.datetime(2021, 1, 1, h, 0, 0)  # noqa: E731
    return [
        # id, ptype, pcode3, phlc, city, region, postal, address,
        # circ_active, deletion, updated, created, display_order, addr_type
        (123, 10, 1, "aa", "New York", "NY", "10001", "123 Main St",
         dt.date(2021, 1, 1), None, ts(1), ts(1), 0, 1),
        (456, 20, 2, "home_library2", "Brooklyn", "NY", "11201-1234",
         "456 First Ave", dt.date(2021, 1, 2), None, ts(2), ts(2), 0, 1),
        (456, 20, 2, "other_library", "Queens", "NY", "11375",
         "789 Second St", dt.date(2021, 1, 2), None, ts(2), ts(2), 1, 1),
        (789, None, None, None, None, None, None, None,
         None, None, ts(3), ts(3), 0, 1),
    ]


SIERRA_TEST_COLUMNS = [
    "patron_id_plaintext", "ptype_code", "pcode3", "patron_home_library_code",
    "city", "region", "postal_code", "address", "circ_active_date_et",
    "deletion_date_et", "last_updated_timestamp", "creation_timestamp",
    "display_order", "patron_record_address_type_id",
]


@pytest.fixture()
def sierra_df(spark, sierra_rows):
    schema = (
        "patron_id_plaintext long, ptype_code long, pcode3 long, "
        "patron_home_library_code string, city string, region string, "
        "postal_code string, address string, circ_active_date_et date, "
        "deletion_date_et date, last_updated_timestamp timestamp, "
        "creation_timestamp timestamp, display_order int, "
        "patron_record_address_type_id int"
    )
    return spark.createDataFrame(sierra_rows, schema=schema)


@pytest.fixture()
def geocode_log(tmp_path):
    """File-backed recorders around geocode transports.  Every call appends
    one JSON line (kind, batch columns, input rows, answers) from whichever
    process makes it; ``read()`` returns them all.  The recorders are
    nested functions, so cloudpickle ships them by value to the Python
    workers (a name in this module would not import there)."""
    from types import SimpleNamespace

    log_dir = str(tmp_path / "geocode-log")
    os.makedirs(log_dir)

    def write(rec):
        with open(os.path.join(log_dir, f"{os.getpid()}.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def census(inner):
        def recorded(batch):
            got = inner(batch)
            write({
                "kind": "census2" if "house_number" in batch.columns else "census1",
                "columns": list(batch.columns),
                "rows": batch.to_dict("records"),
                "answers": [None if pd.isna(g) else g for g in got.reindex(batch.index)],
            })
            return got

        return recorded

    def geosupport(inner):
        def recorded(house, street, zip_code):
            got = inner(house, street, zip_code)
            write({"kind": "geosupport", "args": [house, street, zip_code], "answer": got})
            return got

        return recorded

    def read():
        out = []
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name)) as f:
                out += [json.loads(line) for line in f if line.strip()]
        return out

    return SimpleNamespace(census=census, geosupport=geosupport, read=read)


@pytest.fixture()
def kinesis_log(tmp_path):
    """File-backed recording Kinesis transport.  Each put appends its
    ``batch_id``, record count and length-prefixed records to a file named
    after the process that makes it, so puts from one partition read back
    in order; ``read()`` returns every put as ``(batch_id, records)`` and
    ``records()`` the records of all puts.  The transport is a nested
    function, so cloudpickle ships it by value to the Python workers."""
    from types import SimpleNamespace

    log_dir = str(tmp_path / "kinesis-log")
    os.makedirs(log_dir)

    def transport(records, batch_id):
        out = bytearray(batch_id.to_bytes(8, "big") + len(records).to_bytes(4, "big"))
        for r in records:
            out += len(r).to_bytes(4, "big") + bytes(r)
        with open(os.path.join(log_dir, f"{os.getpid()}.puts"), "ab") as f:
            f.write(out)

    def read():
        puts = []
        for name in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, name), "rb") as f:
                buf = f.read()
            pos = 0
            while pos < len(buf):
                batch_id = int.from_bytes(buf[pos : pos + 8], "big")
                n = int.from_bytes(buf[pos + 8 : pos + 12], "big")
                pos += 12
                records = []
                for _ in range(n):
                    size = int.from_bytes(buf[pos : pos + 4], "big")
                    records.append(buf[pos + 4 : pos + 4 + size])
                    pos += 4 + size
                puts.append((batch_id, records))
        return puts

    def records():
        return [r for _, batch in read() for r in batch]

    return SimpleNamespace(transport=transport, read=read, records=records)
