"""Avro codec (S7) round-trips + Kinesis-style sink batching (S8)."""

from __future__ import annotations

from engine.ops.avro_codec import (
    decode_record,
    encode_record,
    zigzag_encode,
)
from engine.ops.sinks import KINESIS_MAX_BATCH, discard_transport, kinesis_put_partitions
from engine.schemas import SINK_AVRO_SCHEMA, SINK_RECORD


def test_zigzag_known_values():
    # Avro spec examples
    assert zigzag_encode(0) == b"\x00"
    assert zigzag_encode(-1) == b"\x01"
    assert zigzag_encode(1) == b"\x02"
    assert zigzag_encode(-2) == b"\x03"
    assert zigzag_encode(64) == b"\x80\x01"


def test_record_round_trip():
    rec = {
        "patron_id": "abc",
        "address_hash": None,
        "postal_code": "10001",
        "geoid": "36061012345",
        "creation_date_et": "2021-01-01",
        "deletion_date_et": None,
        "circ_active_date_et": None,
        "ptype_code": 10,
        "pcode3": None,
        "patron_home_library_code": "aa",
        "initial_patron_home_library_code": None,
    }
    buf = encode_record(rec, SINK_AVRO_SCHEMA)
    assert isinstance(buf, bytes) and len(buf) > 0
    assert decode_record(buf, SINK_AVRO_SCHEMA) == rec


def test_avro_project_and_decode(spark, sierra_df, kinesis_log):
    """Graph output projected onto the sink contract and Avro-encoded by the
    sink decodes back to its rows, zip5 postal codes included."""
    from engine.app import make_avro_kinesis_sink
    from engine.pipeline import PipelineConfig, new_patrons_graph

    out = new_patrons_graph(sierra_df, PipelineConfig(salt="s"))
    n = make_avro_kinesis_sink(kinesis_log.transport)(out, 0)
    decoded = [decode_record(r, SINK_AVRO_SCHEMA) for r in kinesis_log.records()]
    assert n == len(decoded) > 0
    assert all(set(d) == {f.name for f in SINK_RECORD.fields} for d in decoded)
    assert {d["postal_code"] for d in decoded} >= {"10001", "11201"}


def test_kinesis_batching_caps_at_500(spark, kinesis_log):
    """1203 records from one partition go out as puts of 500, 500 and 203,
    in row order, each tagged with the batch id; over two partitions no put
    holds more than 500 and every record arrives once."""

    def encode(row):
        return f"rec{row['id']}".encode()

    one = spark.range(0, 1203, numPartitions=1)
    n, size = kinesis_put_partitions(one, kinesis_log.transport, batch_id=7, encode=encode)
    expected = [f"rec{i}".encode() for i in range(1203)]
    assert (n, size) == (1203, sum(map(len, expected)))
    puts = kinesis_log.read()
    assert [len(records) for _, records in puts] == [KINESIS_MAX_BATCH, KINESIS_MAX_BATCH, 203]
    assert {batch_id for batch_id, _ in puts} == {7}
    assert kinesis_log.records() == expected

    two = spark.range(0, 1203, numPartitions=2)
    assert kinesis_put_partitions(two, kinesis_log.transport, batch_id=9, encode=encode)[0] == 1203
    sizes = [len(records) for batch_id, records in kinesis_log.read() if batch_id == 9]
    assert sorted(sizes) == [101, 102, KINESIS_MAX_BATCH, KINESIS_MAX_BATCH]
    assert len(kinesis_log.records()) == 2 * 1203


def test_write_kinesis_driver_mode_and_dry_run(spark, kinesis_log):
    """The ordered put the driver mode gave is the single-partition put:
    records arrive in row order.  A dry run counts the records and puts
    nothing."""
    df = spark.createDataFrame([(b"a",), (b"b",)], "record binary").coalesce(1)

    def encode(row):
        return bytes(row["record"])

    assert kinesis_put_partitions(df, kinesis_log.transport, encode=encode) == (2, 2)
    assert kinesis_log.records() == [b"a", b"b"]
    assert kinesis_put_partitions(df, discard_transport, encode=encode) == (2, 2)
    assert kinesis_log.records() == [b"a", b"b"]  # dry run: no new puts


def test_write_kinesis_executor_mode(spark, kinesis_log):
    """Executor-side puts: the picklable file-backed transport records each
    chunk from the worker processes; chunking and totals must hold across
    partitions."""
    df = spark.createDataFrame(
        [(f"rec{i}".encode(),) for i in range(1203)], "record binary"
    ).repartition(3)
    n, _ = kinesis_put_partitions(
        df, kinesis_log.transport, batch_id=9, encode=lambda row: bytes(row["record"])
    )
    assert n == 1203
    puts = kinesis_log.read()
    assert {batch_id for batch_id, _ in puts} == {9}
    sizes = [len(records) for _, records in puts]
    assert sum(sizes) == 1203
    assert max(sizes) <= KINESIS_MAX_BATCH  # no chunk exceeds the service cap
    assert len(puts) >= 3  # at least one put per partition
    assert sorted(kinesis_log.records()) == sorted(f"rec{i}".encode() for i in range(1203))


# -- registry fetch + startup schema guard (SURVEY §1.3) -----------------------


def test_fetch_avro_schema_unwraps_registry_envelope():
    import json

    from engine.ops.avro_registry import fetch_avro_schema

    raw = {"type": "record", "name": "R", "fields": [
        {"name": "a", "type": ["null", "string"]}]}
    envelope = json.dumps({"data": {"schema": json.dumps(raw)}})
    got = fetch_avro_schema("http://reg/x", transport=lambda url: envelope)
    assert got == raw
    # raw schema body works too
    got2 = fetch_avro_schema("http://reg/x", transport=lambda url: json.dumps(raw))
    assert got2 == raw


def test_startup_schema_check_passes_on_matching_contract():
    from engine.ops.avro_registry import check_schema_compat

    check_schema_compat(SINK_AVRO_SCHEMA, SINK_RECORD)  # no raise


def test_startup_schema_check_names_every_drift():
    import copy

    import pytest

    from engine.ops.avro_registry import SchemaDriftError, check_schema_compat

    drifted = copy.deepcopy(SINK_AVRO_SCHEMA)
    drifted["fields"][0]["type"] = ["null", "long"]     # patron_id: wrong type
    del drifted["fields"][1]                            # address_hash: missing
    drifted["fields"].append({"name": "extra", "type": ["null", "string"]})
    with pytest.raises(SchemaDriftError) as ei:
        check_schema_compat(drifted, SINK_RECORD)
    msg = str(ei.value)
    assert "patron_id" in msg and "address_hash" in msg and "extra" in msg


def test_sink_construction_fails_fast_on_drifted_registry(spark):
    """The guard runs at make_avro_kinesis_sink time — BEFORE any batch —
    mirroring the reference's constructor-time registry fetch
    (lib/pipeline_controller.py:59)."""
    import copy
    import json

    import pytest

    from engine.app import make_avro_kinesis_sink
    from engine.ops.avro_registry import SchemaDriftError

    drifted = copy.deepcopy(SINK_AVRO_SCHEMA)
    drifted["fields"][7]["type"] = ["null", "string"]  # ptype_code long->string
    body = json.dumps({"data": {"schema": json.dumps(drifted)}})
    with pytest.raises(SchemaDriftError, match="ptype_code"):
        make_avro_kinesis_sink(
            None,
            dry_run=True,
            schema_source="http://registry/current-schemas/PatronInfo",
            schema_transport=lambda url: body,
        )
    # the matching contract constructs fine and the sink encodes
    sink = make_avro_kinesis_sink(
        None,
        dry_run=True,
        schema_source="http://registry/current-schemas/PatronInfo",
        schema_transport=lambda url: json.dumps(SINK_AVRO_SCHEMA),
    )
    row = {f.name: None for f in SINK_RECORD.fields}
    row.update(patron_id="p1", ptype_code=3)
    df = spark.createDataFrame([row], SINK_RECORD)
    assert sink(df, 0) == 1


def test_write_kinesis_default_mode_never_collects(spark, kinesis_log, monkeypatch):
    """VERDICT r6 #3: the put must be executor-side — nobody should ship a
    driver collect to a real cluster by habit.  Pinned by poisoning
    ``collect`` on the frame's concrete class (Spark's classic DataFrame
    overrides the base method) for the call: the put must deliver every
    record without touching it."""

    def poisoned_collect(self):
        raise AssertionError("kinesis_put_partitions called df.collect()")

    df = spark.createDataFrame(
        [(f"r{i}".encode(),) for i in range(700)], "record binary"
    ).repartition(2)
    monkeypatch.setattr(type(df), "collect", poisoned_collect)
    n, _ = kinesis_put_partitions(
        df, kinesis_log.transport, batch_id=3, encode=lambda row: bytes(row["record"])
    )
    assert n == 700
    assert {batch_id for batch_id, _ in kinesis_log.read()} == {3}
    assert len(kinesis_log.records()) == 700


def test_avro_sink_factory_default_never_collects(spark, kinesis_log, monkeypatch):
    """VERDICT r7 #8: the app-level sink factory must not collect the batch
    on the driver — an earlier body collected every encoded record there
    unconditionally.  Pinned by poisoning ``collect`` on the frame's
    concrete class (Spark's classic DataFrame overrides the base method),
    running the sink end to end (encode + executor put) and requiring every
    record delivered."""
    from engine.app import make_avro_kinesis_sink

    sink = make_avro_kinesis_sink(kinesis_log.transport)
    rows = []
    for i in range(7):
        row = {f.name: None for f in SINK_RECORD.fields}
        row.update(patron_id=f"p{i}", ptype_code=i)
        rows.append(row)
    df = spark.createDataFrame(rows, SINK_RECORD).repartition(2)
    monkeypatch.setattr(
        type(df),
        "collect",
        lambda self: (_ for _ in ()).throw(
            AssertionError("factory-default sink called df.collect()")
        ),
    )
    assert sink(df, 5) == 7
    puts = kinesis_log.read()
    assert {batch_id for batch_id, _ in puts} == {5}
    decoded = [decode_record(r, SINK_AVRO_SCHEMA) for r in kinesis_log.records()]
    assert sorted(d["patron_id"] for d in decoded) == [f"p{i}" for i in range(7)]


def test_dry_run_sink_still_evaluates_the_encoder(spark, monkeypatch):
    """A dry run (the reference's IGNORE_KINESIS) skips only the put: every
    row still goes through the production encoder, so a record that cannot
    be encoded fails the dry run too.  Pinned by giving the sink an encoder
    that raises when called."""
    import pytest

    import engine.app as app_mod
    from engine.app import make_avro_kinesis_sink

    def broken_encoder(record, schema):
        raise ValueError("encoder called on a dry run")

    monkeypatch.setattr(app_mod, "encode_record", broken_encoder)
    sink = make_avro_kinesis_sink(None, dry_run=True)
    row = {f.name: None for f in SINK_RECORD.fields}
    row.update(patron_id="p1", ptype_code=3)
    df = spark.createDataFrame([row], SINK_RECORD)
    with pytest.raises(Exception, match="encoder called on a dry run"):
        sink(df, 0)


def test_boto3_transport_retries_failed_records_then_raises(monkeypatch):
    """Records a PutRecords response marks failed are put again after a
    doubling backoff; records still failed after the last attempt raise,
    so the sink fails instead of reporting them delivered."""
    import sys
    import types

    import pytest

    from engine.ops import sinks

    calls, sleeps = [], []
    fail = {b"b": 2, b"d": 2}

    class Client:
        def put_records(self, StreamName, Records):
            calls.append([e["Data"] for e in Records])
            out = []
            for e in Records:
                if fail.get(e["Data"], 0):
                    fail[e["Data"]] -= 1
                    out.append({"ErrorCode": "ProvisionedThroughputExceededException"})
                else:
                    out.append({"SequenceNumber": "1", "ShardId": "shardId-0"})
            return {"FailedRecordCount": sum("ErrorCode" in r for r in out), "Records": out}

    fake = types.ModuleType("boto3")
    fake.client = lambda service: Client()
    monkeypatch.setitem(sys.modules, "boto3", fake)
    monkeypatch.setattr(sinks, "time", types.SimpleNamespace(sleep=sleeps.append))

    put = sinks.boto3_kinesis_transport("patrons")
    put([b"a", b"b", b"c", b"d"], 0)
    assert calls == [[b"a", b"b", b"c", b"d"], [b"b", b"d"], [b"b", b"d"]]
    assert sleeps == [sinks.PUT_BACKOFF_S, 2 * sinks.PUT_BACKOFF_S]

    calls.clear()
    fail[b"x"] = sinks.PUT_ATTEMPTS
    with pytest.raises(sinks.KinesisPutError, match="1 of 2 records"):
        put([b"x", b"y"], 1)
    assert calls == [[b"x", b"y"]] + [[b"x"]] * (sinks.PUT_ATTEMPTS - 1)


def test_executor_put_runs_as_a_sql_execution(spark, kinesis_log):
    """The put is a SQL execution: its Python pass shows in the SQL status
    store as a MapInArrow node with Python-worker metrics.  A dry run is
    the same execution with a transport that discards: it counts the
    record and puts nothing."""
    from engine.app import make_avro_kinesis_sink

    row = {f.name: None for f in SINK_RECORD.fields}
    row.update(patron_id="p1", ptype_code=3)
    store = spark._jsparkSession.sharedState().statusStore()
    for dry_run in (False, True):
        sink = make_avro_kinesis_sink(kinesis_log.transport, dry_run=dry_run)
        assert sink(spark.createDataFrame([row], SINK_RECORD), 0) == 1
        execs = store.executionsList()
        eid = execs.apply(execs.size() - 1).executionId()
        dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
        assert "MapInArrow" in dot and "time to run Python workers" in dot
        assert len(kinesis_log.records()) == 1  # the live put's record only
