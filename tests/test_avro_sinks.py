"""Avro codec (S7) round-trips + Kinesis-style sink batching (S8)."""

from __future__ import annotations

from engine.ops.avro_codec import (
    avro_encode_udf,
    decode_record,
    encode_record,
    zigzag_encode,
)
from engine.ops.sinks import (
    KINESIS_MAX_BATCH,
    CollectingTransport,
    avro_project,
    kinesis_put_batch,
    write_kinesis,
)
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


def test_avro_project_and_decode(spark, sierra_df):
    from engine.pipeline import PipelineConfig, new_patrons_graph

    out = new_patrons_graph(sierra_df, PipelineConfig(salt="s"))
    cols = [f.name for f in SINK_RECORD.fields]
    enc = avro_project(out, cols, SINK_AVRO_SCHEMA)
    assert enc.columns == ["record"]
    records = [bytes(r["record"]) for r in enc.collect()]
    decoded = [decode_record(b, SINK_AVRO_SCHEMA) for b in records]
    assert {d["postal_code"] for d in decoded} >= {"10001", "11201"}


def test_kinesis_batching_caps_at_500():
    transport = CollectingTransport()
    calls = kinesis_put_batch([b"x"] * 1203, transport, batch_id=7)
    assert calls == 3
    sizes = [len(b) for _, b in transport.batches]
    assert sizes == [KINESIS_MAX_BATCH, KINESIS_MAX_BATCH, 203]
    assert all(bid == 7 for bid, _ in transport.batches)


def test_write_kinesis_driver_mode_and_dry_run(spark):
    df = spark.createDataFrame([(b"a",), (b"b",)], "record binary")
    transport = CollectingTransport()
    n = write_kinesis(df, transport, mode="driver")
    assert n == 2 and len(transport.records) == 2
    n2 = write_kinesis(df, transport, dry_run=True)
    assert n2 == 2 and len(transport.records) == 2  # dry run: no new puts


def test_write_kinesis_executor_mode(spark, tmp_path):
    """Executor-side puts: a picklable file-based transport records each
    chunk from the worker processes; chunking and totals must hold across
    partitions."""
    import glob
    import os
    import uuid

    out_dir = str(tmp_path / "puts")
    os.makedirs(out_dir, exist_ok=True)

    def transport(records, batch_id):
        p = os.path.join(out_dir, f"{batch_id}-{uuid.uuid4().hex}.chunk")
        with open(p, "wb") as f:
            f.write(b"\n".join(bytes(r) for r in records))

    df = spark.createDataFrame(
        [(f"rec{i}".encode(),) for i in range(1203)], "record binary"
    ).repartition(3)
    n = write_kinesis(df, transport, batch_id=9, mode="executor")
    assert n == 1203
    chunks = glob.glob(f"{out_dir}/9-*.chunk")
    sizes = sorted(
        len(open(c, "rb").read().split(b"\n")) for c in chunks
    )
    assert sum(sizes) == 1203
    assert max(sizes) <= KINESIS_MAX_BATCH  # no chunk exceeds the service cap
    assert len(chunks) >= 3  # at least one put per partition


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


def test_write_kinesis_default_mode_never_collects(spark, tmp_path, monkeypatch):
    """VERDICT r6 #3: the DEFAULT path must be the executor-side put —
    nobody should ship the driver collect to a real cluster by habit.
    Pinned by poisoning ``collect`` on the frame's concrete class (Spark's
    classic DataFrame overrides the base method) for the call: the default
    mode must deliver every record without touching it; mode='driver'
    remains an explicit ordered-put opt-in."""
    import glob
    import os
    import uuid

    out_dir = str(tmp_path / "dputs")
    os.makedirs(out_dir, exist_ok=True)

    def transport(records, batch_id):
        p = os.path.join(out_dir, f"{batch_id}-{uuid.uuid4().hex}.chunk")
        with open(p, "wb") as f:
            f.write(b"\n".join(bytes(r) for r in records))

    def poisoned_collect(self):
        raise AssertionError("default write_kinesis path called df.collect()")

    df = spark.createDataFrame(
        [(f"r{i}".encode(),) for i in range(700)], "record binary"
    ).repartition(2)
    monkeypatch.setattr(type(df), "collect", poisoned_collect)
    n = write_kinesis(df, transport, batch_id=3)  # no mode: the default
    assert n == 700
    total = 0
    for p in glob.glob(f"{out_dir}/3-*.chunk"):
        with open(p, "rb") as f:
            total += len(f.read().split(b"\n"))
    assert total == 700


def test_avro_sink_factory_default_never_collects(spark, tmp_path, monkeypatch):
    """VERDICT r7 #8: the app-level sink factory must carry the same
    collect-free default as the raw sink — its old body collected every
    encoded record on the driver unconditionally.  Pinned the same way:
    poison ``collect`` on the frame's concrete class, run the
    factory-default sink end to end (encode + executor put), and require
    every record delivered."""
    import glob
    import os
    import uuid

    from engine.app import make_avro_kinesis_sink

    out_dir = str(tmp_path / "fputs")
    os.makedirs(out_dir, exist_ok=True)

    def transport(records, batch_id):
        # record COUNT per put, not joined bytes: Avro binaries may
        # contain the join byte, so a split-based recount would drift.
        p = os.path.join(out_dir, f"{batch_id}-{uuid.uuid4().hex}.chunk")
        with open(p, "w") as f:
            f.write(str(len(records)))

    sink = make_avro_kinesis_sink(transport)  # no mode: the default
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
    total = 0
    for p in glob.glob(f"{out_dir}/5-*.chunk"):
        with open(p) as f:
            total += int(f.read())
    assert total == 7


def test_dry_run_sink_still_evaluates_the_encoder(spark, monkeypatch):
    """r8 review catch: routing the factory sink through write_kinesis made
    dry_run return a bare count, which let Catalyst PRUNE the encode
    projection — a dry 'validation' that never ran the encoder.  Pinned by
    substituting an encoder column that raises ON EVALUATION
    (assert_true(false)): if the dry-run path prunes the encode, no error
    surfaces and this test fails; the fixed path aggregates over the
    record bytes, forcing every row through the encoder."""
    import engine.app as app_mod
    from engine.app import make_avro_kinesis_sink
    from pyspark.sql import functions as SF
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    import pytest

    monkeypatch.setattr(
        app_mod,
        "to_avro_col",
        lambda df, cols, schema: SF.assert_true(SF.lit(False)).cast("binary"),
    )
    sink = make_avro_kinesis_sink(None, dry_run=True)
    row = {f.name: None for f in SINK_RECORD.fields}
    row.update(patron_id="p1", ptype_code=3)
    df = spark.createDataFrame([row], SINK_RECORD)
    with pytest.raises(Exception, match="(?i)not true|assert"):
        sink(df, 0)


def test_collecting_transport_refuses_executor_mode(spark):
    """advice r8: CollectingTransport under the default mode='executor'
    was silently broken (puts mutated pickled worker-side copies while
    the sink still reported full counts).  Pickling now raises, so the
    misuse fails at task serialization instead of losing every record."""
    import pickle

    import pytest

    transport = CollectingTransport()
    with pytest.raises(TypeError, match="driver-side only"):
        pickle.dumps(transport)
    df = spark.createDataFrame([(b"a",), (b"b",)], "record binary")
    with pytest.raises(Exception, match="driver-side only"):
        write_kinesis(df, transport, mode="executor")
    assert transport.records == []  # nothing silently 'delivered'
    # driver mode remains the sanctioned path
    assert write_kinesis(df, transport, mode="driver") == 2
    assert len(transport.records) == 2


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


def test_executor_put_runs_as_a_sql_execution(spark):
    """The default put is a SQL execution: its Python pass shows in the SQL
    status store as a MapInArrow node with Python-worker metrics."""
    from engine.app import make_avro_kinesis_sink

    def transport(records, batch_id):
        pass

    row = {f.name: None for f in SINK_RECORD.fields}
    row.update(patron_id="p1", ptype_code=3)
    assert make_avro_kinesis_sink(transport)(spark.createDataFrame([row], SINK_RECORD), 0) == 1
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    eid = execs.apply(execs.size() - 1).executionId()
    dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
    assert "MapInArrow" in dot and "time to run Python workers" in dot
