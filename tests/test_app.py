"""Top-level orchestration (engine.app): three modes, one run timestamp,
shared cross-mode dedup, Avro+Kinesis sink on the wire."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from engine.app import make_avro_kinesis_sink, run_all_modes
from engine.ops.avro_codec import decode_record
from engine.ops.state import LocalJsonStateStore
from engine.pipeline import PipelineConfig
from engine.schemas import SINK_AVRO_SCHEMA, SINK_RECORD


def test_run_all_modes_cross_mode_dedup(spark, sierra_df, tmp_path, kinesis_log):
    """A patron seen in NEW mode must not re-emit from UPDATED mode in the
    same run (reference pins this with pre-seeded processed_ids,
    tests/test_pipeline_controller.py:451-459)."""
    store = LocalJsonStateStore(str(tmp_path / "state.json"))
    cfg = PipelineConfig(salt="app", batch_size=10)
    sink = make_avro_kinesis_sink(kinesis_log.transport)
    patron_info = spark.createDataFrame([], SINK_RECORD)
    deleted = spark.createDataFrame(
        [(123, dt.date(2021, 5, 1)), (555, dt.date(2021, 5, 2))],
        "patron_id_plaintext long, deletion_date_et date",
    )

    report = run_all_modes(
        spark,
        cfg,
        store,
        active_source=sierra_df,
        deleted_source=deleted,
        patron_info=patron_info,
        sink=sink,
        now=dt.datetime(2021, 6, 1),
    )

    # NEW emitted the 3 distinct patrons; UPDATED re-scanned the same rows
    # but every key was already in the session set → zero re-emissions
    assert report.new.rows_out == 3
    assert report.updated.rows_out == 0
    # DELETED: 123 already processed this run → only 555 emits
    assert report.deleted.rows_out == 1

    decoded = [decode_record(b, SINK_AVRO_SCHEMA) for b in kinesis_log.records()]
    assert len(decoded) == 4
    # the deleted record carries its deletion date on the wire
    deleted_recs = [d for d in decoded if d["deletion_date_et"] is not None]
    assert len(deleted_recs) == 1 and deleted_recs[0]["deletion_date_et"] == "2021-05-02"

    # watermarks advanced independently per mode
    st = store.get()
    assert st["creation_dt"] == "2021-01-01 03:00:00"
    assert st["update_dt"] == "2021-01-01 03:00:00"
    assert st["deletion_date"] == "2021-05-02"


def _patron_rows():
    """Keyset-paging fixture: 18 NEW patrons (one J4 duplicate, an address
    with quotes, an unparseable one, one with no address), 10 patrons only
    UPDATED in the window (two of them J5 memo-cache hits) and 3 deletions."""
    def row(pid, addr, city, postal, created, updated, order=0):
        region = None if city is None else "NY"
        return (pid, 10, 1, "aa", city, region, postal, addr, None, None,
                updated, created, order, 1)

    new = []
    for i in range(1, 19):
        ts = dt.datetime(2021, 1, 2, 0, i)
        addr = {4: None, 7: "12 \"O'Hara\" Rd", 9: "c/o Desk, Rear"}.get(i, f"{i} Main St")
        city = None if i == 4 else ("Bronx" if i % 2 else "Queens")
        postal = None if i in (4, 11) else f"104{i:02d}-1234"
        new.append(row(i, addr, city, postal, ts, ts))
    new.append(row(12, "99 Dup Ave", "Bronx", "10499", *new[11][10:12][::-1], order=1))
    upd = [
        row(100 + i, f"{i} Oak St", "Queens", f"113{i:02d}",
            dt.datetime(2019, 6, 1, 0, i), dt.datetime(2021, 1, 20, 0, i))
        for i in range(1, 11)
    ]
    return new, upd


def test_run_all_modes_geocodes_each_patron_once_per_round(
    spark, tmp_path, geocode_log, kinesis_log
):
    """Over keyset-paged micro-batches (several per mode, inclusive
    re-reads), each distinct addressable patron reaches census attempt 1
    exactly once in the round; attempt 2 sees exactly the attempt-1 misses,
    Geosupport exactly the attempt-2 misses with house, street and postal
    code; the sink's records carry the first answer of the three."""
    from collections import Counter

    from engine.ops.geocode import fake_census_transport, fake_geosupport
    from engine.ops.hashing import normalize_id, obfuscate_col
    from engine.pipeline import new_patrons_graph

    new, upd = _patron_rows()
    schema = (
        "patron_id_plaintext long, ptype_code long, pcode3 long, "
        "patron_home_library_code string, city string, region string, "
        "postal_code string, address string, circ_active_date_et date, "
        "deletion_date_et date, last_updated_timestamp timestamp, "
        "creation_timestamp timestamp, display_order int, "
        "patron_record_address_type_id int"
    )
    active = spark.createDataFrame(new + upd, schema)
    cfg = PipelineConfig(salt="round", batch_size=8, deleted_batch_size=8)
    hits = spark.createDataFrame(upd[:2], schema)
    patron_info = new_patrons_graph(hits, cfg).withColumn("geoid", F.lit("99999999999"))
    deleted = spark.createDataFrame(
        [(1, dt.date(2021, 5, 1)), (2, dt.date(2021, 5, 2)), (201, dt.date(2021, 5, 3))],
        "patron_id_plaintext long, deletion_date_et date",
    )
    report = run_all_modes(
        spark, cfg, LocalJsonStateStore(str(tmp_path / "state.json")),
        active_source=active, deleted_source=deleted, patron_info=patron_info,
        sink=make_avro_kinesis_sink(kinesis_log.transport),
        census=geocode_log.census(fake_census_transport(match_rate_mod=2)),
        geosupport=geocode_log.geosupport(fake_geosupport()),
        now=dt.datetime(2021, 6, 1),
    )
    assert report.new.batches >= 3 and report.updated.batches >= 3

    addressable = [i for i in range(1, 19) if i != 4] + [103 + i for i in range(8)]
    ids = spark.createDataFrame([(i,) for i in addressable], "p long").select(
        obfuscate_col(normalize_id("p"), cfg.salt).alias("h")
    )
    expected = {r["h"] for r in ids.collect()}

    log = geocode_log.read()
    calls = {k: [c for c in log if c["kind"] == k] for k in ("census1", "census2", "geosupport")}
    first = Counter(r["patron_id"] for c in calls["census1"] for r in c["rows"])
    assert set(first) == expected and set(first.values()) == {1}
    misses1 = Counter(
        r["patron_id"] for c in calls["census1"]
        for r, a in zip(c["rows"], c["answers"]) if a is None
    )
    second = Counter(r["patron_id"] for c in calls["census2"] for r in c["rows"])
    assert second == misses1 and misses1
    eligible = [
        (r["patron_id"], (r["house_number"], r["street_name"], r["postal_code"][:5]))
        for c in calls["census2"] for r, a in zip(c["rows"], c["answers"])
        if a is None and None not in (r["house_number"], r["street_name"], r["postal_code"])
    ]
    assert Counter(tuple(c["args"]) for c in calls["geosupport"]) == Counter(
        args for _, args in eligible
    ) and eligible

    want = {}
    for c in calls["census1"] + calls["census2"]:
        for r, a in zip(c["rows"], c["answers"]):
            if a is not None:
                want.setdefault(r["patron_id"], a)
    for pid, args in eligible:
        want.setdefault(pid, fake_geosupport()(*args))
    records = [decode_record(r, SINK_AVRO_SCHEMA) for r in kinesis_log.records()]
    got = {r["patron_id"]: r["geoid"] for r in records if r["patron_id"] in expected}
    assert got == {pid: want.get(pid) for pid in expected}


def test_run_all_modes_failed_sink_keeps_watermark(spark, sierra_df, tmp_path):
    """A batch commits only after its sink accepted it: a sink that raises
    (a put with records still failed) leaves every watermark as it was."""
    import pytest

    from engine.ops.sinks import KinesisPutError

    store = LocalJsonStateStore(str(tmp_path / "state.json"))
    before = store.get()

    def failing_sink(df, batch_id):
        raise KinesisPutError("3 of 3 records still failed")

    with pytest.raises(KinesisPutError):
        run_all_modes(
            spark, PipelineConfig(salt="app", batch_size=10), store,
            active_source=sierra_df,
            deleted_source=spark.createDataFrame([], "patron_id_plaintext long, deletion_date_et date"),
            patron_info=spark.createDataFrame([], SINK_RECORD),
            sink=failing_sink, now=dt.datetime(2021, 6, 1),
        )
    assert store.get() == before
