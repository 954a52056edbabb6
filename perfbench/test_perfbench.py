"""Tests for the benchmark's own helpers (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import pickle
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402

SIZES = dict(n_old=60, n_new=40, n_updated=20, n_deleted=20)


# -- generator -------------------------------------------------------------


def test_sierra_generator_is_deterministic_per_seed():
    a_tables, a_facts = gen.sierra_tables(7, **SIZES)
    b_tables, b_facts = gen.sierra_tables(7, **SIZES)
    c_tables, c_facts = gen.sierra_tables(8, **SIZES)
    assert a_facts == b_facts
    for name in a_tables:
        assert a_tables[name].equals(b_tables[name])
    assert not a_tables["active"].equals(c_tables["active"])
    assert a_facts["expected_records"] != c_facts["expected_records"]


def test_sierra_generator_has_fixture_edge_cases():
    tables, facts = gen.sierra_tables(3, **SIZES)
    active = tables["active"].to_pandas()
    ids = active["patron_id_plaintext"]
    assert ids.duplicated().any()  # J4 duplicates
    demo = ["ptype_code", "pcode3", "address", "city", "region", "postal_code"]
    assert active[demo].isna().all(axis=1).any()  # an all-null demographic row
    assert active["creation_timestamp"].nunique() > 1
    dates = tables["deleted"].to_pandas()["deletion_date_et"]
    assert dates.nunique() > 1  # a constant date would trip the stall guard
    records = facts["expected_records"]
    assert all(w["patron_id"] == pid for pid, ws in records.items() for w in ws)
    assert sum(len(ws) > 1 for ws in records.values()) >= 2  # J4: either row may be kept


def test_expected_records_follow_the_memo_cache_and_the_warehouse():
    tables, facts = gen.sierra_tables(3, n_old=400, n_new=40, n_updated=200, n_deleted=40)
    info = tables["patron_info"].to_pandas().set_index("patron_id")
    by_hash = info.reset_index().set_index("address_hash")
    records = facts["expected_records"]
    hits = misses = deleted = 0
    for pid, [w, *rest] in records.items():
        if pid not in info.index:
            continue  # created in this window: NEW mode, geocoded
        row = info.loc[pid]
        assert w["initial_patron_home_library_code"] == row.initial_patron_home_library_code
        if w["deletion_date_et"] is not None:
            deleted += 1
            assert w["geoid"] == row.geoid and w["address_hash"] == row.address_hash
        elif w["address_hash"] in by_hash.index:  # J5 hit: the cached geoid
            hits += 1
            assert w["geoid"] == by_hash.loc[w["address_hash"]].geoid
        else:  # moved: geocoded in this run
            misses += 1
            assert w["geoid"] != row.geoid and len(w["geoid"]) in (11, len(gen.LATER_ATTEMPT))
    assert hits > 50 and misses > 50 and deleted > 10


def test_about_half_of_updated_rows_hit_the_memo_cache():
    tables, _ = gen.sierra_tables(3, n_old=400, n_new=40, n_updated=200, n_deleted=20)
    active = tables["active"].to_pandas()
    watermark = pd.Timestamp(gen.CREATION_DT, tz="UTC")
    old_updated = active[(active.creation_timestamp < watermark)
                         & (active.last_updated_timestamp >= watermark)]
    hashes = set(tables["patron_info"].column("address_hash").to_pylist())
    hits = sum(
        gen.address_hash(r.patron_id_plaintext, r.address, r.city, r.region, r.postal_code)
        in hashes
        for r in old_updated.itertuples()
    )
    assert len(old_updated) == 200
    assert 0.35 < hits / len(old_updated) < 0.65


def test_frozen_tables_are_present():
    from engine.schemas import TESTDATA_TABLES

    for sf in (run.PACK_SF, run.WARM_SF):
        for name in TESTDATA_TABLES:
            assert os.path.isfile(os.path.join(run.FROZEN, f"sf{sf}", f"{name}.parquet"))


def test_generated_inputs_are_cached(tmp_path):
    d1, f1 = gen.sierra_inputs(str(tmp_path), 5, **SIZES)
    mtime = os.path.getmtime(os.path.join(d1, "active.parquet"))
    d2, f2 = gen.sierra_inputs(str(tmp_path), 5, **SIZES)
    assert (d1, f1) == (d2, f2)
    assert os.path.getmtime(os.path.join(d2, "active.parquet")) == mtime


# -- statistics and spans --------------------------------------------------


def test_median_and_sample_count():
    assert sp.median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert sp.median_n([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    assert sp.median_n(x for x in [5.0]) == (5.0, 1)
    assert sp.median_n([]) == (0.0, 0)


def test_growth_compares_last_quarter_to_first():
    assert sp.growth([1, 1, 1, 1, 2, 2, 2, 2]) == 2.0
    assert sp.growth([2, 4]) == 2.0
    assert sp.growth([3]) == 1.0


def test_self_time_subtracts_merged_children():
    S = sp.Span
    spans = [
        S("root", 0.0, 10.0, None, None),
        S("a", 1.0, 3.0, 0, 0),
        S("b", 2.0, 5.0, 0, 0),  # overlaps a: covered [1, 5]
        S("c", 9.0, 12.0, 0, 1),  # only [9, 10] lies inside root
        S("d", 2.5, 3.0, 2, 0),  # grandchild: counts against b, not root
    ]
    assert sp.self_times(spans) == pytest.approx([5.0, 2.0, 2.5, 3.0, 0.5])
    assert sp.self_time_by_name(spans + [S("a", 20.0, 21.0, None, None)])["a"] == pytest.approx(3.0)


def test_plan_metric_parsing():
    assert sp.parse_metric("504.0 B") == 504.0
    assert sp.parse_metric("1.5 KiB (512.0 B, 512.0 B, 512.0 B (stage 1.0: task 2))") == 1536.0
    assert sp.parse_metric("1.2 s") == 1200.0
    assert sp.parse_metric("20,000") == 20000.0
    dot = (
        '  4 [id="node4" labelType="html" label="<b>Exchange</b><br><br>'
        "shuffle bytes written: total (min, med, max (stageId: taskId))\\n"
        '2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 0.0: task 1))<br>records read: 7" tooltip="x"];\n'
        '  5 [id="node5" labelType="html" label="<b>MapInPandas</b><br><br>'
        'time to run Python workers: 9.3 s" tooltip="y"];\n'
    )
    got = sp.plan_metrics(dot)
    assert got == [("shuffle bytes written", 2.0 * 1024**2), ("records read", 7.0),
                   ("time to run Python workers", 9300.0)]


# -- sink transport and output checks --------------------------------------


def _round_with_puts(tmp_path, facts, records_by_step):
    d = tmp_path / "round"
    (d / "puts").mkdir(parents=True)
    transport = probes.FileTransport(str(d / "puts"))
    for step, recs in records_by_step.items():
        transport.tag = step
        transport(recs, 0)
    n = sum(len(r) for r in records_by_step.values())
    return {
        "dir": str(d), "error": None, "steps": [1.0] * len(records_by_step),
        "accepted": n, "final_state": dict(facts["watermarks"]),
    }


def _encoded(records):
    from engine.ops.avro_codec import encode_record
    from engine.schemas import SINK_AVRO_SCHEMA

    return [encode_record(r, SINK_AVRO_SCHEMA) for r in records]


def _want(pid, **fields):
    from engine.schemas import SINK_AVRO_SCHEMA

    rec = {f["name"]: None for f in SINK_AVRO_SCHEMA["fields"]}
    rec.update(patron_id=pid, address_hash=f"h-{pid}", postal_code="10001",
               geoid="36061000100", ptype_code=3, initial_patron_home_library_code="mb")
    rec.update(fields)
    return rec


FACTS = {
    "expected_records": {
        "p1": [_want("p1")],
        "p2": [_want("p2", deletion_date_et="2021-03-04", patron_home_library_code=None)],
        # J4: either address row may be kept
        "p3": [_want("p3"), _want("p3", address_hash="h-p3-alt", postal_code="10002")],
        # census attempt 1 found nothing: any geoid a later attempt returns
        "p4": [_want("p4", geoid=gen.LATER_ATTEMPT)],
    },
    "watermarks": {"creation_dt": "2021-02-01 00:00:00", "update_dt": "2021-02-02 00:00:00",
                   "deletion_date": "2021-04-01"},
}


def _emitted(**changes):
    """One correct record per expected patron, with ``changes`` applied to p4."""
    recs = [_want("p1"), FACTS["expected_records"]["p2"][0],
            _want("p3", address_hash="h-p3-alt", postal_code="10002"),
            _want("p4", **({"geoid": "36005123456"} | changes))]
    return _encoded(recs)


def test_file_transport_is_picklable_and_round_trips(tmp_path):
    t = probes.FileTransport(str(tmp_path))
    t2 = pickle.loads(pickle.dumps(t))
    t2.tag = 4
    t2([b"a", b"bc", b""], 1)
    assert probes.read_puts(str(tmp_path)) == [(4, [b"a", b"bc", b""])]


def test_poll_checks_pass_on_correct_output(tmp_path):
    recs = _emitted()
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    assert run.check_poll_round(r, FACTS) == set()


def test_corrupted_avro_record_is_counted_as_failed(tmp_path):
    recs = _emitted()
    recs[3] = recs[3] + b"\x00"  # trailing garbage: decodes, but not to these bytes
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    failed = run.check_poll_round(r, FACTS)
    assert 1 in failed and len(failed) == 2  # the bad step, then the whole round


def test_truncated_avro_record_is_counted_as_failed(tmp_path):
    recs = _emitted()
    recs[0] = recs[0][:5]
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    assert run.check_poll_round(r, FACTS) == {0, 1}


@pytest.mark.parametrize("field,value", [
    ("geoid", None),  # the geocode cascade was skipped
    ("geoid", "3606100010"),
    ("initial_patron_home_library_code", None),  # J8 backfill lost
    ("address_hash", "h-p1"),
    ("postal_code", "10001-1234"),
    ("pcode3", 4),
])
def test_wrong_record_field_fails_its_step(tmp_path, field, value):
    recs = _emitted(**{field: value})
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    assert run.check_poll_round(r, FACTS) == {1}


def test_memo_cache_geoid_must_match_exactly(tmp_path):
    recs = _emitted()
    recs[0] = _encoded([_want("p1", geoid="36005123456")])[0]  # recomputed, not cached
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    assert run.check_poll_round(r, FACTS) == {0}


@pytest.mark.parametrize("defect", ["duplicate", "missing", "watermark", "count", "half_put"])
def test_round_level_defects_fail_every_step(tmp_path, defect):
    recs = _emitted()
    if defect == "duplicate":
        recs.append(recs[0])
    if defect == "missing":
        recs.pop()
    r = _round_with_puts(tmp_path, FACTS, {0: recs[:2], 1: recs[2:]})
    if defect == "watermark":
        r["final_state"]["update_dt"] = "2021-01-01 00:00:00"
    if defect == "count":
        r["accepted"] += 1
    if defect == "half_put":
        open(os.path.join(r["dir"], "puts", "x.put.tmp"), "wb").close()
    assert run.check_poll_round(r, FACTS) == {0, 1}


def test_wrong_query_result_is_counted_as_failed():
    verified = {"q_a": [[10, "123"]], "q_b": [[5, "77"], [5, "78"]]}
    ok = {"steps": [{"name": "q_a", "fp": [10, "123"]}, {"name": "q_b", "fp": [5, "78"]}]}
    bad = {"steps": [{"name": "q_a", "fp": [10, "124"]}, {"name": "q_c", "fp": [1, "1"]},
                     {"name": "q_b", "fp": None}]}
    assert run.pack_failures([ok], verified) == 0
    # a wrong hash, an unverified query and a failed run
    assert run.pack_failures([ok, bad], verified) == 3


def test_new_fingerprint_goes_back_to_the_oracle():
    verified = {"q_a": [[10, "123"]], "q_b": [[5, "77"]]}
    passes = [{"steps": [{"name": "q_a", "fp": [10, "123"]}, {"name": "q_b", "fp": [5, "78"]},
                         {"name": "q_c", "fp": [1, "1"]}, {"name": "q_d", "fp": None}]}]
    assert run.unverified(passes, verified) == ["q_b", "q_c"]


def test_benchmark_json_names_every_reported_metric():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run._per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
