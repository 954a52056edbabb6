"""Address parse/scrub (F3/F4/F9/F10) + geocode cascade (S5/S6/J9/ST7)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.ops.address import (
    _parse_one,
    _to_ascii,
    full_address,
    scrub_quotes,
    with_parsed_address,
    zip5,
)
from engine.ops.geocode import (
    _join,
    _scrub,
    fake_census_transport,
    fake_geosupport,
    geocode_cascade,
    retrying_census_transport,
)


def test_scrub_and_assemble(spark):
    df = spark.createDataFrame(
        [("123 \"Main\" St", "O'Neill City", "N\\Y", "10001-1234")],
        "address string, city string, region string, postal_code string",
    )
    out = df.select(
        scrub_quotes("address").alias("a"),
        scrub_quotes("city").alias("c"),
        scrub_quotes("region").alias("r"),
        zip5("postal_code").alias("z"),
    ).collect()[0]
    assert out["a"] == "123 Main St"
    assert out["c"] == "ONeill City"
    assert out["r"] == "NY"
    assert out["z"] == "10001"


def test_full_address_skips_nulls(spark):
    df = spark.createDataFrame(
        [("1 Elm", None, "NY", None), (None, None, None, None)],
        "address string, city string, region string, postal_code string",
    )
    out = [
        r["fa"]
        for r in df.select(
            full_address("address", "city", "region", "postal_code").alias("fa")
        ).collect()
    ]
    assert out == ["1 Elm NY", ""]


def test_to_ascii_transliteration():
    assert _to_ascii("Müller Straße") == "Muller Strasse"
    assert _to_ascii("Œuvre æon") == "OEuvre aeon"
    assert _to_ascii("北京") == ""  # non-decomposable dropped


def test_to_ascii_cyrillic_greek_romanization():
    assert _to_ascii("Щербаков") == "Shcherbakov"
    assert _to_ascii("улица Пушкина") == "ulitsa Pushkina"
    assert _to_ascii("Дніпро") == "Dnipro"
    assert _to_ascii("Οδός Ψαρών") == "Odos Psaron"
    assert _to_ascii("θάλασσα") == "thalassa"
    # mixed-script line keeps the Latin part untouched
    assert _to_ascii("123 Главная St") == "123 Glavnaya St"


def test_parse_one_shapes():
    assert _parse_one("123 Main St") == ("123", "Main St", None)
    assert _parse_one("123-45 Queens Blvd Apt 6B") == ("123-45", "Queens Blvd", "6B")
    assert _parse_one("456 First Ave # 2") == ("456", "First Ave", "2")
    assert _parse_one(None) == (None, None, None)
    assert _parse_one("") == (None, None, None)


def test_with_parsed_address_udf(spark):
    df = spark.createDataFrame(
        [("123 Main St",), ("No Number Rd",)], "full_address string"
    )
    rows = with_parsed_address(df).collect()
    got = {r["full_address"]: (r["house_number"], r["street_name"]) for r in rows}
    assert got["123 Main St"] == ("123", "Main St")
    assert got["No Number Rd"][0] is None


def _addr_df(spark):
    return spark.createDataFrame(
        [
            ("p1", "123 Main St", "New York", "NY", "10001"),
            ("p2", "456 First Ave", "Brooklyn", "NY", "11201-9999"),
            ("p3", None, None, None, None),  # unaddressable → filtered
        ],
        "patron_id string, address string, city string, region string, postal_code string",
    )


def test_cascade_row_forms_match_sql_helpers(spark):
    """The cascade scrubs and assembles addresses in Python; those row forms
    must equal the SQL helpers that define F3-F5 (scrub_quotes,
    full_address, zip5) on quotes, backslashes, tabs, edge spaces and nulls
    (Spark's trim strips spaces only)."""
    rows = [
        ("12 \"O'Hara\" Rd", " Bronx ", "N\\Y", "10461-2233"),
        ("\t1 Elm\t", None, "NY", None),
        ("  ", None, None, "  "),
        (None, None, None, None),
        ("'\"", "", "", "1"),
    ]
    cols = ["address", "city", "region", "postal_code"]
    df = spark.createDataFrame(rows, ", ".join(f"{c} string" for c in cols))
    scrubbed = df.select(*[scrub_quotes(c).alias(c) for c in cols])
    got = scrubbed.select(
        *cols, full_address(*cols).alias("fa"), zip5("postal_code").alias("z")
    ).collect()
    for raw, r in zip(rows, got):
        py = [_scrub(v) for v in raw]
        assert py == [r[c] for c in cols]
        assert _join(*py) == r["fa"]
        assert (None if py[3] is None else py[3][:5]) == r["z"]


def test_cascade_fills_with_fallbacks(spark):
    """Attempt-1 misses flow to attempt 2/3; coalesce overlay (J9) fills."""
    # census that always misses → everything falls through to geosupport
    def never_match(batch: pd.DataFrame) -> pd.Series:
        return pd.Series([None] * len(batch), index=batch.index, dtype="object")

    out = geocode_cascade(_addr_df(spark), never_match, fake_geosupport())
    rows = {r["patron_id"]: r["geoid"] for r in out.collect()}
    assert len(rows) == 2  # p3 filtered as unaddressable
    assert rows["p1"] is not None  # geosupport fallback hit (parsed house+street)


def test_retrying_transport_halves_then_nulls():
    calls = []

    def flaky(batch: pd.DataFrame) -> pd.Series:
        calls.append(len(batch))
        raise RuntimeError("boom")

    t = retrying_census_transport(flaky, max_retries=1, min_split=2)
    df = pd.DataFrame({"full_address": [f"addr {i}" for i in range(8)]})
    out = t(df)
    assert out.isna().all() and len(out) == 8
    # 8 → two halves of 4 → four quarters of 2 → eight... stops at min_split
    assert max(calls) == 8 and min(calls) == 2


def test_cascade_success_rate_logged(spark):
    out = geocode_cascade(
        _addr_df(spark), fake_census_transport(match_rate_mod=2), fake_geosupport()
    )
    from engine.ops.relational import success_rate

    rate = success_rate(out, "geoid")
    assert 0.0 <= rate <= 1.0


def test_cascade_survives_total_transport_failure(spark):
    """A transport that always raises must yield null geoids (wrapped in the
    retry/halving transport), never a task failure — ST7 resilience."""

    def always_raises(batch):
        raise RuntimeError("service down")

    t = retrying_census_transport(always_raises, max_retries=1, min_split=1000)
    out = geocode_cascade(_addr_df(spark), t, fake_geosupport())
    rows = {r["patron_id"]: r["geoid"] for r in out.collect()}
    assert len(rows) == 2
    # geosupport (attempt 3) can still fill rows with parseable house+street
    assert rows["p1"] is not None


# ---------------------------------------------------------------------------
# reformat_malformed_address — generated malformed-address fuzz corpus
# (round-3 verdict item 7: extend beyond the 5 goldens)
# ---------------------------------------------------------------------------


def test_reformat_fuzz_corpus_generated():
    """300+ generated permutations of house/street/unit/city/state/zip (plus
    adversarial junk rows) through the no-wheel fallback path.  Pins the
    reference's CONTRACT on every row — never raises, scrubbed charsets,
    address reassembled from the parsed parts — and exact field recovery
    wherever the combination is unambiguous."""
    import itertools
    import re as _re

    from engine.ops.address import reformat_malformed_address, _fallback_tagger

    houses = ["123", "45A", "6-8"]
    streets = ["MAIN", "W 42ND", "OCEAN VIEW"]
    stypes = ["ST", "AVE", "BLVD", "COURT"]
    units = ["", "# 5", "APT 2B", "SUITE 300"]
    cities = ["", "NEW YORK", "ALBANY"]
    states = ["NY", "CT", ""]  # CT doubles as a street type — the trap
    zips = ["", "10001", "10001-1234"]

    combos = list(itertools.product(houses, streets, stypes, units, cities, states, zips))
    # deterministic thinning to keep runtime sane while crossing every axis
    combos = combos[:: max(1, len(combos) // 320)]
    assert len(combos) >= 300

    city_ok = _re.compile(r"^[A-Za-z\-\s]*$")
    postal_ok = _re.compile(r"^[\d-]*$")
    for house, sname, stype, unit, city, state, zip5 in combos:
        parts = [f"{house} {sname} {stype}"]
        if unit:
            parts.append(unit)
        if city:
            parts.append(city)
        if state:
            parts.append(state)
        if zip5:
            parts.append(zip5)
        full = " ".join(parts)
        row = {
            "address": "", "city": "x", "region": "x", "postal_code": "x",
            "full_address": full,
        }
        out = reformat_malformed_address(row, tagger=_fallback_tagger)
        # contract invariants (reference helpers/address_helper.py:52-68)
        assert city_ok.match(out["city"]), (full, out["city"])
        assert city_ok.match(out["region"]), (full, out["region"])
        assert postal_ok.match(out["postal_code"]), (full, out["postal_code"])
        assert out["address"].startswith(out["house_number"]), full
        assert zip5 == out["postal_code"] or (not zip5 and out["postal_code"] == ""), full
        assert out["house_number"] == house, full
        # state recovery: exact when unambiguous or corroborated by a zip
        if state == "NY" or (state and zip5):
            assert out["region"] == state, (full, out["region"])
            if city:
                assert out["city"] == city, (full, out["city"])
            assert out["street_name"] == f"{sname} {stype}", (full, out["street_name"])
        # the street type must never leak into the postal code
        assert stype not in out["postal_code"], full

    # adversarial junk must not raise and must honor the scrubs
    for junk in ["", "   ", "!!!", "12345", "CAFÉ STRAßE 12", "##", "A" * 500]:
        row = {
            "address": "", "city": "c", "region": "r", "postal_code": "p",
            "full_address": junk,
        }
        out = reformat_malformed_address(row, tagger=_fallback_tagger)
        assert postal_ok.match(out["postal_code"]), junk
        assert city_ok.match(out["city"]), junk


# ---------------------------------------------------------------------------
# reformat_malformed_address — the reference's golden cases, verbatim
# (/root/reference/tests/test_address_helper.py:10-146), run through an
# injected tagger so they pin the combine/scrub semantics with AND without
# the usaddress wheel
# ---------------------------------------------------------------------------

from collections import OrderedDict

from engine.ops.address import RepeatedLabelError, reformat_malformed_address

_BASE = {
    "address": "123 REAL AVE APT 1",
    "city": "NEW YORK",
    "region": "NY",
    "postal_code": "11111-2222",
    "full_address": "123 REAL AVE APT 1 NEW YORK NY 11111-2222",
}


def _tag(mapping):
    return lambda s: (mapping, "StreetAddress")


def _raise_repeated(parsed):
    def tagger(s):
        raise RepeatedLabelError(s, parsed, "StreetAddress")

    return tagger


def test_reformat_good_address():
    out = reformat_malformed_address(
        dict(_BASE),
        tagger=_tag(OrderedDict([
            ("AddressNumber", "123"), ("street", "REAL AVE"), ("line2", "APT 1"),
            ("PlaceName", "NEW YORK"), ("StateName", "NY"), ("ZipCode", "11111-2222"),
        ])),
    )
    assert out == {**_BASE, "house_number": "123", "street_name": "REAL AVE"}


def test_reformat_misordered_address():
    row = {
        "address": "123", "city": "REAL AVE APT 1", "region": "NEW YORK NY",
        "postal_code": "11111-2222",
        "full_address": "123 REAL AVE APT 1 NEW YORK NY 11111-2222",
    }
    out = reformat_malformed_address(
        row,
        tagger=_tag(OrderedDict([
            ("AddressNumber", "123"), ("street", "REAL AVE"), ("line2", "APT 1"),
            ("PlaceName", "NEW YORK"), ("StateName", "NY"), ("ZipCode", "11111-2222"),
        ])),
    )
    assert out == {**_BASE, "house_number": "123", "street_name": "REAL AVE"}


def test_reformat_character_replacement():
    row = {
        "address": "123 $R%E{A[L∆ ÁVE", "city": "N1E2W3 Y.O,R#K",
        "region": "1N&Y.", "postal_code": "abc11111-2.2,2+2d",
        "full_address": "123 $R%E{A[L∆ ÁVE N1E2W3 Y.O,R#K 1N&Y. abc11111-2.2,2+2d",
    }
    out = reformat_malformed_address(
        row,
        tagger=_tag(OrderedDict([
            ("AddressNumber", "123"), ("street", "$R%E{A[L∆ ÁVE"),
            ("PlaceName", "N1E2W3 Y.O,R#K"), ("StateName", "1N&Y."),
            ("ZipCode", "abc11111-2.2,2+2d"),
        ])),
    )
    assert out == {
        "address": "123 REAL AVE", "city": "NEW YORK", "region": "NY",
        "postal_code": "11111-2222", "full_address": row["full_address"],
        "house_number": "123", "street_name": "REAL AVE",
    }


def test_reformat_repeated_labels_error():
    out = reformat_malformed_address(
        dict(_BASE),
        tagger=_raise_repeated([
            ("123", "AddressNumber"), ("REAL", "StreetName"), ("AVE", "StreetName"),
            ("APT", "OccupancyType"), ("1", "OccupancyIdentifier"),
            ("NEW", "PlaceName"), ("YORK NY", "PlaceName"), ("11111", "ZipCode"),
        ]),
    )
    assert out == {
        "address": "123 REAL AVE APT 1", "city": "NEW YORK NY", "region": "NY",
        "postal_code": "11111", "full_address": _BASE["full_address"],
        "house_number": "123", "street_name": "REAL AVE",
    }


def test_reformat_repeated_address():
    row = {
        "address": "123 REAL AVE", "city": "123 REAL AVE", "region": "NEW YORK NY",
        "postal_code": "11111-2222",
        "full_address": "123 REAL AVE 123 REAL AVE NEW YORK NY 11111-2222",
    }
    out = reformat_malformed_address(
        row,
        tagger=_raise_repeated([
            ("123", "AddressNumber"), ("123", "AddressNumber"),
            ("REAL AVE", "StreetName"), ("REAL AVE", "StreetName"),
            ("NEW YORK", "PlaceName"), ("NY", "StateName"), ("11111-2222", "ZipCode"),
        ]),
    )
    assert out == {
        "address": "123 REAL AVE", "city": "NEW YORK", "region": "NY",
        "postal_code": "11111-2222", "full_address": row["full_address"],
        "house_number": "123", "street_name": "REAL AVE",
    }


def test_reformat_default_fallback_tagger_parses_reference_shape():
    # no tagger injected, no wheel in the image: the deterministic fallback
    # must still decompose the reference's canonical full_address
    out = reformat_malformed_address(dict(_BASE))
    assert out["house_number"] == "123"
    assert out["street_name"] == "REAL AVE"
    assert out["city"] == "NEW YORK"
    assert out["region"] == "NY"
    assert out["postal_code"] == "11111-2222"
    assert out["address"] == "123 REAL AVE APT 1"


def test_full_address_strict_parity_double_space(spark):
    # reference fillna('') + ' '.join leaves a DOUBLE space around a null
    # middle part; default mode collapses it (concat_ws skips nulls)
    from engine.ops.address import full_address

    df = spark.createDataFrame([("123 Main St", None, "NYC")], "a string, b string, c string")
    strict = df.select(full_address("a", "b", "c", strict_parity=True).alias("f")).first()["f"]
    loose = df.select(full_address("a", "b", "c").alias("f")).first()["f"]
    assert strict == "123 Main St  NYC"
    assert loose == "123 Main St NYC"

def test_fallback_tagger_state_allowlist():
    # round-2 advice: a bare trailing 2-letter token must NOT become a state
    # unless it is a USPS code — 'ST' here is the street type, not a state
    from engine.ops.address import _fallback_tagger

    parsed, _ = _fallback_tagger("123 MAIN ST")
    assert "StateName" not in parsed
    assert parsed["street"] == "MAIN ST"
    assert parsed["AddressNumber"] == "123"


def test_fallback_tagger_ambiguous_state_needs_context():
    from engine.ops.address import _fallback_tagger

    # 'CT' without a zip or comma is the street type (court), kept in street
    parsed, _ = _fallback_tagger("9 ROCKY CT")
    assert "StateName" not in parsed
    assert parsed["street"] == "ROCKY CT"
    # with a trailing zip the same token IS Connecticut
    parsed, _ = _fallback_tagger("9 ROCKY RD HARTFORD CT 06103")
    assert parsed["StateName"] == "CT"
    assert parsed["ZipCode"] == "06103"
    assert parsed["street"] == "ROCKY RD"
    assert parsed["PlaceName"] == "HARTFORD"
    # unambiguous codes still strip without a zip
    parsed, _ = _fallback_tagger("456 OAK AVE BROOKLYN NY")
    assert parsed["StateName"] == "NY"
    assert parsed["PlaceName"] == "BROOKLYN"


# ---------------------------------------------------------------------------
# Fallback tagger — directional + occupancy shapes (VERDICT r6 #5: the two
# reference tag groups the fallback still simplified, usaddress
# StreetNamePost/PreDirectional and OccupancyType/Identifier —
# reference helpers/address_helper.py:10-17; wheels DNS-blocked again
# 2026-08-15, fourth negative probe)
# ---------------------------------------------------------------------------


def _reformat_fallback(full_address):
    from engine.ops.address import _fallback_tagger

    row = {
        "address": "", "city": "", "region": "", "postal_code": "",
        "full_address": full_address,
    }
    return reformat_malformed_address(row, tagger=_fallback_tagger)


def test_fallback_post_directional_stays_in_street():
    out = _reformat_fallback("123 MAIN ST W BROOKLYN NY 11201")
    assert out["house_number"] == "123"
    assert out["street_name"] == "MAIN ST W"
    assert out["city"] == "BROOKLYN"
    assert out["region"] == "NY"
    assert out["postal_code"] == "11201"
    assert out["address"] == "123 MAIN ST W"


def test_fallback_lettered_avenue():
    out = _reformat_fallback("2211 AVE W BROOKLYN NY 11229")
    assert out["street_name"] == "AVE W"
    assert out["city"] == "BROOKLYN"


def test_fallback_pre_directional_with_occupancy():
    out = _reformat_fallback("350 W 42ND ST APT 12B NEW YORK NY 10036")
    assert out["house_number"] == "350"
    assert out["street_name"] == "W 42ND ST"
    assert out["address"] == "350 W 42ND ST APT 12B"
    assert out["city"] == "NEW YORK"


def test_fallback_standalone_occupancy_types():
    out = _reformat_fallback("9 JONES ST BSMT NEW YORK NY 10014")
    assert out["street_name"] == "JONES ST"
    assert out["address"] == "9 JONES ST BSMT"
    assert out["city"] == "NEW YORK"
    out = _reformat_fallback("1 5TH AVE PH B NEW YORK NY 10003")
    assert out["street_name"] == "5TH AVE"
    assert out["address"] == "1 5TH AVE PH B"
    assert out["city"] == "NEW YORK"


def test_fallback_identifier_first_floor():
    out = _reformat_fallback("30 BROAD ST 2ND FLOOR NEW YORK NY 10004")
    assert out["street_name"] == "BROAD ST"
    assert out["address"] == "30 BROAD ST 2ND FLOOR"
    assert out["city"] == "NEW YORK"


def test_fallback_occupancy_prefix_words_are_not_units():
    # FL is an occupancy marker but FLATBUSH must stay a street name
    out = _reformat_fallback("11 FLATBUSH AVE BROOKLYN NY 11217")
    assert out["street_name"] == "FLATBUSH AVE"
    assert out["address"] == "11 FLATBUSH AVE"
    assert out["city"] == "BROOKLYN"


def test_fallback_full_word_directional_stays_in_city():
    # abbreviated compass tokens move to the street; full words do not —
    # WEST NEW YORK NJ is a real municipality
    out = _reformat_fallback("400 PARK AVE WEST NEW YORK NJ 07093")
    assert out["street_name"] == "PARK AVE"
    assert out["city"] == "WEST NEW YORK"
    assert out["region"] == "NJ"


def test_fallback_intersection_basic():
    # VERDICT r7 #5: intersections — usaddress tags the first street as
    # StreetName* (mapped -> street), '&' as IntersectionSeparator, and the
    # cross street as SecondStreet*, which reformat_malformed_address never
    # reads (helpers/address_helper.py:29-36), so street = first street and
    # the cross street is dropped from the assembled address
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("BROADWAY & W 79TH ST")
    assert kind == "Intersection"
    assert parsed["street"] == "BROADWAY"
    assert parsed["SecondStreetName"] == "W 79TH ST"
    assert "PlaceName" not in parsed

    out = _reformat_fallback("BROADWAY & W 79TH ST")
    assert out["street_name"] == "BROADWAY"
    assert out["address"] == "BROADWAY"
    assert out["house_number"] == ""


def test_fallback_intersection_with_place_state_zip():
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("BROADWAY AND W 79TH ST NEW YORK NY 10024")
    assert kind == "Intersection"
    assert parsed["street"] == "BROADWAY"
    assert parsed["SecondStreetName"] == "W 79TH ST"
    assert parsed["PlaceName"] == "NEW YORK"
    assert parsed["StateName"] == "NY"
    assert parsed["ZipCode"] == "10024"

    out = _reformat_fallback("BROADWAY AND W 79TH ST NEW YORK NY 10024")
    assert out["street_name"] == "BROADWAY"
    assert out["city"] == "NEW YORK"
    assert out["region"] == "NY"
    assert out["postal_code"] == "10024"


def test_fallback_intersection_cross_street_post_directional():
    # the cross street's lettered-avenue directional stays with it, so the
    # trailing borough still lands in PlaceName
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("OCEAN PKWY & AVE W BROOKLYN NY")
    assert kind == "Intersection"
    assert parsed["street"] == "OCEAN PKWY"
    assert parsed["SecondStreetName"] == "AVE W"
    assert parsed["PlaceName"] == "BROOKLYN"
    assert parsed["StateName"] == "NY"


def test_fallback_house_number_means_no_intersection():
    # '&' after a house number is an address oddity, not an intersection —
    # the numbered-street shape keeps its normal parse
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("123 SMITH & SONS PLAZA BROOKLYN NY 11201")
    assert kind == "StreetAddress"
    assert parsed["AddressNumber"] == "123"


def test_fallback_intersection_typeless_cross_street_keeps_place():
    # r8 review catch: a cross street with no street-type suffix must not
    # swallow the city when a state/zip corroborates that a place follows
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("W 79TH ST & BROADWAY NEW YORK NY")
    assert kind == "Intersection"
    assert parsed["street"] == "W 79TH ST"
    assert parsed["SecondStreetName"] == "BROADWAY"
    assert parsed["PlaceName"] == "NEW YORK"
    assert parsed["StateName"] == "NY"
    # without corroboration, a multiword type-less cross street stays whole
    parsed2, _ = _fallback_tagger("MAIN ST & SAINT MARKS")
    assert parsed2["SecondStreetName"] == "SAINT MARKS"
    assert "PlaceName" not in parsed2


def test_fallback_intersection_multiword_typeless_cross_street():
    # advice r8: with state corroboration, carve at a KNOWN city suffix
    # before the single-token split — 'SAINT MARKS' stays one cross street
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("MAIN ST & SAINT MARKS BROOKLYN NY")
    assert kind == "Intersection"
    assert parsed["street"] == "MAIN ST"
    assert parsed["SecondStreetName"] == "SAINT MARKS"
    assert parsed["PlaceName"] == "BROOKLYN"
    # multi-token known city
    parsed2, _ = _fallback_tagger("MAIN ST & SAINT MARKS NEW YORK NY 10003")
    assert parsed2["SecondStreetName"] == "SAINT MARKS"
    assert parsed2["PlaceName"] == "NEW YORK"
    # unknown trailing place still takes the documented single-token split
    parsed3, _ = _fallback_tagger("MAIN ST & BROADWAY YONKERS NY")
    assert parsed3["SecondStreetName"] == "BROADWAY"
    assert parsed3["PlaceName"] == "YONKERS"
    # the carve is NY-gated: 'WEST NEW YORK NJ' is a real municipality and
    # must NOT lose 'WEST' to the cross street (review catch r9)
    parsed4, _ = _fallback_tagger("MAIN ST & BERGENLINE WEST NEW YORK NJ")
    assert parsed4["SecondStreetName"] == "BERGENLINE"
    assert parsed4["PlaceName"] == "WEST NEW YORK"
    assert parsed4["StateName"] == "NJ"


def test_fallback_po_box():
    # VERDICT r8 #5: usaddress tags USPSBoxType/USPSBoxID, NEITHER in the
    # reference's tag map (helpers/address_helper.py:10-17) — so street and
    # house_number stay empty and only city/region/zip survive reformat
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("PO BOX 123 BROOKLYN NY 11201")
    assert kind == "POBox"
    assert parsed["USPSBoxType"] == "PO BOX"
    assert parsed["USPSBoxID"] == "123"
    assert parsed["PlaceName"] == "BROOKLYN"
    assert parsed["StateName"] == "NY"
    assert parsed["ZipCode"] == "11201"
    assert "street" not in parsed and "AddressNumber" not in parsed

    for spelling in ("P.O. BOX 123", "P O BOX 123", "POST OFFICE BOX 123"):
        p, k = _fallback_tagger(f"{spelling} FLUSHING NY")
        assert k == "POBox" and p["USPSBoxID"] == "123", spelling
        assert p["PlaceName"] == "FLUSHING"

    out = _reformat_fallback("PO BOX 9021 JAMAICA NY 11431")
    assert out["street_name"] == ""
    assert out["house_number"] == ""
    assert out["address"] == ""
    assert out["city"] == "JAMAICA"
    assert out["region"] == "NY"
    assert out["postal_code"] == "11431"


def test_fallback_highway_and_pretype_streets():
    # r9: highway designations (StreetNamePreType + number) and pre-type
    # names ('AVENUE OF THE AMERICAS') — the generic last-type-suffix
    # split swallowed the city into the street on both shapes
    from engine.ops.address import _fallback_tagger

    parsed, _ = _fallback_tagger("ROUTE 9W POUGHKEEPSIE NY")
    assert parsed["street"] == "ROUTE 9W"
    assert parsed["PlaceName"] == "POUGHKEEPSIE"

    parsed2, _ = _fallback_tagger("1234 US HIGHWAY 1 EDISON NJ 08817")
    assert parsed2["AddressNumber"] == "1234"
    assert parsed2["street"] == "US HIGHWAY 1"
    assert parsed2["PlaceName"] == "EDISON"

    parsed3, _ = _fallback_tagger("STATE ROUTE 17 APT 3 MONROE NY")
    assert parsed3["street"] == "STATE ROUTE 17"
    assert parsed3["PlaceName"] == "MONROE"
    assert parsed3["line2"] == "APT 3"

    parsed4, _ = _fallback_tagger("1211 AVENUE OF THE AMERICAS NEW YORK NY 10036")
    assert parsed4["street"] == "AVENUE OF THE AMERICAS"
    assert parsed4["PlaceName"] == "NEW YORK"
    assert parsed4["AddressNumber"] == "1211"
    # no recognized trailing city -> the whole remainder stays the street
    parsed5, _ = _fallback_tagger("AVENUE OF THE AMERICAS")
    assert parsed5["street"] == "AVENUE OF THE AMERICAS"
    assert "PlaceName" not in parsed5
    # a NY-range zip with NO state token still corroborates the carve
    parsed6, _ = _fallback_tagger("1211 AVENUE OF THE AMERICAS NEW YORK 10036")
    assert parsed6["street"] == "AVENUE OF THE AMERICAS"
    assert parsed6["PlaceName"] == "NEW YORK"
    # county-road spelling is a highway designation, not a RD type split
    parsed7, _ = _fallback_tagger("123 COUNTY RD 12 GOSHEN NY")
    assert parsed7["street"] == "COUNTY RD 12"
    assert parsed7["PlaceName"] == "GOSHEN"

    out = _reformat_fallback("ROUTE 9W POUGHKEEPSIE NY 12601")
    assert out["street_name"] == "ROUTE 9W"
    assert out["city"] == "POUGHKEEPSIE"
    assert out["address"] == "ROUTE 9W"


def test_fallback_fractional_house_number():
    # '123 1/2 MAIN ST': usaddress labels the fraction AddressNumberSuffix,
    # unmapped by the reference — dropped from street and house_number both
    from engine.ops.address import _fallback_tagger

    parsed, kind = _fallback_tagger("123 1/2 MAIN ST BROOKLYN NY 11201")
    assert kind == "StreetAddress"
    assert parsed["AddressNumber"] == "123"
    assert parsed["AddressNumberSuffix"] == "1/2"
    assert parsed["street"] == "MAIN ST"
    assert parsed["PlaceName"] == "BROOKLYN"

    out = _reformat_fallback("123 1/2 MAIN ST BROOKLYN NY 11201")
    assert out["house_number"] == "123"
    assert out["street_name"] == "MAIN ST"
    assert out["address"] == "123 MAIN ST"
    # a plain house number is not a fraction: '1/2' alone never matches
    parsed2, _ = _fallback_tagger("123 MAIN ST")
    assert "AddressNumberSuffix" not in parsed2


def test_fallback_queens_hyphenated_house_numbers():
    # VERDICT r9 #4: '37-61 82ND ST' — usaddress tags the whole hyphenated
    # pair as ONE AddressNumber; ubiquitous in the reference's NYC domain
    from engine.ops.address import _fallback_tagger, _parse_one

    parsed, kind = _fallback_tagger("37-61 82ND ST JACKSON HEIGHTS NY 11372")
    assert kind == "StreetAddress"
    assert parsed["AddressNumber"] == "37-61"
    assert parsed["street"] == "82ND ST"
    assert parsed["PlaceName"] == "JACKSON HEIGHTS"
    assert parsed["StateName"] == "NY"
    assert parsed["ZipCode"] == "11372"

    out = _reformat_fallback("144-80 SANFORD AVE FLUSHING NY 11355")
    assert out["house_number"] == "144-80"
    assert out["street_name"] == "SANFORD AVE"
    assert out["city"] == "FLUSHING"
    assert out["address"] == "144-80 SANFORD AVE"

    # trailing letter on the second segment stays in the number
    parsed2, _ = _fallback_tagger("37-61A 82ND ST QUEENS NY")
    assert parsed2["AddressNumber"] == "37-61A"
    assert parsed2["street"] == "82ND ST"
    assert parsed2["PlaceName"] == "QUEENS"

    # with a unit: number, street, and line2 all land correctly
    out2 = _reformat_fallback("82-17 153RD AVE APT 2B HOWARD BEACH NY 11414")
    assert out2["house_number"] == "82-17"
    assert out2["street_name"] == "153RD AVE"
    assert out2["address"] == "82-17 153RD AVE APT 2B"
    assert out2["city"] == "HOWARD BEACH"

    # ambiguity guard: the ordinal street is NOT eaten by the number — the
    # hyphen pair binds only the LEADING numeric token pair, so a plain
    # number before an ordinal street stays plain
    parsed3, _ = _fallback_tagger("61 82ND ST QUEENS NY")
    assert parsed3["AddressNumber"] == "61"
    assert parsed3["street"] == "82ND ST"

    # the street-line parser (_parse_one regex path) honors the same family
    assert _parse_one("37-61 82ND ST") == ("37-61", "82ND ST", None)
    assert _parse_one("37-61A 82ND ST APT 4") == ("37-61A", "82ND ST", "4")
