"""Two-tier geocode enrichment cascade (SURVEY §2.1 S5/S6, §2.8 F7/F8, §2.3 J9).

Reference behavior (lib/pipeline_controller.py:352-411):

1. census batch HTTP geocode of ``full_address`` rows (attempt 1);
2. re-parse malformed addresses, retry census (attempt 2), overlaying only
   still-null geoids;
3. rows with (house_number, street_name, zip) fall back to the in-process
   Geosupport library (attempt 3), borough→FIPS + tract-vintage coalesce.

Spark-first shape:

- the whole cascade is one ``mapInArrow`` pass (:func:`with_geoid`): per
  Arrow batch, :func:`cascade_batch` runs attempt 1, re-parses the misses,
  runs attempt 2 on them and Geosupport on what is left, like the
  reference's one sequential function per batch.  Each row meets each
  external transport at most once by construction; nothing is persisted,
  and the answer is attached to the row in place, with no join back.
- the *transport* is injected (a callable), exactly like the reference's
  mocked clients (tests/test_pipeline_controller.py:262-268), so tests and
  the harness run a deterministic fake while production injects an HTTP/FFI
  transport.  A census call is one Arrow batch of the rows still to answer
  (columns :data:`CENSUS_COLS`, plus :data:`PARSED_COLS` on attempt 2).
- the J9 "retry fills only nulls" overlay is first-non-null per row — no
  positional Series.update.
- retry/backoff/halving (ST7, census_geocoder_api_client.py:17-21,75-90)
  lives inside the transport wrapper: on failure it recursively halves the
  batch while ≥ ``min_split`` rows, then gives up to nulls.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from engine.ops.address import _QUOTE_RE, _parse_one, scrub_quotes

__all__ = [
    "cascade_batch",
    "with_geoid",
    "geocode_cascade",
    "fake_census_transport",
    "fake_geosupport",
]

# -- F8: borough→FIPS literal map (nyc_geocoder_client.py:8-14) --------------
BOROUGH_FIPS = {
    "MANHATTAN": "36061",
    "BRONX": "36005",
    "BROOKLYN": "36047",
    "QUEENS": "36081",
    "STATEN ISLAND": "36085",
}


# ---------------------------------------------------------------------------
# Transports (injected; deterministic fakes for tests/harness)
# ---------------------------------------------------------------------------

#: transport signature: pd.DataFrame[address, city, region, postal_code] ->
#: pd.Series[str|None] of 11-char geoids aligned to the input index.
CensusTransport = Callable[[pd.DataFrame], pd.Series]


def fake_census_transport(
    match_rate_mod: int = 10, fail_mod: int | None = None
) -> CensusTransport:
    """Deterministic stand-in for the census batch API (S5).

    Hashes the full address to a stable pseudo-geoid; every ``match_rate_mod``-th
    hash bucket is a 'No_Match' (returns null), mirroring the reference's
    Match/No_Match/Tie response shapes (tests/test_census_geocoder_api_client.py:11-15).
    """

    def transport(batch: pd.DataFrame) -> pd.Series:
        def one(addr: str | None) -> str | None:
            if not addr:
                return None
            h = hashlib.sha256(addr.encode("utf-8")).digest()
            if h[0] % match_rate_mod == 0:
                return None  # No_Match
            state = f"{h[1] % 56 + 1:02d}"
            county = f"{h[2] % 800:03d}"
            tract = f"{int.from_bytes(h[3:6], 'big') % 1_000_000:06d}"
            return state + county + tract

        return batch["full_address"].map(one)

    return transport


def retrying_census_transport(
    inner: CensusTransport, *, max_retries: int = 2, min_split: int = 1000
) -> CensusTransport:
    """ST7 wrapper: retry then recursively halve the batch on failure
    (census_geocoder_api_client.py:75-90); exhausted sub-batches → nulls."""

    def transport(batch: pd.DataFrame) -> pd.Series:
        for _ in range(max_retries + 1):
            try:
                return inner(batch)
            except Exception:
                continue
        if len(batch) >= 2 * min_split:
            mid = len(batch) // 2
            return pd.concat(
                [transport(batch.iloc[:mid]), transport(batch.iloc[mid:])]
            )
        return pd.Series([None] * len(batch), index=batch.index, dtype="object")

    return transport


#: geosupport signature: (house_number, street_name, zip5) -> geoid | None
GeosupportFn = Callable[[str, str, str], "str | None"]


def fake_geosupport() -> GeosupportFn:
    """Deterministic Geosupport stand-in (S6): stable borough + tract from the
    input hash; per-row errors → null (nyc_geocoder_client.py:68-69)."""
    boroughs = list(BOROUGH_FIPS.values())

    def one(house: str | None, street: str | None, zip_code: str | None) -> str | None:
        if not house or not street or not zip_code:
            return None
        h = hashlib.sha256(f"{house}|{street}|{zip_code}".encode()).digest()
        fips = boroughs[h[0] % len(boroughs)]
        tract = f"{int.from_bytes(h[1:4], 'big') % 1_000_000:06d}"
        return fips + tract

    return one


# ---------------------------------------------------------------------------
# The cascade: one Python pass per Arrow batch
# ---------------------------------------------------------------------------

ADDR_COLS = ["address", "city", "region", "postal_code"]
#: the attempt-1 census batch; attempt 2 sends these plus :data:`PARSED_COLS`
CENSUS_COLS = ["patron_id", *ADDR_COLS, "full_address"]
PARSED_COLS = ["house_number", "street_name", "unit"]

_QUOTES = re.compile(_QUOTE_RE)


def _scrub(v: str | None) -> str | None:
    """F3, the row form of :func:`engine.ops.address.scrub_quotes`."""
    return None if v is None else _QUOTES.sub("", v)


def _join(*parts: str | None) -> str:
    """F4, the row form of ``trim(concat_ws(' ', ...))``: nulls are skipped
    and only spaces are trimmed, as Spark's ``trim`` does."""
    return " ".join(p for p in parts if p is not None).strip(" ")


def _census(transport: CensusTransport, batch: pd.DataFrame) -> list:
    """One census call; its answers align to the batch by index (missing or
    NaN → None), the transport contract."""
    got = transport(batch).reindex(batch.index)
    return [None if pd.isna(g) else g for g in got]


def cascade_batch(
    rows: pd.DataFrame, census: CensusTransport, geosupport: GeosupportFn
) -> list:
    """The three attempts (lib/pipeline_controller.py:352-411) over one batch
    of ``patron_id`` + raw address rows.  Returns one geoid or None per row:
    the first attempt's non-null answer (J9).

    1. census on the quote-scrubbed, space-joined ``full_address`` of every
       row where that is non-empty;
    2. the misses re-parsed (``_parse_one``) and re-assembled from house,
       street, city, region and zip5, census again;
    3. Geosupport, per row, on the attempt-2 misses that have a house
       number, a street and a postal code (sent as its zip5).

    Each row meets each transport at most once.  Each census call gets a
    fresh ``RangeIndex``.
    """
    out: list = [None] * len(rows)
    a = pd.DataFrame({"patron_id": list(rows["patron_id"])})
    for c in ADDR_COLS:
        a[c] = [_scrub(v) for v in rows[c]]
    a["full_address"] = [_join(*r) for r in zip(*(a[c] for c in ADDR_COLS))]

    todo = [i for i, f in enumerate(a["full_address"]) if f]
    if not todo:
        return out
    misses = []
    for i, g in zip(todo, _census(census, a.iloc[todo].reset_index(drop=True))):
        if g is None:
            misses.append(i)
        else:
            out[i] = g
    if not misses:
        return out

    b = a.iloc[misses].reset_index(drop=True)
    parsed = [_parse_one(f) for f in b["full_address"]]
    for k, c in enumerate(PARSED_COLS):
        b[c] = [p[k] for p in parsed]
    zips = [None if z is None else z[:5] for z in b["postal_code"]]
    b["full_address"] = [
        _join(h or "", s or "", city, region, z)
        for (h, s, _), city, region, z in zip(parsed, b["city"], b["region"], zips)
    ]
    for i, g, (h, s, _), z in zip(misses, _census(census, b), parsed, zips):
        if g is None and h is not None and s is not None and z is not None:
            g = geosupport(h, s, z)
        out[i] = g
    return out


def with_geoid(
    df: DataFrame,
    census: CensusTransport,
    geosupport: GeosupportFn,
    *,
    only: Column | None = None,
) -> DataFrame:
    """Add ``geoid`` to every row of ``df`` (which holds ``patron_id`` and
    the raw :data:`ADDR_COLS`) in one ``mapInArrow`` pass running
    :func:`cascade_batch` per Arrow batch.

    The other columns cross the pass as the Arrow arrays Spark sent, so no
    type goes through pandas.  A row with a null ``patron_id``, or, given
    ``only``, a row where ``only`` is not true, gets null and reaches no
    transport: a geoid belongs to a patron, and a null key names none.
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds a census call
    the way the reference's 10k-row API batches did; the partition count
    bounds concurrent calls (the reference used 2 threads,
    nyc_geocoder_client.py:31).
    """
    flag = "__geocode"
    flagged = only is not None
    src = df.withColumn(flag, only) if flagged else df
    names = [*src.columns, "geoid"]
    schema = StructType(src.schema.fields + [StructField("geoid", StringType())])

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            vals = {c: rb.column(c).to_pylist() for c in ("patron_id", *ADDR_COLS)}
            keep = [k is not None for k in vals["patron_id"]]
            if flagged:
                keep = [k and f is True for k, f in zip(keep, rb.column(flag).to_pylist())]
            idx = [i for i, k in enumerate(keep) if k]
            geoid: list = [None] * rb.num_rows
            if idx:
                rows = pd.DataFrame({c: [v[i] for i in idx] for c, v in vals.items()})
                for i, g in zip(idx, cascade_batch(rows, census, geosupport)):
                    geoid[i] = g
            yield pa.RecordBatch.from_arrays(
                [*rb.columns, pa.array(geoid, pa.string())], names=names
            )

    out = src.mapInArrow(run, schema)
    return out.drop(flag) if flagged else out


def geocode_cascade(
    addresses: DataFrame, census: CensusTransport, geosupport: GeosupportFn
) -> DataFrame:
    """The full 3-attempt cascade on a frame with columns (patron_id, address,
    city, region, postal_code): its addressable rows (non-empty scrubbed,
    assembled address) with a ``geoid`` column, null where every attempt
    failed."""
    assembled = F.trim(F.concat_ws(" ", *[scrub_quotes(c) for c in ADDR_COLS]))
    return with_geoid(addresses.filter(F.length(assembled) > 0), census, geosupport)
