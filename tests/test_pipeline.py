"""Pipeline mode graphs + incremental runner (SURVEY §3, §2.9 ST1-ST5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from engine.ops.geocode import fake_census_transport, fake_geosupport
from engine.ops.state import LocalJsonStateStore, default_state
from engine.pipeline import (
    IncrementalRunner,
    PipelineConfig,
    PipelineMode,
    PipelineStallError,
    deleted_patrons_graph,
    new_patrons_graph,
    updated_patrons_graph,
)
from engine.schemas import SINK_RECORD


CFG = PipelineConfig(salt="test-salt", batch_size=2)


def test_new_patrons_graph_shape_and_dedup(spark, sierra_df):
    out = new_patrons_graph(sierra_df, CFG)
    assert [f.name for f in out.schema.fields] == [f.name for f in SINK_RECORD.fields]
    rows = {r["patron_id"]: r for r in out.collect()}
    assert len(rows) == 3  # 456 deduped
    # iphlc initialised from phlc in NEW mode
    by_lib = {r["patron_home_library_code"] for r in rows.values()}
    assert "home_library2" in by_lib and "other_library" not in by_lib


def test_new_patrons_zip5_and_dates(spark, sierra_df):
    out = new_patrons_graph(sierra_df, CFG).collect()
    by_zip = {r["postal_code"] for r in out}
    assert "11201" in by_zip  # ZIP+4 truncated
    # creation_timestamp 2021-01-01 02:00 UTC → ET date 2020-12-31 (midnight rule)
    dates = {r["creation_date_et"] for r in out}
    assert "2020-12-31" in dates


def test_new_patrons_with_geocode(spark, sierra_df):
    out = new_patrons_graph(
        sierra_df, CFG, census=fake_census_transport(), geosupport=fake_geosupport()
    )
    got = out.filter(F.col("geoid").isNotNull()).count()
    assert got >= 1  # deterministic fake geocodes the addressable rows
    for r in out.filter(F.col("geoid").isNotNull()).collect():
        assert len(r["geoid"]) == 11


def test_updated_patrons_cache_hit_skips_geocode(spark, sierra_df):
    """Rows whose address_hash is cached reuse patron_id/geoid (J5) —
    reference lib/pipeline_controller.py:199-215."""
    base = updated_patrons_graph(
        sierra_df,
        spark.createDataFrame([], SINK_RECORD),
        CFG,
    )
    # build a cache from the NEW output: every address known
    cache = new_patrons_graph(sierra_df, CFG).withColumn(
        "geoid", F.lit("99999999999")
    )
    out = updated_patrons_graph(sierra_df, cache, CFG)
    assert out.filter(F.col("geoid") == "99999999999").count() == 3
    # patron_id comes from the cache and equals the hash (same salt)
    assert set(r["patron_id"] for r in out.collect()) == set(
        r["patron_id"] for r in base.collect()
    )


def test_deleted_patrons_enrich(spark, sierra_df):
    cache = new_patrons_graph(sierra_df, CFG)
    deleted = spark.createDataFrame(
        [(123, dt.date(2022, 2, 2)), (999, dt.date(2022, 2, 3))],
        "patron_id_plaintext long, deletion_date_et date",
    )
    out = deleted_patrons_graph(deleted, cache, CFG)
    rows = sorted(out.collect(), key=lambda r: r["deletion_date_et"])
    assert rows[0]["deletion_date_et"] == "2022-02-02"
    assert rows[0]["postal_code"] == "10001"  # enriched from warehouse
    assert rows[1]["postal_code"] is None  # unknown patron → nulls


def test_incremental_runner_watermark_and_dedup(spark, sierra_df, tmp_path):
    store = LocalJsonStateStore(str(tmp_path / "state.json"))
    # batch_size 3: the two same-timestamp rows of patron 456 must share a
    # batch, or the stall guard (correctly) trips — same constraint as the
    # reference's batch sizing
    cfg = PipelineConfig(salt="t", batch_size=3)
    runner = IncrementalRunner(spark, cfg, store)

    stats = runner.run_mode(
        sierra_df,
        PipelineMode.NEW_PATRONS,
        lambda batch, seen: new_patrons_graph(batch, cfg, seen=seen),
        now=dt.datetime(2021, 6, 1),
    )
    # inclusive >= restart re-reads boundary rows (ST2, at-least-once): batch1
    # = 3 rows (wm→02:00), batch2 re-reads the 02:00 rows + 789 (wm→03:00),
    # batch3 re-reads 789, short → done.  Dedup makes re-reads no-ops (ST4).
    assert stats.batches == 3
    assert stats.rows_in == 7
    assert stats.rows_out == 3  # each patron emitted exactly once
    # watermark advanced to the max creation ts
    assert store.get()["creation_dt"] == "2021-01-01 03:00:00"
    # untouched keys keep defaults
    assert store.get()["deletion_date"] == default_state()["deletion_date"]

    # restart: same source, watermark >= resumes at the boundary row, and the
    # session key set makes re-emissions no-ops (at-least-once, ST2/ST4)
    stats2 = runner.run_mode(
        sierra_df,
        PipelineMode.NEW_PATRONS,
        lambda batch, seen: new_patrons_graph(batch, cfg, seen=seen),
        now=dt.datetime(2021, 6, 1),
    )
    assert stats2.rows_out == 0


def test_incremental_runner_stall_guard(spark, tmp_path):
    rows = [(i, dt.datetime(2021, 1, 1, 12, 0, 0)) for i in range(4)]
    df = spark.createDataFrame(
        rows, "patron_id_plaintext long, creation_timestamp timestamp"
    )
    store = LocalJsonStateStore(str(tmp_path / "state.json"))
    cfg = PipelineConfig(salt="t", batch_size=2)
    runner = IncrementalRunner(spark, cfg, store)
    with pytest.raises(PipelineStallError):
        runner.run_mode(
            df,
            PipelineMode.NEW_PATRONS,
            lambda batch, seen: batch,
            now=dt.datetime(2021, 6, 1),
        )


def test_incremental_runner_key_set_stays_one_checkpoint(spark, tmp_path):
    """Over 100+ batches the session key set stays one checkpointed scan:
    its optimized plan has the same size from batch 2 on, and the graph's
    anti-join broadcasts exactly that one scan with no shuffle, instead of
    replaying a union chain that grows with every batch."""
    from engine.ops import relational as R

    n_rows = 101
    rows = [(i, dt.datetime(2021, 1, 1) + dt.timedelta(minutes=i)) for i in range(n_rows)]
    df = spark.createDataFrame(
        rows, "patron_id_plaintext long, creation_timestamp timestamp"
    )
    store = LocalJsonStateStore(str(tmp_path / "state.json"))
    runner = IncrementalRunner(spark, PipelineConfig(salt="t", batch_size=2), store)
    key_set_nodes, build_plans = [], []

    def pass_through(batch, seen):
        if seen is None:
            return batch
        key_set_nodes.append(
            len(seen._jdf.queryExecution().optimizedPlan().toString().splitlines())
        )
        out = R.anti_join(batch, seen, on="patron_id_plaintext")
        build_plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    stats = runner.run_mode(
        df, PipelineMode.NEW_PATRONS, pass_through, now=dt.datetime(2021, 6, 1)
    )
    # inclusive >= restart: each 2-row batch re-reads the previous boundary
    # row, which the key set drops, so every patron is emitted once
    assert stats.batches == n_rows
    assert stats.rows_out == n_rows
    assert len(key_set_nodes) >= 100
    assert set(key_set_nodes) == {key_set_nodes[0]}
    for plan in build_plans:
        # one scan of the page checkpoint, one of the key-set checkpoint
        assert plan.count("Scan ExistingRDD") == 2, plan
        assert "Exchange hashpartitioning" not in plan, plan


def test_updated_patrons_geocodes_only_misses(spark, sierra_df, geocode_log):
    """Cache hit rows keep the cached geoid untouched; only misses flow
    through the cascade (reference lib/pipeline_controller.py:212-215)."""
    cfg = PipelineConfig(salt="test-salt")
    # cache covers ONLY patron 123's address
    full_cache = new_patrons_graph(sierra_df, cfg).withColumn(
        "geoid", F.lit("11111111111")
    )
    cache = full_cache.filter(F.col("postal_code") == "10001")
    out = updated_patrons_graph(
        sierra_df, cache, cfg, census=geocode_log.census(fake_census_transport()),
        geosupport=fake_geosupport(),
    ).collect()
    by_zip = {r["postal_code"]: r for r in out}
    assert by_zip["10001"]["geoid"] == "11111111111"  # cache hit reused
    # only the addressable miss (456) reached the cascade; 123 (hit) and
    # 789 (no address) did not
    keys = [r["patron_id"] for c in geocode_log.read() if c["kind"] == "census1" for r in c["rows"]]
    assert keys == [by_zip["11201"]["patron_id"]]


def test_new_patrons_graph_cascade_edge_rows(spark, geocode_log):
    """Edge rows through the in-graph cascade, pinning the transport batch
    shape (attempt 1: patron_id + scrubbed address parts + full_address;
    attempt 2 adds the re-parsed parts).  Quotes are scrubbed before any
    call; an empty address and a null patron_id reach no transport (the
    null-id row keeps a null geoid); an unparseable address has no house
    number, so it never reaches Geosupport."""
    from engine.ops.geocode import CENSUS_COLS, PARSED_COLS
    from engine.ops.hashing import obfuscate_col

    def never_match(batch):
        import pandas as pd

        return pd.Series([None] * len(batch), index=batch.index, dtype="object")

    ts = dt.datetime(2021, 1, 1, 5)
    rows = [
        ("1", "12 \"O'Hara\" Rd", "Bronx", "NY", "10461-2233"),
        ("2", "", None, None, None),
        ("3", "c/o Desk, Rear", "Queens", "NY", "11375"),
        (None, "5 Oak St", "Queens", "NY", "11375"),
    ]
    batch = spark.createDataFrame(
        [(p, a, c, r, z, ts, ts) for p, a, c, r, z in rows],
        "patron_id_plaintext string, address string, city string, region string, "
        "postal_code string, creation_timestamp timestamp, last_updated_timestamp timestamp",
    )
    out = new_patrons_graph(
        batch, CFG, census=geocode_log.census(never_match),
        geosupport=geocode_log.geosupport(fake_geosupport()),
    ).collect()
    hashed = {
        r["p"]: r["h"]
        for r in spark.createDataFrame([("1",), ("2",), ("3",)], "p string")
        .select("p", obfuscate_col("p", CFG.salt).alias("h"))
        .collect()
    }
    log = geocode_log.read()
    c1 = [c for c in log if c["kind"] == "census1"]
    c2 = [c for c in log if c["kind"] == "census2"]
    assert {tuple(c["columns"]) for c in c1} == {tuple(CENSUS_COLS)}
    assert {tuple(c["columns"]) for c in c2} == {tuple(CENSUS_COLS + PARSED_COLS)}
    a1 = {r["patron_id"]: r for c in c1 for r in c["rows"]}
    a2 = {r["patron_id"]: r for c in c2 for r in c["rows"]}
    assert set(a1) == set(a2) == {hashed["1"], hashed["3"]}
    assert a1[hashed["1"]]["address"] == "12 OHara Rd"
    assert a1[hashed["1"]]["full_address"] == "12 OHara Rd Bronx NY 10461-2233"
    assert a2[hashed["1"]]["full_address"] == "12 OHara Rd Bronx NY 10461-2233 Bronx NY 10461"
    assert a2[hashed["3"]]["house_number"] is None
    args = ("12", "OHara Rd Bronx NY 10461-2233", "10461")
    assert [c["args"] for c in log if c["kind"] == "geosupport"] == [list(args)]

    geoid = {r["patron_id"]: r["geoid"] for r in out}
    assert len(out) == 4
    assert geoid == {
        hashed["1"]: fake_geosupport()(*args),
        hashed["2"]: None,
        hashed["3"]: None,
        None: None,
    }
