"""Round-3 selection/layout additions: quantile bucketing and Z-order keys."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.extended.selection import quantile_buckets
from engine.ops.io import zorder_key, zorder_key_sql, zorder_write


def test_quantile_buckets_terciles_and_boundary_ties(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6])],
        "id long, m double",
    )
    out = {r["id"]: r["bucket"] for r in quantile_buckets(df, "m").collect()}
    # boundaries (percentile_disc 1/3, 2/3 over 6 rows) = 2.0 and 4.0;
    # equality lands in the LOWER bucket
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2}


def test_quantile_buckets_null_metric_and_constant_column(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, None)], "id long, m double"
    )
    rows = {r["id"]: r["bucket"] for r in quantile_buckets(df, "m").collect()}
    assert rows[1] == 0 and rows[2] == 0  # all equal -> one bucket
    assert rows[3] is None  # null metric -> null bucket


def test_quantile_buckets_approx_mode_same_shape(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(30)], "id long, m double"
    )
    out = quantile_buckets(df, "m", exact=False)
    assert out.columns == ["id", "m", "bucket"]
    buckets = {r["bucket"] for r in out.collect()}
    assert buckets == {0, 1, 2}


def test_zorder_key_interleaves_bits(spark):
    # x=3 (11b), y=1 (01b), 2 bits: positions x->0,2  y->1,3  => 0111b = 7
    df = spark.createDataFrame([(3, 1)], "x long, y long")
    key = df.select(
        zorder_key(["x", "y"], bits=2).alias("k")
    ).first()["k"]
    assert key == 7
    # SQL twin produces the identical value via Spark SQL evaluation
    sql_key = df.selectExpr(
        zorder_key_sql(["x", "y"], bits=2) + " AS k"
    ).first()["k"]
    assert sql_key == 7


def test_zorder_key_locality_beats_lexicographic(spark):
    # points on a 2^8 grid: z-range of a small square is tighter than the
    # full-key range a lexicographic (x-major) sort would give column y
    df = spark.createDataFrame(
        [(x, y) for x in range(0, 256, 16) for y in range(0, 256, 16)],
        "x long, y long",
    )
    keyed = df.withColumn("k", zorder_key(["x", "y"], bits=8))
    sq = keyed.filter((F.col("x") < 32) & (F.col("y") < 32))
    lo, hi = sq.agg(F.min("k"), F.max("k")).first()
    full_hi = keyed.agg(F.max("k")).first()[0]
    assert hi - lo < full_hi / 16  # the square occupies one tight curve segment


def test_zorder_key_range_guard():
    import pytest

    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], bits=16)


def test_zorder_write_clusters_files(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, (i * 37) % 64, (i * 91) % 64) for i in range(512)],
        "id long, x long, y long",
    )
    path = str(tmp_path / "z")
    zorder_write(df, path, ["x", "y"], bits=6, n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 512
    # per-file key ranges must be disjoint (range partitioning on the curve)
    import pyspark.sql.functions as SF

    stats = (
        back.withColumn("k", zorder_key(["x", "y"], bits=6))
        .withColumn("f", SF.input_file_name())
        .groupBy("f")
        .agg(SF.min("k").alias("lo"), SF.max("k").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(stats) >= 2
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] <= b["lo"]


# ---------------------------------------------------------------------------
# mmr_select
# ---------------------------------------------------------------------------

import pytest as _pytest

from engine.extended.selection import mmr_select


def _pool(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, quality double"
    )


def test_mmr_diversity_beats_quality(spark):
    """b duplicates a's direction with high quality; orthogonal c wins
    round 2 because a's similarity fully penalizes b."""
    p = _pool(
        spark,
        [
            (1, [1.0, 0.0], 1.0),
            (2, [1.0, 0.0], 0.9),
            (3, [0.0, 1.0], 0.5),
        ],
    )
    picks = mmr_select(p, k=3)
    assert [x["id"] for x in picks] == [1, 3, 2]
    assert picks[0]["score"] == _pytest.approx(0.5)     # 0.5·1.0 − 0
    assert picks[1]["score"] == _pytest.approx(0.25)    # 0.5·0.5 − 0.5·0
    assert picks[2]["score"] == _pytest.approx(-0.05)   # 0.5·0.9 − 0.5·1.0


def test_mmr_pool_exhaustion_and_zero_norm(spark):
    """Fewer rows than k returns what exists; a zero vector's similarity
    is defined 0, so it is pure quality."""
    p = _pool(spark, [(1, [1.0, 0.0], 0.8), (2, [0.0, 0.0], 0.4)])
    picks = mmr_select(p, k=5)
    assert [x["id"] for x in picks] == [1, 2]
    assert picks[1]["score"] == _pytest.approx(0.2)     # 0.5·0.4 − 0.5·0


def test_mmr_materialized_agrees_with_lazy(spark):
    rows = [
        (i, [float(i % 3), float((i * 7) % 5), 1.0], (i % 10) / 10.0)
        for i in range(1, 30)
    ]
    p = _pool(spark, rows)
    lazy = mmr_select(p, k=4, materialize=False)
    mat = mmr_select(p, k=4, materialize=True)
    assert lazy == mat


def test_mmr_validation(spark):
    p = _pool(spark, [(1, [1.0], 0.5)])
    with _pytest.raises(ValueError, match="k must"):
        mmr_select(p, k=0)
    with _pytest.raises(ValueError, match="lam_pct"):
        mmr_select(p, k=1, lam_pct=101)


def test_mmr_rejects_non_integer_lambda_and_skips_null_quality(spark):
    p = _pool(spark, [(1, [1.0, 0.0], 0.9), (2, [0.0, 1.0], None)])
    with _pytest.raises(ValueError, match="integer"):
        mmr_select(p, k=1, lam_pct=50.5)
    picks = mmr_select(p, k=5)
    assert [x["id"] for x in picks] == [1]  # NULL quality excluded, no crash


def test_mmr_skips_rows_whose_norm_overflows(spark):
    """Finite components whose norm overflows to infinity: the row is
    excluded up front instead of reaching the pick fold as ``infD``."""
    p = spark.createDataFrame(
        [
            (1, [1e200, 1e200], 0.9),
            (2, [1.0, 0.0], 0.5),
            (3, [0.0, 1.0], 0.4),
        ],
        "vec_id long, embedding array<double>, quality double",
    )
    picks = mmr_select(p, k=3, batch=1)
    assert [x["id"] for x in picks] == [2, 3]


def test_mmr_batched_path_matches_per_item_loop(spark):
    """VERDICT r6 #4: the batched greedy path (one collect of batch+1
    candidates, driver-side selection under the sentinel bound) must
    select EXACTLY the per-item loop's items with identical scores — on a
    pool with duplicate/collinear vectors where every pick reshuffles the
    ranking (the case where the bound actually trips)."""
    import random

    from engine.extended.selection import mmr_select

    rng = random.Random(23)
    rows = []
    for i in range(120):
        base = [1.0, 0.0, 0.0] if i % 3 == 0 else [0.0, 1.0, 0.0]
        v = [b + rng.random() * 0.3 for b in base]
        rows.append((i, v, rng.randrange(0, 1000) / 1000.0))
    # hostile additions: zero vector, exact duplicates
    rows += [(900, [0.0, 0.0, 0.0], 0.9), (901, [1.0, 1.0, 1.0], 0.8),
             (902, [1.0, 1.0, 1.0], 0.8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, quality double"
    )
    for lam in (0, 30, 50, 100):
        a = mmr_select(df, k=12, lam_pct=lam, batch=1)
        b = mmr_select(df, k=12, lam_pct=lam, batch=5)
        c = mmr_select(df, k=12, lam_pct=lam, batch=64)
        assert a == b == c, f"lam={lam}"


def test_mmr_batched_job_count_bounded(spark):
    """VERDICT r6 #4 done-condition: with a quality-dominant blend
    (lam=100: picks never reshuffle the ranking) the batched path must run
    at most ceil(k/batch) + 1 Spark jobs — not one per selected item."""
    from engine.extended.selection import mmr_select

    rows = [
        (i, [float(i % 7 + 1), float(i % 5 + 1)], (i * 37 % 997) / 997.0)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, quality double"
    )
    sc = spark.sparkContext
    group = "mmr-jobcount-pin"
    sc.setJobGroup(group, "mmr batched job-count pin")
    try:
        picks = mmr_select(df, k=40, lam_pct=100, batch=20)
    finally:
        sc.setJobGroup(None, None)
    assert len(picks) == 40
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= (40 + 19) // 20 + 1, f"{len(jobs)} jobs"


def test_mmr_batched_matches_per_item_on_hostile_vectors(spark):
    """Review catch: mixed-length vectors (zip_with null-pads, Python zip
    truncates) and NaN/Inf components (Spark orders NaN above everything,
    Python's `> 0` says False) must not desynchronize the batched path
    from the per-item loop — ragged rows update nothing, non-finite rows
    are excluded up front."""
    from engine.extended.selection import mmr_select

    rows = [
        (1, [1.0, 0.0], 0.9),
        (2, [1.0, 0.0, 0.0], 0.8),     # longer vector
        (3, [0.9, 0.1], 0.7),
        (4, [float("nan"), 1.0], 0.99),   # NaN: excluded
        (5, [float("inf"), 1.0], 0.99),   # Inf: excluded
        (6, [0.5, 0.5], 0.6),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, quality double"
    )
    for lam in (0, 50, 100):
        a = mmr_select(df, k=4, lam_pct=lam, batch=1)
        b = mmr_select(df, k=4, lam_pct=lam, batch=8)
        assert a == b, f"lam={lam}"
        assert all(p["id"] not in (4, 5) for p in a)


def test_pca_whiten_respects_quant(spark):
    """Review catch: the eigenbasis scale must follow the quant parameter
    (cov_micro is in quant² units), so whitening decorrelates identically
    at quant=100."""
    import random

    import numpy as np

    from engine.extended.similarity import pca_whiten

    rng = random.Random(9)
    rows = [
        (i, [z := rng.gauss(0, 1), 0.8 * z + rng.gauss(0, 0.4)])
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pca_whiten(df, [0, 1], out_col="w", quant=100).collect()
    W = np.array([r["w"] for r in out if r["w"] is not None])
    C = np.cov(W.T, bias=True)
    assert np.allclose(C, np.eye(2), atol=0.1), C
