"""Golden-frame tests: deterministic sampling/sharding + SemDeDup family."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from engine.extended.sampling import per_key_sample, shard_assign
from engine.extended.semdedup import (
    centroids_by,
    pairwise_sims,
    semdedup,
    semdedup_pairs,
)


def _corpus(spark, n=40):
    rows = [(i, f"g{i % 3}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, source string")


# ---------------------------------------------------------------------------
# per_key_sample
# ---------------------------------------------------------------------------


def test_per_key_sample_caps_each_group(spark):
    out = per_key_sample(_corpus(spark), "source", k=4).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["source"], set()).add(r["doc_id"])
    assert set(by_group) == {"g0", "g1", "g2"}
    assert all(len(ids) == 4 for ids in by_group.values())


def test_per_key_sample_keeps_small_groups_whole(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id long, source string")
    out = per_key_sample(df, "source", k=5).collect()
    assert {(r["source"], r["doc_id"]) for r in out} == {("a", 1), ("a", 2), ("b", 3)}


def test_per_key_sample_partition_invariant(spark):
    base = {(r["source"], r["doc_id"]) for r in per_key_sample(_corpus(spark), "source", k=4).collect()}
    shuffled = _corpus(spark).repartition(7, "doc_id")
    again = {(r["source"], r["doc_id"]) for r in per_key_sample(shuffled, "source", k=4).collect()}
    assert base == again


# ---------------------------------------------------------------------------
# shard_assign
# ---------------------------------------------------------------------------


def test_shard_assign_positions_contiguous(spark):
    out = shard_assign(_corpus(spark), n_shards=4).collect()
    assert len(out) == 40
    shards = {}
    for r in out:
        assert 0 <= r["shard"] < 4
        shards.setdefault(r["shard"], []).append(r["shard_pos"])
    for positions in shards.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


def test_shard_assign_stable_under_repartition(spark):
    a = {(r["doc_id"], r["shard"], r["shard_pos"]) for r in shard_assign(_corpus(spark), n_shards=4).collect()}
    b = {
        (r["doc_id"], r["shard"], r["shard_pos"])
        for r in shard_assign(_corpus(spark).repartition(9), n_shards=4).collect()
    }
    assert a == b


def test_shard_assign_without_position_is_pure_projection(spark):
    out = shard_assign(_corpus(spark), n_shards=4, position=False)
    assert "shard_pos" not in out.columns
    # no window/exchange in the plan: assignment must stay a map-side expression
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Window" not in plan


# ---------------------------------------------------------------------------
# centroids / SemDeDup
# ---------------------------------------------------------------------------


def _vecs(spark):
    c30, s30 = math.cos(math.pi / 6), math.sin(math.pi / 6)
    rows = [
        (0, [1.0, 0.0], 0),     # cluster 0 anchor
        (1, [1.0, 0.0], 0),     # exact duplicate direction of 0
        (2, [c30, s30], 0),     # 30 deg from 0 -> cos 0.866
        (3, [0.0, 1.0], 0),     # orthogonal
        (4, [0.0, 0.0], 0),     # zero vector -> null sims
        (5, [1.0, 0.0], 1),     # same direction, DIFFERENT cluster: never paired
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_centroids_by_exact_means(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 3.0], 7), (1, [3.0, 5.0], 7), (2, [2.0, 2.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r["label"], r["pos"]): r["centroid"] for r in centroids_by(df).collect()}
    assert got == {(7, 1): 2.0, (7, 2): 4.0, (8, 1): 2.0, (8, 2): 2.0}


def test_pairwise_sims_within_cluster_only(spark):
    pairs = {(r["a_id"], r["b_id"]): r["sim"] for r in pairwise_sims(_vecs(spark)).collect()}
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == round(math.cos(math.pi / 6), 4)
    assert pairs[(0, 3)] == 0.0
    assert pairs[(0, 4)] is None and pairs[(1, 4)] is None  # zero vector -> null
    assert not any(5 in p for p in pairs)  # cross-cluster pair never formed


def test_semdedup_pairs_threshold_on_rounded_sim(spark):
    got = {(r["a_id"], r["b_id"]) for r in semdedup_pairs(_vecs(spark), threshold=0.86).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_semdedup_keeps_min_id_of_each_dup_set(spark):
    kept = {r["vec_id"] for r in semdedup(_vecs(spark), threshold=0.86).collect()}
    # 1 and 2 are near-twins of 0 -> dropped; 3 (orthogonal), 4 (zero), 5
    # (other cluster) survive
    assert kept == {0, 3, 4, 5}


def test_semdedup_transitive_chain_collapses_to_min_id(spark):
    a = [1.0, 0.0]
    b = [math.cos(math.radians(25)), math.sin(math.radians(25))]
    c = [math.cos(math.radians(50)), math.sin(math.radians(50))]
    df = spark.createDataFrame(
        [(10, a, 0), (11, b, 0), (12, c, 0)],
        "vec_id long, embedding array<float>, label int",
    )
    # cos(25 deg) ~ 0.906 >= 0.87 links 10~11 and 11~12; cos(50 deg) ~ 0.64 doesn't
    kept = {r["vec_id"] for r in semdedup(df, threshold=0.87).collect()}
    assert kept == {10}


def test_semdedup_incremental_rejects_corpus_twins_and_batch_dups(spark):
    from engine.extended.semdedup import semdedup_incremental

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    batch = spark.createDataFrame(
        [
            (11, [1.0, 0.0], 0),    # twin of corpus 0 -> rejected
            (13, [-1.0, 1.0], 0),   # novel direction -> accepted
            (15, [-1.0, 1.0], 0),   # batch-internal dup of 13 -> rejected
            (17, [0.0, 1.0], 1),    # same dir as corpus 2 but other cluster -> accepted
        ],
        "vec_id long, embedding array<float>, label int",
    )
    kept = {
        r["vec_id"]
        for r in semdedup_incremental(batch, corpus, threshold=0.95).collect()
    }
    assert kept == {13, 17}


def test_probe_parallelism_without_cluster_cap_raises_at_entry(spark):
    """``probe_parallelism`` broadcasts the pair join's build side, so an
    uncapped call would broadcast the whole corpus: every entry point
    refuses the combination before building a plan."""
    import pytest

    from engine.extended.semdedup import semdedup_incremental

    df = _vecs(spark)
    calls = [
        lambda cap: pairwise_sims(df, probe_parallelism=4, cluster_cap=cap),
        lambda cap: semdedup(df, threshold=0.9, probe_parallelism=4, cluster_cap=cap),
        lambda cap: semdedup_incremental(
            df, df, threshold=0.9, probe_parallelism=4, cluster_cap=cap
        ),
    ]
    for call in calls:
        for cap in (None, 0):
            with pytest.raises(ValueError, match="needs a cluster_cap"):
                call(cap)
    assert pairwise_sims(df, probe_parallelism=4, cluster_cap=500).count() == 10


def test_cluster_cap_truncation_warns_once(spark):
    """The r5 default flip (cluster_cap None -> 500) silently changes
    unconfigured callers' results; the first capped call per process that
    ACTUALLY truncates must warn (advice-review item), and later calls stay
    probe-free."""
    import warnings

    import engine.extended.semdedup as sd

    rows = [(i, [1.0, 0.0], 0) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    sd._CAP_PROBED = False
    try:
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            pairwise_sims(df, cluster_cap=10).collect()
        assert any("truncating" in str(x.message) for x in w)
        # probe ran once; a second capped call emits nothing
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            pairwise_sims(df, cluster_cap=10).collect()
        assert not any("truncating" in str(x.message) for x in w2)
    finally:
        sd._CAP_PROBED = True  # later tests must not pay the probe


def test_pairwise_sims_cluster_cap_bounds_mega_cluster(spark):
    """VERDICT r3 #3: one skewed cluster must not turn the pair join into a
    single O(size^2) bucket.  With cluster_cap=c, only the c lowest-id rows
    of each cluster pair (<= c*(c-1)/2 pairs per cluster); overflow rows
    emit no pairs and survive the dedup anti-join."""
    n_mega = 200
    rows = [(i, [1.0, 0.0], 0) for i in range(n_mega)]  # mega cluster, all dups
    rows += [(1000, [1.0, 0.0], 1), (1001, [1.0, 0.0], 1)]  # small cluster
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )

    capped = pairwise_sims(df, cluster_cap=10).collect()
    mega = [r for r in capped if r["a_id"] < 1000]
    assert len(mega) == 10 * 9 // 2  # cap^2 pairs, not 200*199/2
    assert {r["a_id"] for r in mega} | {r["b_id"] for r in mega} == set(range(10))
    # the small, uncapped cluster still pairs fully
    assert any(r["a_id"] == 1000 and r["b_id"] == 1001 for r in capped)

    # capped dedup: within-cap dups drop, overflow rows are all KEPT
    kept = {
        r["vec_id"]
        for r in semdedup(df, threshold=0.99, cluster_cap=10).collect()
    }
    assert 0 in kept and 1 not in kept and 9 not in kept
    assert set(range(10, n_mega)) <= kept  # overflow never compared
    assert 1000 in kept and 1001 not in kept

    # default cap (500) > cluster size here, so the unconfigured call still
    # deduplicates fully: every dup beyond the min id drops
    kept_exact = {r["vec_id"] for r in semdedup(df, threshold=0.99).collect()}
    assert kept_exact == {0, 1000}
    # explicit opt-out restores the uncapped oracle-exact path
    kept_uncapped = {
        r["vec_id"]
        for r in semdedup(df, threshold=0.99, cluster_cap=None).collect()
    }
    assert kept_uncapped == {0, 1000}


def test_semdedup_unconfigured_default_bounds_mega_cluster(spark):
    """VERDICT r4 #5: the UNCONFIGURED path must be bounded.  cluster_cap
    now defaults to 500 (mirroring dedup.bucket_cap), so a forgetful caller
    at corpus scale gets O(500^2) per cluster, never O(size^2): on a
    600-row duplicate mega-cluster only the 500 lowest ids pair (min id
    survives, 1-499 drop) and the 100 overflow rows are kept un-compared."""
    n = 600
    df = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    kept = {r["vec_id"] for r in semdedup(df, threshold=0.99).collect()}
    assert kept == {0} | set(range(500, n))


def test_semdedup_incremental_caps_corpus_side(spark):
    """cluster_cap must bound the batch-vs-corpus probe too: a hot corpus
    cluster only exposes its cap lowest-id rows, so batch rows matching
    ONLY overflow corpus rows are (documentedly) accepted as novel."""
    from engine.extended.semdedup import semdedup_incremental

    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0] if i >= 5 else [0.0, 1.0], 0) for i in range(100)],
        "vec_id long, embedding array<float>, label int",
    )
    # corpus ids 0-4 point north; 5-99 point east.  cap=5 keeps only 0-4.
    batch = spark.createDataFrame(
        [(1000, [1.0, 0.0], 0), (1001, [0.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    kept = {
        r["vec_id"]
        for r in semdedup_incremental(
            batch, corpus, threshold=0.99, cluster_cap=5
        ).collect()
    }
    # 1001 matches capped corpus rows (0-4) -> rejected; 1000 matches only
    # overflow rows -> accepted under the cap
    assert kept == {1000}
    kept_exact = {
        r["vec_id"]
        for r in semdedup_incremental(batch, corpus, threshold=0.99).collect()
    }
    assert kept_exact == set()


# ---------------------------------------------------------------------------
# weighted_sample (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

from engine.extended.sampling import weighted_sample


def _wdf(spark, rows):
    return spark.createDataFrame(rows, "source string, doc_id long, w double")


def test_weighted_sample_caps_and_is_partition_invariant(spark):
    rows = [("a", i, 1.0) for i in range(30)] + [("b", 100 + i, 1.0) for i in range(3)]
    df = _wdf(spark, rows)
    out = weighted_sample(df, "source", k=5, weight_col="w").collect()
    by = {}
    for r in out:
        by.setdefault(r["source"], set()).add(r["doc_id"])
    assert len(by["a"]) == 5 and len(by["b"]) == 3
    again = weighted_sample(
        df.repartition(7), "source", k=5, weight_col="w"
    ).collect()
    assert {(r["source"], r["doc_id"]) for r in again} == {
        (r["source"], r["doc_id"]) for r in out
    }


def test_weighted_sample_dominant_weight_always_selected(spark):
    """key = ln(u)/w -> a w=1e12 row's key is ~0 (the max possible), so it
    beats every unit-weight row regardless of its uniform draw."""
    rows = [("a", i, 1.0) for i in range(50)] + [("a", 999, 1e12)]
    out = weighted_sample(_wdf(spark, rows), "source", k=1, weight_col="w").collect()
    assert [r["doc_id"] for r in out] == [999]


def test_weighted_sample_excludes_nonpositive_and_null(spark):
    rows = [("a", 1, 1.0), ("a", 2, 0.0), ("a", 3, -4.0), ("a", 4, None), ("a", None, 1.0)]
    out = weighted_sample(_wdf(spark, rows), "source", k=10, weight_col="w").collect()
    assert [r["doc_id"] for r in out] == [1]


# ---------------------------------------------------------------------------
# negative_sample
# ---------------------------------------------------------------------------

import pytest as _npt

from engine.extended.sampling import negative_sample


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, label int")


def test_negative_sample_never_returns_self_or_same_label(spark):
    corpus = _emb(spark, [(i, i % 3) for i in range(60)])
    anchors = _emb(spark, [(0, 0), (1, 1)])
    out = negative_sample(anchors, corpus, k=5, n_probes=30).collect()
    by = {}
    for r in out:
        by.setdefault(r["vec_id"], []).append(r)
        assert r["neg_id"] != r["vec_id"]
    for a, rows in by.items():
        alabel = a % 3
        assert all(r["neg_label"] != alabel for r in rows)
        assert len(rows) == 5
        assert [r["neg_rank"] for r in sorted(rows, key=lambda x: x["neg_rank"])] == [1, 2, 3, 4, 5]
        assert len({r["neg_id"] for r in rows}) == 5  # no duplicate negatives


def test_negative_sample_is_deterministic_across_partitionings(spark):
    corpus = _emb(spark, [(i, i % 4) for i in range(40)])
    anchors = _emb(spark, [(2, 2), (7, 3)])
    a = {(r["vec_id"], r["neg_rank"], r["neg_id"])
         for r in negative_sample(anchors, corpus, k=3).collect()}
    b = {(r["vec_id"], r["neg_rank"], r["neg_id"])
         for r in negative_sample(anchors.repartition(5), corpus.repartition(9), k=3).collect()}
    assert a == b and len(a) == 6


def test_negative_sample_null_labels_are_valid_negatives(spark):
    corpus = _emb(spark, [(1, 0), (2, None), (3, None), (4, None), (5, None)])
    anchors = _emb(spark, [(1, 0)])
    out = negative_sample(anchors, corpus, k=4, n_probes=12).collect()
    assert {r["neg_id"] for r in out} <= {2, 3, 4, 5}
    assert len(out) >= 1


def test_negative_sample_validation(spark):
    df = _emb(spark, [(1, 0)])
    with _npt.raises(ValueError, match="k must"):
        negative_sample(df, df, k=0)
    with _npt.raises(ValueError, match="n_probes"):
        negative_sample(df, df, k=5, n_probes=2)


def test_cluster_cap_probe_survives_untruncated_first_call(spark):
    """ADVICE r6 (low): the one-shot probe guard must be consumed only
    when a truncation is OBSERVED — a first capped call with no oversized
    clusters must not silence the warning for a later call that IS
    truncating."""
    import warnings

    import engine.extended.semdedup as sd

    small = spark.createDataFrame(
        [(i, [1.0, 0.0], i) for i in range(4)],  # 4 singleton clusters
        "vec_id long, embedding array<float>, label int",
    )
    big = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(30)],  # one 30-row cluster
        "vec_id long, embedding array<float>, label int",
    )
    sd._CAP_PROBED = False
    try:
        with warnings.catch_warnings(record=True) as w1:
            warnings.simplefilter("always")
            pairwise_sims(small, cluster_cap=10).collect()
        assert not any("truncating" in str(x.message) for x in w1)
        with warnings.catch_warnings(record=True) as w2:
            warnings.simplefilter("always")
            pairwise_sims(big, cluster_cap=10).collect()
        assert any("truncating" in str(x.message) for x in w2)
    finally:
        sd._CAP_PROBED = True  # later tests must not pay the probe
