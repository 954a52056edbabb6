"""Round-12 optimization gates: ledger staleness guard, minhash caller-owned
and unpersisted sigs contract, bounded BPE replay, semdedup forced
broadcast."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_r12_ledger_rewrite_without_clear_is_detected(spark, tmp_path):
    """verdict r11 #6: a caller that rewrites its source files mid-session
    and re-runs the same logical plan must NOT be served the pre-rewrite
    materialization — the input-files snapshot guard (or plan mismatch)
    must rebuild from the new data even without ledger_clear()."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_persist

    _INTERNAL_SIGS_LAST.clear()
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.mode("overwrite").parquet(p)
    c1 = ledger_persist(spark.read.parquet(p).filter(F.col("id") > 0))
    assert c1.count() == 2
    # rewrite the source (Spark writers emit fresh UUID part-file names)
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.mode("overwrite").parquet(p)
    c2 = ledger_persist(spark.read.parquet(p).filter(F.col("id") > 0))
    assert c2.count() == 3  # rebuilt from the new files, not served stale
    _INTERNAL_SIGS_LAST.clear()
    for c in (c1, c2):
        c.unpersist()


def test_r12_ledger_hit_still_shared_after_guard(spark):
    """The inputFiles guard must not break the hit path: two identical
    in-session plans over the SAME files still share one cached frame."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_persist
    from engine.extended.dedup import minhash_sigs

    _INTERNAL_SIGS_LAST.clear()
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(1, 5)],
        "doc_id long, text string",
    )
    s1 = ledger_persist(minhash_sigs(docs))
    s2 = ledger_persist(minhash_sigs(docs))
    assert s2 is s1
    assert s1.storageLevel.useMemory
    _INTERNAL_SIGS_LAST.clear()
    s1.unpersist()


def test_r12_minhash_caller_owned_sigs_not_adopted(spark):
    """advice r11: a caller-supplied sigs frame must stay under the
    caller's persistence control — minhash_candidates must not register it
    in the shared ledger (where eviction/ledger_clear could unpersist it
    behind the caller's back), and results must match the internal build."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_clear
    from engine.extended.dedup import minhash_candidates, minhash_sigs

    ledger_clear()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text about spark optimization work"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_sigs(docs).persist()
    got = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_candidates(docs, sigs=sigs).collect()
    )
    # caller's frame was not adopted: ledger holds nothing pointing at it
    assert all(v is not sigs for v in _INTERNAL_SIGS_LAST.values())
    ledger_clear()
    assert sigs.storageLevel.useMemory  # survived ledger_clear — caller-owned
    want = sorted(
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_candidates(docs).collect()
    )
    assert got == want
    sigs.unpersist()
    ledger_clear()


def test_r12_minhash_unpersisted_sigs_evaluate_once(spark):
    """minhash_candidates references ``sigs`` three times (the banded build
    and both signature joins): an UNPERSISTED caller-supplied frame goes
    through the ledger, so its subtree evaluates once per row, not once
    per reference.  The frame counts its own evaluations in a Python UDF."""
    from engine.cache import ledger_clear
    from engine.extended.dedup import minhash_candidates, minhash_sigs

    ledger_clear()
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different text about spark optimization work"),
        ],
        "doc_id long, text string",
    )
    evaluated = spark.sparkContext.accumulator(0)

    def tick(x):
        evaluated.add(1)
        return x

    sigs = minhash_sigs(docs)
    counted = sigs.select(F.udf(tick, "long")("id").alias("id"), "sig")
    got = minhash_candidates(docs, sigs=counted).select("id_a", "id_b").collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]
    assert evaluated.value == 3  # one evaluation per signature row
    ledger_clear()


def test_ledger_clear_releases_simhash_embedding_and_incremental_frames(spark):
    """simhash_candidates, embedding_near_dup and minhash_incremental pin
    their banded/signature frames through the ledger, so ledger_clear()
    leaves no persisted RDD of theirs behind (each used to pin one more
    frame per call with a new plan, for the rest of the session)."""
    from engine.cache import ledger_clear
    from engine.extended.dedup import (
        embedding_near_dup,
        minhash_band_index,
        minhash_incremental,
        simhash_candidates,
    )

    def persistent_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark.catalog.clearCache()
    ledger_clear()
    before = persistent_rdds()
    text = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words here")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, float(i), 2.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [(10, text + " again"), (11, "novel content about incremental indexes")],
        "doc_id long, text string",
    )
    assert simhash_candidates(docs, max_hamming=10).count() >= 1
    assert embedding_near_dup(vecs, dim=4, planes=8, threshold=0.9).count() >= 1
    kept, updated = minhash_incremental(batch, minhash_band_index(docs), threshold=0.5)
    assert kept.count() >= 1 and updated.count() > 0
    assert persistent_rdds() - before, "the three calls persisted nothing"
    ledger_clear()
    assert persistent_rdds() - before == set()


def test_r12_bpe_replay_checkpoint_bounds_chain(spark, monkeypatch):
    """advice r11: with the checkpoint interval forced to 2, a 5-rule train
    must produce the same rules as the unbounded replay (the benched
    rounds=6 path never checkpoints; this pins the >=interval path)."""
    import engine.extended.bpe as bpe

    corpus = spark.createDataFrame(
        [(1, "banana bandana banana banana cabana"),
         (2, "banana bandana cabana banana")],
        "doc_id long, text string",
    )
    rules_a, words_a = bpe.bpe_train(corpus, rounds=5)
    base_a = sorted((r["cnt"], r["seq"]) for r in words_a.collect())
    words_a.unpersist()

    monkeypatch.setattr(bpe, "_REPLAY_CKPT_EVERY", 2)
    rules_b, words_b = bpe.bpe_train(corpus, rounds=5)
    base_b = sorted((r["cnt"], r["seq"]) for r in words_b.collect())
    words_b.unpersist()
    assert [r["merged"] for r in rules_b] == [r["merged"] for r in rules_a]
    assert base_b == base_a


def test_r12_semdedup_probe_spread_forces_broadcast(spark):
    """advice r11: with probe_parallelism set, the build side must be
    broadcast — otherwise the planner can re-exchange the probe side by the
    cluster key and silently negate the spread."""
    from engine.extended.semdedup import pairwise_sims

    df = spark.createDataFrame(
        [(i, i % 2, [float(i), 1.0]) for i in range(1, 9)],
        "vec_id long, label int, embedding array<double>",
    )
    out = pairwise_sims(
        df, cluster_col="label", id_col="vec_id", vec_col="embedding",
        probe_parallelism=4, cluster_cap=500,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert out.count() == 2 * (4 * 3 // 2)  # 2 clusters x C(4,2) pairs


def _plan_children(node):
    """Children of a JVM physical-plan node, seeing through the AQE wrapper
    and query stages to the plans they hold."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _joins_above_scans(node, table, joins=0):
    """For every leaf scan of ``table`` under ``node``: the number of join
    operators on its path up to ``node``."""
    kids = _plan_children(node)
    if not kids:
        return [joins] if f"{table}.parquet" in node.toString() else []
    name = node.getClass().getSimpleName()
    joins += "Join" in name or name == "CartesianProductExec"
    return [n for k in kids for n in _joins_above_scans(k, table, joins)]


def test_r12_q5_single_probe_on_lineitem(spark):
    """r12 opt gate: q5's fact table must feed exactly ONE join — the
    collapsed (s_suppkey -> n_name) broadcast dim; the two dim joins live
    inside the broadcast subtree, not on the lineitem path."""
    from queries import SPARK_QUERIES

    df = SPARK_QUERIES["q5_nation_revenue"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan()
    assert _joins_above_scans(plan, "lineitem") == [1], plan.toString()[:2000]


def test_r12_edge_build_no_collect_list(spark):
    """r12 opt gate: the strongest-ties edge build must stay the self-join
    shape (the x100 winner) — no per-order collect_list array aggregate."""
    from queries.curation import _strongest_ties_edges

    e = _strongest_ties_edges(spark, "/root/testdata/sf0.001")
    plan = e._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    assert "lineitem" in plan


def test_r12_winsorized_uses_percentile_buffer(spark):
    """r12 revert gate: winsorized_stats' bounds must come from the
    domain-bounded percentile aggregate, not histogram narrowing (which
    measured 7x slower at x100 on the quantized value domain)."""
    from queries import SPARK_QUERIES

    df = SPARK_QUERIES["winsorized_stats"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" in plan
