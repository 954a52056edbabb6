"""Structured Streaming layer: windowed aggs, stateful dedup, availableNow
incremental runs with foreachBatch (SURVEY §2.9)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from engine.schemas import EVENTS
from engine.streaming.incremental import parquet_stream, run_available_now
from engine.streaming.windows import session_agg, sliding_agg, stream_dedup, tumbling_agg


def _events_df(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), i % 3, "click", float(i), None)
        for i in range(20)
    ]
    return spark.createDataFrame(rows, EVENTS)


def _write_events(spark, path):
    _events_df(spark).write.mode("overwrite").parquet(path)


def test_tumbling_batch_and_stream_agree(spark, tmp_path):
    path = str(tmp_path / "ev")
    _write_events(spark, path)
    batch_out = tumbling_agg(
        spark.read.parquet(path), "ts", "1 hour", [], [F.count(F.lit(1)).alias("n")]
    )
    batch = {r["window_start"]: r["n"] for r in batch_out.collect()}

    stream = parquet_stream(spark, path, EVENTS)
    agg = tumbling_agg(stream, "ts", "1 hour", [], [F.count(F.lit(1)).alias("n")], watermark=None)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumble_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_res = {
        r["window_start"]: r["n"] for r in spark.sql("select * from tumble_out").collect()
    }
    assert stream_res == batch


def test_sliding_and_session_batch(spark, tmp_path):
    df = _events_df(spark)
    slid = sliding_agg(df, "ts", "1 hour", "30 minutes", [], [F.count(F.lit(1)).alias("n")])
    total_events = df.count()
    assert sum(r["n"] for r in slid.collect()) == 2 * total_events  # 2 windows each
    sess = session_agg(df, "ts", "10 minutes", ["user_id"], [F.count(F.lit(1)).alias("n")])
    # 7-minute cadence per user = 21-minute gaps > 10m ⇒ every event its own session
    assert sess.count() == total_events


def test_stream_dedup_within_watermark(spark, tmp_path):
    path = str(tmp_path / "dup")
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "click", 1.0, None),
        (1, base + dt.timedelta(minutes=1), 1, "click", 1.0, None),  # dup event_id
        (2, base + dt.timedelta(minutes=2), 1, "view", 2.0, None),
    ]
    spark.createDataFrame(rows, EVENTS).write.mode("overwrite").parquet(path)
    stream = parquet_stream(spark, path, EVENTS)
    deduped = stream_dedup(stream, ["event_id"], "ts", watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("select event_id from dedup_out").collect()
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_run_available_now_foreachbatch(spark, tmp_path):
    """The reference's poll loop as a real streaming query: transform runs per
    micro-batch, sink sees every row exactly once, checkpoint resumes."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _write_events(spark, src)

    seen: list[tuple[int, int]] = []

    def sink(df, batch_id):
        seen.append((batch_id, df.count()))

    stream = parquet_stream(spark, src, EVENTS)
    run_available_now(
        stream,
        lambda df: df.filter(F.col("user_id") == 0),
        sink,
        ckpt,
        dedup_keys=["event_id"],
    )
    assert sum(n for _, n in seen) == 7  # user 0 has ceil(20/3)=7 events

    # second run with the same checkpoint: nothing new to process
    seen.clear()
    stream2 = parquet_stream(spark, src, EVENTS)
    run_available_now(
        stream2,
        lambda df: df.filter(F.col("user_id") == 0),
        sink,
        ckpt,
        dedup_keys=["event_id"],
    )
    assert sum(n for _, n in seen) == 0


class _StandInStream:
    """Takes the place of a streaming DataFrame: ``writeStream`` chains
    back to itself, ``foreachBatch`` keeps the per-batch function, and
    ``start`` returns a query that has already terminated."""

    def __init__(self):
        self.writeStream = self
        self.process = None
        self.trigger_kwargs = None

    def foreachBatch(self, fn):
        self.process = fn
        return self

    def option(self, key, value):
        return self

    def queryName(self, name):
        return self

    def trigger(self, **kwargs):
        self.trigger_kwargs = kwargs
        return self

    def start(self):
        return self

    def awaitTermination(self):
        return None


def test_run_available_now_folds_a_redelivered_batch_once():
    """foreachBatch is at-least-once: a batch id delivered again in the
    same process reaches the sink once, and a batch whose sink raised is
    folded again on re-delivery."""
    stream = _StandInStream()
    calls: list[tuple[str, int]] = []
    fail_once = {2}

    def sink(df, batch_id):
        if batch_id in fail_once:
            fail_once.discard(batch_id)
            raise RuntimeError("transient sink failure")
        calls.append((df, batch_id))

    query = run_available_now(stream, lambda df: df + "'", sink, "unused-checkpoint")
    assert query is stream
    assert stream.trigger_kwargs == {"availableNow": True}
    stream.process("b0", 0)
    stream.process("b0", 0)
    stream.process("b1", 1)
    try:
        stream.process("b2", 2)
    except RuntimeError:
        pass
    stream.process("b2", 2)
    stream.process("b2", 2)
    assert calls == [("b0'", 0), ("b1'", 1), ("b2'", 2)]


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Stream-stream inner join (clicks ⋈ views per user within 30 min) —
    both sides watermarked so join state is bounded; result must equal the
    static join of the same data."""
    path = str(tmp_path / "ssj")
    _write_events(spark, path)

    def split(df):
        clicks = df.filter(F.col("event_id") % 2 == 0).select(
            F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
            F.col("event_id").alias("click_id"),
        )
        views = df.filter(F.col("event_id") % 2 == 1).select(
            F.col("user_id").alias("vu"), F.col("ts").alias("vts"),
            F.col("event_id").alias("view_id"),
        )
        return clicks, views

    cond = lambda c, v: (  # noqa: E731
        (c.cu == v.vu)
        & (v.vts >= c.cts)
        & (v.vts <= c.cts + F.expr("INTERVAL 30 MINUTES"))
    )

    static = spark.read.parquet(path)
    sc_, sv = split(static)
    expected = sorted(
        (r["click_id"], r["view_id"])
        for r in sc_.join(sv, cond(sc_, sv)).collect()
    )

    stream = parquet_stream(spark, path, EVENTS)
    stc, stv = split(stream)
    stc = stc.withWatermark("cts", "1 hour")
    stv = stv.withWatermark("vts", "1 hour")
    joined = stc.join(stv, cond(stc, stv)).select("click_id", "view_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ssj_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["click_id"], r["view_id"])
        for r in spark.sql("select * from ssj_out").collect()
    )
    assert got == expected and len(got) > 0


def test_available_now_picks_up_new_files(spark, tmp_path):
    """Second availableNow run processes ONLY files that arrived after the
    first run — the poller's 'new rows since last watermark' case, with the
    checkpoint playing the role of the S3 state."""
    src = str(tmp_path / "inc")
    ckpt = str(tmp_path / "inc_ck")
    base = dt.datetime(2024, 1, 1)
    b1 = [(i, base + dt.timedelta(minutes=i), 1, "click", 1.0, None) for i in range(5)]
    spark.createDataFrame(b1, EVENTS).coalesce(1).write.mode("append").parquet(src)

    counts = []
    run_available_now(
        parquet_stream(spark, src, EVENTS),
        lambda df: df,
        lambda df, bid: counts.append(df.count()),
        ckpt,
    )
    assert sum(counts) == 5

    b2 = [(i, base + dt.timedelta(minutes=i), 2, "view", 2.0, None) for i in range(5, 8)]
    spark.createDataFrame(b2, EVENTS).coalesce(1).write.mode("append").parquet(src)
    counts.clear()
    run_available_now(
        parquet_stream(spark, src, EVENTS),
        lambda df: df,
        lambda df, bid: counts.append(df.count()),
        ckpt,
    )
    assert sum(counts) == 3  # only the new file's rows


def test_streaming_session_window(spark, tmp_path):
    """session_window in a real streaming query.  Append mode emits only
    sessions the watermark has closed, so a far-future flush batch pushes the
    watermark past every original session; the emitted set must then equal
    the batch sessionization of the original data."""
    path = str(tmp_path / "sess")
    ckpt = str(tmp_path / "sess_ck")
    _write_events(spark, path)
    batch = session_agg(
        spark.read.parquet(path), "ts", "10 minutes", ["user_id"],
        [F.count(F.lit(1)).alias("n")],
    )
    expected = {(r["user_id"], r["window_start"]): r["n"] for r in batch.collect()}

    emitted = []

    def drain():
        stream = parquet_stream(spark, path, EVENTS)
        agg = session_agg(
            stream, "ts", "10 minutes", ["user_id"],
            [F.count(F.lit(1)).alias("n")], watermark="1 minute",
        )
        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(lambda df, bid: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # flush: one far-future event per user advances the watermark
    flush_ts = dt.datetime(2024, 2, 1)
    flush = [(1000 + u, flush_ts, u, "flush", 0.0, None) for u in range(3)]
    spark.createDataFrame(flush, EVENTS).coalesce(1).write.mode("append").parquet(path)
    drain()

    got = {
        (r["user_id"], r["window_start"]): r["n"]
        for r in emitted
        if r["window_start"] < flush_ts  # exclude the flush sessions
    }
    assert got == expected


def test_streaming_zscore_matches_batch_twin_across_batches(spark, tmp_path):
    """Welford state carries the full trailing history across TWO
    availableNow runs; per-event scores match rolling_zscore(None) run
    over the combined batch data (float tolerance: Welford vs Spark's
    moment aggregate)."""
    from engine.extended.timeseries import rolling_zscore
    from engine.streaming.stateful import streaming_zscore

    src_dir = str(tmp_path / "zs")
    ckpt = str(tmp_path / "zs_ck")
    base = dt.datetime(2024, 1, 1)
    vals1 = [10.0, 11.0, 9.0, 10.5, 9.5, 30.0]
    vals2 = [10.2, 50.0, 9.8]
    b1 = [(i, base + dt.timedelta(minutes=i), i % 2, "m", v, None)
          for i, v in enumerate(vals1)]
    b2 = [(100 + i, base + dt.timedelta(minutes=30 + i), i % 2, "m", v, None)
          for i, v in enumerate(vals2)]

    collected = []

    def sink(df, bid):
        collected.extend(
            (r["key"], r["ts"], r["z"]) for r in df.collect()
        )

    spark.createDataFrame(b1, EVENTS).coalesce(1).write.mode("append").parquet(src_dir)
    def run():
        stream = streaming_zscore(
            parquet_stream(spark, src_dir, EVENTS), "user_id", min_points=2
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    spark.createDataFrame(b2, EVENTS).coalesce(1).write.mode("append").parquet(src_dir)
    run()

    stream_z = {(k, ts): z for k, ts, z in collected}
    batch = spark.createDataFrame(b1 + b2, EVENTS)
    batch_out = rolling_zscore(
        batch, window_rows=None, min_points=2, order_cols=["value"]
    ).collect()
    assert len(stream_z) == len(vals1) + len(vals2)
    n_scored = 0
    for r in batch_out:
        key = (str(r["user_id"]), r["ts"])
        bz, sz = r["z"], stream_z[key]
        if bz is None or sz is None:
            assert bz == sz, (key, bz, sz)
        else:
            assert abs(bz - sz) <= 1e-3, (key, bz, sz)
            n_scored += 1
    assert n_scored >= 4  # the parity check actually compared real scores


def test_streaming_cms_matches_batch_sketch_across_batches(spark, tmp_path):
    """CMS linearity through real streaming machinery: two availableNow
    drains over files arriving in two waves produce EXACTLY the batch
    sketch of the combined data — the same batch/stream parity contract as
    streaming_zscore, with no per-key state (cells bounded by depth x
    width)."""
    from engine.extended.sketch import cms_build
    from engine.streaming.sketches import streaming_cms

    src = str(tmp_path / "cms_src")
    ckpt = str(tmp_path / "cms_ck")
    schema = "k string"
    wave1 = spark.createDataFrame([(f"k{i % 5}",) for i in range(40)], schema)
    wave2 = spark.createDataFrame([(f"k{i % 9}",) for i in range(33)], schema)
    wave1.coalesce(1).write.mode("append").parquet(src)

    cells: dict = {}
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_cms(stream, "k", ckpt, depth=3, width=64, cells=cells)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_cms(stream, "k", ckpt, depth=3, width=64, cells=cells)

    want = {
        (r["row"], r["col"]): r["cnt"]
        for r in cms_build(
            wave1.unionAll(wave2), "k", depth=3, width=64
        ).collect()
    }
    assert cells == want


def test_streaming_hll_matches_batch_sketch_across_batches(spark, tmp_path):
    """HLL batch/stream parity: per-micro-batch sketches unioned across two
    availableNow drains estimate EXACTLY what the single batch sketch of
    the combined data estimates (register-max merge is associative)."""
    from pyspark.sql import functions as SF

    from engine.streaming.sketches import streaming_hll, streaming_hll_estimate

    src = str(tmp_path / "hll_src")
    ckpt = str(tmp_path / "hll_ck")
    wave1 = spark.createDataFrame([(f"u{i % 120}",) for i in range(400)], "k string")
    wave2 = spark.createDataFrame([(f"u{i % 250}",) for i in range(300)], "k string")
    wave1.coalesce(1).write.mode("append").parquet(src)

    sketches: list = []
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_hll(stream, "k", ckpt, lg_k=12, sketches=sketches)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_hll(stream, "k", ckpt, lg_k=12, sketches=sketches)

    # No per-batch fold job launched (VERDICT r5 #5): below fold_threshold
    # the accumulator holds one UNFOLDED binary per non-empty batch — a
    # merge in the list would mean the foreachBatch hook ran an extra
    # Spark job per micro-batch, the latency tax this contract forbids.
    assert len(sketches) == 2

    got = streaming_hll_estimate(spark, sketches)
    want = (
        wave1.unionAll(wave2)
        .agg(SF.hll_sketch_estimate(SF.hll_sketch_agg("k", SF.lit(12))).alias("e"))
        .collect()[0]["e"]
    )
    assert got == want
    assert abs(got - 250) <= 0.05 * 250  # and it is a sane distinct estimate


def test_streaming_hll_folds_past_threshold(spark, tmp_path):
    """Past fold_threshold the accumulator collapses to ONE binary (bounded
    state), and the folded estimate still matches the batch sketch within
    the module's 1% merged-estimator contract."""
    from pyspark.sql import functions as SF

    from engine.streaming.sketches import streaming_hll, streaming_hll_estimate

    src = str(tmp_path / "hll_fold_src")
    ckpt = str(tmp_path / "hll_fold_ck")
    wave1 = spark.createDataFrame([(f"u{i % 120}",) for i in range(400)], "k string")
    wave2 = spark.createDataFrame([(f"u{i % 250}",) for i in range(300)], "k string")
    wave1.coalesce(1).write.mode("append").parquet(src)

    sketches: list = []
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_hll(stream, "k", ckpt, lg_k=12, sketches=sketches, fold_threshold=1)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_hll(stream, "k", ckpt, lg_k=12, sketches=sketches, fold_threshold=1)

    assert len(sketches) == 1  # eager fold collapsed the list
    got = streaming_hll_estimate(spark, sketches)
    want = (
        wave1.unionAll(wave2)
        .agg(SF.hll_sketch_estimate(SF.hll_sketch_agg("k", SF.lit(12))).alias("e"))
        .collect()[0]["e"]
    )
    assert abs(got - want) <= 0.01 * want


def test_streaming_topk_matches_exact_heavy_hitters(spark, tmp_path):
    """Heavy-hitter maintenance across two availableNow drains: with a
    wide sketch (no collisions at this scale) the maintained top-k equals
    the exact counter top-k of the combined data; estimates keep CMS's
    one-sided guarantee, and state stays geometry-bounded."""
    from engine.streaming.sketches import streaming_topk, streaming_topk_estimate

    src = str(tmp_path / "topk_src")
    ckpt = str(tmp_path / "topk_ck")
    # hot keys h0..h4 dominate both waves; tail keys churn
    w1 = [(f"h{i % 5}",) for i in range(200)] + [(f"t{i}",) for i in range(60)]
    w2 = [(f"h{i % 5}",) for i in range(150)] + [(f"u{i}",) for i in range(40)]
    wave1 = spark.createDataFrame(w1, "k string")
    wave2 = spark.createDataFrame(w2, "k string")
    wave1.coalesce(1).write.mode("append").parquet(src)

    state: dict = {}
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_topk(stream, "k", ckpt, k=5, width=4096, state=state)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").format("parquet").load(src)
    streaming_topk(stream, "k", ckpt, k=5, width=4096, state=state)

    got = streaming_topk_estimate(state, k=5, width=4096)
    exact: dict = {}
    for (key,) in w1 + w2:
        exact[key] = exact.get(key, 0) + 1
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [k for k, _ in got] == [k for k, _ in want]
    for key, est in got:
        assert est >= exact[key]  # one-sided, never under
    assert got == want  # width 4096, ~300 keys: no collisions, estimates exact
    # state bounds: cells <= depth*width, candidates <= 8*factor*k
    assert len(state["cells"]) <= 3 * 4096
    assert len(state["candidates"]) <= 8 * 4 * 5


def test_streaming_agg_maintenance_matches_full_recompute(spark, tmp_path):
    """The maintained snapshot after two availableNow drains equals the
    one-shot partials of the combined data (count/sum/min/max identities
    through real streaming machinery), and the pointer swap keeps exactly
    current+previous versions on disk."""
    import os

    from engine.ops.matview import agg_partials
    from engine.streaming.matview import (
        read_agg_snapshot,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "mv_src")
    ckpt = str(tmp_path / "mv_ck")
    snap = str(tmp_path / "mv_snap")
    spec = dict(sums={"s": "v"}, mins={"lo": "v"}, maxs={"hi": "v"})
    wave1 = spark.createDataFrame(
        [(f"k{i % 5}", i) for i in range(40)], "k string, v int"
    )
    wave2 = spark.createDataFrame(
        [(f"k{i % 9}", -i) for i in range(33)], "k string, v int"
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)

    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in read_agg_snapshot(spark, snap).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"])
        for r in agg_partials(
            wave1.unionAll(wave2), ["k"], **spec
        ).collect()
    }
    assert got == want
    versions = [d for d in os.listdir(snap) if d.startswith("v")]
    assert len(versions) <= 2  # current + previous, older pruned


def test_streaming_agg_maintenance_discards_partial_version_dir(spark, tmp_path):
    """ADVICE r6 (medium): a crash mid-parquet-write leaves a version dir
    WITHOUT _SUCCESS.  Replay must not swap the pointer onto that corpse —
    it discards the partial dir and recomputes the merge from the
    still-valid _CURRENT snapshot, so the final state equals the full
    recompute."""
    import os

    from engine.ops.matview import agg_partials
    from engine.streaming.matview import (
        read_agg_snapshot,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "pv_src")
    ckpt = str(tmp_path / "pv_ck")
    snap = str(tmp_path / "pv_snap")
    spec = dict(sums={"s": "v"})
    wave1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    wave2 = spark.createDataFrame([("a", 10), ("c", 3)], "k string, v int")
    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)
    # simulate the crash: batch 1's vdir exists, half-written (no _SUCCESS)
    partial = os.path.join(snap, "v000000000001")
    os.makedirs(partial)
    with open(os.path.join(partial, "part-00000.parquet"), "wb") as fh:
        fh.write(b"\x00truncated-mid-write")
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)

    got = {
        r["k"]: (r["n"], r["s"])
        for r in read_agg_snapshot(spark, snap).collect()
    }
    want = {
        r["k"]: (r["n"], r["s"])
        for r in agg_partials(wave1.unionAll(wave2), ["k"], **spec).collect()
    }
    assert got == want
    # the recomputed v1 is complete (marker present)
    assert os.path.exists(os.path.join(partial, "_SUCCESS"))


def test_streaming_agg_maintenance_replay_repairs_pointer_without_recompute(
    spark, tmp_path
):
    """Crash BETWEEN a complete write and the pointer swap: replay must
    only repair the pointer (no recompute).  Pinned by planting a complete
    vdir with sentinel data — if replay recomputed, the sentinel would be
    overwritten with the true merge."""
    import os

    from engine.streaming.matview import (
        read_agg_snapshot,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "rp_src")
    ckpt = str(tmp_path / "rp_ck")
    snap = str(tmp_path / "rp_snap")
    wave1 = spark.createDataFrame([("a", 1)], "k string, v int")
    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, sums={"s": "v"})
    # plant batch 1: COMPLETE (with _SUCCESS) but pointer still at v0
    sentinel = spark.createDataFrame(
        [("SENTINEL", 99, 99)], "k string, n long, s long"
    )
    vdir = os.path.join(snap, "v000000000001")
    sentinel.coalesce(1).write.parquet(vdir)
    assert os.path.exists(os.path.join(vdir, "_SUCCESS"))
    spark.createDataFrame([("b", 2)], "k string, v int").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(stream, ["k"], ckpt, snap, sums={"s": "v"})
    got = [r["k"] for r in read_agg_snapshot(spark, snap).collect()]
    assert got == ["SENTINEL"]  # pointer repaired, vdir NOT recomputed


def test_streaming_agg_maintenance_concurrent_reader_sees_complete_prev(
    spark, tmp_path, monkeypatch
):
    """VERDICT r6 #7: a reader that lands BETWEEN the new version's write
    and the pointer swap must see exactly the previous complete snapshot —
    never the in-flight version, never a partial dir."""
    import engine.streaming.matview as mv
    from engine.ops.matview import agg_partials

    src = str(tmp_path / "cc_src")
    ckpt = str(tmp_path / "cc_ck")
    snap = str(tmp_path / "cc_snap")
    spec = dict(sums={"s": "v"})
    wave1 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    wave2 = spark.createDataFrame([("a", 10)], "k string, v int")
    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    mv.streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)
    want_prev = {
        r["k"]: (r["n"], r["s"])
        for r in agg_partials(wave1, ["k"], **spec).collect()
    }

    seen_between: list[dict] = []
    real_swap = mv._swap_pointer

    def spying_swap(snapshot_dir, version):
        # the window between write-complete and pointer-swap: what does a
        # concurrent reader observe?
        cur = mv.read_agg_snapshot(spark, snapshot_dir)
        seen_between.append(
            {r["k"]: (r["n"], r["s"]) for r in cur.collect()}
        )
        real_swap(snapshot_dir, version)

    monkeypatch.setattr(mv, "_swap_pointer", spying_swap)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    mv.streaming_agg_maintenance(stream, ["k"], ckpt, snap, **spec)
    assert seen_between == [want_prev]  # the previous COMPLETE version
    got = {
        r["k"]: (r["n"], r["s"])
        for r in mv.read_agg_snapshot(spark, snap).collect()
    }
    want_now = {
        r["k"]: (r["n"], r["s"])
        for r in agg_partials(wave1.unionAll(wave2), ["k"], **spec).collect()
    }
    assert got == want_now


def test_stream_stream_join_matches_batch_attribution_candidates(spark, tmp_path):
    """ST family, round 7: a REAL watermarked stream-stream join (clicks ⋈
    purchases within the hour, per user) drained with availableNow must
    produce exactly the batch candidate join of attribution_last_click —
    the state-pruning window online, the hash+residual join offline."""
    import datetime as dt

    from pyspark.sql import functions as F

    TS = dt.datetime
    rows = []
    for u in range(6):
        for k in range(8):
            rows.append((100 * u + k, TS(2024, 1, 1, 9 + u % 3, 7 * k % 60), u, "click"))
        for k in range(3):
            rows.append((1000 * u + k, TS(2024, 1, 1, 9 + u % 3, 15 + 13 * k), u, "purchase"))
    src = str(tmp_path / "ss_src")
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    ev.coalesce(2).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string"
    ).parquet(src)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("c_id"), F.col("user_id").alias("c_u"),
                F.col("ts").alias("c_ts"))
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(F.col("event_id").alias("p_id"), F.col("user_id").alias("p_u"),
                F.col("ts").alias("p_ts"))
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_u = c_u AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    )
    got_rows = []

    def sink(batch_df, batch_id):
        got_rows.extend(
            (r["p_id"], r["c_id"]) for r in batch_df.collect()
        )

    q = (
        joined.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    b = spark.read.parquet(src)
    bc = b.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_u"),
        F.col("ts").alias("c_ts"))
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_u"),
        F.col("ts").alias("p_ts"))
    want = {
        (r["p_id"], r["c_id"])
        for r in bp.join(
            bc,
            (F.col("p_u") == F.col("c_u"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert want and set(got_rows) == want
    assert len(got_rows) == len(want)  # exactly-once within the drain


def test_streaming_bottomk_matches_batch_sketch(spark, tmp_path):
    """The maintained bottom-k sample after two availableNow drains equals
    bottomk_build over the combined data — min-ranks commute with union,
    so streaming maintenance is exact, and a re-delivered batch is a no-op
    (union idempotence)."""
    from engine.extended.sketch import bottomk_build
    from engine.streaming.sketches import streaming_bottomk

    src = str(tmp_path / "bk_src")
    ckpt = str(tmp_path / "bk_ck")
    w1 = spark.createDataFrame([(f"a{i % 300}",) for i in range(900)], ["k"])
    w2 = spark.createDataFrame([(f"b{i % 400}",) for i in range(800)], ["k"])
    w1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    _, acc = streaming_bottomk(stream, "k", ckpt, k=16)
    w2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string").parquet(src)
    _, acc = streaming_bottomk(stream, "k", ckpt, k=16, state=acc)

    want = [
        (r["hash"], r["key"])
        for r in bottomk_build(w1.unionAll(w2), "k", k=16).collect()
    ]
    assert acc == want and len(acc) == 16


def test_bucketed_matview_survives_catalog_loss(spark, tmp_path):
    """Review catch r9: bucketed snapshot versions are EXTERNAL tables
    with a JSON sidecar, so a session whose derby catalog lost the
    entries (restart) re-registers them and resumes — previously the
    state was permanently unreadable while the checkpoint already
    marked the batches committed."""
    from engine.streaming.matview import (
        read_agg_snapshot,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "bmv_src")
    ckpt = str(tmp_path / "bmv_ck")
    snap = str(tmp_path / "bmv_snap")
    spec = dict(sums={"s": "v"})
    wave1 = spark.createDataFrame(
        [(f"k{i % 5}", i) for i in range(40)], "k string, v int"
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v int").format("parquet").load(src)
    streaming_agg_maintenance(
        stream, ["k"], ckpt, snap, non_nullable_keys=True,
        table_prefix="t_bmv_loss", **spec,
    )
    before = {
        r["k"]: (r["n"], r["s"])
        for r in read_agg_snapshot(spark, snap).collect()
    }
    assert before  # sanity

    # simulate a fresh session: the catalog forgets every version table
    # (external => data and sidecars stay under snapshot_dir)
    dropped = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES LIKE 't_bmv_loss_*'").collect()
    ]
    assert dropped
    for name in dropped:
        spark.sql(f"DROP TABLE IF EXISTS {name}")

    try:
        # 1) reads recover via the sidecar
        after = {
            r["k"]: (r["n"], r["s"])
            for r in read_agg_snapshot(spark, snap).collect()
        }
        assert after == before
        # 2) and the maintainer itself resumes: a second wave merges onto
        # the recovered snapshot (the stream's checkpoint continues)
        wave2 = spark.createDataFrame(
            [(f"k{i % 3}", 100 + i) for i in range(9)], "k string, v int"
        )
        wave2.coalesce(1).write.mode("append").parquet(src)
        for name in [
            r["tableName"]
            for r in spark.sql("SHOW TABLES LIKE 't_bmv_loss_*'").collect()
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")  # forget again
        stream = spark.readStream.schema("k string, v int").format(
            "parquet"
        ).load(src)
        streaming_agg_maintenance(
            stream, ["k"], ckpt, snap, non_nullable_keys=True,
            table_prefix="t_bmv_loss", **spec,
        )
        from engine.ops.matview import agg_partials

        want = {
            r["k"]: (r["n"], r["s"])
            for r in agg_partials(
                wave1.unionAll(wave2), ["k"], **spec
            ).collect()
        }
        got = {
            r["k"]: (r["n"], r["s"])
            for r in read_agg_snapshot(spark, snap).collect()
        }
        assert got == want
    finally:
        for r in spark.sql("SHOW TABLES LIKE 't_bmv_loss_*'").collect():
            spark.sql(f"DROP TABLE IF EXISTS {r['tableName']}")


def test_bucketed_matview_guards(spark, tmp_path):
    """Second review r9: (a) switching storage modes on a live
    snapshot_dir refuses instead of stranding the other family's
    versions; (b) a dangling catalog entry (location wiped) is dropped,
    not trusted, so replay recomputes the batch; (c) a hyphenated
    table_prefix is sanitized into a valid identifier."""
    import pytest

    from engine.streaming.matview import (
        read_agg_snapshot,
        streaming_agg_maintenance,
    )

    src = str(tmp_path / "g_src")
    wave = spark.createDataFrame(
        [(f"k{i % 4}", i) for i in range(20)], "k string, v int"
    )
    wave.coalesce(1).write.mode("append").parquet(src)

    def stream():
        return spark.readStream.schema("k string, v int").format(
            "parquet"
        ).load(src)

    # (c) hyphenated prefix sanitizes and runs
    snap1, ck1 = str(tmp_path / "g_snap1"), str(tmp_path / "g_ck1")
    streaming_agg_maintenance(
        stream(), ["k"], ck1, snap1, sums={"s": "v"},
        non_nullable_keys=True, table_prefix="my-mv guard",
    )
    got = {r["k"]: r["s"] for r in read_agg_snapshot(spark, snap1).collect()}
    assert len(got) == 4

    # (a) mode switch on the same dir refuses
    with pytest.raises(ValueError, match="other storage mode"):
        streaming_agg_maintenance(
            stream(), ["k"], str(tmp_path / "g_ck2"), snap1,
            sums={"s": "v"}, non_nullable_keys=False,
        )

    # (b) wipe the data dirs but leave the catalog entries dangling: the
    # fast path must DROP them and report unavailable; a fresh run over a
    # CLEAN dir then recomputes from scratch rather than repairing onto
    # the corpse
    import shutil

    tables = [
        r["tableName"]
        for r in spark.sql("SHOW TABLES LIKE 'my_mv_guard_*'").collect()
    ]
    assert tables
    shutil.rmtree(snap1)
    from engine.streaming.matview import _ensure_bucketed_table

    for name in tables:
        assert not _ensure_bucketed_table(spark, snap1, name)
        assert not spark.catalog.tableExists(name)
    assert read_agg_snapshot(spark, snap1) is None


def test_streaming_hist_matches_batch_sketch_across_batches(spark, tmp_path):
    """Histogram batch/stream parity: per-micro-batch equi-width histograms
    merged across two availableNow drains equal EXACTLY the batch
    histogram of the combined data (hist_merge linearity), and the
    accumulator quantile matches the batch hist_quantile estimate."""
    from engine.extended.sketch import hist_build, hist_quantile
    from engine.streaming.sketches import (
        streaming_hist,
        streaming_hist_quantile,
    )

    src = str(tmp_path / "hist_src")
    ckpt = str(tmp_path / "hist_ck")
    schema = "v double"
    wave1 = spark.createDataFrame([(float(i),) for i in range(50)], schema)
    wave2 = spark.createDataFrame(
        [(float(i) * 1.7,) for i in range(40)] + [(None,), (1e9,)], schema
    )
    wave1.coalesce(1).write.mode("append").parquet(src)

    grid = dict(lo=0.0, hi=100.0, n_buckets=32)
    buckets: dict = {}
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    streaming_hist(stream, "v", ckpt, buckets=buckets, **grid)
    wave2.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    streaming_hist(stream, "v", ckpt, buckets=buckets, **grid)

    want = {
        r["bucket"]: r["cnt"]
        for r in hist_build(wave1.unionAll(wave2), "v", **grid).collect()
    }
    assert buckets == want
    # quantile read off the accumulator == the batch sketch's estimate
    got_q = streaming_hist_quantile(buckets, 0.5, **grid)
    want_q = (
        hist_quantile(hist_build(wave1.unionAll(wave2), "v", **grid), 0.5, **grid)
        .collect()[0]["est"]
    )
    assert got_q == want_q
