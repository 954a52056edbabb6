"""Skew-join strategies, IVF ANN, and the streaming→Avro→Kinesis end-to-end
path (the BASELINE.json north-star wiring)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from engine.ops.avro_codec import decode_record
from engine.ops.skew import null_safe_split_join, salted_join
from engine.schemas import SINK_AVRO_SCHEMA


def test_salted_join_matches_plain_join(spark):
    # hot key: 90% of left rows share key 1
    left = spark.createDataFrame(
        [(1 if i % 10 else i, i) for i in range(200)], "k long, v long"
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(20)], "k long, name string")
    plain = left.join(right, "k").select("k", "v", "name")
    salted = salted_join(left, right, "k", salts=4).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_null_safe_split_join(spark):
    left = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c"), (2, "d")], "k long, v string"
    )
    right = spark.createDataFrame([(1, "one")], "k long, name string")
    out = {r["v"]: r["name"] for r in null_safe_split_join(left, right, "k").collect()}
    assert out == {"a": "one", "b": None, "c": None, "d": None}


def test_ivf_recall(spark):
    from engine.extended.similarity import cosine_topk, ivf_build, ivf_topk

    import math

    rows = [
        (i, [math.cos(i * math.pi / 100), math.sin(i * math.pi / 100), 0.0, 0.0])
        for i in range(100)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [1.0, 0.0, 0.0, 0.0]
    assigned, cents = ivf_build(vecs, n_lists=4)
    exact = [r["vec_id"] for r in cosine_topk(vecs, q, k=5).collect()]
    approx = [r["vec_id"] for r in ivf_topk(assigned, cents, q, k=5, nprobe=2).collect()]
    assert len(set(exact) & set(approx)) >= 4  # smooth manifold → high recall


def test_ivf_seeded_deterministic_and_partition_invariant(spark):
    """The seeded k-means must give the SAME assignment regardless of
    partitioning (integer sums are order-independent) and across repeat
    builds — that is the property making the full IVF query oracle-able."""
    from engine.extended.similarity import ivf_build_seeded

    import math

    rows = [
        (i, [math.cos(i * 0.37) * (1 + i % 3), math.sin(i * 0.91), float(i % 7) / 7, 0.25])
        for i in range(120)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def build(df):
        assigned, cents = ivf_build_seeded(df, n_lists=4, iters=2, dim=4)
        out = {r["vec_id"]: r["ivf_list"] for r in assigned.collect()}
        assigned.unpersist()
        return out, cents

    a1, c1 = build(vecs.repartition(3))
    a2, c2 = build(vecs.repartition(13))
    assert a1 == a2 and c1 == c2
    assert len(a1) == 120 and set(a1.values()) <= {0, 1, 2, 3}


def test_ivf_seeded_empty_cluster_keeps_seed(spark):
    """Fewer distinct points than lists → some clusters go empty; their
    centroid must stay at the seed (the oracle's COALESCE branch)."""
    from engine.extended.similarity import ivf_build_seeded

    rows = [(i, [float(i % 2), 1.0]) for i in range(10)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = ivf_build_seeded(vecs, n_lists=4, iters=2, dim=2)
    lists = {r["ivf_list"] for r in assigned.collect()}
    assigned.unpersist()
    assert len(lists) <= 2  # only two distinct points exist
    assert len(cents) == 4 and all(len(c) == 2 for c in cents)


def test_streaming_avro_kinesis_end_to_end(spark, tmp_path, sierra_df, kinesis_log):
    """The full north-star chain as a streaming job: parquet stream →
    pipeline graph → Avro encode → 500-chunked Kinesis put — then decode the
    wire bytes and check the records."""
    from engine.app import make_avro_kinesis_sink
    from engine.pipeline import PipelineConfig, new_patrons_graph
    from engine.streaming.incremental import parquet_stream, run_available_now

    src = str(tmp_path / "src")
    sierra_df.write.mode("overwrite").parquet(src)
    cfg = PipelineConfig(salt="e2e")
    put = make_avro_kinesis_sink(kinesis_log.transport)

    def sink(batch_df, batch_id):
        put(new_patrons_graph(batch_df, cfg), batch_id)

    stream = parquet_stream(spark, src, sierra_df.schema)
    run_available_now(stream, lambda df: df, sink, str(tmp_path / "ckpt"))

    decoded = [decode_record(b, SINK_AVRO_SCHEMA) for b in kinesis_log.records()]
    assert len(decoded) == 3  # 4 rows, patron 456 deduped
    by_zip = {d["postal_code"] for d in decoded}
    assert "10001" in by_zip and "11201" in by_zip  # zip5 applied on the wire
    assert all(len(d) == 11 for d in decoded)  # full 11-field Avro contract
