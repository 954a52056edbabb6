"""Similarity search over embedding columns (north-star operator).

Two paths, same answer shape (``vec_id, sim`` top-k):

- :func:`cosine_topk` — brute-force scan: one pass over the vectors, per-row
  dot product against a broadcast query vector, ``TakeOrderedAndProject``
  top-k.  This is the *correctness baseline* and — because it is one
  shuffle-free scan — also the honest fallback at any scale when recall must
  be 1.0.
- :func:`lsh_topk` — random-hyperplane LSH pre-filter: probe only vectors
  whose sign-signature is within ``max_probe_hamming`` of the query's, then
  exact-rank the survivors.  At 100 TB this turns a full scan into a
  partition-pruned fraction at a tunable recall; signatures are computed once
  (:func:`with_signature`) and stored/partitioned-by in the real deployment.

Arithmetic is double-precision with a fixed left-to-right accumulation order
(``aggregate`` over ``zip_with``), so results are bit-stable and match the
DuckDB oracle exactly after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.extended.dedup import _unit_hyperplanes, cosine

__all__ = [
    "cosine_topk",
    "late_interaction_topk",
    "with_signature",
    "lsh_topk",
    "ivf_build",
    "ivf_topk",
    "ivf_build_seeded",
    "ivf_topk_seeded",
    "probe_lists_seeded",
    "quantized_vec",
    "pq_train_seeded",
    "pq_encode",
    "pq_adc_topk",
    "knn_join",
    "lsh_knn_join",
    "quantize_int8",
    "dequantize_int8",
    "matryoshka_truncate",
    "jl_project",
    "embedding_covariance_block",
    "pca_whiten",
    "ivf_add_batch",
]


def _arr_lit(vals) -> Column:
    """1-D double-array literal as ONE F.expr SQL string — the r10
    driver-side build-cost discipline (a 64-component F.array/F.lit tree
    costs ~65 py4j round trips; this costs one).  ``{v!r}D`` is
    shortest-round-trip, bit-identical to ``F.lit(float(v))``."""
    return F.expr("array(" + ", ".join(f"{float(v)!r}D" for v in vals) + ")")


def _arr2_sql(rows) -> str:
    """2-D double-array literal as SQL text (codebooks, ADC lookup tables)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in r) + ")" for r in rows
        )
        + ")"
    )


def _arr2_lit(rows) -> Column:
    """2-D sibling of :func:`_arr_lit`."""
    return F.expr(_arr2_sql(rows))


def cosine_topk(
    vectors: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    The query vector is a literal array (broadcast by the plan, no join);
    ordering ties break by id so the result is deterministic.
    """
    q = _arr_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_to)
    return (
        vectors.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


def late_interaction_topk(
    vectors: DataFrame,
    query_vec: list[float],
    *,
    n_slices: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """ColBERT-style late-interaction (MaxSim) retrieval over subvector
    slices: ``score = Σ_i max_j cos(q_i, d_j)`` where q_i / d_j are the
    ``n_slices`` equal slices of the query / document vector — the
    multi-vector scoring shape (each query facet matches its best document
    facet independently) on single-vector storage.

    Zero-norm slices score the −2.0 sentinel (below any cosine), so a
    degenerate document sinks instead of erroring, and the max/sum stays a
    fixed-order expression both engines evaluate identically.  Pure
    codegen: n_slices² slice-cosines per row inside one scan, top-k via
    TakeOrderedAndProject — no shuffle, no join.
    """
    dim = len(query_vec)
    if n_slices < 1 or dim % n_slices != 0:
        raise ValueError(
            f"dim ({dim}) must be a positive multiple of n_slices ({n_slices})"
        )
    sub = dim // n_slices
    score = None
    for i in range(n_slices):
        qi = _arr_lit(query_vec[i * sub : (i + 1) * sub])
        best = F.greatest(
            *[
                F.coalesce(
                    cosine(
                        F.slice(F.col(vec_col), j * sub + 1, sub), qi
                    ),
                    F.lit(-2.0),
                )
                for j in range(n_slices)
            ]
        )
        score = best if score is None else score + best
    return (
        vectors.filter(
            F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
        )
        .select(F.col(id_col), F.round(score, round_to).alias("maxsim"))
        .orderBy(F.col("maxsim").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


def with_signature(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 16,
    planes: int = 16,
    out_col: str = "lsh_sig",
) -> DataFrame:
    """Attach the random-hyperplane sign signature (deterministic planes —
    same family as :func:`engine.extended.dedup.embedding_near_dup`).

    A vector whose length differs from ``dim`` gets a NULL signature
    (review catch r9): ``zip_with`` pads the shorter side with NULLs, so
    a mismatched row would silently collapse every plane test to 0 — a
    signature that MATCHES other degenerate rows instead of standing out.
    NULL signatures fall out of every downstream probe filter."""
    from engine.extended.dedup import dot_sql

    hp = _unit_hyperplanes(dim, planes)
    # one F.expr string, not planes × _dot Column trees — the py4j
    # round-trip cost of per-plane builders dominated driver time at
    # bench scale (see sign_band_structs r10)
    bits = ", ".join(
        f"IF({dot_sql(vec_col, hp[p])} >= 0, {1 << p}, 0)"
        for p in range(planes)
    )
    sig = F.expr(
        f"aggregate(array({bits}), CAST(0 AS BIGINT), "
        f"(acc, v) -> acc | CAST(v AS BIGINT))"
    )
    return vectors.withColumn(
        out_col, F.when(F.size(F.col(vec_col)) == dim, sig)
    )


def lsh_topk(
    vectors: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 16,
    planes: int = 16,
    max_probe_hamming: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: rank only vectors whose LSH signature is within
    ``max_probe_hamming`` bits of the query signature.

    The signature filter is a cheap codegen predicate (``bit_count(xor)``),
    so Catalyst evaluates it during the scan — with signatures persisted and
    the table partitioned/bucketed by signature prefix, whole partitions
    prune away.  Recall rises with ``max_probe_hamming`` (→ planes = scan).
    """
    if len(query_vec) != dim:
        # the Python zip below TRUNCATES while the Spark fold NULL-pads —
        # a silent dim mismatch produced a real query signature probed
        # against all-NULL row signatures (review catch r9)
        raise ValueError(
            f"lsh_topk: len(query_vec)={len(query_vec)} != dim={dim}"
        )
    hp = _unit_hyperplanes(dim, planes)
    qsig = 0
    for p in range(planes):
        dot = sum(float(a) * b for a, b in zip(query_vec, hp[p]))
        if dot >= 0:
            qsig |= 1 << p
    sigged = with_signature(vectors, vec_col=vec_col, dim=dim, planes=planes)
    probe = sigged.filter(
        F.bit_count(F.col("lsh_sig").bitwiseXOR(F.lit(qsig))) <= max_probe_hamming
    )
    q = _arr_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_to)
    return (
        probe.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster-pruned scan
# ---------------------------------------------------------------------------


def ivf_build(
    vectors: DataFrame,
    *,
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
):
    """Train the coarse quantizer and assign every vector to its list.

    Returns ``(assigned_df, centroids)`` where ``assigned_df`` is the input
    plus an ``ivf_list`` column and ``centroids`` is a plain Python list of
    centers.  At deployment scale the assigned table is written out
    partitioned by ``ivf_list`` so a probe reads only nprobe/n_lists of the
    data — the partition-pruning path LSH cannot give you.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = vectors.filter(F.col(vec_col).isNotNull()).withColumn(
        "__features", array_to_vector(F.col(vec_col))
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__features", predictionCol="ivf_list")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__features")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Approximate top-k: exact-rank only the ``nprobe`` lists whose centroids
    are nearest (by cosine) to the query.

    The list filter is a literal ``isin`` — with the table partitioned by
    ``ivf_list`` it becomes partition pruning (zero I/O for unprobed lists).
    """
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(range(len(centroids)), key=lambda i: -cos(centroids[i], query_vec))
    probe_lists = ranked[:nprobe]
    q = _arr_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_to)
    return (
        assigned.filter(F.col("ivf_list").isin(probe_lists))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


def _seeded_argmin(cents: list[list[float]], q_col: str = "__q") -> Column:
    """Index of the nearest centroid by squared euclidean distance over the
    QUANTIZED integer components, tie-break lowest centroid id.

    The fold is ``aggregate`` over ``zip_with`` — a fixed left-to-right
    double accumulation, the same operation order the DuckDB oracle's
    ``list_sum(list_transform(list_zip(...)))`` performs, so distances are
    bit-identical across engines (inputs are exact: quantized bigints and
    centroid doubles derived from exact integer sums).

    ONE F.expr SQL string (r11, the r10 build-cost class): the per-centroid
    Column-tree form cost ~0.7 s of py4j round trips per call at
    n_lists=8 × dim=64 — paid per Lloyd round — vs ~0.16 s for the single
    string; verified element-equal on real data."""
    def arr(c):
        return "array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")"

    structs = ", ".join(
        f"named_struct('d', aggregate(zip_with(`{q_col}`, {arr(c)}, "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0.0D, "
        f"(acc, v) -> acc + v), 'cid', {j})"
        for j, c in enumerate(cents)
    )
    return F.expr(f"array_min(array({structs})).cid")


def quantized_vec(vec_col: str | Column, quant: float = 1_000_000.0) -> Column:
    """Exact-integer view of an embedding: ``round(x * quant)`` as bigint.
    Round-half-away-from-zero matches across engines (same contract
    :func:`quantize_int8` relies on)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(c, lambda x: F.round(x.cast("double") * F.lit(quant)).cast("long"))


def ivf_build_seeded(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    iters: int = 2,
    dim: int = 64,
    quant: float = 1_000_000.0,
    pts: DataFrame | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic seeded k-means coarse quantizer — the oracle-able twin
    of :func:`ivf_build` (MLlib KMeans stays the production training path;
    this path exists so the FULL IVF query is hash-checkable cross-engine).

    Determinism strategy (every step reproducible bit-for-bit in ANSI SQL):

    1. components quantize to exact bigints (``round(x*quant)``) — cluster
       sums become ORDER-INDEPENDENT integer arithmetic, so shuffle
       nondeterminism can never flip a centroid;
    2. seeds are the ``n_lists`` first vectors by ``md5(cast(id))`` rank —
       the engine-neutral RNG this repo uses everywhere sampling needs
       cross-engine determinism;
    3. exactly ``iters`` Lloyd rounds; each centroid component is
       ``int_sum / count`` — one correctly-rounded IEEE division of exact
       integers, identical in Python / Spark / DuckDB; empty clusters keep
       their previous centroid;
    4. assignment distance is a fixed left-to-right double fold
       (:func:`_seeded_argmin`), tie-break lowest centroid id.

    Scale shape: each round is ONE groupBy shuffle producing ``n_lists``
    rows of ``dim`` integer sums (collected — dimension-sized, like every
    1-row aggregate collect in this repo); the points table is scanned
    ``iters + 1`` times against an internally persisted quantized view that
    this function RELEASES itself before returning (advice r10 — no caller
    unpersist contract remains; at deployment scale pre-persist/write the
    input if the extra scans matter).

    Returns ``(assigned, centroids)``: the input plus ``ivf_list``, and the
    final centroid component doubles.

    ``pts`` (r11 opt): a caller-owned ALREADY-PERSISTED quantized view —
    ``vectors.filter(vec_col IS NOT NULL).select(*vectors.columns,
    quantized_vec(vec_col, quant).alias("__q"))`` — so a composed probe
    (ann_ivfpq_topk runs this AND :func:`pq_train_seeded` over the same
    vectors) materializes ONE cache instead of two; the caller unpersists
    after training.  When omitted, the function builds and releases its
    own, exactly as before.
    """
    owns_pts = pts is None
    if pts is None:
        # a NULL vector belongs to no cluster (and a NULL seed row would
        # crash the driver-side centroid build; fuzz-found) — exclude up
        # front, same contract the oracle's pts CTE mirrors
        pts = (
            vectors.filter(F.col(vec_col).isNotNull())
            .select(*vectors.columns, quantized_vec(vec_col, quant).alias("__q"))
            .persist()
        )
    seed_rows = (
        pts.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_lists)
        .select("__q")
        .collect()
    )
    cents = [[float(v) for v in r["__q"]] for r in seed_rows]
    if not cents:
        raise ValueError("ivf_build_seeded: no non-null vectors to cluster")
    bad = next((c for c in cents if len(c) != dim), None)
    if bad is not None:
        # Lloyd updates produce dim-component centroids; a longer vector
        # would NULL-pad round-2 distances (every row lands in list 0, a
        # silent full-scan index), a shorter one crashes the sums loop
        # (review catch r9; advice r10 — report the OFFENDING seed's
        # length, not cents[0]'s)
        raise ValueError(
            f"ivf_build_seeded: vector length {len(bad)} != dim={dim}"
        )
    # fewer vectors than n_lists → operate with what exists (the oracle's
    # seeds-LIMIT degrades the same way; indexing past cents crashed)
    n_lists = len(cents)
    for _ in range(iters):
        # NARROW aggregate (r11 opt): the old 65-column form (count + one
        # F.sum(element_at) per dimension) paid ~3× the round in plan +
        # codegen of 64 aggregate buffers; posexplode to (cid, pos, x) and
        # aggregate ONE sum — n_lists·dim result rows, the same exact
        # integer sums, measured 2.9 → 0.95 s per round at sf0.1
        # (collect stays bounded: n_lists·dim rows).
        sums = (
            pts.withColumn("__cid", _seeded_argmin(cents))
            .select("__cid", F.posexplode("__q").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__x").alias("s"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in sums:
            new.setdefault(r["__cid"], [0.0] * dim)[r["__pos"]] = r["s"] / r["cnt"]
        cents = [new.get(j, cents[j]) for j in range(n_lists)]
    assigned = pts.withColumn("ivf_list", _seeded_argmin(cents)).drop("__q")
    # the persist served the iters+1 driver collections above; release it
    # here when this function built it (the documented
    # unpersist-the-returned-frame contract was a no-op — unpersist only
    # matches the exact persisted plan, review catch r9).  The returned
    # frame lazily redoes the quantize projection on first use: one cheap
    # codegen pass, no driver round-trips.  A caller-provided ``pts`` is
    # the caller's to release.
    if owns_pts:
        pts.unpersist()
    return assigned, cents


def probe_lists_seeded(
    cents: list[list[float]], query_qvec: list[float], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the QUANTIZED query by squared
    euclidean distance — the driver-side ranking shared by
    :func:`ivf_topk_seeded` and the composed IVF-PQ probe.  The fold is
    left-to-right over exact ints vs centroid doubles, the determinism
    contract every consumer's oracle replays; keep ONE copy."""
    dists = []
    for j, c in enumerate(cents):
        d = 0.0
        for x, y in zip(query_qvec, c):
            d = d + (float(x) - y) * (float(x) - y)
        dists.append((d, j))
    return [j for _, j in sorted(dists)[:nprobe]]


def ivf_topk_seeded(
    assigned: DataFrame,
    cents: list[list[float]],
    query_qvec: list[float],
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Probe-side of the seeded IVF: rank centroids by squared euclidean
    distance to the QUANTIZED query (``query_qvec`` — exact ints, so the
    Python ranking here equals the oracle's SQL ranking bit-for-bit),
    exact-rank the ``nprobe`` nearest lists by cosine against the raw query.

    The list filter is a literal ``isin`` — partition pruning when the
    table is written ``partitionBy(ivf_list)``, same contract as
    :func:`ivf_topk`."""
    probe_lists = probe_lists_seeded(cents, query_qvec, nprobe)
    q = _arr_lit(query_vec)
    sim = F.round(cosine(F.col(vec_col), q), round_to)
    return (
        assigned.filter(F.col("ivf_list").isin(probe_lists))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): per-subspace codebooks + asymmetric-distance scan
# ---------------------------------------------------------------------------


def _pq_validate(dim: int, m: int) -> int:
    if m < 1 or dim % m != 0:
        raise ValueError(f"dim ({dim}) must be a positive multiple of m ({m})")
    return dim // m


def _pq_cb_lit(cents: list[list[list[float]]]) -> Column:
    """codebooks as a nested literal: cb[sj+1][cid+1] = centroid array.

    ONE ``F.expr`` SQL string (the r10 driver-side build-cost class): the
    nested F.array/F.lit form cost m·ksub·dsub+ py4j round trips — ~550 at
    the defaults, paid PER Lloyd round and again at encode/ADC time.
    ``{v!r}D`` double literals are shortest-round-trip, bit-identical to
    ``F.lit(float(v))`` (the sign-LSH/OPH families' discipline)."""
    inner = ", ".join(
        "array(" + ", ".join(
            "array(" + ", ".join(f"{float(v)!r}D" for v in c) + ")" for c in sub
        ) + ")"
        for sub in cents
    )
    return F.expr(f"array({inner})")


def _pq_argmin(cb_sql: str, sub_sql: str, ksub: int) -> Column:
    """Nearest-centroid id within one subspace's codebook (``cb_sql`` is SQL
    text for the ksub×dsub array), tie-break lowest cid.  ONE F.expr string
    per call — the same r10/r11 build-cost discipline as
    :func:`_seeded_argmin`; semantics (left-to-right double fold, array_min
    struct tie-break) unchanged and verified element-equal."""
    structs = ", ".join(
        f"named_struct('d', aggregate(zip_with({sub_sql}, "
        f"element_at({cb_sql}, {cidx + 1}), "
        f"(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), 0.0D, "
        f"(acc, v) -> acc + v), 'cid', {cidx})"
        for cidx in range(ksub)
    )
    return F.expr(f"array_min(array({structs})).cid")


def pq_train_seeded(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dim: int = 64,
    quant: float = 1_000_000.0,
    pts: DataFrame | None = None,
) -> list[list[list[float]]]:
    """Train deterministic product-quantization codebooks: split every vector
    into ``m`` subvectors of ``dim/m`` components and run an independent
    seeded k-means (``ksub`` centroids, ``iters`` Lloyd rounds) per subspace
    — Jégou/Douze/Schmid's PQ, the memory rung below int8 on the
    vector-storage ladder (``m`` small codes per vector ≈ 32-64× smaller
    than float32, which is how 100 TB of embeddings fits a cluster's RAM).

    Same determinism contract as :func:`ivf_build_seeded` (exact-integer
    quantized components, md5-ranked seed rows shared by all subspaces,
    fixed ``iters``, one IEEE division per centroid component — sums stay
    far below 2^53 so the Python division equals the oracle's
    double-cast division; empty clusters keep their previous centroid).

    Scale shape: each round is ONE groupBy shuffle on (subspace, cid)
    producing ``m·ksub`` rows of integer sums; the subvector explode
    multiplies row count by ``m`` but each row carries only ``dim/m``
    components, so total shuffled volume equals the input's.  Returns
    ``codebooks[sj][cid]`` centroid-component doubles.

    ``pts`` (r11 opt): the same caller-owned persisted quantized view
    :func:`ivf_build_seeded` accepts (wide columns + ``__q``); the narrow
    (__id, __q) projection here then scans the SHARED cache instead of
    building and materializing a second one.  When omitted, the function
    builds and releases its own, exactly as before.
    """
    dsub = _pq_validate(dim, m)
    owns_pts = pts is None
    if pts is None:
        pts = (
            vectors.filter(F.col(vec_col).isNotNull())
            .select(
                F.col(id_col).alias("__id"),
                quantized_vec(vec_col, quant).alias("__q"),
            )
            .persist()
        )
    else:
        pts = pts.select(F.col(id_col).alias("__id"), "__q")
    seed_rows = (
        pts.orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(ksub)
        .select("__q")
        .collect()
    )
    if not seed_rows:
        raise ValueError("pq_train_seeded: no non-null vectors to cluster")
    # fewer vectors than ksub → operate with what exists (the oracle's
    # seeds-LIMIT degrades the same way, same contract as ivf_build_seeded)
    ksub = len(seed_rows)
    cents = [
        [[float(v) for v in r["__q"][j * dsub : (j + 1) * dsub]] for r in seed_rows]
        for j in range(m)
    ]
    sub = pts.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("sj"),
                        F.slice("__q", j * dsub + 1, dsub).alias("subq"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("__s"),
    ).select("__id", F.col("__s.sj").alias("sj"), F.col("__s.subq").alias("subq"))
    for _ in range(iters):
        # project the row's own subspace codebook ONCE behind an alias —
        # inlining the full m×ksub×dsub literal into each of the ksub
        # distance folds would repeat it ksub times in codegen (the no-CSE
        # trap quantize_int8 documents for HOF lambdas)
        assigned = sub.withColumn(
            "__cb", F.element_at(_pq_cb_lit(cents), F.col("sj") + 1)
        ).withColumn("__cid", _pq_argmin("`__cb`", "`subq`", ksub))
        # NARROW aggregate (r11 opt, same rewrite as ivf_build_seeded): one
        # posexplode + one F.sum instead of dsub aggregate columns — the
        # wide form's per-round plan/codegen cost dominated the tiny
        # m·ksub-row result; collect stays bounded at m·ksub·dsub rows
        sums = (
            assigned.select(
                "sj", "__cid", F.posexplode("subq").alias("__pos", "__x")
            )
            .groupBy("sj", "__cid", "__pos")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("__x").alias("s"))
            .collect()
        )
        new: dict[tuple[int, int], list[float]] = {}
        for r in sums:
            new.setdefault((r["sj"], r["__cid"]), [0.0] * dsub)[r["__pos"]] = (
                r["s"] / r["cnt"]
            )
        cents = [
            [new.get((j, c), cents[j][c]) for c in range(ksub)] for j in range(m)
        ]
    if owns_pts:
        pts.unpersist()
    return cents


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    quant: float = 1_000_000.0,
) -> DataFrame:
    """Attach the PQ code array: ``code[j]`` = nearest ``codebooks[j]``
    centroid of subvector ``j`` (``m`` small ints per vector — the stored
    representation; at deployment scale this column replaces the raw
    vectors in the index and the float column moves to cold storage).

    Pure per-row expressions, zero shuffle; NULL vectors — and vectors
    whose length differs from ``m·dsub`` (review catch r9: a short vector
    NULL-padded every subspace distance and silently took code 0,
    fabricating ADC distances) — get NULL codes.
    """
    m = len(codebooks)
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    qv = quantized_vec(vec_col, quant)
    out = df.withColumn(
        "__pq_q",
        F.when(
            F.col(vec_col).isNotNull()
            & (F.size(F.col(vec_col)) == m * dsub),
            qv,
        ),
    )
    codes = F.array(
        *[
            _pq_argmin(
                _arr2_sql(codebooks[j]),
                f"slice(`__pq_q`, {j * dsub + 1}, {dsub})",
                ksub,
            )
            for j in range(m)
        ]
    )
    return out.withColumn(
        code_col, F.when(F.col("__pq_q").isNotNull(), codes)
    ).drop("__pq_q")


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    query_qvec: list[float],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    quant: float = 1_000_000.0,
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query's distance
    to every codebook centroid is precomputed into an ``m × ksub`` lookup
    table (driver-side — the same left-to-right fold the SQL oracle and
    :func:`_pq_argmin` perform, so table entries are bit-identical), and
    each stored vector's approximate distance is the sum of ``m`` table
    lookups — no float vector is ever read at query time.

    The scan is pure codegen (element_at on a literal table; no join, no
    shuffle) + ``TakeOrderedAndProject`` — at 100 TB this is a scan of the
    code column only (``m`` bytes/vector), the entire point of PQ.
    Distances are rescaled by ``quant²`` back to raw units and rounded;
    ascending order, ties break by id.  Returns (id, adist).
    """
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query_qvec) != m * dsub:
        raise ValueError(
            f"query dim {len(query_qvec)} != codebook dim {m * dsub}"
        )
    lut = []
    for j, sub in enumerate(codebooks):
        row = []
        for c in sub:
            d = 0.0
            for x, y in zip(query_qvec[j * dsub : (j + 1) * dsub], c):
                d = d + (float(x) - y) * (float(x) - y)
            row.append(d)
        lut.append(row)
    lut_lit = _arr2_lit(lut)
    terms = F.transform(
        code_col,
        lambda c, i: F.element_at(F.element_at(lut_lit, i + 1), c + 1),
    )
    adist = F.round(
        F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)
        / F.lit(float(quant) * float(quant)),
        round_to,
    )
    return (
        encoded.filter(F.col(code_col).isNotNull())
        .select(F.col(id_col), adist.alias("adist"))
        .orderBy(F.col("adist").asc_nulls_last(), F.col(id_col))
        .limit(k)
    )


def _norm_side(df: DataFrame, prefix: str, id_col: str, vec_col: str) -> DataFrame:
    """(prefix_id, __prefixv, __prefixn): id + vector + norm, projected once
    per side — the shared pre-join discipline of both kNN joins."""
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        F.col(vec_col).alias(f"__{prefix}v"),
        F.sqrt(
            F.aggregate(
                F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ).alias(f"__{prefix}n"),
    )


def _topk_per_query(pairs: DataFrame, k: int) -> DataFrame:
    """Rank-k window per query — WindowGroupLimit keeps a k-heap per q_id
    instead of sorting each query's full candidate list."""
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.col("sim").desc_nulls_last(), F.col("c_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def _pair_sim_expr(round_to: int) -> Column:
    dot = F.aggregate(
        F.zip_with("__qv", "__cv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("__qn") * F.col("__cn")
    return F.when(denom > 0, F.round(dot / denom, round_to))


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact k-nearest-neighbors join: for EVERY query vector, the top-k
    corpus vectors by cosine (the batch generalization of cosine_topk —
    retrieval-index building, kNN-classifier labeling, hard-negative mining).

    Returns (q_id, c_id, sim, rank).  Plan shape: norms are projected once
    per side, the query side is broadcast (queries ≪ corpus is the
    operating regime), and the per-query top-k is a rank-k window on q_id —
    WindowGroupLimit keeps a k-heap per query instead of sorting |corpus|
    rows.  Cost is O(|Q|·|C|) dot products spread over the corpus's
    partitions; for |Q| beyond broadcast size, pre-filter the pair space
    with lsh_topk/ivf_topk buckets and feed the survivors here.

    ``exclude_self=True`` (the default) drops pairs with ``q_id == c_id`` —
    correct ONLY when queries share the corpus's id space (self-kNN, the
    usual mining setup).  When queries and corpus are DIFFERENT tables whose
    id spaces may coincide by accident, pass ``exclude_self=False`` or a
    legitimate equal-id neighbor is silently lost.
    """
    q = _norm_side(queries, "q", id_col, vec_col)
    c = _norm_side(corpus, "c", id_col, vec_col)
    sim = _pair_sim_expr(round_to)
    cond = F.col("q_id") != F.col("c_id") if exclude_self else F.lit(True)
    pairs = c.join(F.broadcast(q), cond).select("q_id", "c_id", sim.alias("sim"))
    return _topk_per_query(pairs, k)


def lsh_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 16,
    planes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = None,
    round_to: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate kNN join for query sides too big to broadcast — the
    scale path :func:`knn_join`'s docstring points at.  ``exclude_self``
    defaults True to MATCH :func:`knn_join` (review catch r9: opposite
    defaults meant the documented broadcast→LSH migration silently
    reintroduced rank-1 self-pairs).

    Both sides get band keys from the SAME deterministic hyperplanes
    (sign-LSH, ``planes`` bits split into ``bands`` keys); a (query,
    corpus) pair is a candidate iff ANY band key matches; exact cosine
    verifies candidates and a rank-``k`` window per query keeps the top-k.
    Returns (q_id, c_id, sim, rank) — queries whose buckets caught fewer
    than k corpus rows return fewer rows, and bucket-less queries return
    none (approximate by design; raise ``bands`` or lower ``planes`` for
    recall).

    Scale shape: the band join moves BARE ID PAIRS (band keys + ids, never
    vectors); vectors and norms join back once per DISTINCT pair — the
    same lean-candidate discipline as the incremental MinHash path.  The
    shuffle budget is one exchange on the band key + one on the pair, both
    O(collisions), plus the top-k window on q_id (WindowGroupLimit heap).
    ``bucket_cap`` bounds a hot corpus bucket (identical-vector floods) to
    its cap lowest-id rows (:func:`engine.extended.dedup.cap_per_key`,
    the one cap contract of the dedup family; ``None`` is uncapped).

    Same caveat as :func:`knn_join`: the aligned ``exclude_self=True``
    default is correct ONLY when queries share the corpus's id space
    (self-kNN).  Joining two DISJOINT tables whose ids coincide by
    accident silently loses legitimate equal-id neighbors — pass
    ``exclude_self=False`` there (advice r10; the knn_join test pins the
    broadcast-path caveat).
    """
    from engine.extended.dedup import band_rows, cap_per_key, sign_band_structs

    hp = _unit_hyperplanes(dim, planes)

    def banded_ids(df: DataFrame, prefix: str) -> DataFrame:
        return band_rows(
            df, sign_band_structs(vec_col, hp, bands), F.col(id_col).alias(f"{prefix}_id")
        )

    qb = banded_ids(queries, "q")
    cb = cap_per_key(banded_ids(corpus, "c"), ["band", "bkey"], "c_id", bucket_cap)
    cand = qb.join(cb, ["band", "bkey"]).select("q_id", "c_id")
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("c_id"))
    cand = cand.dropDuplicates(["q_id", "c_id"])

    pairs = (
        cand.join(_norm_side(queries, "q", id_col, vec_col), "q_id")
        .join(_norm_side(corpus, "c", id_col, vec_col), "c_id")
        .select("q_id", "c_id", _pair_sim_expr(round_to).alias("sim"))
    )
    return _topk_per_query(pairs, k)


# ---------------------------------------------------------------------------
# Scalar quantization: int8 storage codes for embedding columns
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    code_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``scale = max|x|/127``,
    ``code = round(x/scale)`` ∈ [-127, 127] — 4× smaller vector storage at
    <0.5%% cosine error for unit-scale embeddings, the standard first rung of
    the vector-storage ladder (before PQ/OPQ).

    Pure per-row expressions (no shuffle, no UDF); zero vectors get
    ``scale = 0`` and all-zero codes, and dequantize restores exact zeros.
    Round-half-away-from-zero matches every engine that computes the same
    doubles, so codes are EXACTLY reproducible — the oracle compares the int
    arrays bit-for-bit.

    The scale is projected behind an alias BEFORE the codes transform and
    referenced as ``F.col(scale_col)`` inside the lambda: HOF lambdas get no
    common-subexpression elimination, so inlining the O(d) ``array_max``
    expression there would re-evaluate it per element — O(d²) per vector
    (the measured-12× trap documented in engine/extended/text.py).
    """
    # + 0.0 folds IEEE -0.0 into +0.0: engines disagree on ABS(-0.0) (a
    # conditional-negate ABS leaves it signed), and a -0.0 scale breaks the
    # cross-engine value hash (same fix as centroids/matryoshka; fuzz-found
    # on all-±0.0 vectors).
    amax = (
        F.array_max(F.transform(vec_col, lambda x: F.abs(x.cast("double"))))
        + F.lit(0.0)
    )
    scaled = df.withColumn(scale_col, amax / F.lit(127.0))
    # TINYINT codes (review catch r9): values are guaranteed in
    # [-127, 127], and an int32 array made the advertised 4x in-memory
    # reduction parquet-only — byte realizes it in executor memory and
    # shuffles too
    codes = F.when(
        F.col(scale_col) > 0,
        F.transform(
            vec_col,
            lambda x: F.round(x.cast("double") / F.col(scale_col))
            .cast("byte"),
        ),
    ).otherwise(F.transform(vec_col, lambda x: F.lit(0).cast("byte")))
    return scaled.withColumn(code_col, codes)


def dequantize_int8(
    df: DataFrame,
    *,
    code_col: str = "qvec",
    scale_col: str = "qscale",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: ``x ≈ code * scale`` (double)."""
    return df.withColumn(
        out_col,
        F.transform(code_col, lambda c: c.cast("double") * F.col(scale_col)),
    )


def matryoshka_truncate(
    df: DataFrame,
    dims: int,
    *,
    vec_col: str = "embedding",
    out_col: str = "mrl_vec",
    renormalize: bool = True,
    round_to: int | None = None,
) -> DataFrame:
    """Matryoshka-style dimensionality truncation: keep the first ``dims``
    components and (optionally) L2-renormalize — the storage/recall tier
    below full vectors (MRL embeddings are trained so prefixes stay
    meaningful; truncation is then a free 4-16x index shrink).

    Pure per-row expressions, zero shuffle.  The norm is projected behind an
    alias BEFORE the rescale transform (HOF lambdas get no CSE — the same
    O(d^2) trap quantize_int8 documents).  Zero-prefix vectors keep zeros.
    ``round_to`` rounds components for oracle-exact comparison.
    """
    head = F.transform(
        F.slice(F.col(vec_col), 1, dims), lambda x: x.cast("double")
    )
    out = df.withColumn("__mrl_head", head)
    if renormalize:
        nrm = F.sqrt(
            F.aggregate(
                F.transform("__mrl_head", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        out = out.withColumn("__mrl_nrm", nrm)
        scaled = F.when(
            F.col("__mrl_nrm") > 0,
            F.transform("__mrl_head", lambda x: x / F.col("__mrl_nrm")),
        ).otherwise(F.col("__mrl_head"))
    else:
        scaled = F.col("__mrl_head")
    if round_to is not None:
        # + 0.0 canonicalizes IEEE negative zero (repr divergence breaks
        # value hashes — see centroids_by); identity for every other value
        scaled = F.transform(scaled, lambda x: F.round(x, round_to) + F.lit(0.0))
    return out.withColumn(out_col, scaled).drop("__mrl_head", "__mrl_nrm")


def jl_project(
    df: DataFrame,
    out_dim: int,
    *,
    vec_col: str = "embedding",
    out_col: str = "jl_vec",
    dim: int = 64,
    round_to: int | None = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: multiply every vector by a
    fixed ``out_dim × dim`` matrix of deterministic pseudo-random entries
    (the splitmix hyperplane family shared with the sign-LSH ops) scaled by
    ``sqrt(3 / out_dim)`` so uniform[-1,1) entries (variance 1/3) preserve
    expected norms — the DATA-INDEPENDENT reduction tier: unlike
    matryoshka_truncate it needs no trained embedding structure, and
    unlike PQ it needs no codebooks, so it applies to any vector column
    on first contact.

    Pure per-row expressions (``out_dim`` fixed-order dot folds), zero
    shuffle; NULL vectors project to NULL.  ``round_to`` rounds components
    (+0.0 canonicalizes IEEE negative zero) for oracle-exact comparison.
    """
    if out_dim < 1 or out_dim > dim:
        raise ValueError(f"out_dim must be in [1, {dim}], got {out_dim}")
    from engine.extended.dedup import dot_sql

    planes = _unit_hyperplanes(dim, out_dim)
    scale = (3.0 / out_dim) ** 0.5
    # one F.expr string, not out_dim × _dot Column trees (py4j round-trip
    # cost — see sign_band_structs r10); round/+0.0 reproduce the F.round
    # + F.lit(0.0) semantics exactly (HALF_UP, -0.0 canonicalized)
    comps = []
    for p in planes:
        c = f"({dot_sql(vec_col, p)} * {scale!r}D)"
        if round_to is not None:
            c = f"(round({c}, {round_to}) + 0.0D)"
        comps.append(c)
    arr = F.expr("array(" + ", ".join(comps) + ")")
    return df.withColumn(
        out_col, F.when(F.col(vec_col).isNotNull(), arr)
    )


def _block_ok(v: Column, dims: list[int]) -> Column:
    """Row eligibility for a dimension block: non-NULL vector, long enough,
    every block component non-NULL — ONE definition shared by the
    covariance pass and the whitening projection so the 'excluded rows get
    NULL output' contract cannot drift between them."""
    ok = v.isNotNull() & (F.size(v) >= max(dims) + 1)
    for i in dims:
        ok = ok & v[i].isNotNull()
    return ok


def embedding_covariance_block(
    df: DataFrame,
    dims: list[int],
    *,
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """EXACT covariance matrix of a dimension block → ``(i, j, n,
    cov_micro)`` rows (upper triangle i ≤ j), covariance in micro-units of
    the original scale as BIGINT-safe integers.

    Components quantize to ``FLOOR(x·quant + 0.5)`` integers, so the
    cross-moment sums are EXACT BIGINTs that merge across any partitioning
    (the moments_shard_merge discipline applied to second moments); the
    covariance assembles in double space from those exact components
    (``Σqq/n − (Σq_i/n)(Σq_j/n)`` — identical operand order in any engine)
    because the integer numerator ``n·Σqq − Σq_iΣq_j`` would overflow
    2^63 at corpus scale.

    Scale shape: ONE aggregate over the corpus carrying |dims|(|dims|+3)/2
    sum expressions — no per-pair explode (which would blow the row count
    up |dims|² times), no self-join, full map-side partial combine; the
    pair table unpivots from the single result row.  Rows missing any
    block component (NULL vector, short vector, NULL component) are
    excluded entirely so every pair sees the same row set.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    v = F.col(vec_col)
    base = df.filter(_block_ok(v, dims))
    qd = {i: F.floor(v[i].cast("double") * quant + F.lit(0.5)).cast("long") for i in dims}
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(qd[i]).alias(f"s{i}") for i in dims]
    pairs = [(i, j) for a, i in enumerate(dims) for j in dims[a:]]
    aggs += [F.sum(qd[i] * qd[j]).alias(f"p{i}_{j}") for i, j in pairs]
    row = base.agg(*aggs)
    nD = F.col("n").cast("double")
    cells = [
        F.struct(
            F.lit(i).alias("i"),
            F.lit(j).alias("j"),
            F.col("n").alias("n"),
            F.floor(
                (
                    F.col(f"p{i}_{j}").cast("double") / nD
                    - (F.col(f"s{i}").cast("double") / nD)
                    * (F.col(f"s{j}").cast("double") / nD)
                )
                + F.lit(0.5)
            ).cast("long").alias("cov_micro"),
        )
        for i, j in pairs
    ]
    return row.select(F.explode(F.array(*cells)).alias("c")).select(
        "c.i", "c.j", "c.n", "c.cov_micro"
    )


def pca_whiten(
    df: DataFrame,
    dims: list[int],
    *,
    vec_col: str = "embedding",
    out_col: str = "whitened",
    eps: float = 1e-6,
    quant: int = 1000,
) -> DataFrame:
    """PCA-whiten a dimension block: project onto the covariance
    eigenbasis and rescale each direction to unit variance — the
    decorrelation step before cosine-based dedup/retrieval when raw
    embedding dimensions are correlated (anisotropy flattens cosine
    contrast).

    The |dims|×|dims| covariance comes from ONE corpus pass
    (:func:`embedding_covariance_block`) and is DRIVER-sized by
    construction (the bounded-collect family: k-means centroids, Bloom
    bits); ``numpy.linalg.eigh`` runs on the driver and the whitening
    matrix returns to the plan as broadcast literals — the projection is a
    pure JVM expression, no Python in the row path.  Rows the covariance
    pass excluded (short/NULL-component vectors) get a NULL ``out_col``.

    The projection is MEAN-SUBTRACTED — ``W·(x − μ)`` (review catch r9:
    applying W to raw x left the constant ``W·μ`` term in every output, so
    the shared-direction dominance whitening exists to remove survived
    whenever the block had a common offset).  μ comes from the same
    eligible rows as the covariance; a block with NO eligible rows raises
    (the degenerate input previously crashed with an opaque TypeError).
    """
    import numpy as np

    cov_rows = embedding_covariance_block(
        df, dims, vec_col=vec_col, quant=quant
    ).collect()
    k = len(dims)
    pos = {d: a for a, d in enumerate(dims)}
    if not cov_rows or any(r["cov_micro"] is None for r in cov_rows):
        raise ValueError(
            "pca_whiten: no eligible vectors in the dimension block"
            " (every row NULL, short, or NULL-component)"
        )
    C = np.zeros((k, k))
    for r in cov_rows:
        a, b = pos[r["i"]], pos[r["j"]]
        # cov_micro is in units of quant² (review catch: a hard-coded 1e6
        # here mis-scaled the eigenbasis for any quant != 1000)
        C[a, b] = C[b, a] = r["cov_micro"] / float(quant * quant)
    v = F.col(vec_col)
    # the SAME eligibility predicate the covariance pass used (shared
    # helper — review catch: two hand-synced copies would let the NULL-out
    # contract drift)
    ok = _block_ok(v, dims)
    mu_row = df.filter(ok).agg(
        *[F.avg(v[d].cast("double")).alias(f"m{a}") for a, d in enumerate(dims)]
    ).collect()[0]
    mu = [float(mu_row[f"m{a}"]) for a in range(k)]
    w, V = np.linalg.eigh(C)
    W = V @ np.diag(1.0 / np.sqrt(np.maximum(w, 0.0) + eps)) @ V.T  # ZCA
    shift = [float(sum(W[a, b] * mu[b] for b in range(k))) for a in range(k)]
    comps = [
        sum(
            (v[dims[b]].cast("double") * float(W[a, b]) for b in range(1, k)),
            v[dims[0]].cast("double") * float(W[a, 0]),
        )
        - F.lit(shift[a])
        for a in range(k)
    ]
    return df.withColumn(
        out_col, F.when(ok, F.array(*comps)).otherwise(F.lit(None))
    )


def ivf_add_batch(
    vectors: DataFrame,
    cents: list[list[float]],
    *,
    vec_col: str = "embedding",
    quant: float = 1_000_000.0,
) -> DataFrame:
    """Incremental IVF maintenance — assign a NEW batch of vectors against
    an EXISTING coarse quantizer (the FAISS ``add()`` contract: train once
    on the base corpus, add batches forever).  One pure-expression pass
    over the batch only: no retraining, no rescan of the indexed base, no
    shuffle — at 100 TB the nightly ingest assigns its own rows and
    appends them to the list-partitioned index layout.

    Assignment is :func:`ivf_build_seeded`'s own ``_seeded_argmin`` against
    the fixed centroid literals, so a batch row lands in EXACTLY the list
    a full rebuild with the same centroids would give it — the parity the
    ``ivf_index_incremental`` registry query hash-checks end to end.
    """
    pts = vectors.filter(F.col(vec_col).isNotNull()).select(
        *vectors.columns, quantized_vec(vec_col, quant).alias("__q")
    )
    return pts.withColumn("ivf_list", _seeded_argmin(cents)).drop("__q")
