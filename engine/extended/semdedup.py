"""SemDeDup-style semantic deduplication over embedding columns (north-star).

Pipeline shape from the public SemDeDup paper (Abbas et al. 2023,
arXiv:2303.09540): partition the embedding space into clusters (here the
precomputed ``label`` column, or an IVF/k-means assignment from
:func:`engine.extended.similarity.ivf_build`), compare pairs ONLY within a
cluster, and drop all but one member of each semantic-duplicate set.

Scale shape — the reason this survives 100 TB where naive all-pairs cannot:

- The self-join key is the cluster id, so the pair explosion is
  O(sum of cluster_size**2), not O(n**2); with k ~ sqrt(n) balanced clusters
  that is ~O(n**1.5) work spread across the cluster key.  One mega-cluster is
  the failure mode to watch — ``cluster_cap`` bounds it operator-side (the
  cap's lowest-id rows pair, overflow rows are kept un-compared); re-cluster
  with a larger k when capped coverage isn't acceptable.
- Row norms are projected ONCE per row before the self-join, so each pair
  costs a single dot product (one ``zip_with``/``aggregate`` pass) instead of
  three array passes — the same project-behind-an-alias discipline the text
  ops use for tokens.
- The keeper rule ("drop the higher id of any qualifying pair") is a pure
  distinct + left_anti — deterministic across runs, row orders, and partition
  counts, no iterative connected components needed (transitive chains all
  collapse onto their minimum-id representative's set).

Reference parity note: the reference pipeline has no embedding operators —
this module is part of the north-star LLM-corpus surface
(``/root/repo/BASELINE.json``), a sibling of
:mod:`engine.extended.dedup`'s MinHash/SimHash text paths.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.extended.dedup import cap_per_key

__all__ = [
    "centroids_by",
    "pairwise_sims",
    "semdedup_pairs",
    "semdedup",
    "cross_pairs",
    "semdedup_incremental",
]


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


#: truncation probe guard: the cluster_cap default changed from None
#: (exact) to 500 in r5, silently switching unconfigured callers from
#: exact pair generation to capped.  Every capped call pays one bounded
#: aggregate (groupBy cluster → count, cluster-cardinality groups) UNTIL a
#: truncation is actually observed and warned — only then is the guard
#: consumed, so a first un-truncated call cannot silence the warning for a
#: later call that IS truncating (advice-review items, r6 + r7).  Once a
#: truncation has warned, steady-state calls pay nothing.
_CAP_PROBED = False


def _apply_cluster_cap(
    df: DataFrame, cluster_col: str, id_col: str, cluster_cap: int
) -> DataFrame:
    """Keep each cluster's ``cluster_cap`` lowest-id rows
    (:func:`engine.extended.dedup.cap_per_key`); warn once per process when
    the cap is actually truncating (see ``_CAP_PROBED``)."""
    global _CAP_PROBED
    capped = cap_per_key(df, [cluster_col], id_col, cluster_cap)
    if not _CAP_PROBED:
        n_trunc = (
            df.groupBy(cluster_col)
            .count()
            .filter(F.col("count") > cluster_cap)
            .count()
        )
        if n_trunc:
            # Consume the guard only once a truncation is actually
            # OBSERVED: a first capped call with no oversized clusters must
            # not silence the warning for a later call that IS truncating
            # (advice-review catch).
            _CAP_PROBED = True
            import warnings

            warnings.warn(
                f"cluster_cap={cluster_cap} is truncating {n_trunc} cluster(s):"
                " overflow rows emit no pairs (they are all kept by the"
                " downstream anti-join). Pass cluster_cap=None for exact pair"
                " generation, or re-cluster with a larger k."
                " This warning probes once per process.",
                stacklevel=3,
            )
    return capped


def _check_probe_cap(probe_parallelism: int | None, cluster_cap: int | None) -> None:
    """``probe_parallelism`` broadcasts the pair join's build side, which
    uncapped is the whole corpus: refuse the combination at entry, before
    any cap is validated or plan built."""
    if probe_parallelism and not cluster_cap:
        raise ValueError(
            f"probe_parallelism={probe_parallelism} needs a cluster_cap: it"
            " broadcasts the pair join's build side, which with"
            f" cluster_cap={cluster_cap!r} is the whole corpus"
        )


def centroids_by(
    df: DataFrame,
    *,
    cluster_col: str = "label",
    vec_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Per-cluster mean embedding as ``(cluster, pos, centroid)`` rows.

    ``posexplode`` + groupBy(cluster, pos): the explode is map-local and the
    aggregate collapses map-side, so the shuffle carries one partial per
    (task, cluster, dim) — O(clusters * dim), independent of row count.
    ``pos`` is 1-based (matches SQL ``generate_subscripts``).
    """
    exploded = df.select(
        F.col(cluster_col),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select(
        cluster_col,
        (F.col("pos") + 1).alias("pos"),
        F.col("val").cast("double").alias("val"),
    )
    mean = F.avg("val")
    if round_to is not None:
        # + 0.0 canonicalizes IEEE negative zero: ROUND(-0.00004, 4) is -0.0,
        # whose string form diverges between engines/frames ('-0.0' vs '0.0')
        # and breaks value hashes — adding positive zero maps -0.0 -> 0.0 and
        # is the identity elsewhere.  Mirrored in the SQL oracle.
        mean = F.round(mean, round_to) + F.lit(0.0)
    return exploded.groupBy(cluster_col, "pos").agg(mean.alias("centroid"))


def pairwise_sims(
    df: DataFrame,
    *,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    probe_parallelism: int | None = None,
    cluster_cap: int | None = 500,
) -> DataFrame:
    """All within-cluster pairs (a_id < b_id) with exact cosine similarity.

    Norms are computed in the pre-join projection (once per row); the join
    itself evaluates only the pair dot product.  Zero vectors yield NULL
    similarity (never a division error), matching
    :func:`engine.extended.dedup.cosine`.

    ``probe_parallelism``: the pair stage costs O(sum cluster_size**2) dot
    products — far more than the scan that feeds it — yet it inherits the
    cap window's hash-partitioning on ``cluster_col``: with fewer (or
    hotter) clusters than cores, the quadratic stage runs on that many
    tasks no matter how wide the cluster is.  When set, the PROBE side is
    re-spread by ``id_col`` hash (deterministic key, see guide on
    rand-derived keys) into ``probe_parallelism`` partitions AFTER the cap
    window, so the dot-product stage uses every core; the build side stays
    cluster-partitioned and broadcasts.  (The r11-opt A/B moved this
    exchange from the INPUT — where the cap window immediately
    re-partitioned it away, pure waste — to the probe side: 2.4 → 0.65 s
    uniform, 8.5 → 0.85 s on the hot-cluster skew fixture at sf0.1.)
    Leave None at corpus scale, where cluster count ≫ cores spreads the
    join naturally and the extra exchange of the capped corpus would be
    pure cost.  It requires ``cluster_cap``: uncapped, the forced broadcast
    would be corpus-sized, so that combination raises ``ValueError``.

    ``cluster_cap`` bounds the mega-cluster failure mode (one skewed cluster
    turning the whole job into a single O(size²) bucket): only the
    ``cluster_cap`` lowest-id rows of each cluster enter the pair join, so
    the worst cluster costs O(cap²) dot products and O(size log size) for
    the row_number pre-pass — the :func:`engine.extended.dedup.cap_per_key`
    contract (``cluster_cap < 1`` raises).  Overflow rows emit no
    pairs (they are all KEPT by the downstream anti-join); re-cluster with a
    larger k when that matters.  The DEFAULT is 500 (mirroring
    ``bucket_cap``) so an unconfigured caller at corpus scale is bounded
    without doing anything; pass ``None`` explicitly for uncapped, exact
    pair generation.
    """
    _check_probe_cap(probe_parallelism, cluster_cap)
    if cluster_cap is not None:
        df = _apply_cluster_cap(df, cluster_col, id_col, cluster_cap)
    v = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    )
    a = v.select(
        F.col("__c"),
        F.col("__id").alias("a_id"),
        F.col("__v").alias("__av"),
        F.col("__n").alias("__an"),
    )
    if probe_parallelism:
        a = a.repartition(probe_parallelism, F.col("a_id"))
    b = v.select(
        F.col("__c"),
        F.col("__id").alias("b_id"),
        F.col("__v").alias("__bv"),
        F.col("__n").alias("__bn"),
    )
    if probe_parallelism:
        # the id-hash spread above only survives to the dot-product stage
        # if the build side BROADCASTS (the join key is __c, not a_id): a
        # planner that picks a shuffle join would re-exchange `a` by __c
        # and silently negate the knob (advice r11).  The knob's contract
        # is "few clusters, each capped" — exactly the broadcastable case —
        # so force it rather than depend on the 10 MB size estimate.
        b = F.broadcast(b)
    dot = F.aggregate(
        F.zip_with("__av", "__bv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("__an") * F.col("__bn")
    sim = F.when(denom > 0, F.round(dot / denom, round_to))
    return (
        a.join(b, "__c")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(F.col("__c").alias(cluster_col), "a_id", "b_id", sim.alias("sim"))
    )


def semdedup_pairs(
    df: DataFrame,
    *,
    threshold: float,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    probe_parallelism: int | None = None,
    cluster_cap: int | None = 500,
) -> DataFrame:
    """Within-cluster semantic-duplicate pairs: cosine >= ``threshold``.

    The threshold is applied to the ROUNDED similarity so the decision is
    identical in any engine that reproduces the arithmetic (oracle parity).
    Catalyst pushes the threshold into the join condition, so non-qualifying
    pairs die before materialization.
    """
    return pairwise_sims(
        df,
        cluster_col=cluster_col,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        probe_parallelism=probe_parallelism,
        cluster_cap=cluster_cap,
    ).filter(F.col("sim") >= threshold)


def semdedup(
    df: DataFrame,
    *,
    threshold: float,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_drops: bool | None = None,
    cluster_cap: int | None = 500,
    probe_parallelism: int | None = None,
) -> DataFrame:
    """Semantic dedup: drop every row that has a qualifying near-twin with a
    smaller id; keep everything else.

    ``probe_parallelism`` is forwarded to :func:`pairwise_sims` (spread the
    quadratic pair stage when clusters are fewer/hotter than cores).

    Deterministic keeper rule — each duplicate pair contributes its higher id
    to the drop set, so the minimum-id member of any duplicate set always
    survives.  Shape: pairs -> distinct drop ids -> left_anti.

    ``broadcast_drops`` controls the anti-join strategy.  ``True`` forces a
    broadcast (cheap when duplicates are rare); ``False`` forces a shuffled
    anti-join (safe when the corpus is duplicate-heavy — exactly the corpora
    SemDeDup targets, where the drop set is corpus-scale and a forced
    broadcast would OOM the driver).  ``None`` (default) leaves the choice to
    Catalyst/AQE via autoBroadcastJoinThreshold, which sees the actual drop
    set size at runtime.
    """
    drops = (
        semdedup_pairs(
            df,
            threshold=threshold,
            cluster_col=cluster_col,
            id_col=id_col,
            vec_col=vec_col,
            cluster_cap=cluster_cap,
            probe_parallelism=probe_parallelism,
        )
        .select(F.col("b_id").alias(id_col))
        .distinct()
    )
    if broadcast_drops is True:
        drops = F.broadcast(drops)
    elif broadcast_drops is False:
        drops = drops.hint("shuffle_hash")
    return df.join(drops, id_col, "left_anti")


def cross_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    cluster_cap: int | None = 500,
    probe_parallelism: int | None = None,
) -> DataFrame:
    """Within-cluster (batch × corpus) pairs with exact cosine — the probe
    step of incremental semantic dedup.  Same norm-once discipline as
    :func:`pairwise_sims`; no ordering constraint (the sides are disjoint
    sets by construction).  Returns (cluster, a_id=batch, b_id=corpus, sim).

    ``cluster_cap`` bounds the CORPUS side per cluster (lowest-id rows),
    exactly like the within-cluster cap in :func:`pairwise_sims` — a hot
    corpus cluster would otherwise make the probe O(batch_in_cluster ×
    cluster_size) in one bucket.  The batch side is run-bounded by
    construction and stays uncapped.

    ``probe_parallelism``: same knob and rationale as
    :func:`pairwise_sims` — the probe join inherits cluster-key
    partitioning, so with few/hot clusters the O(batch × cap) dot-product
    stage runs on that many tasks; when set, the BATCH side is re-spread
    by ``id_col`` hash after projection so the scoring stage uses every
    core.  Leave None at corpus scale (cluster count ≫ cores).
    """
    if cluster_cap is not None:
        corpus = _apply_cluster_cap(corpus, cluster_col, id_col, cluster_cap)

    def side(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(cluster_col).alias("__c"),
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"__{prefix}v"),
            _norm(F.col(vec_col)).alias(f"__{prefix}n"),
        )

    a, b = side(batch, "a"), side(corpus, "b")
    if probe_parallelism:
        a = a.repartition(probe_parallelism, F.col("a_id"))
    dot = F.aggregate(
        F.zip_with("__av", "__bv", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    denom = F.col("__an") * F.col("__bn")
    sim = F.when(denom > 0, F.round(dot / denom, round_to))
    return a.join(b, "__c").select(
        F.col("__c").alias(cluster_col), "a_id", "b_id", sim.alias("sim")
    )


def semdedup_incremental(
    batch: DataFrame,
    corpus: DataFrame,
    *,
    threshold: float,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int | None = 500,
    probe_parallelism: int | None = None,
) -> DataFrame:
    """Incremental semantic dedup: accept only batch rows that are novel
    against the ALREADY-ACCEPTED corpus and within the batch itself.

    ``probe_parallelism`` is forwarded to both stages (see
    :func:`pairwise_sims`): it spreads the dot-product stages when
    clusters are fewer/hotter than cores.

    Two stages, both cluster-confined: (1) anti-join away batch rows with a
    qualifying corpus twin — the corpus never re-pairs with itself, so
    ingesting N batches costs O(batch × corpus-per-cluster) per batch, not a
    full-corpus re-dedup (the same persisted-index shape as the incremental
    MinHash path, engine.extended.dedup); (2) :func:`semdedup` the survivors.
    Accepted rows are the caller's corpus-append set.
    """
    _check_probe_cap(probe_parallelism, cluster_cap)
    dup_vs_corpus = (
        cross_pairs(
            batch,
            corpus,
            cluster_col=cluster_col,
            id_col=id_col,
            vec_col=vec_col,
            cluster_cap=cluster_cap,
            probe_parallelism=probe_parallelism,
        )
        .filter(F.col("sim") >= threshold)
        .select(F.col("a_id").alias(id_col))
        .distinct()
    )
    fresh = batch.join(F.broadcast(dup_vs_corpus), id_col, "left_anti")
    return semdedup(
        fresh,
        threshold=threshold,
        cluster_col=cluster_col,
        id_col=id_col,
        vec_col=vec_col,
        cluster_cap=cluster_cap,
        probe_parallelism=probe_parallelism,
    )
