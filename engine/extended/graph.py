"""Graph analytics over edge tables — the link-graph layer of a corpus
pipeline (crawl-frontier prioritization, domain authority for quality
weighting), alongside the connected-components family in
engine/extended/dedup.py.

The operators here are ITERATIVE with a fixed round count, like the seeded
k-means in similarity.py: every round is plain integer arithmetic, so the
whole chain is order-independent under shuffle, bit-identical across
engines, and SQL-oracle-checkable with unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "pagerank",
    "triangle_counts",
    "clustering_coefficients",
    "label_propagation",
]


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division of non-negative longs in pure Column algebra,
    valid for dividends below 2^53 (the documented pagerank bound):
    ``a - pmod(a, b)`` stays in LONG arithmetic, is an exact multiple of
    ``b``, and both it and the integer quotient are exactly representable
    doubles — so the division is exact and the cast truncates an exact
    integer value, with no rounding boundary case anywhere in the chain
    (a naive ``floor(a / b)`` instead floors a correctly-rounded
    NON-integer quotient, whose exactness argument fails right at the
    2^53 edge)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    unit: int = 1_000_000,
    materialize: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank in integer micro-units: every node starts at
    ``unit``; each round a node sends ``rank div outdeg`` to each successor
    and collects ``unit·(100-damping_pct)/100 + (damping_pct · Σ inbound)
    div 100``.

    All arithmetic is integer (floor divisions, integer sums) — unlike
    float PageRank, the result is independent of shuffle order and
    bit-identical in any engine, at the cost of rounding mass down a few
    micro-units per hop.  Dangling nodes (no out-edges) absorb mass, the
    standard simple variant.  Exactness needs
    ``unit · n_nodes · damping_pct < 2^53`` (~10^8 nodes at the default
    unit — shrink ``unit`` beyond that).

    Returns (node, rank) — rank in micro-units, bigint.

    Scale shape: each round is one src-keyed join (edges ⋈ ranks ⋈ outdeg —
    co-partitioned on the same key, one exchange per side that AQE reuses)
    and one dst-keyed aggregate with map-side partial sums.
    ``materialize=True`` (default) persists and forces each ROUND's rank
    frame — the only way an iterative frame survives at scale (an unbroken
    3-round lineage re-reads the edge table 3^depth times on failure
    recovery); the final frame stays persisted for the caller to
    unpersist, same contract as bpe_train.  Measured at sf0.1 on
    local[32]: lazy is FASTER warm (2.2 s vs 6.0 s — AQE reuses exchanges
    inside the one plan, and per-round counts are three extra barrier
    jobs), so ``materialize=False`` is the right call for single-process
    runs and the registry query; the default optimizes for cluster fault
    tolerance, not local wall time.

    **Static-frame lifetime (advice r11):** independent of ``materialize``,
    the three STATIC frames (edges / nodes / outdeg) are pinned under the
    module-shared bounded LRU ledger (:func:`engine.cache.ledger_persist`,
    cap ``_LEDGER_CAP`` = 6) and are NOT released when
    this function returns — the lazy caller's returned frame still
    references them, and a repeat invocation over the same corpus reuses
    them.  They live until LRU eviction or
    :func:`engine.cache.ledger_clear`.  A composed query whose
    simultaneous ledger working set exceeds the cap evicts-and-recomputes
    mid-query (lineage-safe, silently slower); this function pins 3
    entries, so compose with at most one other 3-entry ledger user at a
    time.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 1 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [1, 100], got {damping_pct}")
    if unit < 1:
        raise ValueError(f"unit must be >= 1, got {unit}")
    from engine.cache import ledger_persist

    # The three STATIC frames are referenced once per round (plus the seed),
    # and the lazy lineage re-expands an unpersisted subtree at every
    # reference — the r11-opt final-plan audit showed 40 parquet scans and
    # zero ReusedExchange for a 3-round run over a joined edge list.  The
    # bounded ledger (see engine.cache.ledger_persist) pins them
    # in BOTH modes: lazy mode now evaluates the edge construction once
    # (5.9 → ~1.3 s at sf0.1), and the session leak stays LRU-bounded
    # instead of requiring the old all-or-nothing materialize choice.
    # Co-partition the cached edge table with the per-round contribution
    # join (guide §2.4: operations keyed the same way share one exchange):
    # without the repartition every round re-exchanged + re-sorted the
    # EDGE-sized side to join node-sized per_src (2 SortMergeJoins/round in
    # the r11 final-plan audit).  One hash(src) exchange at build time is
    # amortized over all rounds — the cached partitioning satisfies the
    # join's distribution requirement, so rounds touch only node-sized
    # exchanges plus the inherent dst-keyed aggregate.
    e = ledger_persist(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .repartition("src")
    )
    nodes = ledger_persist(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    od = ledger_persist(e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    base = unit * (100 - damping_pct) // 100
    ranks = nodes.select("node", F.lit(int(unit)).cast("long").alias("rank"))
    prev = None
    for _ in range(iters):
        # rank div outdeg is a NODE-sized computation: join ranks to outdeg
        # first (both node-cardinality) and hit the EDGE table exactly once
        # per round.  The naive e ⋈ ranks ⋈ od shape drags edge-sized rows
        # through two joins — at 100 TB the edge table is the big side, so
        # halving its join passes halves the round's dominant cost
        # (measured: pagerank_topk 9.1 → see SCALE.md r5 appendix).
        # shuffle_hash (guide §3.1): the build side is NODE-cardinality per
        # partition (bounded wherever the shuffle partition count scales
        # with the graph), and hashing it skips the per-round SORT of the
        # edge-sized probe side that sort-merge would force; with the
        # co-partitioned edge cache above, the edge table crosses no
        # exchange at all inside the loop.  AQE still upgrades to broadcast
        # when the rank frame is small enough locally.
        per_src = ranks.withColumnRenamed("node", "src").join(od, "src").select(
            "src", _idiv(F.col("rank"), F.col("outdeg")).alias("c")
        ).hint("shuffle_hash")
        contribs = e.join(per_src, "src").select(F.col("dst").alias("node"), "c")
        s = contribs.groupBy("node").agg(F.sum("c").alias("s"))
        new = nodes.join(s, "node", "left").select(
            "node",
            (
                F.lit(int(base))
                + _idiv(
                    F.lit(int(damping_pct))
                    * F.coalesce(F.col("s"), F.lit(0).cast("long")),
                    F.lit(100),
                )
            ).alias("rank"),
        )
        if materialize:
            new = new.persist()
            new.count()
            if prev is not None:
                prev.unpersist()
            prev = new
        ranks = new
    # statics stay under the ledger's LRU bound (lazy callers' returned
    # frame still references them; eager unpersist would silently restore
    # the per-round re-expansion)
    return ranks


def _canonical_and_degrees(edges, src_col, dst_col):
    """Canonical undirected edge list (self-loops/NULLs dropped, (u, v)
    ordered, distinct) and the node degree table — the shared front end
    of triangle_counts and clustering_coefficients (one copy, review
    finding)."""
    from engine.cache import ledger_persist

    u, v = F.col(src_col), F.col(dst_col)
    # Both frames ride the bounded ledger (r11 opt): triangle_counts
    # references deg twice and the canonical e feeds deg plus the oriented
    # edge build, and clustering_coefficients calls this helper AND
    # triangle_counts — the semanticHash key makes both calls share ONE
    # cached copy instead of re-expanding the distinct/degree subtree per
    # reference (17 parquet scans in the pre-fix clustering plan).
    e = ledger_persist(
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
    )
    deg = ledger_persist(
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return e, deg


def triangle_counts(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph (clustering /
    community-density signal).  Input edges may be duplicated, reversed,
    or self-looped — they are canonicalized first.

    Algorithm (Suri & Vassilvitskii's degree-ordered orientation): each
    undirected edge is directed from its lower-(degree, id) endpoint to the
    higher, which bounds every out-neighborhood by O(sqrt(m)); each
    triangle {a,b,c} with a < b < c in that total order is found EXACTLY
    once as the wedge (a->b, a->c) closed by the directed edge b->c.  The
    naive wedge join without orientation explodes on hub nodes (a degree-d
    hub contributes d^2 wedges); ordering by degree is what makes the
    count feasible on a power-law 100 TB graph.

    All-integer, join-order-independent — bit-identical across engines.
    Returns (node, n_triangles); nodes in no triangle are absent.

    Scale shape: one distinct over canonical edges, one degree aggregate,
    the wedge self-join keyed on the wedge apex, and the closure join
    keyed on the (v, w) edge pair — all shuffle-partitioned by their keys;
    nothing is ever per-node quadratic in raw degree.
    """
    e, deg = _canonical_and_degrees(edges, src_col, dst_col)
    with_deg = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = F.struct("du", "u") < F.struct("dv", "v")
    de = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
    )
    # referenced three times (both wedge sides + the closure probe) — pin
    # once under the ledger instead of evaluating the orientation join per
    # reference (r11 opt)
    from engine.cache import ledger_persist

    de = ledger_persist(de)
    e1, e2 = de.alias("e1"), de.alias("e2")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            F.struct(F.col("e1.ddeg"), F.col("e1.dst"))
            < F.struct(F.col("e2.ddeg"), F.col("e2.dst"))
        ),
    ).select(
        F.col("e1.src").alias("a"),
        F.col("e1.dst").alias("b"),
        F.col("e2.dst").alias("c"),
    )
    tri = wedges.join(
        de.select(F.col("src").alias("b"), F.col("dst").alias("c")),
        ["b", "c"],
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def clustering_coefficients(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    round_to: int = 4,
) -> DataFrame:
    """Local clustering coefficient per node: 2·T(v) / (d(v)·(d(v)−1)) —
    how close each node's neighborhood is to a clique (the
    community-cohesion signal on top of raw triangle counts).  Nodes with
    degree < 2 are excluded (the coefficient is undefined).

    Both inputs are exact integers from :func:`triangle_counts` and the
    canonical degree aggregate, so the only float step is one final
    rounded division — engine-identical.  Returns (node, degree,
    n_triangles, coefficient).
    """
    _e, deg0 = _canonical_and_degrees(edges, src_col, dst_col)
    deg = deg0.select("node", F.col("d").alias("degree"))
    tri = triangle_counts(edges, src_col=src_col, dst_col=dst_col)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                round_to,
            ).alias("coefficient"),
        )
    )


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Synchronous label propagation (community detection) with a fixed
    round count and deterministic tie-breaks — the community member of
    this module's fixed-iteration family.

    Edges are treated as UNDIRECTED (symmetrized + distinct).  Every node
    starts labeled with itself; each round a node adopts the label most
    frequent among its neighbors' current labels, ties broken by the
    SMALLEST label (Raghavan et al. 2007's LPA with the random choice
    replaced by a total order, so the result is shuffle-order-independent
    and oracle-reproducible with unrolled CTEs).  The node universe is
    edge-derived (symmetrized, so every node has ≥1 neighbor and receives
    a vote every round); truly isolated nodes never enter it.
    Synchronous updates can oscillate on bipartite cores — the fixed
    round count makes that a bounded, deterministic outcome rather than
    a convergence hazard.

    Scale shape per round: one neighbor-label join co-partitioned on the
    node key, one (node, label) count with map-side partials, one
    node-partitioned window for the argmax — all node/edge-cardinality,
    no global structure, and the labels frame is referenced exactly ONCE
    per round, so the lazy lineage grows linearly in ``iters`` (a
    two-reference update join would re-execute each prior round's
    subtree twice — review catch).  ``materialize`` additionally persists
    the per-round labels (pagerank's discipline: cuts recovery lineage on
    a real cluster); pass False for one-shot registry-style sweeps that
    must not leave cached frames behind.  Independent of ``materialize``,
    the static symmetrized edge frame is pinned under the module-shared
    bounded LRU ledger and lives until eviction or
    :func:`engine.cache.ledger_clear` (see the pagerank
    docstring's static-frame-lifetime note, advice r11).

    Returns (node, label).
    """
    from pyspark.sql import Window

    from engine.cache import ledger_persist

    # und is referenced once per round plus the label seed — pinned under
    # the bounded ledger in BOTH modes (r11 opt; the lazy lineage
    # re-expanded the symmetrize+distinct subtree per reference)
    und = ledger_persist(
        edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
        .union(
            edges.select(F.col(dst_col).alias("s"), F.col(src_col).alias("d"))
        )
        .where(F.col("s").isNotNull() & F.col("d").isNotNull())
        .distinct()
    )
    labels = und.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev = None
    for _ in range(iters):
        votes = und.join(
            labels.select(F.col("node").alias("d"), "label"), "d"
        ).select(F.col("s").alias("node"), "label")
        counts = votes.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("label").asc()
        )
        # the symmetrized universe guarantees every node votes, so the
        # argmax IS the next label frame — no update join back to labels
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
        )
        if materialize:
            labels = labels.persist()
            labels.count()
            if prev is not None:
                prev.unpersist()
            prev = labels
    return labels
