"""Importance-weighted data selection (DSIR-style) for training corpora.

Public method: Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (arXiv:2302.03169) — score each candidate document by
the log-likelihood ratio of a *target* language model over a *background*
(raw-corpus) model, then keep the highest-scoring fraction.  This
implementation uses smoothed unigram models over the engine's standard
tokenization (:func:`engine.extended.text.tokens`), which keeps every step
relational and oracle-checkable; hashed-n-gram features are a drop-in
replacement of the token column.

Scale shape:

- One explode over tokens, ONE shuffle on the token key to build both
  distributions in a single aggregate (target counts via conditional sum —
  no second pass over the corpus for the target slice).
- The vocabulary table (token → log ratio) is vocabulary-sized, not
  corpus-sized, and is broadcast back onto the token stream; per-document
  scores then collapse with map-side partial aggregation on ``doc_id``.
- Nothing is collected to the driver; totals ride along as a broadcast
  single-row table.

Reference parity: the reference pipeline has no corpus-selection operators —
this is north-star surface (``/root/repo/BASELINE.json``), a sibling of
:mod:`engine.extended.curation`'s quality metrics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.extended.text import tokens

__all__ = [
    "importance_scores",
    "dsir_select",
    "quantile_buckets",
    "mmr_select",
    "budget_select",
    "curriculum_interleave",
]


def importance_scores(
    df: DataFrame,
    target: Column,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
    round_to: int = 4,
) -> DataFrame:
    """Per-document mean unigram log-likelihood ratio target/background.

    ``target`` is a boolean column marking the in-domain slice (e.g.
    ``F.col("lang") == "en"``).  Background = the whole corpus, so the ratio
    is well-defined for every token the corpus contains; add-``smoothing``
    keeps tokens absent from the target slice finite.  Documents with zero
    tokens are dropped (no evidence either way).
    """
    # Explicit isnotnull: the broadcast probe join downstream INFERS
    # isnotnull(token) on its side of the counts subtree but the totals
    # aggregate does not, so without this filter the two consumers of the
    # token-shuffle exchange canonicalize differently and AQE cannot emit a
    # ReusedExchange — the corpus would be tokenized and shuffled TWICE
    # (the q15 bug class; r11 reuse-audit find).  Tokens are never null
    # (explode of a regexp match array), so the filter is semantics-free.
    tok = df.select(
        F.col(id_col),
        target.alias("__is_target"),
        F.explode(tokens(text_col)).alias("token"),
    ).filter(F.col("token").isNotNull())
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("n_t"),
    )
    totals = counts.agg(
        F.sum("n_bg").alias("tot_bg"),
        F.sum("n_t").alias("tot_t"),
        F.count(F.lit(1)).alias("vocab"),
    )
    s = F.lit(float(smoothing))
    ratio = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        (
            F.log((F.col("n_t") + s) / (F.col("tot_t") + s * F.col("vocab")))
            - F.log((F.col("n_bg") + s) / (F.col("tot_bg") + s * F.col("vocab")))
        ).alias("__llr"),
    )
    return (
        tok.join(F.broadcast(ratio), "token")
        .groupBy(id_col)
        .agg(F.round(F.avg("__llr"), round_to).alias("score"))
    )


def dsir_select(
    df: DataFrame,
    target: Column,
    *,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    smoothing: float = 1.0,
    round_to: int = 4,
) -> DataFrame:
    """Top-``k`` documents by importance score (deterministic: ties on the
    ROUNDED score break by id, so the selection is engine-independent).

    The top-k is ``TakeOrderedAndProject`` over the scores table — no global
    sort; at corpus scale ``k`` rows flow to the driver-side heap merge.
    """
    scores = importance_scores(
        df,
        target,
        id_col=id_col,
        text_col=text_col,
        smoothing=smoothing,
        round_to=round_to,
    )
    return scores.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def quantile_buckets(
    df: DataFrame,
    metric_col: str,
    *,
    probs: tuple[float, ...] = (1 / 3, 2 / 3),
    bucket_col: str = "bucket",
    exact: bool = True,
) -> DataFrame:
    """Assign each row a quantile bucket of ``metric_col`` — the
    CCNet-style head/middle/tail split (bucket 0 = at-or-below the first
    boundary) used to stratify a corpus by model perplexity before
    per-bucket sampling.

    Boundaries come from ONE aggregate pass (``percentile_disc``: the
    smallest value whose cumulative distribution reaches p — discrete, so
    the boundary is an actual data value and the comparison semantics are
    engine-exact, no interpolation arithmetic to diverge on); assignment is
    a broadcast 1-row cross join + pure comparisons, so the corpus is
    scanned twice and shuffled never.  At 100 TB set ``exact=False``:
    ``approx_percentile`` replaces the exact sort-based aggregate with a
    bounded-memory sketch — same plan shape, boundaries within the sketch's
    relative error (bucket SIZES shift marginally; the operator contract —
    monotone bucketing by metric — is unchanged).

    A value EQUAL to a boundary lands in the lower bucket; a NULL metric
    yields a NULL bucket (comparisons null-propagate in both engines).
    """
    from engine.ops.quality import _check_ident

    _check_ident(metric_col, "metric column")
    if exact:
        aggs = [
            F.expr(
                f"percentile_disc({p!r}) WITHIN GROUP (ORDER BY `{metric_col}`)"
            ).alias(f"__qb{i}")
            for i, p in enumerate(probs)
        ]
    else:
        aggs = [
            F.percentile_approx(metric_col, p).alias(f"__qb{i}")
            for i, p in enumerate(probs)
        ]
    bounds = df.agg(*aggs)
    bucket = None
    for i in range(len(probs)):
        term = (F.col(metric_col) > F.col(f"__qb{i}")).cast("int")
        bucket = term if bucket is None else bucket + term
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(bucket_col, bucket)
        .drop(*[f"__qb{i}" for i in range(len(probs))])
    )


def mmr_select(
    candidates: DataFrame,
    *,
    k: int,
    lam_pct: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quality_col: str = "quality",
    round_to: int = 4,
    materialize: bool = False,
    batch: int = 16,
) -> list[dict]:
    """Greedy maximal-marginal-relevance selection (Carbonell & Goldstein
    1998): pick ``k`` items maximizing ``lam·quality − (1−lam)·max-sim-to-
    already-selected`` — the diversity-aware subset selection a training-
    data pipeline runs after scoring (high-quality but non-redundant).

    Returns selected rows as dicts ``{sel_rank, id, score}`` in selection
    order (fewer than ``k`` when the pool runs out).  ``lam_pct`` is an
    integer percent so the blend weights are identical literals in any
    engine; similarities and the quality column are QUANTIZED to scaled
    BIGINTs via ``FLOOR(x·10^round_to + 0.5)`` — pure IEEE multiply /
    add / floor, the one rounding semantic every engine (and driver-side
    Python) computes bit-identically on the same double, unlike a decimal
    HALF_UP ``ROUND`` — and blended in exact integer space.  Ties break
    by id; the greedy path is engine-exact and the whole chain unrolls to
    SQL.  Rows with a NULL id, vector, vector component, or quality are
    excluded, and so are rows with a NaN or infinite component or whose
    vector norm is not finite: finite components can still overflow the
    norm (``[1e200, 1e200]``), and an infinite norm has no SQL literal for
    the pick fold.

    Scale shape (r6 verdict item: the original loop was one Spark job per
    selected item — driver-paced for k in the thousands): each round
    collects the top ``batch + 1`` candidates by current score (ONE job)
    and continues the greedy selection on the driver *within* that batch,
    which is exact because scores only ever decrease as picks accumulate:
    a batch item may be selected while its updated score numerator stays
    strictly above the (batch+1)-th item's collect-time numerator — every
    hidden item's current score is bounded by it — and when the bound
    trips (or ties, since a hidden equal-score item could win the id
    tie-break), the pool is re-collected with the accumulated picks
    folded in as broadcast literals.  Driver-side similarity updates
    replicate the JVM chain op-for-op (left-fold dot, divide, scale,
    floor), so the batched path selects EXACTLY the per-item loop's
    items; jobs collapse from k to ceil(k/batch) when diversity pressure
    is low (quality-dominant blends) and degrade gracefully toward k
    per-item collects when every pick reshuffles the ranking.  No
    pairwise-materialized similarity matrix, ever.  The running max-sim
    column accumulates as expression depth; ``materialize=True`` persists
    the pool each re-collect round (the bpe_train/pagerank discipline) —
    the >1-executor scale path; lazy mode keeps the registry sweep
    cache-clean.
    """
    import math

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    if not 0 <= lam_pct <= 100 or int(lam_pct) != lam_pct:
        raise ValueError(
            f"lam_pct must be an integer in [0, 100], got {lam_pct!r}"
        )
    scale = 10**round_to
    lam = int(lam_pct)
    lam2 = 100 - lam
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pool = candidates.filter(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        # a NULL component would crash the driver-side literal rebuild of
        # a winning vector (review finding) — exclude ragged rows up front
        & ~F.exists(F.col(vec_col), lambda x: x.isNull())
        # a NaN/Inf component diverges driver-vs-JVM comparison semantics
        # (Spark orders NaN above everything; Python's `> 0` says False) —
        # exclude non-finite rows so both paths see the same arithmetic
        # (review catch)
        & ~F.exists(
            F.col(vec_col),
            lambda x: F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
        # finite components can still overflow the norm; the pick fold
        # below would render an infinite norm as ``infD``, which Spark
        # reads as an unknown column and rejects
        & (norm < F.lit(float("inf")))
        # NULL quality would produce a NULL score and crash the
        # driver-side collect once only NULL-score rows remain
        & F.col(quality_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm.alias("__n"),
        F.floor(F.col(quality_col).cast("double") * scale + F.lit(0.5))
        .cast("long")
        .alias("__ql"),
        F.lit(0).cast("long").alias("__msl"),
    )
    if materialize:
        pool = pool.persist()
    selected: list[dict] = []
    prev = pool if materialize else None
    denom = float(100 * scale)
    while len(selected) < k:
        m = min(batch, k - len(selected))
        # ONE job: the top m+1 by current score numerator (integer exact).
        sn = (F.lit(lam).cast("long") * F.col("__ql")
              - F.lit(lam2).cast("long") * F.col("__msl"))
        rows = (
            pool.select("__id", "__v", "__n", "__ql", "__msl", sn.alias("__sn"))
            .orderBy(F.col("__sn").desc(), "__id")
            .limit(m + 1)
            .collect()
        )
        if not rows:
            break
        # the (m+1)-th row is a SENTINEL, never selected here: its
        # collect-time numerator bounds every hidden item's score for the
        # rest of this batch (numerators only decrease as msl grows)
        sentinel_sn = rows[m]["__sn"] if len(rows) == m + 1 else None
        items = [
            {
                "id": r["__id"],
                "v": [float(x) for x in r["__v"]],
                "n": float(r["__n"]),
                "ql": r["__ql"],
                "msl": r["__msl"],
            }
            for r in rows[: m]
        ]
        picks: list[dict] = []
        first = True
        while items and len(selected) < k:
            best = min(items, key=lambda it: (-(lam * it["ql"] - lam2 * it["msl"]), it["id"]))
            num = lam * best["ql"] - lam2 * best["msl"]
            # the FIRST pick after a fresh collect is the JVM-ordered
            # argmax — always safe (guarantees progress per job).  Later
            # picks need num STRICTLY above the sentinel: at equality a
            # hidden item could win the id tie-break.
            if not first and sentinel_sn is not None and num <= sentinel_sn:
                break
            first = False
            items.remove(best)
            picks.append(best)
            selected.append(
                {
                    "sel_rank": len(selected) + 1,
                    "id": best["id"],
                    "score": float(num) / denom,
                }
            )
            # replicate the JVM similarity chain op-for-op: left-fold
            # dot, divide by the norm product, scale, +0.5, floor — all
            # IEEE-deterministic given identical operand order.  A
            # length mismatch mirrors zip_with's null-padding → NULL dot
            # → greatest() leaves msl unchanged (review catch: a Python
            # zip() truncates and would compute a sim the JVM never sees)
            for it in items:
                if len(it["v"]) != len(best["v"]):
                    continue
                np_ = it["n"] * best["n"]
                if np_ > 0:
                    dot = 0.0
                    for x, y in zip(it["v"], best["v"]):
                        dot += x * y
                    siml = int(math.floor(dot / np_ * scale + 0.5))
                    if siml > it["msl"]:
                        it["msl"] = siml
        if len(selected) >= k:
            break
        if sentinel_sn is None and not items:
            break  # the collect saw the whole pool and it is now spent
        # fold this round's picks into the pool as broadcast literals and
        # go collect the next batch.  Each pick's similarity fold is ONE
        # F.expr SQL string (r12 opt; the r10 driver-side build-cost
        # discipline of similarity._arr_lit): the previous
        # F.array/F.lit-per-component + zip_with/aggregate Column tree
        # cost ~dim py4j round trips PER PICK — ~2.1 s of the query's
        # 2.4 s total was driver expression construction.  ``{v!r}D`` is
        # shortest-round-trip, bit-identical to ``F.lit(float(v))``; the
        # SQL text replicates the old Column chain op-for-op (CAST to
        # double, left-fold dot from 0.0, divide by the norm product,
        # scale, +0.5, floor).
        sims = []
        for p in picks:
            bv_sql = "array(" + ", ".join(f"{float(x)!r}D" for x in p["v"]) + ")"
            np_sql = f"(__n * {float(p['n'])!r}D)"
            dot_sql = (
                f"aggregate(zip_with(__v, {bv_sql}, "
                "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
            )
            sims.append(
                F.expr(
                    f"CASE WHEN {np_sql} > 0 THEN "
                    f"CAST(FLOOR({dot_sql} / {np_sql} * {scale} + 0.5D) AS BIGINT) "
                    "ELSE 0L END"
                )
            )
        pool = pool.filter(
            ~F.col("__id").isin([p["id"] for p in picks])
        ).select(
            "__id",
            "__v",
            "__n",
            "__ql",
            F.greatest("__msl", *sims).alias("__msl") if sims
            else F.col("__msl").alias("__msl"),
        )
        if materialize:
            pool = pool.persist()
            pool.count()
            prev.unpersist()
            prev = pool
    if materialize and prev is not None:
        prev.unpersist()
    return selected


def budget_select(
    df: DataFrame,
    score_col: str,
    cost_col: str,
    *,
    budget: int,
    id_col: str = "doc_id",
    running_col: str = "running_cost",
) -> DataFrame:
    """Greedy selection under a cost budget: walk the corpus in
    (``score_col`` DESC, ``id_col``) order and keep every row whose
    RUNNING cost — including itself — still fits ``budget``.

    This is the "fill a token budget with the best documents" primitive of
    corpus mixing: quality-rank the candidates, take the maximal prefix
    the budget covers.  The prefix rule (a row whose own cost overflows
    the remaining budget is dropped, and so is everything after it) keeps
    the result a clean rank cutoff — deterministic, order-free, and
    engine-reproducible.

    The global running sum is computed scale-safely by
    :func:`engine.extended.sampling._size_rank` with the cost column as
    the window weight (bit-length score buckets, per-bucket cumsum,
    ≤64-row offset table — one machinery shared with balanced_shards /
    length_bucket_batches, not a second copy).  ``score_col`` must
    therefore be a NON-NEGATIVE INTEGER (quantize float scores upstream —
    e.g. ``floor(1e6·p)``); NULL/negative scores clamp to 0 (selected
    last), NULL costs count 0.  ``id_col`` must be UNIQUE: it is the
    total-order tie-break, and with duplicate (score, id) pairs the
    running sum — and therefore which of the duplicates fits the budget —
    would be processing-order-dependent.

    Output: the selected rows + ``running_col`` (cumulative cost through
    each row, for audit/resume).
    """
    from engine.extended.sampling import _size_rank

    ranked = _size_rank(
        df, score_col, id_col, descending=True, weight_col=cost_col
    )
    return (
        ranked.withColumn(running_col, F.col("__runsum"))
        .where(F.col(running_col) <= budget)
        .drop("__sz", "__runsum")
    )


def curriculum_interleave(
    df: DataFrame,
    score_col: str,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    pos_col: str = "cur_pos",
) -> DataFrame:
    """Curriculum position interleaving groups by quality: rank rows
    within each group (``score_col`` DESC, id ASC), then deal rank-r rows
    of all groups adjacently — ``pos = (rank−1)·n_groups + group_index``.

    The resulting global order feeds training best-first while keeping
    every prefix mixture-balanced across sources (a pure quality sort
    front-loads whichever source scores systematically higher; epoch one
    then sees a skewed mixture).  Groups of unequal size leave holes in
    the tail positions — ``pos`` is a strict total order, not a dense one.

    Two bounded pieces beyond the per-group rank window: the group index
    and group count come from a group-cardinality aggregate broadcast
    back.  NULL groups are dropped (a curriculum slot needs a mixture
    identity); NULL scores rank last within their group.
    """
    from pyspark.sql import Window

    base = df.where(F.col(group_col).isNotNull())
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    ranked = base.withColumn("__grk", F.row_number().over(w))
    groups = (
        base.select(group_col)
        .distinct()
        .withColumn(
            "__gidx",
            F.row_number().over(
                Window.partitionBy(
                    F.substring(F.col(group_col).cast("string"), 0, 0)
                ).orderBy(group_col)
            )
            - 1,
        )
        .withColumn(
            "__ng",
            F.count(F.lit(1)).over(
                Window.partitionBy(
                    F.substring(F.col(group_col).cast("string"), 0, 0)
                )
            ),
        )
    )
    return (
        ranked.join(F.broadcast(groups), group_col)
        .withColumn(
            pos_col,
            (
                (F.col("__grk") - 1) * F.col("__ng") + F.col("__gidx")
            ).cast("long"),
        )
        .drop("__grk", "__gidx", "__ng")
    )
