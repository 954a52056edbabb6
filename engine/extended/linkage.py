"""Entity resolution / record linkage: blocked fuzzy matching between two
record sets — the dedup-across-sources step of a data-integration or
training-data pipeline (matching noisy crawl metadata to a canonical
catalog, merging user records across systems).

Spark-first shape: candidate generation is MULTI-PASS BLOCKING (equi-joins
on cheap derived keys — never an all-pairs similarity join), verification
is the JVM's built-in ``levenshtein`` with an early-exit threshold, and
best-match selection is one window pass.  Every stage is an equi-join or a
keyed window, so the operator is shuffle-partitioned end to end and
oracle-checkable in ANSI SQL.

Blocking recall: a prefix block misses edits inside the prefix; a suffix
block misses edits inside the suffix.  An edit (insert/delete/substitute)
at position p damages at most one of the two keys, so the UNION of both
passes catches every single-edit pair whose string is longer than
``block_len`` — and multi-edit pairs degrade gracefully (the classic
multi-pass blocking trade; add passes for higher recall).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from engine.extended.dedup import cap_per_key

__all__ = ["blocked_levenshtein_match", "incremental_entity_ids", "golden_record"]


def blocked_levenshtein_match(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str = "left_id",
    left_text: str = "left_text",
    right_id: str = "right_id",
    right_text: str = "right_text",
    max_dist: int = 2,
    block_len: int = 4,
    block_cap: int = 1000,
) -> DataFrame:
    """Best fuzzy match in ``right`` for every ``left`` row.

    Candidates come from two blocking passes (first ``block_len`` chars,
    last ``block_len`` chars); a pair survives when its edit distance is
    <= ``max_dist`` (computed with Spark's thresholded ``levenshtein``,
    which abandons a pair early once the bound is exceeded — the verify
    step is O(max_dist · len), not O(len^2)); each left row keeps its
    (distance, right_id)-minimal match.  Returns every left row as
    ``(left_id, match_id, dist)`` with NULLs for unmatched rows.

    ``block_cap`` bounds hot blocks: only the ``block_cap`` lowest-id
    right rows per block key enter the candidate join (the
    :func:`engine.extended.dedup.cap_per_key` contract — a degenerate key
    like an all-blank prefix would otherwise make one block quadratic at
    100 TB).  Overflow rows are still matchable through their OTHER
    blocking key.

    IDs must be non-null and unique per side; left rows with NULL text
    are preserved unmatched (NULL never matches anything — levenshtein
    with a NULL side is NULL in both engines).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if block_len < 1:
        raise ValueError(f"block_len must be >= 1, got {block_len}")
    if block_cap < 1:
        raise ValueError(f"block_cap must be >= 1, got {block_cap}")

    l_ = left.select(
        F.col(left_id).alias("__lid"), F.col(left_text).alias("__lt")
    )
    r_ = right.select(
        F.col(right_id).alias("__rid"), F.col(right_text).alias("__rt")
    )

    def keyed(df: DataFrame, text: str, out: str) -> DataFrame:
        # left()/right() (not substring with negative start) — both engines
        # return the whole string when it is shorter than block_len, so
        # short strings key identically everywhere
        pre = df.select("*", F.expr(f"left({text}, {block_len})").alias(out))
        suf = df.select("*", F.expr(f"right({text}, {block_len})").alias(out))
        return pre.unionByName(suf)

    lk = keyed(l_, "__lt", "__bk").filter(F.col("__bk").isNotNull())
    rk = keyed(r_, "__rt", "__bk").filter(F.col("__bk").isNotNull())
    rk = cap_per_key(rk, ["__bk"], "__rid", block_cap)
    # Length prefilter (r11): |len(l) - len(r)| > max_dist already implies
    # edit distance > max_dist, so the pair can never survive the
    # threshold — dropping it before the candidate-dedup exchange (which
    # carries both text payloads) is semantics-free.  How much it prunes
    # is the corpus's within-block length spread: nothing on the
    # uniform-length gate fixtures (measured — a wash at ×100), real
    # name/address corpora prune meaningfully.  The thresholded
    # levenshtein remains the backstop either way.
    # Pair-generation parallelism (r11 opt, guide §2.5): the cap window
    # leaves rk clustered by __bk, so a degenerate block key (every
    # "Customer#…" name shares one 4-char prefix) concentrates the whole
    # hot block's pair generation AND its levenshtein in ONE task whenever
    # the planner broadcasts the other side (measured: ~2 M pairs scored in
    # 2 tasks, 4.3 s; re-spread, 1.1 s).  One linear exchange of the
    # already-capped side, explicit partition count so AQE cannot coalesce
    # the spread away; hash on the unique __rid needs no pre-sort (the
    # round-robin form would).
    rk = rk.repartition(
        rk.sparkSession.sparkContext.defaultParallelism, F.col("__rid")
    )
    # Score BEFORE any pair exchange (r11 opt, guide §2.3 "aggregate before
    # you shuffle" applied to a filter): the thresholded levenshtein keeps
    # ~3 % of candidates here, so running it in the join's output stage
    # and dedup-ing afterwards exchanges only survivors — the old
    # distinct-then-score order shuffled every candidate pair WITH both
    # text payloads first.  A pair found by both blocking passes is scored
    # twice (the block intersection is small); duplicates cannot change
    # the row_number argmax below, which picks the same (d, rid) minimum
    # either way.
    dist = F.levenshtein("__lt", "__rt", max_dist)
    scored = (
        lk.join(rk, "__bk")
        .filter(F.abs(F.length("__lt") - F.length("__rt")) <= max_dist)
        .withColumn("__d", dist)
        .filter(F.col("__d") >= 0)
        .select("__lid", "__rid", "__d")
    )
    best_w = Window.partitionBy("__lid").orderBy("__d", "__rid")
    best = (
        scored.withColumn("__rn", F.row_number().over(best_w))
        .filter(F.col("__rn") == 1)
        .select("__lid", "__rid", "__d")
    )
    return l_.join(best, "__lid", "left").select(
        F.col("__lid").alias(left_id),
        F.col("__rid").alias("match_id"),
        F.col("__d").alias("dist"),
    )


def incremental_entity_ids(
    batch: DataFrame,
    canonical: DataFrame,
    *,
    batch_id: str = "record_id",
    batch_text: str = "record_text",
    canon_id: str = "entity_id",
    canon_text: str = "entity_text",
    max_dist: int = 2,
    block_len: int = 4,
    block_cap: int = 1000,
    salt: str = "ent",
) -> DataFrame:
    """Incremental entity resolution: match a new batch against the
    existing canonical entity table and MINT ids for genuinely new
    entities — the master-data-update step downstream of
    :func:`blocked_levenshtein_match`.

    - matched records inherit their best match's entity id (``is_new`` 0);
    - unmatched records first collapse on the exact normalized-text
      fingerprint (two identical newcomers share one new entity), then
      each representative gets ``max(existing id) + 1 + global_pos`` with
      positions from the scale-safe md5 global order — new ids are dense,
      deterministic, and collision-free without a global sort or a
      driver-side counter.  Fuzzy twins WITHIN one batch stay separate
      entities (documented: intra-batch fuzzy merge is a near-dup-groups
      problem, not a linkage lookup);
    - NULL-text records return a NULL entity id (nothing to identify).

    Returns (batch_id, entity_id, is_new, dist).

    Scale shape: the blocked match's equi-joins, one fingerprint
    aggregate over the unmatched slice, the 256-shard global-order
    window, and a broadcast 1-row max id.

    .. note:: **Ledger staleness (advice r11).**  The blocked-match frame is
       pinned under the shared ``ledger_persist`` cache, keyed by the
       LOGICAL plan.  This primitive's natural use is a MUTABLE canonical
       table: a caller that rewrites the canonical files between batches
       and re-runs the same logical plan would be served the PRE-rewrite
       matches (wrong entity ids).  Such callers must call
       :func:`engine.cache.ledger_clear` after every canonical
       rewrite — same contract as the dedup family (r10).
    """
    m = blocked_levenshtein_match(
        batch,
        canonical,
        left_id=batch_id,
        left_text=batch_text,
        right_id=canon_id,
        right_text=canon_text,
        max_dist=max_dist,
        block_len=block_len,
        block_cap=block_cap,
    )
    b = batch.select(
        F.col(batch_id).alias("__bid"), F.col(batch_text).alias("__bt")
    )
    m = m.select(
        F.col(batch_id).alias("__bid"),
        F.col("match_id").alias("__mid"),
        F.col("dist").alias("__d"),
    ).join(b, "__bid")
    # m is referenced four times (matched / unmatched / null slices) and
    # each lazy reference re-expanded the whole blocked-match subtree —
    # block joins, levenshtein, dedup windows (31 parquet scans in the
    # pre-fix plan).  Pin once under the bounded ledger (r11 opt).
    from engine.cache import ledger_persist

    m = ledger_persist(m)
    matched = m.filter(F.col("__mid").isNotNull()).select(
        "__bid",
        F.col("__mid").alias("entity_id"),
        F.lit(0).alias("is_new"),
        F.col("__d").alias("dist"),
    )
    from engine.extended.sampling import global_order
    from engine.extended.text import fingerprint

    maxid = canonical.agg(
        F.coalesce(F.max(canon_id), F.lit(0)).cast("long").alias("__max")
    )
    un = (
        m.filter(F.col("__mid").isNull() & F.col("__bt").isNotNull())
        .withColumn("__fp", fingerprint("__bt"))
    )
    rep_w = Window.partitionBy("__fp").orderBy("__bid")
    reps = (
        un.withColumn("__rn", F.row_number().over(rep_w))
        .filter(F.col("__rn") == 1)
        .select(F.col("__fp"), F.col("__bid").alias("__rep"))
    )
    numbered = global_order(reps, id_col="__rep", salt=salt).crossJoin(
        F.broadcast(maxid)
    ).select(
        "__fp",
        (F.col("__max") + 1 + F.col("global_pos")).alias("entity_id"),
    )
    new = un.join(numbered, "__fp").select(
        "__bid",
        "entity_id",
        F.lit(1).alias("is_new"),
        F.lit(None).cast("int").alias("dist"),
    )
    nulls = m.filter(F.col("__mid").isNull() & F.col("__bt").isNull()).select(
        "__bid",
        F.lit(None).cast("long").alias("entity_id"),
        F.lit(1).alias("is_new"),
        F.lit(None).cast("int").alias("dist"),
    )
    return (
        matched.unionByName(new)
        .unionByName(nulls)
        .select(
            F.col("__bid").alias(batch_id), "entity_id", "is_new", "dist"
        )
    )


def golden_record(
    df: DataFrame,
    entity_col: str,
    rules: dict[str, str],
    *,
    ts_col: str = "ts",
    id_col: str | None = None,
) -> DataFrame:
    """Survivorship merge: collapse each entity's duplicate records into
    one golden row, field by field, under a declared rule — the
    master-data step AFTER linkage has grouped records:

    - ``latest``   — value from the most recent record carrying a
      non-null value (recency by ``ts_col``, tie-broken by ``id_col``);
    - ``longest``  — the longest non-null string (ties -> lexicographic
      max, so the pick is total-order deterministic);
    - ``majority`` — the most frequent non-null value (ties -> the
      greater value).

    Every rule is expressed as ``max(struct(...))`` over deterministic
    sort keys — never ``max_by`` (whose tie behavior is
    engine-dependent) — so the golden row is identical in any engine and
    under any shuffle order.

    Scale shape: ``latest``/``longest`` are ONE aggregate over the
    entity key (structs compare in codegen); ``majority`` needs its own
    (entity, column, value) count per column, aggregated back — budget
    one extra shuffle per majority column.
    """
    if not rules:
        raise ValueError("rules must be non-empty")
    known = {"latest", "longest", "majority"}
    bad = {r for r in rules.values()} - known
    if bad:
        raise ValueError(f"unknown rules: {sorted(bad)}; known: {sorted(known)}")
    tie = F.col(id_col) if id_col else F.lit(0)
    simple_aggs = []
    for col, rule in rules.items():
        v = F.col(col)
        if rule == "latest":
            # a NULL recency can't rank "latest" — guard it out rather
            # than leaning on engine-specific null-in-struct ordering
            s = F.when(
                v.isNotNull() & F.col(ts_col).isNotNull(),
                F.struct(F.col(ts_col).alias("o1"), tie.alias("o2"), v.alias("v")),
            )
            simple_aggs.append(F.max(s)["v"].alias(col))
        elif rule == "longest":
            s = F.when(
                v.isNotNull(), F.struct(F.length(v).alias("o1"), v.alias("v"))
            )
            simple_aggs.append(F.max(s)["v"].alias(col))
    out = df.groupBy(entity_col).agg(*simple_aggs) if simple_aggs else (
        df.select(entity_col).distinct()
    )
    for col, rule in rules.items():
        if rule != "majority":
            continue
        counts = (
            df.filter(F.col(col).isNotNull())
            .groupBy(entity_col, col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .groupBy(entity_col)
            .agg(
                F.max(
                    F.struct(F.col("__c").alias("o1"), F.col(col).alias("v"))
                )["v"].alias(col)
            )
        )
        out = out.join(counts, entity_col, "left")
    return out
