"""Corpus deduplication family — exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (north-star operators).

Design for 100 TB (the whole point of these operators):

- **never all-pairs.**  Every near-dup variant generates *candidate pairs*
  through a bucketing shuffle (LSH bands / SimHash chunks / embedding
  hyperplane signs) and verifies only within buckets.  Cost is
  O(n · bands) map work + one shuffle on the bucket key + per-bucket
  verification — all-pairs O(n²) never materializes.
- **one banding path.**  Every banded family runs the same kernel:
  :func:`band_rows` explodes the family's ``named_struct`` band keys,
  :func:`cap_per_key` bounds each bucket to its lowest-id rows (the one
  cap contract: ``None`` is uncapped, ``< 1`` raises), and
  :func:`band_pairs` self-joins within buckets on ``a.id < b.id``.  Each
  family keeps its own key expression, payload, persist points and
  verification.  Frames a plan references twice are pinned with
  :func:`engine.cache.ledger_persist`.
- **deterministic.**  All hash families derive from ``xxhash64(value, seed)``
  with literal seeds — rerunning a round yields identical signatures, so the
  operators are testable against fixed expectations and safe to re-run
  incrementally.
- **built-ins only.**  Signatures are higher-order array expressions
  (transform/aggregate/zip_with over shingle arrays) — no Python in the row
  path.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from engine import cache
from engine.extended.text import fingerprint, ngrams_from, tokens

__all__ = [
    "exact_dedup_docs",
    "minhash_sigs",
    "minhash_candidates",
    "minhash_dedup",
    "simhash_sigs",
    "simhash_candidates",
    "hamming_band_pairs",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "prefix_block_pairs",
    "weighted_jaccard_pairs",
    "embedding_near_dup",
    "near_dup_groups",
    "minhash_dedup_cc",
    "minhash_band_index",
    "minhash_incremental",
    "doc_spans",
    "duplicate_span_stats",
    "remove_duplicate_spans",
    "doc_lines",
    "line_dedup_rewrite",
    "line_fp_index",
    "line_dedup_incremental",
    "sign_band_structs",
    "band_rows",
    "cap_per_key",
    "band_pairs",
]


# ---------------------------------------------------------------------------
# Exact (hash-groupBy)
# ---------------------------------------------------------------------------


def exact_dedup_docs(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the lowest-id document per normalized-text fingerprint.

    One shuffle on the 128-bit fingerprint; survives any scale because the
    row payload never moves twice (min-id chosen via window over the hash).
    """
    w = Window.partitionBy("__fp").orderBy(F.col(id_col))
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def _spread(df: DataFrame) -> DataFrame:
    """Ensure the CPU-heavy signature map-stage uses the full cluster.

    A small parquet file arrives as 1-2 partitions; the signature hashing is
    then single-threaded no matter how many cores exist.  A round-robin
    repartition to the default parallelism moves each doc once — noise next
    to the k·shingles hash work it unlocks, and the groupBy shuffles anyway.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


#: densification step constant — odd, and small enough that 64·C stays far
#: below Long.MAX (no ANSI overflow in the rotation offset product).
_OPH_C = 0x3779B97F4A7C15


def md5_long(col: Column) -> Column:
    """60-bit nonnegative hash from the first 15 md5 hex digits.

    The DUAL-IMPLEMENTABLE hash family: its DuckDB twin is
    ``CAST(('0x' || SUBSTRING(MD5(x), 1, 15)) AS BIGINT)`` — bit-identical,
    so signature pipelines built on it are SQL-oracle-checkable end to end.
    15 digits (not 16) keeps the value under 2^60, inside signed-64 range in
    both engines with no sign/overflow divergence.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _hash64(col: Column, hash_fn: str) -> Column:
    """Pluggable 64-bit hash for the signature families.

    ``"xxhash64"`` (default) is the production family — fastest JVM path.
    ``"md5"`` is :func:`md5_long` — ~2× slower but dual-implementable, used
    by the oracle-paired registry queries so the driver can value-hash-check
    minhash/simhash results against DuckDB.
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        return md5_long(col)
    raise ValueError(f"unknown hash_fn {hash_fn!r} (use 'xxhash64' or 'md5')")


def minhash_sigs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig) — k-slot one-permutation MinHash (OPH) of the word-
    ``shingle_n``-gram set, with rotation densification.

    ONE ``xxhash64`` per shingle (vs k in the classic k-permutation scheme);
    the hash is bucketed into ``k = num_hashes`` bins by ``pmod`` and each
    bin keeps its minimum — Li/Owen/Zhang's one-permutation hashing.  Empty
    bins borrow from the cyclically-next non-empty bin, offset by
    ``distance·C`` (Shrivastava & Li's rotation densification, XOR-mixed so
    ANSI arithmetic can't overflow), which preserves the collision property
    sig_a[i] = sig_b[i] ⇔ matching minima, so the equal-position fraction
    still estimates Jaccard.

    Scale shape: two shuffles whose row counts are ≤ docs·k *after map-side
    partial aggregation* (shingle volume never crosses the wire), and a plan
    with ONE tiny aggregate — the previous 64-aggregate formulation spent
    seconds in whole-stage-codegen compilation alone.  Documents with
    < shingle_n tokens drop out (no shingles → no signature).
    """
    k = num_hashes
    # project tokens ONCE, then shingle from the alias — the inline form
    # re-tokenizes per shingle inside the transform lambda (12× slower)
    exploded = (
        _spread(df)
        .select(F.col(id_col).alias("id"), tokens(text_col).alias("__toks"))
        .select(
            "id",
            F.explode(
                F.array_distinct(ngrams_from(F.col("__toks"), shingle_n))
            ).alias("shingle"),
        )
    )
    binned = (
        exploded.select("id", _hash64(F.col("shingle"), hash_fn).alias("h"))
        .groupBy("id", F.pmod("h", F.lit(k)).alias("bin"))
        .agg(F.min("h").alias("mh"))
    )
    ent = binned.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("bin", "mh"))).alias("ent")
    )
    # Rotation densification, segment form: slot i takes the entry with
    # minimal cyclic distance d = (bin - i) mod k, XORed with d·C so borrowed
    # values only collide when both docs borrowed the same minimum from the
    # same distance.  With entries sorted by bin, the chooser for slot i is
    # simply the nearest bin at-or-above i (cyclically), so each entry j
    # covers the contiguous slot range (bin_{j-1}, bin_j] and the first entry
    # additionally wraps to cover (bin_last, k).  Emitting those segments and
    # sorting by slot is O(k log k) per doc; the previous per-slot scan over
    # all entries was O(k²) (64×64 = 4096 conditional struct evaluations per
    # doc) and dominated signature time.
    #
    # Built as ONE F.expr string (r10): the Column-tree form of this
    # closure cost hundreds of py4j round trips per invocation — the
    # dominant term of the minhash BUILD time the bench pays per pass
    # (same rationale as sign_band_structs; old-vs-new sigs verified
    # element-identical for both hash modes at k ∈ {32, 64}).
    C = _OPH_C
    filled = (
        f"transform(sequence(IF(j = 0, 0L, element_at(ent, j).bin + 1L), "
        f"CAST(e.bin AS BIGINT)), "
        f"i -> struct(i AS slot, (e.mh ^ ((e.bin - i) * {C}L)) AS v))"
    )
    wrap = (
        f"IF(j = 0 AND element_at(ent, size(ent)).bin < {k - 1}, "
        f"transform(sequence(element_at(ent, size(ent)).bin + 1L, "
        f"CAST({k - 1} AS BIGINT)), "
        f"i -> struct(i AS slot, (e.mh ^ ((e.bin + {k} - i) * {C}L)) AS v)), "
        f"slice(transform(sequence(0L, 0L), "
        f"i -> struct(i AS slot, 0L AS v)), 1, 0))"
    )
    sig = (
        f"transform(sort_array(flatten(transform(ent, (e, j) -> "
        f"concat({filled}, {wrap})))), s -> s.v)"
    )
    return ent.select("id", F.expr(sig).alias("sig"))


def _band_key_sql(sig_col: str, band: int, rows_per_band: int, hash_fn: str) -> str:
    """Key one band (contiguous signature slice) for the bucket join, as SQL
    text: one py4j call for the whole band array instead of bands ×
    (element_at/slice + struct) Column objects (see sign_band_structs r10).

    xxhash64 mode hashes the raw band elements + band index to a 64-bit
    scalar — no string materialization, narrowest possible exchange key (the
    production path).  md5 mode uses the RAW SLICE itself (array<long>) as
    the key: band equality is slice equality, so no hash is needed at all,
    and DuckDB mirrors it exactly with ``list_slice`` — this replaced an
    md5-over-concat_ws key that stringified every slot per row·band (the
    round-2 bench's visible shave).  The band index is implicit: every join
    and window already pairs bkey with the ``band`` column, so equal slices
    from different bands never collide."""
    if hash_fn == "xxhash64":
        elems = ", ".join(
            f"element_at(`{sig_col}`, {band * rows_per_band + i + 1})"
            for i in range(rows_per_band)
        )
        return f"xxhash64({elems}, {band})"
    return f"slice(`{sig_col}`, {band * rows_per_band + 1}, {rows_per_band})"


def _minhash_band_keys(
    num_hashes: int, bands: int, hash_fn: str, tag: str = ""
) -> list[str]:
    """``named_struct`` band keys of the ``sig`` column: ``bands`` slices of
    ``num_hashes // bands`` slots each.  ``tag`` prefixes extra struct
    fields (the band sweep's width ``w``)."""
    rows_per_band = num_hashes // bands
    return [
        f"named_struct({tag}'band', {b}, "
        f"'bkey', {_band_key_sql('sig', b, rows_per_band, hash_fn)})"
        for b in range(bands)
    ]


# ---------------------------------------------------------------------------
# The banding kernel: every banded or blocked candidate generator is
# band_rows → cap_per_key → band_pairs with its own key expression, payload,
# persist points and verification.
# ---------------------------------------------------------------------------


def band_rows(df: DataFrame, keys: list[str] | Column, *cols: str | Column) -> DataFrame:
    """``cols`` plus the fields of each band key, one row per key.

    ``keys`` is the family's key expression: SQL ``named_struct`` texts
    (one py4j call for the whole array, see :func:`sign_band_structs`) or
    an array-of-structs Column.  Each struct's fields (a band index and a
    bucket key) become the columns that :func:`cap_per_key` and
    :func:`band_pairs` key on."""
    if not isinstance(keys, Column):
        keys = F.expr("array(" + ", ".join(keys) + ")")
    rows = df.select(*cols, F.explode(keys).alias("bb"))
    return rows.select(*rows.columns[:-1], "bb.*")


def cap_per_key(
    df: DataFrame, keys: list[str], order_col: str, cap: int | None
) -> DataFrame:
    """Keep each ``keys`` bucket's ``cap`` lowest-``order_col`` rows — the
    one bucket-cap contract of every banded, blocked and clustered
    candidate generator.

    A degenerate bucket (boilerplate shared by millions of rows) then costs
    O(cap²) pairs in the self-join instead of O(n²); overflow rows emit no
    pairs from that bucket.  ``None`` leaves ``df`` uncapped.  ``cap < 1``
    raises: reading 0 as "no cap" would build exactly the quadratic join
    the cap exists to prevent."""
    if cap is None:
        return df
    if cap < 1:
        raise ValueError(f"a bucket cap must be >= 1 or None, got {cap}")
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        df.withColumn("__bn", F.row_number().over(w))
        .filter(F.col("__bn") <= cap)
        .drop("__bn")
    )


def band_pairs(banded: DataFrame, keys: list[str]) -> DataFrame:
    """Self-join of ``banded`` on equal ``keys`` with ``a.id < b.id``: one
    row per bucket two ids share, the sides aliased ``a`` and ``b`` for
    the family's projection and verification."""
    a, b = banded.alias("a"), banded.alias("b")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    return a.join(b, reduce(operator.and_, cond + [F.col("a.id") < F.col("b.id")]))


def minhash_band_sweep(
    sigs: DataFrame,
    *,
    widths: tuple[int, ...] = (8, 16, 32),
    num_hashes: int = 64,
    bucket_cap: int = 500,
    hash_fn: str = "xxhash64",
    width_col: str = "bands",
) -> DataFrame:
    """Candidate pairs at SEVERAL band widths in ONE plan: (width, id_a,
    id_b), distinct per width.

    The recall frontier's scale fix (VERDICT r8 #6): sweeping
    ``minhash_candidates`` per width compiled an independent
    explode→cap→self-join subtree per operating point — ~3× fixed codegen
    for one small output table.  Here every (width, band) key of every
    width explodes from the signature ONCE (Σ widths keys per doc instead
    of one plan per width), the bucket cap windows on (width, band,
    bkey), and a single self-join + distinct yields all widths' pairs
    together.  ``sigs`` is referenced once on each side of the one
    self-join — exactly the cost profile of a single
    ``minhash_candidates`` call, independent of how many widths sweep.
    """
    keys = [
        k for w in widths for k in _minhash_band_keys(num_hashes, w, hash_fn, f"'w', {w}, ")
    ]
    bucket = ["w", "band", "bkey"]
    banded = cap_per_key(band_rows(sigs, keys, "id"), bucket, "id", bucket_cap)
    # both sides of the self-join reference this subtree, and AQE does not
    # reuse the (w, band, bkey) exchange across the alias pair — pin the
    # capped frame so the explode → cap-window chain evaluates once
    # (the minhash_candidates r11 fix, applied to the sweep)
    banded = cache.ledger_persist(banded)
    return (
        band_pairs(banded, bucket)
        .select(
            F.col("a.w").alias(width_col),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
        .dropDuplicates([width_col, "id_a", "id_b"])
    )


def minhash_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    bucket_cap: int = 500,
    hash_fn: str = "xxhash64",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, where est_jaccard is
    the fraction of equal minhashes — the standard unbiased Jaccard estimate.
    Shuffle pattern: explode to n·bands band-keys → hash-join within buckets.

    ``bucket_cap`` bounds each (band, bucket) to its lowest-id members before
    the self-join (:func:`cap_per_key`): a degenerate bucket (identical
    boilerplate across millions of docs) costs O(cap²) instead of O(n²).
    True dup groups larger than the cap still chain through their lowest-id
    member in other bands/rounds.

    ``sigs`` injects a precomputed :func:`minhash_sigs` frame — signatures
    are band-count-independent, so a band-parameter sweep (the recall
    frontier) computes them once and re-bands k times instead of re-hashing
    the corpus per operating point.  ``sigs`` is referenced three times
    below (the banded build and both signature joins): a frame the caller
    persisted stays under the caller's control, and an unpersisted one is
    pinned through :func:`engine.cache.ledger_persist` like the internal
    build, so its subtree evaluates once.
    """
    # Pair-first shape (r11 opt, guide §2.3 "shuffle keys and metadata
    # instead of payloads" / §8): the banded frame used to carry the k-slot
    # sig array through the cap window's sort + (band, bkey) exchange —
    # ~8 KB per doc at k=64, bands=16, the widest shuffle in the plan — so
    # est_jaccard could be computed in the self-join projection.  The sig
    # payload is only needed ONCE PER DISTINCT PAIR, so instead: persist
    # the sigs frame, band BARE (id, band, bkey) rows (~25× narrower
    # through the cap sort/exchange), dedup bare id pairs, and join the
    # persisted signatures back per distinct pair (exactly the DuckDB
    # oracle's MATERIALIZED-capped shape).  Interleaved A/B at sf0.1:
    # see OPTIMIZATION_r11.md (dedup_minhash_lsh).
    # A caller-persisted frame is not adopted by the ledger (advice r11):
    # registering it would let LRU eviction / ledger_clear() unpersist it
    # behind the caller's back.
    if sigs is None:
        sigs = cache.ledger_persist(
            minhash_sigs(
                df,
                id_col=id_col,
                text_col=text_col,
                num_hashes=num_hashes,
                shingle_n=shingle_n,
                hash_fn=hash_fn,
            )
        )
    elif not (sigs.storageLevel.useMemory or sigs.storageLevel.useDisk):
        sigs = cache.ledger_persist(sigs)
    banded = cap_per_key(
        band_rows(sigs, _minhash_band_keys(num_hashes, bands, hash_fn), "id"),
        ["band", "bkey"],
        "id",
        bucket_cap,
    )
    # Persist the CAPPED BANDED frame too (r11): the self-join references
    # this subtree on both sides, and Catalyst/AQE does not reuse the
    # (band, bkey) exchange across the alias pair — unpersisted, the
    # explode → sort → exchange → window cap chain ran TWICE per query.
    # :func:`ledger_persist` bounds the session leak and returns the
    # already-persisted frame on a repeat invocation over the same corpus.
    # NOTE: if the corpus FILES are rewritten mid-session, that repeat
    # hit is stale — callers that reread mutable inputs must
    # :func:`engine.cache.ledger_clear` after rewriting (advice r10).
    banded = cache.ledger_persist(banded)
    pairs = (
        band_pairs(banded, ["band", "bkey"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # est_jaccard = (# equal signature positions) / num_hashes, computed
    # once per DISTINCT pair from the persisted sigs (two id-keyed joins of
    # the deduped 16-byte pairs — at scale: pairs ≪ banded rows, and the
    # sigs cross one narrow id-hash exchange each instead of riding every
    # band row).
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
                lambda e: e,
            )
        )
        / F.lit(float(num_hashes))
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
    )


def minhash_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop near-duplicates: among candidate pairs with est_jaccard ≥
    threshold, keep the lower id of each pair (union-by-min over one hop —
    the standard single-pass approximation of connected components; full CC
    would iterate this join to a fixed point)."""
    cand = minhash_candidates(df, id_col=id_col, text_col=text_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    losers = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_sigs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sh) — 64-bit SimHash over word tokens.

    For each bit position j: sum over tokens of (+1 if bit j of
    xxhash64(token) else -1); simhash bit j = 1 iff the sum > 0.  Same
    scale-shape as :func:`minhash_sigs`: explode tokens → one groupBy(id)
    with 64 codegen'd conditional-sum aggregates (map-side partials collapse
    each doc before the shuffle); documents with no tokens drop out.
    """
    exploded = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok")
    ).withColumn("h", _hash64(F.col("tok"), hash_fn))
    # 64 conditional-sum aggregates + threshold + OR-assembly as ONE SQL
    # string (r10): the Column-object form cost ~500 py4j round trips of
    # driver time per invocation (same rationale as sign_band_structs);
    # bit 63's constant is -(1<<63) (sign bit).  Disjoint powers of two
    # make | and + equivalent; | kept for intent.
    terms = []
    for j in range(64):
        c = (1 << j) if j < 63 else -(1 << 63)
        terms.append(
            f"IF(sum(IF(((h >> {j}) & 1) = 1, 1, -1)) > 0, {c}L, 0L)"
        )
    sh_sql = " | ".join(terms)
    return exploded.groupBy("id").agg(F.expr(sh_sql).alias("sh"))


def hamming_band_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "id",
    hash_col: str = "sh",
    max_hamming: int = 3,
    bucket_cap: int | None = 500,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs of 64-bit signatures agreeing on at
    least one of 4 × 16-bit chunks and within ``max_hamming`` — THE shared
    banding engine behind every hamming fingerprint family: SimHash text
    near-dup here, image aHash and audio energy fingerprints in
    engine/extended/multimodal.py (one copy, per the sign-LSH precedent of
    ``sign_band_structs``).

    Pigeonhole: hamming ≤ 3 guarantees a shared chunk, so recall is exact
    up to 3; above that the banding is approximate (documented per
    caller).  ``bucket_cap`` bounds each (chunk, ckey) bucket to its
    lowest-id members before the self-join (:func:`cap_per_key`): a
    pathological chunk value shared by millions of near-identical items
    costs O(cap²), not O(n²).
    NULL signatures are excluded up front.
    """
    if max_hamming < 0 or max_hamming > 64:
        raise ValueError(f"max_hamming must be in [0, 64], got {max_hamming}")
    base = sigs.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sh")
    )
    chunk_keys = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("sh"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("ckey"),
            )
            for c in range(4)
        ]
    )
    bucket = ["chunk", "ckey"]
    chunks = cap_per_key(band_rows(base, chunk_keys, "id", "sh"), bucket, "id", bucket_cap)
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        band_pairs(chunks, bucket)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_candidates(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    bucket_cap: int = 500,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on each of 4 16-bit chunks
    (pigeonhole: hamming ≤ 3 ⇒ at least one chunk equal), verify hamming
    distance within buckets.  Returns (id_a, id_b, hamming) — the text
    instantiation of :func:`hamming_band_pairs`.
    """
    sigs = cache.ledger_persist(
        simhash_sigs(df, id_col=id_col, text_col=text_col, hash_fn=hash_fn)
    )
    return hamming_band_pairs(
        sigs, max_hamming=max_hamming, bucket_cap=bucket_cap
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact verify; used standalone on candidates)
# ---------------------------------------------------------------------------


def _pair_shingles(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id_a, id_b, sh_a, sh_b): candidate pairs joined with both sides'
    distinct-shingle arrays — the shared skeleton of the exact-verification
    scorers (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`).
    Joining the arrays onto the (bounded) candidate set keeps verification
    candidate-sized, never a corpus-wide shuffle."""
    sh = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    ).select(
        "id",
        F.array_distinct(ngrams_from(F.col("__toks"), shingle_n)).alias("sh"),
    )
    return pairs.join(
        sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(
        sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs.

    jaccard = |A ∩ B| / |A ∪ B| over distinct word shingles (see
    :func:`_pair_shingles` for the scale shape).
    """
    out = _pair_shingles(df, pairs, id_col, text_col, shingle_n).withColumn(
        "jaccard",
        F.round(
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
            4,
        ),
    )
    return out.select("id_a", "id_b", "jaccard")


def weighted_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multiset (frequency-weighted) token Jaccard for candidate pairs:
    ``Σ_t min(cA_t, cB_t) / Σ_t max(cA_t, cB_t)`` — the similarity that
    sees REPETITION where set-based Jaccard collapses it ("spam spam spam"
    vs "spam" are identical as sets but 1/3 as multisets).  Computed with
    ONE inner join via the identity ``Σmax = |A| + |B| − Σmin``, so the
    per-pair token union never materializes.

    Scale shape: per-doc token counts build once ((id, token) aggregate,
    distinct-pair volume); the candidate set joins its two count slices
    and the shared-token inner join carries only tokens present on BOTH
    sides.  Cost is candidates × shared tokens — bounded by the blocker's
    cap, never corpus-quadratic.
    """
    tokc = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = tokc.groupBy("id").agg(F.sum("c").alias("n"))
    shared = (
        pairs.join(
            tokc.select(
                F.col("id").alias("id_a"),
                "tok",
                F.col("c").alias("__ca"),
            ),
            "id_a",
        )
        .join(
            tokc.select(
                F.col("id").alias("id_b"),
                F.col("tok"),
                F.col("c").alias("__cb"),
            ),
            ["id_b", "tok"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("__ca", "__cb")).alias("__minsum"))
    )
    out = (
        pairs.join(shared, ["id_a", "id_b"], "left")
        .join(
            totals.select(F.col("id").alias("id_a"), F.col("n").alias("__na")),
            "id_a",
            "left",
        )
        .join(
            totals.select(F.col("id").alias("id_b"), F.col("n").alias("__nb")),
            "id_b",
            "left",
        )
        .withColumn("__m", F.coalesce("__minsum", F.lit(0)))
    )
    # a token-less doc is absent from the count tables: its total reads 0,
    # so empty-vs-nonempty scores 0.0 (Σmin=0 over Σmax=|B|) and only the
    # 0/0 empty-vs-empty pair is NULL (randomized Counter-reference catch)
    denom = (
        F.coalesce("__na", F.lit(0))
        + F.coalesce("__nb", F.lit(0))
        - F.col("__m")
    )
    return out.select(
        "id_a",
        "id_b",
        F.when(denom > 0, F.round(F.col("__m") / denom, 4)).alias(
            "weighted_jaccard"
        ),
    )


def prefix_block_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_prefix: int = 5,
    block_cap: int | None = 500,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs blocked on a shared ``n_prefix``-token
    prefix — the SQL-checkable blocker the exact-verification queries
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`) feed on.

    ``block_cap`` bounds each prefix block to its ``block_cap`` lowest-id
    members BEFORE the self-join (the :func:`cap_per_key` contract): a
    boilerplate opening shared by 10k documents would otherwise make the
    block quadratic.  Worst case per block is C(block_cap, 2) pairs — the
    same bound every banded near-dup path in this module accepts.  ``None``
    disables (oracle-exactness probes only).
    """
    toked = tokens(text_col)
    keyed = df.select(
        F.col(id_col).alias("id"),
        F.when(
            F.size(toked) >= n_prefix,
            F.array_join(F.slice(toked, 1, n_prefix), " "),
        ).alias("pkey"),
    ).filter(F.col("pkey").isNotNull())
    keyed = cap_per_key(keyed, ["pkey"], "id", block_cap)
    return band_pairs(keyed, ["pkey"]).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    )


def ngram_containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram CONTAINMENT for given (id_a, id_b) candidate pairs:
    ``contain_a = |A∩B| / |A|`` and ``contain_b = |A∩B| / |B|`` over
    distinct word shingles — Broder's asymmetric resemblance.  The
    subset-duplication detector Jaccard misses: a short doc quoted whole
    inside a long one has tiny Jaccard (the union is large) but
    containment ≈ 1 on the short side.  Empty shingle sets score NULL,
    never a division error.  Candidates come from any blocker (banded
    MinHash at scale, prefix blocking in the gate query); see
    :func:`_pair_shingles` for the candidate-sized scale shape.
    """
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    out = (
        _pair_shingles(df, pairs, id_col, text_col, shingle_n)
        .withColumn(
            "contain_a",
            F.when(
                F.size("sh_a") > 0, F.round(inter / F.size("sh_a"), 4)
            ),
        )
        .withColumn(
            "contain_b",
            F.when(
                F.size("sh_b") > 0, F.round(inter / F.size("sh_b"), 4)
            ),
        )
    )
    return out.select("id_a", "id_b", "contain_a", "contain_b")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _unit_hyperplanes(dim: int, planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from a splitmix-style integer
    stream (no RNG dependency; stable across runs/machines)."""
    vecs = []
    state = 0x9E3779B97F4A7C15
    for p in range(planes):
        v = []
        for d in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to [-1, 1)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        vecs.append(v)
    return vecs


def _dot(vec_col: Column, const: list[float]) -> Column:
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(float(x)) for x in const]),
            lambda a, b: a.cast("double") * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def vec_norm(a: Column) -> Column:
    """Euclidean norm of a float-array column, computed in double — the
    exact per-vector subexpression of :func:`cosine`, exposed so pair
    pipelines can evaluate it once per ROW instead of once per PAIR."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the norms supplied by the caller.

    Bit-identical to :func:`cosine` when ``na``/``nb`` are
    :func:`vec_norm` of the same arrays — the point is WHERE they are
    evaluated: a banded pair join scores each candidate pair, so inlined
    norms cost two extra O(dim) folds per PAIR; projecting them per row
    before the join cuts the dominant per-pair work 3× (r11 opt round,
    measured on the hot-bucket skew fixture)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # zero vectors: null similarity, never a division error (one bad
    # embedding must not fail the job — caught by the adversarial audit)
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def cosine(a: Column, b: Column) -> Column:
    """cosine similarity of two float-array columns, computed in double."""
    return cosine_with_norms(a, b, vec_norm(a), vec_norm(b))


def sign_band_structs(vec_col: str, hp: list[list[float]], bands: int) -> Column:
    """Array of (band, bkey) structs: the hyperplane sign bits of ``hp``
    split into ``bands`` band keys — THE shared bucketing expression of the
    sign-LSH family (:func:`embedding_near_dup` here,
    :func:`engine.extended.similarity.lsh_knn_join` on the other side of
    the import edge).  Validates the split: ``len(hp) % bands != 0`` would
    silently drop trailing hyperplanes (lower recall than configured) and
    ``bands > len(hp)`` would build empty keys.

    Built as ONE ``F.expr`` SQL string, not a Column tree (r10): the
    py4j-call version constructed planes × (zip_with + aggregate + dim
    literals) ≈ 600 gateway round trips and cost ~1 s of DRIVER time per
    invocation — 4× per lsh_knn_join call, dominating the whole query at
    bench scale (measured: build 0.96 s vs execute 0.21 s on 2k rows).
    One expr string is one gateway call; the JVM parser handles the rest.
    ``{x!r}`` float formatting is the shortest round-trip repr, so the
    parsed doubles are bit-identical to the former ``F.lit`` path."""
    planes = len(hp)
    if bands < 1 or planes % bands != 0:
        raise ValueError(
            f"planes ({planes}) must be a positive multiple of bands ({bands})"
        )
    per_band = planes // bands
    structs = []
    for bidx in range(bands):
        bits = " | ".join(
            f"IF({dot_sql(vec_col, hp[bidx * per_band + p])} >= 0, {1 << p}, 0)"
            for p in range(per_band)
        )
        structs.append(
            f"named_struct('band', {bidx}, 'bkey', CAST(({bits}) AS BIGINT))"
        )
    return F.expr("array(" + ", ".join(structs) + ")")


def dot_sql(vec_col: str, plane: list[float]) -> str:
    """SQL text for the fixed left-to-right dot fold of ``vec_col`` with a
    constant vector — the string sibling of :func:`_dot`, shared by every
    hyperplane-family expression that is built per plane (see
    sign_band_structs's rationale: expression STRINGS cost one py4j call
    total; Column trees cost hundreds).  ``{x!r}`` is shortest-round-trip,
    so parsed doubles match the ``F.lit`` path bit-for-bit."""
    arr = ", ".join(f"{float(x)!r}D" for x in plane)
    return (
        f"aggregate(zip_with(`{vec_col}`, array({arr}), "
        f"(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)"
    )


def embedding_near_dup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 16,
    planes: int = 16,
    bands: int = 4,
    threshold: float = 0.95,
    bucket_cap: int | None = 500,
    pair_score: str = "per_collision",
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold.

    Bucketing: sign bits over ``planes`` fixed hyperplanes (random-projection
    LSH), split into ``bands`` band-keys — a pair is a candidate if ANY band
    of sign bits matches, which keeps recall high for cos≈1 pairs
    (per-band collide prob (1-θ/π)^(planes/bands), any-of-``bands`` boosted).
    Exact cosine verifies within buckets.  Returns (id_a, id_b, cos_sim).

    ``bucket_cap`` bounds each (band, bkey) bucket to its lowest-id members
    before the self-join — the :func:`cap_per_key` contract (overflow
    rows emit no pairs).  This is load-bearing at scale: each band has only
    2^(planes/bands) possible keys (16 at the defaults), so an UNCAPPED
    banded self-join over clustered embeddings is quadratic in corpus size
    (r11 ×100 probe: a 220k-vector fixture spilled >79 GB before dying).
    At corpus scale ALSO raise ``planes``/``bands`` so the expected bucket
    size sits well under the cap (e.g. planes=64, bands=8 → 256 keys/band,
    ~99% any-band recall at cos 0.95).

    ``pair_score`` picks where the exact cosine is evaluated — results are
    identical, cost profiles are not (both A/B-measured r11):

    - ``"per_collision"`` (default): score inside the banded join, dedup
      the surviving (id_a, id_b, sim) rows.  A pair colliding in k bands
      scores k times, but NOTHING outside the banded join is ever touched —
      the right default at corpus scale, where candidate pairs are sparse
      and a corpus-wide vector fetch would dominate.
    - ``"dedup_first"``: dedup bare id pairs, then fetch both vectors back
      from ``df`` by id and score once per unique pair.  3× faster on a
      hot-bucket hostile fixture (21.5 s → 6.4 s at 20k vectors: capped hot
      buckets collide in every band, so per-collision pays bands× the
      cosine work), a wash on uniform data — but the fetch joins touch the
      FULL corpus embedding column, so prefer it only when the corpus is
      modest or buckets are known-hot.
    """
    if pair_score not in ("per_collision", "dedup_first"):
        raise ValueError(f"unknown pair_score: {pair_score!r}")
    hp = _unit_hyperplanes(dim, planes)
    # per_collision scores inside the banded join, so the banded frame
    # carries the vector plus its norm — the norm projected once per ROW
    # (rides the cap window + persist at +8 bytes/row) means the pair
    # stage pays one dot fold per candidate, not dot + two norm folds
    # (r11 opt; see cosine_with_norms).  dedup_first only needs bare ids
    # through the banded join (vectors are fetched back per unique pair),
    # so its banded/persisted frame drops the payload entirely.
    payload = (
        [F.col(vec_col).alias("v"), vec_norm(F.col(vec_col)).alias("n")]
        if pair_score == "per_collision"
        else []
    )
    sigs = band_rows(
        df, sign_band_structs(vec_col, hp, bands), F.col(id_col).alias("id"), *payload
    )
    sigs = cache.ledger_persist(
        cap_per_key(sigs, ["band", "bkey"], "id", bucket_cap)
    )
    joined = band_pairs(sigs, ["band", "bkey"])
    if pair_score == "dedup_first":
        cand = joined.select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        ).dropDuplicates(["id_a", "id_b"])
        va = df.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("__va"),
            vec_norm(F.col(vec_col)).alias("__na"),
        )
        vb = df.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
            vec_norm(F.col(vec_col)).alias("__nb"),
        )
        return (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.round(
                    cosine_with_norms(
                        F.col("__va"), F.col("__vb"),
                        F.col("__na"), F.col("__nb"),
                    ),
                    4,
                ).alias("cos_sim"),
            )
            .filter(F.col("cos_sim") >= threshold)
        )
    # cosine computed IN the join projection: the pair-dedup exchange then
    # carries one 8-byte double per candidate instead of two dim-long float
    # arrays (the MinHash path's est-in-projection discipline); a pair
    # colliding in k bands scores k times — CPU for shuffle bytes, the
    # right trade at scale
    return (
        joined.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(
                cosine_with_norms(
                    F.col("a.v"), F.col("b.v"), F.col("a.n"), F.col("b.n")
                ),
                4,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def near_dup_groups(
    pairs: DataFrame, *, max_iterations: int = 20
) -> DataFrame:
    """Transitive closure of candidate pairs: (id, group_id) where group_id
    is the smallest id reachable through the pair graph (connected
    components via label propagation + pointer doubling).

    Each round does TWO label moves: (1) union-by-min over neighbors (one
    hop through the edge list), then (2) pointer doubling — every node jumps
    to its current group leader's label (``group_id`` is always a node id,
    so labels self-join).  Doubling makes the propagation distance grow
    geometrically, so convergence is O(log diameter) rounds, not
    O(diameter): a 100 000-hop chain (pathological but legal input at corpus
    scale) converges in ~17 rounds where plain propagation needs 100 000.
    The default ``max_iterations=20`` therefore covers any component a real
    corpus can produce (diameter ≲ 2^20).  Each round is two shuffles on id;
    labels are checkpointed to keep lineage flat.  If labels are STILL
    changing after ``max_iterations``, the function RAISES rather than
    silently returning partial components: a truncated closure is a wrong
    dedup decision at any scale — raise the cap, don't ship the partial
    answer.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("group_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = -1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("group_id").alias("nbr_min"))
        )
        hopped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("group_id"), F.coalesce(F.col("nbr_min"), F.col("group_id"))
            ).alias("group_id"),
        )
        # pointer doubling: jump to the leader's label (leader is a node, so
        # its row exists in `hopped`); left join keeps self-rooted nodes
        leader = hopped.select(
            F.col("id").alias("__lid"), F.col("group_id").alias("__lgrp")
        )
        new_labels = (
            hopped.join(leader, hopped.group_id == F.col("__lid"), "left")
            .select(
                "id",
                F.least(
                    F.col("group_id"),
                    F.coalesce(F.col("__lgrp"), F.col("group_id")),
                ).alias("group_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.group_id") != F.col("o.group_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"near_dup_groups did not converge in {max_iterations} iterations "
            f"({changed} labels still changing) — raise max_iterations; a "
            "truncated closure would be a silent wrong dedup"
        )
    return labels


def minhash_dedup_cc(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Full transitive near-dup removal: LSH candidates → connected
    components → keep each group's smallest id.  Unlike the single-hop
    :func:`minhash_dedup`, a chain A~B~C collapses to {A} even when A and C
    share no band."""
    cand = minhash_candidates(df, id_col=id_col, text_col=text_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    groups = near_dup_groups(cand)
    losers = groups.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def minhash_band_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
    bucket_cap: int = 500,
) -> DataFrame:
    """(id, sig, band, bkey) — the persistable LSH band index of a corpus.

    At deployment scale this table is written once, partitioned/bucketed by
    (band, bkey); each incremental batch probes it instead of recomputing
    corpus signatures (see :func:`minhash_incremental`).

    ``bucket_cap`` keeps only each bucket's ``bucket_cap`` lowest-id members
    (same contract and tradeoff as :func:`minhash_candidates`): a degenerate
    bucket — identical boilerplate shared by millions of docs — otherwise
    makes every future probe of that bucket O(n), unbounded.  For exact
    duplicates the cap is lossless (every member has the same signature, so
    any surviving member kills the incoming dup); capped per materialization,
    so re-cap on index compaction if buckets grow across many batches.
    """
    sigs = minhash_sigs(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        shingle_n=shingle_n,
        hash_fn=hash_fn,
    )
    index = band_rows(sigs, _minhash_band_keys(num_hashes, bands, hash_fn), "id", "sig")
    return cap_per_key(index, ["band", "bkey"], "id", bucket_cap)


def minhash_incremental(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
):
    """Dedup an incremental batch against an existing corpus WITHOUT
    recomputing corpus signatures.

    Returns ``(kept_new_docs, updated_index)``: new docs whose signature
    collides with a corpus band bucket AND whose estimated Jaccard ≥
    threshold are dropped (the corpus copy wins); within-batch duplicates
    resolve by lowest id.  ``updated_index`` = corpus index + surviving new
    docs' bands — feed it to the next batch (the reference's memoization
    pattern applied to dedup state).

    Shuffle shape: the batch's band table joins the (bucketed) corpus index
    on (band, bkey) — batch-sized probe, corpus never rescanned.
    """
    new_index = cache.ledger_persist(
        minhash_band_index(
            new_docs,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            hash_fn=hash_fn,
        )
    )

    def est(a, b):
        return F.size(
            F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda e: e)
        ) / F.lit(float(num_hashes))

    # vs corpus: any collision with est ≥ threshold kills the new doc
    vs_corpus = (
        new_index.alias("n")
        .join(
            corpus_index.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.bkey") == F.col("c.bkey")),
        )
        .filter(est(F.col("n.sig"), F.col("c.sig")) >= threshold)
        .select(F.col("n.id").alias("dup_id"))
        .distinct()
    )
    # within batch: higher id loses to lower id
    within = (
        band_pairs(new_index, ["band", "bkey"])
        .filter(est(F.col("a.sig"), F.col("b.sig")) >= threshold)
        .select(F.col("b.id").alias("dup_id"))
        .distinct()
    )
    dups = vs_corpus.unionByName(within).distinct()
    kept = new_docs.join(
        dups.withColumnRenamed("dup_id", id_col), on=id_col, how="left_anti"
    )
    surviving_index = new_index.join(
        dups.withColumnRenamed("dup_id", "id"), on="id", how="left_anti"
    )
    updated_index = corpus_index.unionByName(surviving_index)
    return kept, updated_index


# ---------------------------------------------------------------------------
# Span-level dedup (remove exact duplicated token spans across the corpus —
# the "repeated boilerplate paragraph" pass; reference analogue: the
# keep-first row dedup of lib/pipeline_controller.py:176-181 applied at
# sub-document granularity)
# ---------------------------------------------------------------------------


def doc_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, pos, span, fp): non-overlapping ``span_tokens``-token windows.

    The final partial window is kept (fingerprinted as-is) so spans cover
    the whole document and reassembly is lossless.  Pure expression work —
    tokenize once, slice per position — zero shuffles.
    """
    n_spans = F.ceil(F.size("__toks") / F.lit(span_tokens)).cast("int")
    toked = df.select(
        F.col(id_col).alias("id"), tokens(text_col).alias("__toks")
    ).filter(F.size("__toks") > 0)
    spans = toked.select(
        "id",
        F.explode(F.sequence(F.lit(0), n_spans - 1)).alias("pos"),
        F.col("__toks"),
    ).select(
        "id",
        "pos",
        F.array_join(
            F.slice("__toks", F.col("pos") * span_tokens + 1, span_tokens), " "
        ).alias("span"),
    )
    return spans.withColumn("fp", _hash64(F.col("span"), hash_fn))


def duplicate_span_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
    round_to: int = 4,
) -> DataFrame:
    """Per-doc duplicated-span profile: (id, n_spans, n_dup_spans, dup_fraction).

    A span is "duplicated" when its fingerprint occurs ``min_count``+ times
    corpus-wide.  Shuffle budget: one fingerprint aggregate (map-side
    partials collapse identical boilerplate before the exchange), one join
    of spans against the *duplicated-only* fingerprint set (filtered before
    the join, so the probe side is the rare-duplicate slice, not the
    corpus), one per-doc aggregate.
    """
    spans = doc_spans(
        df, id_col=id_col, text_col=text_col,
        span_tokens=span_tokens, hash_fn=hash_fn,
    )
    dup_fps = (
        spans.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") >= min_count)
        .select("fp")
        .withColumn("__dup", F.lit(1))
    )
    return (
        spans.join(dup_fps, "fp", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("__dup").alias("n_dup_spans"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), round_to).alias(
                "dup_fraction"
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    min_count: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rewrite each doc dropping spans duplicated corpus-wide — except in the
    span's canonical owner (lowest id containing it), which keeps its copy so
    every span survives exactly once (the RefinedWeb/C4 boilerplate-removal
    shape).

    Returns (id, clean_text, n_spans, n_dropped).  Reassembly is a per-doc
    sort of the kept (pos, span) pairs — array_sort over a collected struct
    list, never a global sort.  Docs whose every span was dropped surface
    with clean_text = '' rather than disappearing.
    """
    spans = doc_spans(
        df, id_col=id_col, text_col=text_col,
        span_tokens=span_tokens, hash_fn=hash_fn,
    )
    dup_owner = (
        spans.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("id").alias("__owner"))
        .filter(F.col("__cnt") >= min_count)
        .select("fp", "__owner")
    )
    tagged = spans.join(dup_owner, "fp", "left")
    kept_flag = F.col("__owner").isNull() | (F.col("__owner") == F.col("id"))
    return (
        tagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(~kept_flag, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(kept_flag, F.struct("pos", "span"))
                        )
                    ),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(F.col("id").alias(id_col), "clean_text", "n_spans", "n_dropped")
    )


# ---------------------------------------------------------------------------
# Line-level dedup (remove boilerplate LINES shared across documents — the
# CCNet/RefinedWeb line-wise filter: "Sign in", cookie banners, nav menus.
# Sibling of the token-span pass above: spans catch copied prose runs;
# lines catch template furniture that newline structure delimits exactly)
# ---------------------------------------------------------------------------


def doc_lines(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, line, norm): newline-split positions (0-based), the raw
    line verbatim, and the ASCII-edge-stripped normal form used for
    cross-document matching.

    The normalizer is an explicit ``[ \\t\\r]`` edge regexp, never TRIM —
    engine TRIMs disagree on Unicode spaces (the html_to_text fuzz
    finding), and stripping ``\\r`` folds CRLF corpora onto LF ones.  Pure
    projection — tokenless, zero shuffles; NULL-text docs contribute no
    rows (split of NULL explodes to nothing), empty-text docs contribute
    one empty line so they survive rewriting verbatim.
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn(
        "norm", F.regexp_replace(F.col("line"), r"^[ \t\r]+|[ \t\r]+$", "")
    )


def line_dedup_rewrite(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rewrite each doc dropping every line whose normal form appears in
    ``min_docs``+ DISTINCT documents (all occurrences drop — boilerplate has
    no canonical owner, unlike copied prose in
    :func:`remove_duplicate_spans`).  Blank lines never match (paragraph
    structure survives) and docs whose every line dropped surface with
    clean_text = '' rather than disappearing.

    Returns (id, clean_text, n_lines, n_dropped).  Shuffle budget: one
    fingerprint aggregate for per-line document counts (two-level: partials
    collapse (fp, id) duplicates map-side, then fold to fp — the hot
    "Home" line costs one partial per task, not its occurrence volume), one
    join of lines against the FILTERED boilerplate fingerprint set (the
    rare slice, broadcastable on clean corpora), one per-doc reassembly
    aggregate sorting (pos, line) structs in memory — never a global sort.
    ``hash_fn='md5'`` makes the fingerprints dual-implementable for the SQL
    oracle; xxhash64 is the production default (8-byte shuffle keys).
    """
    lines = doc_lines(df, id_col=id_col, text_col=text_col)
    fp = F.when(F.col("norm") != "", _hash64(F.col("norm"), hash_fn))
    lines = lines.withColumn("fp", fp)
    boiler = (
        lines.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count_distinct("id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("fp", F.lit(1).alias("__boiler"))
    )
    tagged = lines.join(boiler, "fp", "left")
    kept = F.col("__boiler").isNull()
    return (
        tagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select(F.col("id").alias(id_col), "clean_text", "n_lines", "n_dropped")
    )


def line_fp_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(fp, n_docs): distinct-document counts per non-blank normalized line
    — the persisted corpus-side state of incremental line dedup (sibling of
    :func:`minhash_band_index`).  Two-level (fp, id) aggregate; the shuffle
    carries distinct pairs, never occurrence volume.

    Merge a new batch's index with ``old.union(new).groupBy('fp').sum()``
    ONLY when batches carry disjoint document ids (the incremental-runner
    contract); overlapping ids need a recount from raw lines.  The index
    stores bare fingerprints with NO hash metadata — every later probe
    (:func:`line_dedup_incremental`) must pass the same ``hash_fn``.
    """
    lines = doc_lines(df, id_col=id_col, text_col=text_col)
    return (
        lines.filter(F.col("norm") != "")
        .select(_hash64(F.col("norm"), hash_fn).alias("fp"), F.col("id"))
        .groupBy("fp")
        .agg(F.count_distinct("id").alias("n_docs"))
    )


def line_dedup_incremental(
    batch: DataFrame,
    index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Rewrite a NEW batch against an existing :func:`line_fp_index`: a
    line drops when its combined distinct-doc count — index plus this
    batch — reaches ``min_docs``.  The corpus never re-reads its raw lines
    (the index IS its state), so ingesting N batches costs O(batch lines +
    index probe) per batch, exactly the incremental-MinHash discipline.

    Returns (id, clean_text, n_lines, n_dropped), same contract as
    :func:`line_dedup_rewrite` (blank lines never match; all-dropped docs
    surface with clean_text = '').  The index is first SEMI-JOINED down to
    fingerprints THE BATCH CONTAINS (broadcast of the batch fp set — a
    left-outer with the batch preserved could never broadcast the batch
    side, and would shuffle the corpus-scale index every batch); the
    count join then runs against that batch-sized slice, broadcast.

    ``hash_fn`` MUST match the family the index was built with: the index
    carries no hash metadata, and an md5-built index probed with xxhash64
    fingerprints simply never matches — index-side boilerplate passes
    through silently.  The registry query pins both sides to md5; keep
    production pairs on the xxhash64 default end to end.
    """
    lines = doc_lines(batch, id_col=id_col, text_col=text_col)
    fp = F.when(F.col("norm") != "", _hash64(F.col("norm"), hash_fn))
    lines = lines.withColumn("fp", fp)
    batch_counts = (
        lines.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.count_distinct("id").alias("__bn"))
    )
    index_slice = index.join(
        F.broadcast(batch_counts.select("fp")), "fp", "left_semi"
    )
    combined = (
        batch_counts.join(
            F.broadcast(index_slice.select("fp", F.col("n_docs").alias("__in"))),
            "fp",
            "left",
        )
        .select(
            "fp",
            (F.col("__bn") + F.coalesce(F.col("__in"), F.lit(0))).alias("__nd"),
        )
        .filter(F.col("__nd") >= min_docs)
        .select("fp", F.lit(1).alias("__boiler"))
    )
    tagged = lines.join(F.broadcast(combined), "fp", "left")
    kept = F.col("__boiler").isNull()
    return (
        tagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(~kept, 1).otherwise(0)).cast("long").alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(kept, F.struct("pos", "line")))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
        )
        .select(F.col("id").alias(id_col), "clean_text", "n_lines", "n_dropped")
    )
