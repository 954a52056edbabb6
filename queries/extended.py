"""North-star extended operators: text quality, exact/MinHash/SimHash dedup, ANN similarity, multimodal columns.

Split out of the flat queries.py (VERDICT r6 #8); all entries register
into the shared ``queries._base.SPARK_QUERIES`` / ``ORACLE_SQL``.
"""

from __future__ import annotations

from queries._base import *  # noqa: F401,F403
from queries._base import _arr_str  # noqa: F401

# ===========================================================================
# North-star extended operators (text / dedup / similarity / multimodal)
# ===========================================================================


@q(
    "text_token_stats",
    """
    SELECT doc_id,
           LENGTH(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))) AS n_tokens,
           MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS fp
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting + document fingerprint (north-star text ops)."""
    from engine.extended.text import fingerprint, token_count

    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", token_count("text").cast("long").alias("n_tokens"), fingerprint("text").alias("fp")
    )


@q(
    "text_quality",
    """
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           ROUND(LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) * 1.0
                 / LENGTH(text), 4) AS alpha_ratio,
           CASE WHEN LENGTH(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))) = 0
                THEN NULL
                ELSE ROUND(LENGTH(list_filter(
                       list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x)),
                       x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) * 1.0
                     / LENGTH(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))), 4)
                END AS stopword_ratio
    FROM documents WHERE LENGTH(text) > 0
    """,
)
def text_quality(spark, sf_dir):
    """Quality-scoring ratios for corpus filtering (north-star)."""
    from engine.extended.text import lang_hits_from, tokens

    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = F.col("__toks")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    return d.select("doc_id", "text", tokens("text").alias("__toks")).select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        F.round(alpha / n_chars.cast("double"), 4).alias("alpha_ratio"),
        F.round(
            lang_hits_from(toks, "en") / F.when(n_toks > 0, n_toks.cast("double")),
            4,
        ).alias("stopword_ratio"),
    )


@q(
    "lang_id",
    """
    WITH tok AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x)) AS toks
      FROM documents),
    hits AS (
      SELECT doc_id,
        LENGTH(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','for','with','was'))) AS h_en,
        LENGTH(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','mit','ein','eine','zu'))) AS h_de,
        LENGTH(list_filter(toks, x -> x IN ('le','la','les','et','est','une','pour','dans','que','des'))) AS h_fr,
        LENGTH(list_filter(toks, x -> x IN ('el','la','los','las','es','una','por','para','con','del'))) AS h_es,
        LENGTH(list_filter(toks, x -> x IN ('il','la','che','di','e','un','una','per','non','sono'))) AS h_it
      FROM tok)
    SELECT doc_id,
      CASE WHEN COALESCE(GREATEST(h_de, h_en, h_es, h_fr, h_it), 0) < 1 THEN 'und'
           WHEN h_de >= GREATEST(h_en, h_es, h_fr, h_it) THEN 'de'
           WHEN h_en >= GREATEST(h_es, h_fr, h_it) THEN 'en'
           WHEN h_es >= GREATEST(h_fr, h_it) THEN 'es'
           WHEN h_fr >= h_it THEN 'fr'
           ELSE 'it' END AS lang_pred
    FROM hits
    """,
)
def lang_id(spark, sf_dir):
    """Language-ID heuristic: argmax of per-language marker hits, ties to the
    alphabetically-first language (north-star)."""
    from engine.extended.text import lang_id_from, tokens

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id", lang_id_from(F.col("__toks")).alias("lang_pred")
    )


@q(
    "dedup_exact",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup via normalized-text hash groupBy, keep lowest id
    (north-star)."""
    from engine.extended.dedup import exact_dedup_docs

    d = t(spark, sf_dir, "documents")
    return exact_dedup_docs(d).select("doc_id", "source")


# --- dual-implementable (md5-mode) oracle SQL for the LSH families --------
# The production hash family is xxhash64 (fastest JVM path, no DuckDB twin);
# these registry queries run the SAME operators in hash_fn="md5" mode, whose
# 60-bit hash (first 15 md5 hex digits) is bit-identical in DuckDB
# (`CAST(('0x' || SUBSTRING(MD5(x), 1, 15)) AS BIGINT)`), making the whole
# signature pipeline — OPH binning, rotation densification, banding, bucket
# caps, pair estimation — value-hash-checkable by the driver.

_MD5H = "CAST(('0x' || SUBSTRING(MD5({x}), 1, 15)) AS BIGINT)"
_TOKS_SQL = "list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))"
_OPH_C_SQL = 0x3779B97F4A7C15


def _minhash_with_sql(
    *, k: int = 64, n: int = 3, bands: int = 16, recursive: bool = False,
    where: str = "",
) -> str:
    """WITH-clause chain ending in banded(doc_id, sig, band, bkey) — the
    DuckDB twin of minhash_sigs + band explosion in md5 mode.

    ``recursive=True`` opens the clause as WITH RECURSIVE so callers can
    append a recursive CTE (the connected-components closure); ``where``
    restricts the corpus slice (the recall audit runs on a bounded
    subset)."""
    rpb = k // bands
    branches = []
    for b in range(bands):
        # bkey is the RAW band slice (list equality == band equality; no
        # hash needed) — mirrors _band_key_sql's md5-mode slice key exactly
        key = f"list_slice(sig, {b * rpb + 1}, {b * rpb + rpb})"
        branches.append(f"SELECT doc_id, sig, {b} AS band, {key} AS bkey FROM sigs")
    banded = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH {"RECURSIVE " if recursive else ""}toks AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents{(' WHERE ' + where) if where else ''}),
    shingles AS (
      SELECT doc_id, UNNEST(list_distinct(CASE WHEN LENGTH(toks) < {n}
        THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - {n - 1}),
             i -> array_to_string(list_slice(toks, i + 1, i + {n}), ' ')) END)) AS shingle
      FROM toks),
    hashed AS (SELECT doc_id, {_MD5H.format(x='shingle')} AS h FROM shingles),
    binned AS (SELECT doc_id, h % {k} AS bin, MIN(h) AS mh
               FROM hashed GROUP BY doc_id, h % {k}),
    slots AS (
      SELECT doc_id, i,
             xor(arg_min(mh, ((bin - i) % {k} + {k}) % {k}),
                 MIN(((bin - i) % {k} + {k}) % {k}) * {_OPH_C_SQL}) AS sv
      FROM binned CROSS JOIN (SELECT UNNEST(range(0, {k})) AS i) ix
      GROUP BY doc_id, i),
    sigs AS MATERIALIZED (
      SELECT doc_id, list(sv ORDER BY i) AS sig FROM slots GROUP BY doc_id),
    banded AS MATERIALIZED (
      {banded})"""


def _est_sql(a: str, b: str, *, k: int = 64) -> str:
    """Jaccard-estimate expression over two ``sig`` arrays; the divisor is
    the signature length, so it must track ``_minhash_with_sql(k=...)``."""
    return (
        f"LENGTH(list_filter(list_zip({a}.sig, {b}.sig), p -> p[1] = p[2]))"
        f" / {float(k)}"
    )




@q(
    "dedup_minhash_lsh",
    # pair-first shape: dedupe bare (id_a, id_b) BEFORE touching signatures —
    # the raw band join multiplies rows by Σ C(bucket, 2), and carrying two
    # 64-slot sigs (plus a list_zip per row) through that blow-up spilled
    # DuckDB past local disk on the skewed pack; 16-byte id pairs stream
    # through fine and the sigs join back once per DISTINCT pair (exactly
    # what the Spark side does: est computed in the join projection, 8-byte
    # pair exchange).
    _minhash_with_sql()
    + f""",
    capped AS MATERIALIZED (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
        FROM banded) WHERE rn <= 500),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
    SELECT c.id_a, c.id_b, ROUND({_est_sql('sa', 'sb')}, 4) AS est_jaccard
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.id_a
    JOIN sigs sb ON sb.doc_id = c.id_b
    """,
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs (north-star; SURVEY §7 step 7).
    md5-mode hash family so the full pipeline is oracle-checkable; the
    xxhash64 production family is benchmarked separately (bench.py)."""
    from engine.extended.dedup import minhash_candidates

    d = t(spark, sf_dir, "documents")
    # no trailing global sort: the driver comparator sorts rows itself, and
    # at 100 TB a total order over all candidate pairs is never wanted.
    return minhash_candidates(d, num_hashes=64, bands=16, hash_fn="md5")


@q(
    "dedup_minhash_incremental",
    # pair-first + per-build bucket caps, mirroring minhash_band_index's
    # bucket_cap=500 (lowest ids per (band, bkey) within each build) and the
    # lean candidate shape (bare id pairs through the band join; sigs joined
    # back once per DISTINCT pair for the est filter).
    _minhash_with_sql()
    + f""",
    cb AS MATERIALIZED (SELECT doc_id, band, bkey FROM (
      SELECT doc_id, band, bkey,
             ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
      FROM banded WHERE doc_id % 2 = 0) WHERE rn <= 500),
    bb AS MATERIALIZED (SELECT doc_id, band, bkey FROM (
      SELECT doc_id, band, bkey,
             ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
      FROM banded WHERE doc_id % 2 = 1) WHERE rn <= 500),
    cand AS (
      SELECT DISTINCT n.doc_id AS dup_id, c.doc_id AS other_id
      FROM bb n JOIN cb c ON n.band = c.band AND n.bkey = c.bkey
      UNION
      SELECT DISTINCT b.doc_id AS dup_id, a.doc_id AS other_id
      FROM bb a JOIN bb b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    dups AS (
      SELECT DISTINCT cand.dup_id
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.dup_id
      JOIN sigs sb ON sb.doc_id = cand.other_id
      WHERE {_est_sql('sa', 'sb')} >= 0.5)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT dup_id FROM dups)
    """,
)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental batch dedup against a persisted LSH band index: docs are
    split by id parity into an indexed 'corpus' and an incoming 'batch'; the
    batch probes the corpus index without recomputing corpus signatures
    (the reference's memoized-poll pattern applied to dedup state —
    lib/pipeline_controller.py:110-124's batch loop)."""
    from pyspark.sql import functions as F

    from engine.extended.dedup import minhash_band_index, minhash_incremental

    d = t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    index = minhash_band_index(corpus, hash_fn="md5").persist()
    kept, _ = minhash_incremental(batch, index, threshold=0.5, hash_fn="md5")
    return kept.select("doc_id", "source").orderBy("doc_id")


def _simhash_sql() -> str:
    sums = ",\n             ".join(
        f"SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64)
    )
    c = lambda j: (1 << j) if j < 63 else -(1 << 63)  # noqa: E731
    assembly = " | ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({c(j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(64)
    )
    return f"""
    WITH tk AS (SELECT doc_id, UNNEST({_TOKS_SQL}) AS tok FROM documents),
    h AS (SELECT doc_id, {_MD5H.format(x='tok')} AS hv FROM tk),
    bits AS (SELECT doc_id,
             {sums}
             FROM h GROUP BY doc_id),
    sg AS (SELECT doc_id, ({assembly}) AS sh FROM bits),
    chunks AS (
      SELECT doc_id, sh, c AS chunk, (sh >> (16 * c)) & 65535 AS ckey
      FROM sg CROSS JOIN (SELECT UNNEST(range(0, 4)) AS c) t),
    capped AS (SELECT doc_id, sh, chunk, ckey FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk, ckey ORDER BY doc_id) AS rn
      FROM chunks) WHERE rn <= 500)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
    FROM capped a JOIN capped b
      ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    """


@q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs within hamming≤3 via 16-bit chunk bucketing
    (md5-mode hash family — oracle-checkable; see dedup_minhash_lsh)."""
    from engine.extended.dedup import simhash_candidates

    d = t(spark, sf_dir, "documents")
    return simhash_candidates(d, max_hamming=3, hash_fn="md5").orderBy("id_a", "id_b")


@q(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, GREATEST(LENGTH(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles,
             toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4] || ' ' || toks[5] AS pkey
      FROM (SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x)) AS toks
            FROM documents)
      WHERE LENGTH(toks) >= 5
      QUALIFY ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY doc_id) <= 500)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(LENGTH(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 LENGTH(list_distinct(list_concat(a.shingles, b.shingles))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.pkey = b.pkey AND a.doc_id < b.doc_id
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard over candidate pairs blocked on a shared
    5-token prefix, blocks capped at their 500 lowest-id members (the
    engine.extended.dedup.cap_per_key contract — a boilerplate opening
    shared by 10k docs must not go quadratic;
    engine.extended.dedup.prefix_block_pairs)."""
    from engine.extended.dedup import ngram_jaccard_pairs, prefix_block_pairs

    d = t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, prefix_block_pairs(d))


def _query_vec_rows(emb, preferred: int, *, dim: int | None = None):
    """Deterministic query-vector pick that survives hostile data: the
    embedding of the smallest vec_id >= ``preferred`` with a non-null
    vector (== ``preferred`` itself on the real testdata), fetched in ONE
    TakeOrderedAndProject job.  Returns None when no such vector exists —
    callers emit an EMPTY result then, matching the oracle's empty qv CTE
    (fuzz-found: a NULL embedding at the hard-coded id crashed the
    driver-side literal build).  ``dim`` restricts the pick to vectors of
    exactly that length — for callers whose oracle twin hardcodes slice
    offsets (late_interaction) and must skip odd-dim hostile vectors."""
    cond = F.col("embedding").isNotNull() & (F.col("vec_id") >= preferred)
    if dim is not None:
        cond = cond & (F.size("embedding") == dim)
    rows = (
        emb.filter(cond)
        .orderBy("vec_id")
        .limit(1)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in rows[0][0]] if rows else None


_BRUTE_TOPK_SQL = """
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE embedding IS NOT NULL AND vec_id = (SELECT MIN(vec_id) FROM embeddings WHERE embedding IS NOT NULL AND vec_id >= 7)),
    sims AS (
      SELECT e.vec_id,
             CASE WHEN SQRT(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                       SQRT(list_sum(list_transform(qv.q,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) > 0
             THEN ROUND(
               list_sum(list_transform(list_zip(e.embedding, qv.q),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (SQRT(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
                SQRT(list_sum(list_transform(qv.q,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
             END AS sim
      FROM embeddings e, qv)
    SELECT vec_id, sim FROM sims ORDER BY sim DESC NULLS LAST, vec_id LIMIT 10
"""


@q("ann_cosine_topk", _BRUTE_TOPK_SQL)


def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 against vec_id=7 (the exact baseline the
    LSH path is measured against)."""
    from engine.extended.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec_rows(emb, 7)
    if qv is None:
        return emb.select("vec_id", F.lit(None).cast("double").alias("sim")).limit(0)
    return cosine_topk(emb, qv, k=10)


# --- hyperplane sign-LSH oracles ------------------------------------------
# The hyperplanes are deterministic constants (engine.extended.dedup.
# _unit_hyperplanes — a splitmix-style integer stream), so the SAME literal
# arrays are embedded in the DuckDB SQL: the sign signatures, hamming
# pre-filter, and cosine verification are all reproducible bit-for-bit.
# Generated for the testdata embedding dim (64); the adversarial edge tables
# use the same dim.

_EMB_DIM = 64


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(w)) for w in plane) + "]"


def _lsh_sig_sql(vec_expr: str, hp: list[list[float]], *, bit_base: int = 0) -> str:
    """OR-of-sign-bits signature over the given hyperplanes (DuckDB twin of
    engine.extended.similarity.with_signature / the per-band keys)."""
    terms = []
    for p, plane in enumerate(hp):
        dot = (
            f"list_sum(list_transform(list_zip({vec_expr}, {_plane_literal(plane)}), "
            f"x -> CAST(x[1] AS DOUBLE) * x[2]))"
        )
        terms.append(
            f"(CASE WHEN {dot} >= 0 THEN CAST({1 << (bit_base + p)} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
        )
    return "(" + " | ".join(terms) + ")"


def _ann_lsh_sql() -> str:
    from engine.extended.dedup import _unit_hyperplanes

    hp = _unit_hyperplanes(_EMB_DIM, 16)
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE embedding IS NOT NULL AND vec_id = (SELECT MIN(vec_id) FROM embeddings WHERE embedding IS NOT NULL AND vec_id >= 7)),
    sq AS (SELECT qv, {_lsh_sig_sql('qv', hp)} AS qsig,
           SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM q),
    s AS (SELECT vec_id, embedding, {_lsh_sig_sql('embedding', hp)} AS sig,
          SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings)
    SELECT s.vec_id,
           CASE WHEN s.nrm * sq.qn > 0 THEN ROUND(
             list_sum(list_transform(list_zip(s.embedding, sq.qv),
                      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (s.nrm * sq.qn), 4) END AS sim
    FROM s CROSS JOIN sq
    WHERE bit_count(xor(s.sig, sq.qsig)) <= 4
    ORDER BY sim DESC NULLS LAST, s.vec_id
    LIMIT 10
    """


@q("ann_lsh_topk", _ann_lsh_sql())
def ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate top-10 for the same query vector."""
    from engine.extended.similarity import lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec_rows(emb, 7)
    if qv is None:
        return emb.select("vec_id", F.lit(None).cast("double").alias("sim")).limit(0)
    return lsh_topk(emb, qv, k=10, dim=len(qv))


def _embedding_near_dup_sql() -> str:
    from engine.extended.dedup import _unit_hyperplanes

    hp = _unit_hyperplanes(_EMB_DIM, 16)
    per_band = 4
    branches = []
    for b in range(4):
        key = _lsh_sig_sql("v", hp[b * per_band : (b + 1) * per_band])
        branches.append(f"SELECT vec_id, v, {b} AS band, {key} AS bkey FROM aug")
    banded = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH aug AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000000,
             list_transform(embedding,
               (x, i) -> CAST(x AS DOUBLE) + CASE WHEN i = 1 THEN 0.01 ELSE 0.0 END)
      FROM embeddings WHERE vec_id % 10 = 0),
    banded AS (
      {banded}),
    bcap AS (
      SELECT * FROM banded
      QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY vec_id) <= 500),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bcap a JOIN bcap b
        ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
    v2 AS (SELECT vec_id, v,
           SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM aug),
    scored AS (
      SELECT c.id_a, c.id_b,
             CASE WHEN va.nrm * vb.nrm > 0 THEN ROUND(
               list_sum(list_transform(list_zip(va.v, vb.v), x -> x[1] * x[2]))
               / (va.nrm * vb.nrm), 4) END AS cos_sim
      FROM cand c JOIN v2 va ON va.vec_id = c.id_a
                  JOIN v2 vb ON vb.vec_id = c.id_b)
    SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.95
    """


@q("embedding_near_dup", _embedding_near_dup_sql())
def embedding_near_dup_q(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.95) via banded sign-LSH.

    The synthetic embeddings have no natural near-dups (max pairwise cosine
    ≈0.48), so the query plants them: every 10th vector gets a slightly
    perturbed twin (id + 10^9) that the operator must recover.
    """
    from engine.extended.dedup import embedding_near_dup

    emb = t(spark, sf_dir, "embeddings")
    first = emb.select(F.size("embedding").alias("d")).first()
    perturbed = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.when(i == 0, F.lit(0.01)).otherwise(F.lit(0.0))
        ).alias("embedding"),
        "label",
    )
    aug = emb.unionByName(perturbed)
    # bucket_cap=500 (engine scale default), mirrored in the oracle's
    # QUALIFY — inert at test SFs (largest bucket ≪ 500), load-bearing at
    # corpus scale (r11 ×100 probe: uncapped spilled >79 GB).
    # pair_score="dedup_first": the gate/bench corpora are modest and the
    # skew fixture hot-bucketed — the regime where scoring once per unique
    # pair wins 3× (A/B r11); pairs are identical either way, so the
    # oracle is mode-agnostic.
    return embedding_near_dup(
        aug, dim=first["d"], threshold=0.95, bucket_cap=500,
        pair_score="dedup_first",
    ).orderBy(
        "id_a", "id_b"
    )


@q(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS mime_fake
    FROM documents
    """,
)
def multimodal_meta(spark, sf_dir):
    """Multimodal binary-column plumbing: payload byte length + typed mime
    metadata (engine.schemas.MEDIA convention)."""
    d = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    m = F.col("doc_id") % 3
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.when(m == 0, F.lit("image/png"))
        .when(m == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("mime_fake"),
    )


@q(
    "multimodal_features",
    """
WITH m AS (
  SELECT doc_id, text,
         CAST(('0x' || SUBSTRING(MD5(text), 1, 15)) AS BIGINT) AS h,
         HEX(ENCODE(text)) AS hx,
         OCTET_LENGTH(ENCODE(text)) AS n
  FROM documents),
-- distinct payloads only (duplicate doc_id rows must not merge their byte
-- counts — the per-ROW contract; same join-back shape as audio_features)
counts AS (
  SELECT hx, n, b, COUNT(*) AS c
  FROM (SELECT u.hx, u.n,
               CAST(('0x' || SUBSTRING(u.hx, 2 * t.i + 1, 2)) AS INTEGER) AS b
        FROM (SELECT DISTINCT hx, n FROM m WHERE text IS NOT NULL) u,
             UNNEST(range(0, u.n)) AS t(i))
  GROUP BY hx, n, b),
-- terms folded in ASCENDING byte order, the exact accumulation order of the
-- engine's per-byte loop: IEEE round-to-nearest is sign-symmetric, so
-- -(t0+t1+...) == the engine's running 0-t0-t1-... bit for bit
ent AS (
  SELECT hx,
         FLOOR(-(list_aggregate(
             list((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))
                  ORDER BY b), 'sum')) * 10000 + 0.5) / 10000 AS e
  FROM counts GROUP BY hx, n)
SELECT m.doc_id AS media_id,
       CASE WHEN h % 3 = 0 THEN 'image/png'
            WHEN h % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       CASE WHEN m.text IS NULL THEN NULL ELSE CAST(m.n AS BIGINT) END
         AS n_bytes,
       CASE WHEN m.text IS NULL THEN NULL ELSE COALESCE(e.e, 0.0) END
         AS byte_entropy
FROM m LEFT JOIN ent e ON m.hx = e.hx
    """,
)
def multimodal_features(spark, sf_dir):
    """Byte-level media features through the mapInPandas seam (entropy +
    histogram signature) over fake deterministic payloads."""
    from engine.extended.multimodal import fake_media_from_text, media_features

    d = t(spark, sf_dir, "documents")
    media = fake_media_from_text(d)
    return media_features(media).select("media_id", "mime", "n_bytes", "byte_entropy")


@q(
    "bigram_lm_quality",
    """
    WITH toks AS (
      SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                    x -> LOWER(x)) AS toks
      FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(CASE WHEN LENGTH(toks) < 2 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 1),
             i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END) AS bg
      FROM toks),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           ROUND(AVG(log2(c2.c2 / c1.c1)), 4) AS avg_logp
    FROM bg b JOIN c2 ON b.bg = c2.bg
    JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
    GROUP BY b.doc_id
    """,
)
def bigram_lm_quality(spark, sf_dir):
    """Model-based quality scoring: per-doc average bigram log-prob under the
    corpus's own bigram LM (the KenLM-perplexity filtering shape with model
    training fused into the plan — engine.extended.curation.bigram_lm_scores)."""
    from engine.extended.curation import bigram_lm_scores

    d = t(spark, sf_dir, "documents")
    return bigram_lm_scores(d)


_URL_T2_SQL = """
      SELECT doc_id, source,
             text || ' see https://' || source || '.example.org/doc/'
                  || CAST(doc_id AS VARCHAR)
                  || CASE WHEN doc_id % 5 = 0
                     THEN ' and http://blocked.example.net/x' ELSE '' END AS tx
      FROM documents"""


def _url_text2_expr():
    return F.concat(
        F.col("text"),
        F.lit(" see https://"), F.col("source"), F.lit(".example.org/doc/"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 5 == 0, F.lit(" and http://blocked.example.net/x")
        ).otherwise(F.lit("")),
    )


@q(
    "url_domain_stats",
    f"""
    WITH t2 AS ({_URL_T2_SQL}),
    u AS (SELECT doc_id,
          UNNEST(regexp_extract_all(tx, '(?i:https?)://[A-Za-z0-9.-]+(?:/[^\\s]*)?')) AS url
          FROM t2)
    SELECT regexp_extract(url, '(?i:https?)://([A-Za-z0-9.-]+)', 1) AS domain,
           COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
    FROM u GROUP BY 1
    """,
)
def url_domain_stats(spark, sf_dir):
    """URL extraction + per-domain stats (the C4/RefinedWeb domain-profile
    step).  Documents get deterministic URLs planted (the synthetic corpus
    has none), then extraction/domain-grouping runs the real operators
    (engine.extended.curation.extract_urls/url_domain)."""
    from engine.extended.curation import extract_urls, url_domain

    d = t(spark, sf_dir, "documents")
    u = d.select(
        "doc_id", F.explode(extract_urls(_url_text2_expr())).alias("url")
    ).withColumn("domain", url_domain(F.col("url")))
    return u.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@q(
    "domain_blocklist_kept",
    f"""
    WITH t2 AS ({_URL_T2_SQL}),
    u AS (SELECT doc_id,
          UNNEST(regexp_extract_all(tx, '(?i:https?)://[A-Za-z0-9.-]+(?:/[^\\s]*)?')) AS url
          FROM t2),
    flagged AS (
      SELECT DISTINCT doc_id FROM u
      WHERE regexp_replace(LOWER(regexp_extract(url, '(?i:https?)://([A-Za-z0-9.-]+)', 1)), '^www\\.', '') = 'blocked.example.net')
    SELECT t2.source, COUNT(*) AS n_kept FROM t2
    WHERE t2.doc_id NOT IN (SELECT doc_id FROM flagged)
    GROUP BY t2.source
    """,
)
def domain_blocklist_kept(spark, sf_dir):
    """Domain blocklist filter: docs containing any URL on a blocked domain
    are dropped (broadcast anti-join; engine.extended.curation.
    domain_blocklist_filter); per-source survivor counts."""
    from engine.extended.curation import domain_blocklist_filter

    d = t(spark, sf_dir, "documents")
    d2 = d.select("doc_id", _url_text2_expr().alias("text"), "source")
    blocked = spark.createDataFrame([("blocked.example.net",)], "domain string")
    kept = domain_blocklist_filter(d2, blocked)
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


@q(
    "embedding_matryoshka",
    """
    WITH tr AS (
      SELECT vec_id, list_transform(list_slice(embedding, 1, 16),
                                    x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    n AS (SELECT vec_id, v,
          SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm FROM tr)
    SELECT vec_id,
           array_to_string(list_transform(
             CASE WHEN nrm > 0 THEN list_transform(v, x -> ROUND(x / nrm, 4))
                  ELSE list_transform(v, x -> ROUND(x, 4)) END,
             x -> CAST(ROUND(x * 10000.0) AS BIGINT)), ',') AS mrl_vec
    FROM n
    """,
)
def embedding_matryoshka_q(spark, sf_dir):
    """Matryoshka truncation: first-16-dim prefix, L2-renormalized — the
    vector storage/recall tier below full embeddings (engine.extended.
    similarity.matryoshka_truncate; pure expressions, zero shuffle).
    Components render as comma-joined 1e4-scaled integers so the driver
    comparator can canonicalize the row (VERDICT r4 #1)."""
    from engine.extended.similarity import matryoshka_truncate

    e = t(spark, sf_dir, "embeddings")
    out = matryoshka_truncate(e, 16, round_to=4)
    return out.select("vec_id", _arr_str("mrl_vec", 1e4).alias("mrl_vec"))


@q(
    "temperature_mixture_sample",
    """
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n, POWER(n, 0.5) AS w FROM c),
    q AS (SELECT source,
          LEAST(n, CAST(FLOOR(200.0 * w / (SELECT SUM(w) FROM w) + 1e-9) AS BIGINT)) AS quota
          FROM w)
    SELECT source, quota AS n_sampled FROM q WHERE quota > 0
    """,
)
def temperature_mixture_q(spark, sf_dir):
    """Temperature-weighted (alpha=0.5) domain rebalancing sample of 200
    docs: quota_g = floor(200 * n_g^0.5 / sum n^0.5), rows by md5-rank
    (engine.extended.sampling.temperature_mixture)."""
    from engine.extended.sampling import temperature_mixture

    d = t(spark, sf_dir, "documents")
    out = temperature_mixture(d, alpha=0.5, total=200, group_col="source")
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_sampled"))


@q(
    "corpus_pipeline_v3",
    f"""
    WITH t2 AS ({_URL_T2_SQL}),
    u AS (SELECT doc_id,
          UNNEST(regexp_extract_all(tx, '(?i:https?)://[A-Za-z0-9.-]+(?:/[^\\s]*)?')) AS url
          FROM t2),
    flagged AS (
      SELECT DISTINCT doc_id FROM u
      WHERE regexp_replace(LOWER(regexp_extract(url, '(?i:https?)://([A-Za-z0-9.-]+)', 1)), '^www\\.', '') = 'blocked.example.net'),
    kept AS (
      SELECT doc_id, tx, source FROM t2
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
    toks AS (
      SELECT doc_id, source, list_transform(regexp_extract_all(tx, '[A-Za-z0-9'']+'),
                                            x -> LOWER(x)) AS toks
      FROM kept),
    bg AS (
      SELECT doc_id, UNNEST(CASE WHEN LENGTH(toks) < 2 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 1),
             i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END) AS bg
      FROM toks),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    c1 AS (SELECT split_part(bg, ' ', 1) AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    scores AS (
      SELECT b.doc_id, COUNT(*) AS n_bigrams,
             ROUND(AVG(log2(c2.c2 / c1.c1)), 4) AS avg_logp
      FROM bg b JOIN c2 ON b.bg = c2.bg
      JOIN c1 ON split_part(b.bg, ' ', 1) = c1.w1
      GROUP BY b.doc_id),
    good AS (
      SELECT k.doc_id, k.source, s.avg_logp
      FROM kept k JOIN scores s ON k.doc_id = s.doc_id
      WHERE s.avg_logp >= -4.9),
    ranked AS (
      SELECT g.*, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY MD5(CAST(doc_id AS VARCHAR) || '|temp'), doc_id) AS rk
      FROM good g),
    cnt AS (SELECT source, COUNT(*) AS n FROM good GROUP BY source),
    w AS (SELECT source, n, POWER(n, 0.5) AS w FROM cnt),
    q AS (SELECT source,
          LEAST(n, CAST(FLOOR(150.0 * w / (SELECT SUM(w) FROM w) + 1e-9) AS BIGINT)) AS quota
          FROM w),
    mixed AS (SELECT r.source, r.avg_logp FROM ranked r
              JOIN q ON r.source = q.source WHERE r.rk <= q.quota)
    SELECT source, COUNT(*) AS n_docs, ROUND(AVG(avg_logp), 4) AS mean_logp
    FROM mixed GROUP BY source
    """,
)
def corpus_pipeline_v3(spark, sf_dir):
    """Composed curation pipeline v3 — the round-2 operators end to end in
    ONE plan: URL blocklist filter → self-scored bigram-LM quality gate
    (avg_logp ≥ -4.9) → temperature mixture (α=0.5, 150 docs) → per-source
    stats.  The LM trains on the POST-FILTER corpus inside the same DAG
    (no separate training pass — the count tables are plan nodes)."""
    from engine.extended.curation import bigram_lm_scores, domain_blocklist_filter
    from engine.extended.sampling import temperature_mixture

    d = t(spark, sf_dir, "documents")
    d2 = d.select("doc_id", _url_text2_expr().alias("text"), "source")
    blocked = spark.createDataFrame([("blocked.example.net",)], "domain string")
    # The composed DAG consumes the post-filter corpus 4× unaided (model
    # counts + probe inside the scorer, then quota counts + ranked stream
    # inside the mixture), each consumption re-running the scan + URL
    # explode + anti-join.  Persist the two cut points instead: `kept`
    # (post-filter corpus — MEMORY_AND_DISK, one materialization feeds both
    # scorer passes) and `good` (per-doc score rows, tiny) so the mixture's
    # two reads never re-run the scoring joins.  A window-based single-pass
    # scorer was rejected: count-over-partition(bg) serializes hot bigrams
    # into one task — a 100 TB skew regression the hash aggregate avoids.
    kept = domain_blocklist_filter(d2, blocked).persist()
    # source rides THROUGH the scorer (carry_cols) — joining scores back to
    # `kept` would re-evaluate the blocklist-filter subtree a third time.
    scores = bigram_lm_scores(kept, carry_cols=["source"])
    good = (
        scores.filter(F.col("avg_logp") >= -4.9)
        .select("doc_id", "source", "avg_logp")
        .persist()
    )
    mixed = temperature_mixture(good, alpha=0.5, total=150, group_col="source")
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("avg_logp"), 4).alias("mean_logp"),
    )


@q(
    "multimodal_decode",
    """
WITH dims AS (
  SELECT doc_id, sh,
         4 + CAST(('0x' || SUBSTRING(sh, 1, 2)) AS INTEGER) % 21 AS w,
         4 + CAST(('0x' || SUBSTRING(sh, 3, 2)) AS INTEGER) % 21 AS h,
         CAST(('0x' || SUBSTRING(sh, 7, 2)) AS INTEGER) % 2 = 1 AS as_jpeg,
         CAST(('0x' || SUBSTRING(sh, 5, 2)) AS INTEGER) AS b2
  FROM (SELECT doc_id, sha256(COALESCE(text, '')) AS sh FROM documents)
)
SELECT doc_id AS media_id,
       CASE WHEN as_jpeg THEN 'image/jpeg' ELSE 'image/png' END AS mime,
       w AS width, h AS height,
       CASE WHEN as_jpeg THEN CASE b2 % 2 WHEN 0 THEN 1 ELSE 3 END
            ELSE CASE b2 % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END END
         AS channels,
       CAST(w * h * (CASE WHEN as_jpeg THEN CASE b2 % 2 WHEN 0 THEN 1 ELSE 3 END
                          ELSE CASE b2 % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END END)
            AS BIGINT) AS n_bytes,
       TRUE AS decode_exact
FROM dims ORDER BY media_id
    """,
)
def multimodal_decode(spark, sf_dir):
    """REAL image decode end to end over a MIXED corpus: deterministic PNGs
    (zlib + filters) and baseline JPEGs (Huffman + IDCT + chroma upsample)
    are decoded by the stdlib codecs on the DEFAULT path — no injected
    backend — and every decoded byte count must equal
    width*height*channels from the header, for BOTH formats."""
    from engine.extended.multimodal import decode_media, fake_image_corpus

    d = t(spark, sf_dir, "documents")
    decoded = decode_media(fake_image_corpus(d))
    return decoded.select(
        "media_id",
        "mime",
        "width",
        "height",
        "channels",
        "n_bytes",
        (F.col("n_bytes") == F.col("width") * F.col("height") * F.col("channels")).alias(
            "decode_exact"
        ),
    ).orderBy("media_id")


@q(
    "image_near_dup",
    """
WITH donor AS (
  SELECT doc_id - 1 AS doc_id, text AS donor_text FROM documents
),
planted AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 50 = 0 AND dn.donor_text IS NOT NULL
              THEN dn.donor_text ELSE d.text END AS text
  FROM documents d LEFT JOIN donor dn ON d.doc_id = dn.doc_id
),
dims AS (
  SELECT doc_id, sh,
         4 + CAST(('0x' || SUBSTRING(sh, 1, 2)) AS INTEGER) % 21 AS w,
         4 + CAST(('0x' || SUBSTRING(sh, 3, 2)) AS INTEGER) % 21 AS h,
         CASE CAST(('0x' || SUBSTRING(sh, 5, 2)) AS INTEGER) % 3
              WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS ch
  FROM (SELECT doc_id, sha256(COALESCE(text, '')) AS sh FROM planted)
),
streams AS (
  SELECT doc_id, sh, ANY_VALUE(w) AS w, ANY_VALUE(h) AS h, ANY_VALUE(ch) AS ch,
         string_agg(chunk, '' ORDER BY i) AS hexstream
  FROM (
    SELECT d.doc_id, d.sh, d.w, d.h, d.ch, t.i,
           sha256(d.sh || ':' || CAST(t.i AS VARCHAR)) AS chunk
    FROM dims d, UNNEST(range(0, CAST(CEIL(d.w * d.h * d.ch / 32.0) AS BIGINT))) AS t(i))
  GROUP BY doc_id, sh
),
grays AS (
  SELECT s.doc_id, s.sh,
         g.g AS cell,
         (
           CAST(('0x' || SUBSTRING(s.hexstream, 2 * (((g.g // 8) * s.h // 8) * s.w + ((g.g % 8) * s.w // 8)) * s.ch + 1, 2)) AS INTEGER)
           + CASE WHEN s.ch >= 3 THEN
               CAST(('0x' || SUBSTRING(s.hexstream, 2 * ((((g.g // 8) * s.h // 8) * s.w + ((g.g % 8) * s.w // 8)) * s.ch + 1) + 1, 2)) AS INTEGER)
             + CAST(('0x' || SUBSTRING(s.hexstream, 2 * ((((g.g // 8) * s.h // 8) * s.w + ((g.g % 8) * s.w // 8)) * s.ch + 2) + 1, 2)) AS INTEGER)
             ELSE 0 END
           + CASE WHEN s.ch = 4 THEN
               CAST(('0x' || SUBSTRING(s.hexstream, 2 * ((((g.g // 8) * s.h // 8) * s.w + ((g.g % 8) * s.w // 8)) * s.ch + 3) + 1, 2)) AS INTEGER)
             ELSE 0 END
         ) // s.ch AS gray
  FROM streams s, UNNEST(range(0, 64)) AS g(g)
),
hashes AS (
  SELECT doc_id AS id, ubits,
         CAST(CASE WHEN ubits >= 9223372036854775808::HUGEINT
                   THEN ubits - 18446744073709551616::HUGEINT
                   ELSE ubits END AS BIGINT) AS sh64
  FROM (
    SELECT doc_id, sh,
           SUM(CASE WHEN gray > mean_gray THEN (1::HUGEINT << cell) ELSE 0::HUGEINT END) AS ubits
    FROM (SELECT *, SUM(gray) OVER (PARTITION BY doc_id, sh) // 64 AS mean_gray FROM grays)
    GROUP BY doc_id, sh)
),
chunks AS (
  SELECT id, sh64, c.c AS chunk,
         CAST((ubits >> (16 * c.c)) % 65536 AS BIGINT) AS ckey
  FROM hashes, UNNEST([0, 1, 2, 3]) AS c(c)
),
capped AS (
  SELECT id, sh64, chunk, ckey
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk, ckey ORDER BY id NULLS FIRST) AS rn FROM chunks)
  WHERE rn <= 500
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.sh64, b.sh64)) AS hamming
FROM capped a JOIN capped b
  ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.id < b.id
WHERE bit_count(xor(a.sh64, b.sh64)) <= 6
ORDER BY id_a, id_b
    """,
)
def image_near_dup_q(spark, sf_dir):
    """Image near-duplicate detection end to end: deterministic PNG corpus
    (every doc_id % 50 == 0 gets its successor's image planted, so known
    duplicate pairs exist) → stdlib decode → 64-bit average-hash (integer
    arithmetic, platform-stable) → banded hamming pair join (4 × 16-bit
    chunk buckets, bit_count verify).  Only the grid²-bit fingerprints
    reach the join — at 100 TB of images the pair stage never touches
    pixels."""
    from engine.extended.multimodal import (
        fake_png_corpus,
        image_ahash,
        image_near_dup_pairs,
    )

    d = t(spark, sf_dir, "documents")
    donor = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__donor")
    )
    planted = (
        d.select("doc_id", "text")
        .join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 50 == 0) & F.col("__donor").isNotNull(),
                F.col("__donor"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    hashes = image_ahash(fake_png_corpus(planted))
    return image_near_dup_pairs(hashes, max_hamming=6).orderBy("id_a", "id_b")


@q(
    "audio_features",
    """
WITH rows_tab AS (
  SELECT doc_id, sha256(COALESCE(text, '')) AS sh FROM documents
),
dims AS (
  SELECT doc_id, sh,
         256 + (CAST(('0x' || SUBSTRING(sh, 1, 2)) AS INTEGER)
                + 256 * CAST(('0x' || SUBSTRING(sh, 3, 2)) AS INTEGER)) % 1793
           AS n_frames,
         1 + CAST(('0x' || SUBSTRING(sh, 5, 2)) AS INTEGER) % 2 AS ch,
         CASE CAST(('0x' || SUBSTRING(sh, 7, 2)) AS INTEGER) % 3
              WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS rate
  FROM (SELECT DISTINCT doc_id, sh FROM rows_tab)
),
-- a 32-byte sha256 chunk holds exactly 16 aligned int16 samples, so samples
-- never cross chunk boundaries: extract per 64-char chunk hex, no giant
-- string_agg stream needed
chunkrows AS (
  SELECT d.doc_id, d.sh, d.n_frames, d.ch, t.i,
         sha256(d.sh || ':' || CAST(t.i AS VARCHAR)) AS chunk
  FROM dims d,
       UNNEST(range(0, CAST(CEIL(d.n_frames * d.ch * 2 / 32.0) AS BIGINT))) AS t(i)
),
samples AS (
  SELECT c.doc_id, c.sh, c.ch, 16 * c.i + k.k AS idx,
         CAST(CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END AS BIGINT) AS v
  FROM chunkrows c, UNNEST(range(0, 16)) AS k(k),
       LATERAL (SELECT CAST(('0x' || SUBSTRING(c.chunk, 4 * k.k + 1, 2)) AS INTEGER)
                + 256 * CAST(('0x' || SUBSTRING(c.chunk, 4 * k.k + 3, 2)) AS INTEGER) AS u16) u
  WHERE 16 * c.i + k.k < c.n_frames * c.ch
),
feats AS (
  SELECT doc_id, sh,
         MAX(ABS(v)) AS peak,
         SUM(v * v) // COUNT(*) AS ms
  FROM samples GROUP BY doc_id, sh
),
zc AS (
  SELECT doc_id, sh,
         COALESCE(SUM(CASE WHEN prev_v IS NOT NULL
                            AND ((prev_v < 0) != (v < 0)) THEN 1 END), 0) AS zero_crossings
  FROM (SELECT doc_id, sh, v,
               LAG(v) OVER (PARTITION BY doc_id, sh ORDER BY idx) AS prev_v
        FROM samples WHERE idx % ch = 0)
  GROUP BY doc_id, sh
)
SELECT r.doc_id AS media_id,
       d.rate AS sample_rate,
       d.ch AS channels,
       CAST(d.n_frames AS BIGINT) AS n_frames,
       CAST(d.n_frames * 1000 // d.rate AS BIGINT) AS duration_ms,
       CAST(f.peak AS INTEGER) AS peak,
       FLOOR(SQRT(f.ms) * 10000 + 0.5) / 10000 AS rms,
       CAST(z.zero_crossings AS BIGINT) AS zero_crossings
FROM rows_tab r
JOIN dims d ON r.doc_id IS NOT DISTINCT FROM d.doc_id AND r.sh = d.sh
JOIN feats f ON r.doc_id IS NOT DISTINCT FROM f.doc_id AND r.sh = f.sh
JOIN zc z ON r.doc_id IS NOT DISTINCT FROM z.doc_id AND r.sh = z.sh
ORDER BY media_id
    """,
)
def audio_features_q(spark, sf_dir):
    """REAL audio decode end to end: deterministic PCM16 WAV corpus →
    stdlib RIFF parse + sample decode → per-clip features (peak, RMS,
    zero crossings, duration).  The audio leg of the multimodal surface,
    same mapInPandas seam and null-survival contract as the image leg."""
    from engine.extended.multimodal import audio_features, fake_wav_corpus

    d = t(spark, sf_dir, "documents")
    return audio_features(fake_wav_corpus(d)).orderBy("media_id")


@q(
    "audio_near_dup",
    """
WITH donor AS (
  SELECT doc_id - 1 AS doc_id, text AS donor_text FROM documents
),
planted AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 50 = 0 AND dn.donor_text IS NOT NULL
              THEN dn.donor_text ELSE d.text END AS text
  FROM documents d LEFT JOIN donor dn ON d.doc_id = dn.doc_id
),
dims AS (
  SELECT doc_id, sh,
         256 + (CAST(('0x' || SUBSTRING(sh, 1, 2)) AS INTEGER)
                + 256 * CAST(('0x' || SUBSTRING(sh, 3, 2)) AS INTEGER)) % 1793
           AS n_frames,
         1 + CAST(('0x' || SUBSTRING(sh, 5, 2)) AS INTEGER) % 2 AS ch
  FROM (SELECT doc_id, sha256(COALESCE(text, '')) AS sh FROM planted)
),
-- a 32-byte sha256 chunk holds exactly 16 aligned int16 samples, so no
-- giant string_agg stream is needed: extract per 64-char chunk hex.  Mono
-- sample i lives at all-channel index i*ch = chunk (i*ch)//16, slot
-- (i*ch)%16; energies over 64 windows of win = n_frames // 64 samples
-- (remainder dropped).
chunkrows AS (
  SELECT d.doc_id, d.sh, d.n_frames, d.ch, t.i,
         sha256(d.sh || ':' || CAST(t.i AS VARCHAR)) AS chunk
  FROM dims d,
       UNNEST(range(0, CAST(CEIL(d.n_frames * d.ch * 2 / 32.0) AS BIGINT))) AS t(i)
),
samples AS (
  SELECT c.doc_id, c.sh,
         ((16 * c.i + k.k) // c.ch) // (c.n_frames // 64) AS win_i,
         (CAST(('0x' || SUBSTRING(c.chunk, 4 * k.k + 1, 2)) AS INTEGER)
          + 256 * CAST(('0x' || SUBSTRING(c.chunk, 4 * k.k + 3, 2)) AS INTEGER)
         ) AS u16
  FROM chunkrows c, UNNEST(range(0, 16)) AS k(k)
  WHERE (16 * c.i + k.k) % c.ch = 0
    AND (16 * c.i + k.k) // c.ch < 64 * (c.n_frames // 64)
),
energies AS (
  SELECT doc_id, sh, win_i,
         SUM(CAST(CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END AS BIGINT)
             * CAST(CASE WHEN u16 >= 32768 THEN u16 - 65536 ELSE u16 END AS BIGINT)) AS e
  FROM samples GROUP BY doc_id, sh, win_i
),
hashes AS (
  SELECT doc_id AS id, ubits,
         CAST(CASE WHEN ubits >= 9223372036854775808::HUGEINT
                   THEN ubits - 18446744073709551616::HUGEINT
                   ELSE ubits END AS BIGINT) AS sh64
  FROM (
    SELECT doc_id, sh,
           SUM(CASE WHEN e > prev_e THEN (1::HUGEINT << CAST(win_i AS INTEGER)) ELSE 0::HUGEINT END) AS ubits
    FROM (SELECT *, LAG(e, 1) OVER (PARTITION BY doc_id, sh ORDER BY win_i) AS lag_e,
                 LAST_VALUE(e) OVER (PARTITION BY doc_id, sh ORDER BY win_i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS wrap_e
          FROM energies)
         t(doc_id, sh, win_i, e, lag_e, wrap_e)
    , LATERAL (SELECT COALESCE(lag_e, wrap_e) AS prev_e) p
    GROUP BY doc_id, sh)
),
chunks AS (
  SELECT id, sh64, c.c AS chunk,
         CAST((ubits >> (16 * c.c)) % 65536 AS BIGINT) AS ckey
  FROM hashes, UNNEST([0, 1, 2, 3]) AS c(c)
),
capped AS (
  SELECT id, sh64, chunk, ckey
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY chunk, ckey ORDER BY id NULLS FIRST) AS rn FROM chunks)
  WHERE rn <= 500
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       bit_count(xor(a.sh64, b.sh64)) AS hamming
FROM capped a JOIN capped b
  ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.id < b.id
WHERE bit_count(xor(a.sh64, b.sh64)) <= 4
ORDER BY id_a, id_b
    """,
)
def audio_near_dup_q(spark, sf_dir):
    """Audio near-duplicate detection: energy-delta-sign fingerprints
    (64 windows, integer comparisons) through the SAME hamming band join
    the image path uses — one fingerprint-dedup engine, two modalities.
    Duplicate clips are planted (doc_id % 50 == 0 borrows its successor's
    audio) so known positives exist."""
    from engine.extended.multimodal import (
        audio_fingerprint,
        fake_wav_corpus,
        image_near_dup_pairs,
    )

    d = t(spark, sf_dir, "documents")
    donor = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("__donor")
    )
    planted = (
        d.select("doc_id", "text")
        .join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 50 == 0) & F.col("__donor").isNotNull(),
                F.col("__donor"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    fps = audio_fingerprint(fake_wav_corpus(planted))
    return image_near_dup_pairs(fps, max_hamming=4, hash_col="afp").orderBy(
        "id_a", "id_b"
    )




@q(
    "video_frame_sample",
    """
    WITH m AS (
      SELECT doc_id AS media_id, OCTET_LENGTH(ENCODE(text)) AS L
      FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL),
    fr AS (
      SELECT media_id, UNNEST(range(0, GREATEST(L, 1), 128)) AS start, L
      FROM m)
    SELECT media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(LEAST(48, GREATEST(L - start, 0))) AS BIGINT)
             AS frame_bytes
    FROM fr GROUP BY media_id
    """,
)
def video_frame_sample_q(spark, sf_dir):
    """Video frame-sampling plumbing (engine.extended.multimodal.
    frame_sample): every payload explodes into fixed-stride frame slices
    through the mapInPandas seam — the schema/batch shape a real decoder
    (ffmpeg keyframe extraction) plugs into.  The per-media frame count
    and byte totals are a CLOSED FORM of the payload length, so the
    Arrow-UDF plumbing itself is oracle-checked against pure SQL
    arithmetic — an Arrow batching or slicing bug (dropped tail frame,
    off-by-one stride) cannot hide behind a rows-only check."""
    from engine.extended.multimodal import fake_media_from_text, frame_sample

    d = t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    media = fake_media_from_text(d).select("media_id", "payload")
    fr = frame_sample(media, every_n_bytes=128, frame_len=48)
    return fr.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).cast("long").alias("frame_bytes"),
    )


_LSH_AUDIT_WHERE = "doc_id IS NOT NULL AND doc_id < 300 AND text IS NOT NULL"

#: truep via a POSTINGS EQUI-JOIN (r9, replacing the all-pairs BNLJ that
#: dominated both audits at 4.6 s of the 6.5 s total): |∩| falls out of a
#: shingle-postings self-join count and |∪| = |a| + |b| − |∩|, so the
#: Jaccard-≥-0.5 test 2·|∩| ≥ |∪| becomes 2i ≥ na + nb − i on integers.
#: Exactly the BNLJ's semantics: a pair the postings join never sees has
#: i = 0 and can only pass if |∪| = 0, which the old |∪| > 0 guard
#: excluded too.  The audit's ≤300-doc bound still applies, but the exact
#: side is no longer the deliberate quadratic exception — it scales like
#: any other postings join.
_TRUEP_SQL = """
    post AS (SELECT doc_id, UNNEST(sh) AS s FROM sh),
    szs AS (SELECT doc_id, LENGTH(sh) AS nsh FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truep AS (
      SELECT id_a, id_b FROM inter
      JOIN szs sa ON sa.doc_id = inter.id_a
      JOIN szs sb ON sb.doc_id = inter.id_b
      WHERE 2 * i >= sa.nsh + sb.nsh - i)"""


def _true_jaccard_pairs(sub):
    """Exact 3-gram-Jaccard-≥-0.5 pairs (id_a < id_b) via the postings
    equi-join — the Spark twin of ``_TRUEP_SQL`` (same integer test, no
    nested loop; one shuffle on the shingle, one on the pair).

    The shingle frame is referenced four times (postings a/b + sizes a/b),
    so it rides the bounded ledger; tokens are projected once behind an
    alias before shingling (the inline word_ngrams form re-tokenizes per
    shingle — the documented 12× trap) (r11 opt)."""
    from engine.cache import ledger_persist
    from engine.extended.text import ngrams_from, tokens

    sh = ledger_persist(
        sub.select("doc_id", tokens("text").alias("__toks")).select(
            "doc_id",
            F.array_distinct(ngrams_from(F.col("__toks"), 3)).alias("sh"),
        )
    )
    post = sh.select("doc_id", F.explode("sh").alias("s"))
    szs = sh.select("doc_id", F.size("sh").alias("nsh"))
    pa, pb = post.alias("pa"), post.alias("pb")
    inter = (
        pa.join(
            pb,
            (F.col("pa.s") == F.col("pb.s"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .groupBy(
            F.col("pa.doc_id").alias("id_a"),
            F.col("pb.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = szs.select(F.col("doc_id").alias("id_a"), F.col("nsh").alias("__na"))
    sb = szs.select(F.col("doc_id").alias("id_b"), F.col("nsh").alias("__nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.col("__i") * 2 >= F.col("__na") + F.col("__nb") - F.col("__i")
        )
        .select("id_a", "id_b")
    )


@q(
    "lsh_recall_audit",
    _minhash_with_sql(where=_LSH_AUDIT_WHERE)
    + f""",
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    sh AS (
      SELECT doc_id, list_distinct(CASE WHEN LENGTH(toks) < 3
        THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 2),
             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END)
        AS sh
      FROM toks),"""
    + _TRUEP_SQL
    + """,
    caught AS (SELECT * FROM truep INTERSECT SELECT * FROM cand)
    SELECT CAST((SELECT COUNT(*) FROM truep) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(FLOOR((SELECT COUNT(*) FROM caught) * 10000.0
                / GREATEST((SELECT COUNT(*) FROM truep), 1)) AS BIGINT)
             AS recall_bp
    """,
)
def lsh_recall_audit(spark, sf_dir):
    """LSH quality audit — the minhash sibling of ann_recall_audit: on a
    bounded 300-doc slice, the TRUE Jaccard-≥-0.5 pairs come from an
    exact all-pairs 3-gram comparison (integer test: 2·|∩| ≥ |∪|, no
    float threshold), and recall_bp measures how many the banded-LSH
    candidate generator catches; n_candidates shows the price paid.  The
    audit slice is what makes exactness affordable — all-pairs on ≤300
    docs, the deliberate bounded exception to the no-quadratic rule, while
    the LSH side is the production candidate path itself (md5 mode, the
    same signatures the oracle rebuilds)."""
    return lsh_recall_frame(spark, sf_dir, max_doc=300)


def lsh_recall_frame(spark, sf_dir, *, max_doc=300, bands=16):
    """Parametrized body of :func:`lsh_recall_audit` — the audit slice
    bound is the lever that keeps the exact side affordable; the registry
    pins 300 (hash-stable), while tests/SCALE.md drive it at 1000 to show
    the single-pass form stays bounded as the slice grows.

    Single-pass counting (r8, VERDICT r7 #3): the exact all-pairs subtree
    is evaluated ONCE — candidates left-join onto the true pairs and one
    aggregate produces n_true and n_caught together (the old
    semi-join + two aggregates duplicated the whole exact subtree, paying
    the 3-gram shingle projection twice per side).  ``minhash_candidates``
    dedupes (id_a, id_b), so the left join cannot inflate n_true.

    r9: the exact side is :func:`_true_jaccard_pairs` — a postings
    equi-join, no nested loop (it was 4.6 s of the audit's 6.2 s)."""
    from engine.extended.dedup import minhash_candidates

    d = t(spark, sf_dir, "documents")
    sub = d.filter(
        F.col("doc_id").isNotNull()
        & (F.col("doc_id") < max_doc)
        & F.col("text").isNotNull()
    )
    # cand is referenced twice (recall join + candidate count): pin the
    # few-KB pair list instead of re-running the banded self-join (r11 opt)
    from engine.cache import ledger_persist

    cand = ledger_persist(
        minhash_candidates(sub, hash_fn="md5", bands=bands).select(
            "id_a", "id_b"
        )
    )
    truep = _true_jaccard_pairs(sub)
    counts = truep.join(
        cand.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left"
    ).agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("__hit").alias("n_caught"),
    )
    ncand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return counts.crossJoin(ncand).select(
        "n_true",
        "n_caught",
        "n_candidates",
        F.floor(
            F.col("n_caught") * F.lit(10000.0)
            / F.greatest(F.col("n_true"), F.lit(1))
        ).cast("long").alias("recall_bp"),
    )


def _lsh_audit_sql(bands: int) -> str:
    """One full recall-audit SELECT at the given band count (the
    lsh_recall_audit chain, band-parametrized for the frontier sweep)."""
    return (
        _minhash_with_sql(where=_LSH_AUDIT_WHERE, bands=bands)
        + """,
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    sh AS (
      SELECT doc_id, list_distinct(CASE WHEN LENGTH(toks) < 3
        THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 2),
             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END)
        AS sh
      FROM toks),"""
        + _TRUEP_SQL
        + """,
    caught AS (SELECT * FROM truep INTERSECT SELECT * FROM cand)
    SELECT CAST((SELECT COUNT(*) FROM truep) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM caught) AS BIGINT) AS n_caught,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(FLOOR((SELECT COUNT(*) FROM caught) * 10000.0
                / GREATEST((SELECT COUNT(*) FROM truep), 1)) AS BIGINT)
             AS recall_bp
    """
    )


@q(
    "minhash_recall_frontier",
    "\n    UNION ALL\n".join(
        f"SELECT CAST({b} AS BIGINT) AS bands, * FROM ({_lsh_audit_sql(b)})"
        for b in (8, 16, 32)
    ),
)
def minhash_recall_frontier(spark, sf_dir):
    """The LSH operating-curve audit — lsh_recall_audit swept across band
    counts {8, 16, 32} (rows-per-band 8/4/2) on the same bounded 300-doc
    slice: more bands → higher recall_bp AND more candidates (the
    precision price), so one result table exposes the frontier a pipeline
    tunes against.  Same exact-side bounding and md5-mode signatures as
    the single-point audit; the oracle rebuilds all three operating
    points.

    ONE plan end to end (VERDICT r8 #6; the r8 form compiled three
    independent band-plans — 3× fixed codegen for one small table):
    :func:`minhash_band_sweep` explodes all 56 (width, band) keys from
    one signature pass and self-joins once, and the exact all-pairs side
    is referenced ONCE via a full-outer join of (truep × widths) against
    the candidate pairs — per-width n_true / n_caught / n_candidates
    fall out of a single aggregate.  The one double-referenced frame is
    ``sigs`` (both sides of the sweep's self-join): it rides
    :func:`ledger_persist`, the keyed release ledger, so the 64-hash
    signature pass evaluates once WITHOUT the r8 session leak (advice
    r8; review catch r9 — the leak fix had dropped the persist and was
    recomputing the signatures twice).  The exact side is
    :func:`_true_jaccard_pairs` (postings equi-join, r9)."""
    from engine.cache import ledger_persist
    from engine.extended.dedup import minhash_band_sweep, minhash_sigs

    widths = (8, 16, 32)
    d = t(spark, sf_dir, "documents")
    sub = d.filter(
        F.col("doc_id").isNotNull()
        & (F.col("doc_id") < 300)
        & F.col("text").isNotNull()
    )
    # the sweep self-joins the banded frame, so sigs is referenced on both
    # sides — ledger_persist keeps the 64-hash signature pass evaluated
    # ONCE without the r8 session leak (review catch r9)
    sigs = ledger_persist(minhash_sigs(sub, hash_fn="md5"))
    cand = minhash_band_sweep(sigs, widths=widths, hash_fn="md5")
    truep = _true_jaccard_pairs(sub)
    # truep is width-independent: replicate it across the three widths and
    # full-outer against the per-width candidates — count(__t) = n_true,
    # count(__c) = n_candidates, both flags = n_caught, all in ONE
    # aggregate with truep's quadratic subtree evaluated exactly once.
    tw = truep.withColumn(
        "bands", F.explode(F.array(*[F.lit(w).cast("long") for w in widths]))
    ).withColumn("__t", F.lit(1))
    cw = cand.withColumn("__c", F.lit(1)).withColumn(
        "bands", F.col("bands").cast("long")
    )
    merged = tw.join(cw, ["bands", "id_a", "id_b"], "full_outer")
    counts = merged.groupBy("bands").agg(
        F.count("__t").alias("n_true"),
        F.sum(
            F.when(F.col("__t").isNotNull() & F.col("__c").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_caught"),
        F.count("__c").alias("n_candidates"),
    )
    # anchor every width: a hostile corpus with zero true pairs AND zero
    # candidates at some width has no group row at all, while the oracle's
    # UNION ALL always emits one per operating point
    anchor = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(w).cast("long") for w in widths])
        ).alias("bands")
    )
    return (
        anchor.join(F.broadcast(counts), "bands", "left")
        .select(
            "bands",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_caught", F.lit(0)).cast("long").alias("n_caught"),
            F.coalesce("n_candidates", F.lit(0)).cast("long")
            .alias("n_candidates"),
            F.floor(
                F.coalesce("n_caught", F.lit(0)) * F.lit(10000.0)
                / F.greatest(F.coalesce("n_true", F.lit(0)), F.lit(1))
            ).cast("long").alias("recall_bp"),
        )
        .orderBy("bands")
    )
