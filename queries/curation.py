"""Corpus curation: PII redaction, repetition, TF-IDF, contamination, HTML, graph/timeseries audits.

Split out of the flat queries.py (VERDICT r6 #8); all entries register
into the shared ``queries._base.SPARK_QUERIES`` / ``ORACLE_SQL``.
"""

from __future__ import annotations

from queries._base import *  # noqa: F401,F403
from queries._base import _arr_str  # noqa: F401
from queries.extended import _MD5H, _TOKS_SQL  # noqa: F401
from queries.sql_surface import cross_source_overlap  # noqa: F401

# ===========================================================================
# Corpus curation (PII redaction, repetition quality, TF-IDF, contamination)
# ===========================================================================


@q(
    "pii_redact",
    """
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
             '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g')
             AS redacted,
           LENGTH(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           LENGTH(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS n_ip,
           LENGTH(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS n_ssn,
           LENGTH(regexp_extract_all(text, '\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS n_phone
    FROM documents
    """,
)
def pii_redact(spark, sf_dir):
    """Free-text PII scrubbing (emails / IPv4 / SSN / phone → typed tokens)
    with per-kind match counts — the text-side completion of the reference's
    identifier obfuscation (lib/pipeline_controller.py:195-197).  Pure
    regexp_replace chain: zero shuffles, whole-stage codegen."""
    from engine.extended.curation import pii_counts, redact_pii

    d = t(spark, sf_dir, "documents")
    counts = pii_counts("text")
    return d.select(
        "doc_id",
        redact_pii("text").alias("redacted"),
        *[c.alias(n) for n, c in counts.items()],
    )


@q(
    "repetition_metrics",
    """
    WITH tok AS (
      SELECT doc_id,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS tok
      FROM documents),
    tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
    tstats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
             MAX(c) AS top_c
      FROM tc GROUP BY doc_id),
    toklist AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    bg AS (
      SELECT doc_id, toks, UNNEST(range(1, len(toks))) AS i
      FROM toklist WHERE len(toks) >= 2),
    bgrams AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg FROM bg),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgrams GROUP BY doc_id, bg),
    bstats AS (
      SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bc FROM bc GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           ROUND(1.0 - t.n_distinct * 1.0 / t.n_tokens, 4) AS dup_token_ratio,
           ROUND(t.top_c * 1.0 / t.n_tokens, 4) AS top_token_ratio,
           ROUND(b.top_bc * 1.0 / b.n_bigrams, 4) AS top_bigram_ratio
    FROM tstats t LEFT JOIN bstats b USING (doc_id)
    """,
)
def repetition_metrics_q(spark, sf_dir):
    """Gopher-style repetition quality features (duplicate-token fraction,
    top-token fraction, top-bigram fraction) per document — the repetition
    filters an LLM corpus pipeline applies after exact dedup."""
    from engine.extended.curation import repetition_metrics

    d = t(spark, sf_dir, "documents")
    return repetition_metrics(d)


@q(
    "tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id, source,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS term
      FROM documents),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * LN((n.n_docs + 1.0) / (dfreq.df + 1.0)), 4) AS tfidf
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT source, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 5
    """,
)
def tfidf_top_terms_q(spark, sf_dir):
    """Top-5 TF-IDF terms per source feed: the per-domain signature-term scan
    of corpus analytics.  Ranks by the ROUNDED score so cross-engine ln()
    ulp differences cannot flip the window order."""
    from engine.extended.curation import tfidf_top_terms

    d = t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=5)


@q(
    "ngram_contamination",
    """
    WITH toklist AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    tri AS (
      SELECT doc_id, toks, UNNEST(range(1, len(toks) - 1)) AS i
      FROM toklist WHERE len(toks) >= 3),
    shingles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM tri),
    eval_sh AS (
      SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0),
    train AS (
      SELECT doc_id, sh FROM shingles WHERE doc_id % 97 <> 0)
    SELECT t.doc_id,
           COUNT(*) AS n_shingles,
           ROUND(SUM(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS contamination
    FROM train t LEFT JOIN eval_sh e ON t.sh = e.sh
    GROUP BY t.doc_id
    """,
)
def ngram_contamination_q(spark, sf_dir):
    """Benchmark-contamination measurement: per training doc, the fraction of
    its distinct 3-gram shingles that occur in a held-out eval slice
    (doc_id % 97 = 0).  The eval shingle set is broadcast; the training side
    is never re-partitioned — the probe that must survive a 100 TB corpus."""
    from pyspark.sql import functions as F

    from engine.extended.curation import ngram_contamination

    d = t(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(train, eval_df)


def _jl_sql(*, dim: int = 64, out_dim: int = 8) -> str:
    """DuckDB twin of jl_project: the deterministic splitmix hyperplanes
    inlined as literals (full-precision repr round-trips to the same
    double), per-component fixed-order dot fold × the sqrt(3/out_dim)
    scale, rounded + negative-zero-canonicalized like the Spark side."""
    from engine.extended.dedup import _unit_hyperplanes

    planes = _unit_hyperplanes(dim, out_dim)
    scale = repr((3.0 / out_dim) ** 0.5)
    comps = []
    for p in planes:
        lit = "list_value(" + ", ".join(repr(float(v)) for v in p) + ")"
        # 1e6-scaled BIGINT render of the rounded component: double→string
        # formatting diverges across engines, integer strings do not
        comps.append(
            f"CAST(ROUND(ROUND(list_sum(list_transform(list_zip(embedding, {lit}), "
            f"z -> CAST(z[1] AS DOUBLE) * z[2])) * {scale}, 6) * 1000000.0) AS BIGINT)"
        )
    comps_sql = ",\n             ".join(comps)
    return f"""
    SELECT vec_id,
           CASE WHEN embedding IS NOT NULL THEN array_to_string(list_value(
             {comps_sql}), ',')
           END AS jl_vec
    FROM embeddings"""


@q("embedding_jl_project", _jl_sql())
def embedding_jl_project_q(spark, sf_dir):
    """Johnson-Lindenstrauss projection 64→8: the data-independent
    dimensionality-reduction tier (no trained structure like Matryoshka,
    no codebooks like PQ — applies to any vector column on first contact).
    Pure per-row codegen, zero shuffle."""
    from engine.extended.similarity import jl_project

    emb = t(spark, sf_dir, "embeddings")
    out = jl_project(emb, 8, dim=64)
    return out.select("vec_id", _arr_str("jl_vec", 1e6).alias("jl_vec"))


@q(
    "doc_vector_hashed",
    """
    WITH tok AS (
      SELECT doc_id,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS tok
      FROM documents),
    counts AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(MD5('dv|' || tok), 1, 15)) AS BIGINT) % 16 AS bucket,
             COUNT(*) AS cnt
      FROM tok GROUP BY doc_id, bucket),
    ids AS (SELECT DISTINCT doc_id FROM counts),
    buckets AS (SELECT UNNEST(range(0, 16)) AS b),
    dense AS (
      SELECT i.doc_id, b.b, COALESCE(c.cnt, 0) AS v
      FROM ids i CROSS JOIN buckets b
      LEFT JOIN counts c ON c.doc_id = i.doc_id AND c.bucket = b.b),
    vecs AS (SELECT doc_id, list(CAST(v AS BIGINT) ORDER BY b) AS raw
             FROM dense GROUP BY doc_id)
    SELECT doc_id,
           array_to_string(list_transform(raw,
             x -> CAST(ROUND(ROUND(CAST(x AS DOUBLE) /
               SQRT(list_sum(list_transform(raw,
                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)
               * 1000000.0) AS BIGINT)), ',') AS vec
    FROM vecs
    """,
)
def doc_vector_hashed_q(spark, sf_dir):
    """Feature-hashed document vectors (the hashing trick): token counts
    bucketed into 16 slots, L2-normalized — the model-free embedding
    bridge that runs the whole vector stack (ANN, kNN joins, semdedup,
    storage tiers) over raw text.  Exact-integer counts + one IEEE sqrt →
    engine-exact components."""
    from engine.extended.text import hashed_doc_vectors

    d = t(spark, sf_dir, "documents")
    out = hashed_doc_vectors(d, dim=16)
    return out.select("doc_id", _arr_str("vec", 1e6).alias("vec"))


@q(
    "pmi_collocations",
    """
    WITH toklist AS (
      SELECT list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    ucnt AS (
      SELECT w, COUNT(*) AS uc FROM (SELECT UNNEST(toks) AS w FROM toklist)
      GROUP BY w),
    un AS (SELECT SUM(uc) AS n FROM ucnt),
    bcnt AS (
      SELECT a, b, COUNT(*) AS pair_count FROM (
        SELECT toks[i] AS a, toks[i + 1] AS b
        FROM (SELECT toks, UNNEST(range(1, len(toks))) AS i
              FROM toklist WHERE len(toks) >= 2))
      GROUP BY a, b),
    bn AS (SELECT SUM(pair_count) AS m FROM bcnt)
    SELECT a, b, pair_count,
           ROUND(LN((pair_count * 1.0 / bn.m)
                    / ((ua.uc * 1.0 / un.n) * (ub.uc * 1.0 / un.n))), 4) AS pmi
    FROM bcnt
    JOIN ucnt ua ON bcnt.a = ua.w
    JOIN ucnt ub ON bcnt.b = ub.w
    CROSS JOIN un CROSS JOIN bn
    WHERE pair_count >= 5
    ORDER BY pmi DESC, a, b
    LIMIT 20
    """,
)
def pmi_collocations_q(spark, sf_dir):
    """Collocation mining: top-20 adjacent token pairs by pointwise mutual
    information (count floor 5) — the phrase-discovery pass that seeds
    multi-word vocabulary entries.  Ranked by the ROUNDED score so
    cross-engine ln() ulp differences cannot flip the order."""
    from engine.extended.curation import pmi_collocations

    d = t(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=5, k=20)


def _funnel_sql(steps: list[str], *, window_days: int = 7) -> str:
    """DuckDB twin of engine.extended.funnel.funnel_steps: per-step cohort
    CTEs (first occurrence strictly after the previous step's, within the
    window), counts unioned in step order."""
    parts = [
        f"""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = '{steps[0]}' GROUP BY user_id)"""
    ]
    for i in range(1, len(steps)):
        parts.append(
            f""",
    s{i + 1} AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s{i} p ON e.user_id = p.user_id
      WHERE e.event_type = '{steps[i]}'
        AND e.ts > p.t AND e.ts <= p.t + INTERVAL {window_days} DAY
      GROUP BY e.user_id)"""
        )
    selects = [
        f"SELECT {i + 1} AS step, '{s}' AS step_name, COUNT(*) AS n_users FROM s{i + 1}"
        for i, s in enumerate(steps)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@q(
    "timeseries_gapfill",
    """
    WITH ev AS (
      SELECT user_id AS k, ts AS t, value AS v FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND user_id % 100 = 0),
    bounds AS (SELECT k, MIN(t) AS t0, MAX(t) AS t1 FROM ev GROUP BY k),
    ticks AS (
      SELECT k, UNNEST(generate_series(t0, t1, INTERVAL 3600 SECOND)) AS t,
             CAST(NULL AS DOUBLE) AS v, 1 AS is_tick
      FROM bounds),
    obs AS (SELECT k, t, v, 0 AS is_tick FROM ev),
    u AS (SELECT * FROM obs UNION ALL SELECT * FROM ticks),
    f AS (SELECT k, t, is_tick,
                 LAST_VALUE(v IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY t, is_tick, v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          FROM u)
    SELECT k AS user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS tick, filled
    FROM f WHERE is_tick = 1
    """,
)
def timeseries_gapfill_q(spark, sf_dir):
    """Hourly gap-filled, forward-filled series per sampled user (the
    TimescaleDB time_bucket_gapfill + locf primitive): tick grids are
    GENERATED from per-key bounds (sequence + explode — no calendar-table
    join) and the fill is one window pass over ticks ∪ observations.
    Values are copied, never recomputed, so the fill is bit-exact."""
    from engine.extended.timeseries import gapfill_ffill

    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 100 == 0)
    out = gapfill_ffill(e, step_seconds=3600)
    return out.select(
        "user_id",
        F.date_format("tick", "yyyy-MM-dd HH:mm:ss").alias("tick"),
        "filled",
    )


@q(
    "rolling_median_value",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CAST(FLOOR(1000.0 * value + 0.5) AS BIGINT) AS vm
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    SELECT user_id, event_id,
           CAST(FLOOR(2 * quantile_cont(vm, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS BIGINT)
             AS med10_half_milli
    FROM e
    """,
)
def rolling_median_value(spark, sf_dir):
    """Trailing 10-event rolling MEDIAN per user — the robust-statistics
    sibling of rolling_zscore (a single hot outlier shifts a mean-based
    detector for its whole trailing window; the median shrugs it off).

    The mad_outliers discipline, applied after the r9 quantile-knife-edge
    catch (percentiles_exact — root cause: ROUND half-up on the double's
    shortest decimal string in Spark vs rint on the binary in DuckDB;
    the interpolation itself is bit-identical across engines): values
    quantize to integer MILLI-units BEFORE the window percentile, so an
    even window's interpolated median is an exact k/2, and the output
    doubles the scale (half-milli units) so NO rounding decision is ever
    made.  Ordering includes event_id
    so timestamp ties cannot reorder the frame.  One shuffle on user_id,
    frame-bounded memory — the 100 TB rolling-robust shape."""
    e = t(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    e.createOrReplaceTempView("__rmv_events")
    return spark.sql(
        """
        SELECT user_id, event_id,
               CAST(FLOOR(2 * percentile(
                 CAST(FLOOR(1000.0 * value + 0.5) AS BIGINT), 0.5) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) AS BIGINT)
                 AS med10_half_milli
        FROM __rmv_events
        """
    )


@q(
    "timeseries_anomaly",
    """
    WITH ev AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    s AS (
      SELECT user_id, event_id, ts, value,
             COUNT(value) OVER w AS roll_n,
             AVG(value) OVER w AS roll_mean,
             STDDEV_SAMP(value) OVER w AS roll_std
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
    z AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN roll_n >= 4 AND roll_std > 0
                  THEN ROUND((value - roll_mean) / roll_std, 3) END AS z
      FROM s)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value, z
    FROM z WHERE ABS(z) >= 2.0
    """,
)
def timeseries_anomaly_q(spark, sf_dir):
    """Rolling z-score anomaly detection over the event stream: each value
    judged against the trailing 12 observations strictly before it (its own
    value never contaminates its baseline), flagged at |z| >= 2.  The flag
    compares the ROUNDED z (the repo's float discipline) so the threshold
    decision is engine-exact.  One window exchange on user_id; O(12) state
    per row — the shape that holds on an unbounded metrics stream."""
    from engine.extended.timeseries import rolling_zscore

    e = (
        t(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select("user_id", "event_id", "ts", "value")
    )
    out = rolling_zscore(
        e, order_cols=["event_id"], window_rows=12, min_points=4, z_round=3
    )
    return out.filter(F.abs(F.col("z")) >= 2.0).select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
        "z",
    )


@q(
    "ewma_smooth",
    """
    WITH ev AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE user_id % 20 = 0
        AND user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
    arrs AS (
      SELECT user_id, event_id, ts, value,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
      FROM ev)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value,
           ROUND(
             list_sum(list_transform(
               list_zip(arr, generate_series(1, len(arr))),
               z -> z[1] * pow(0.5, len(arr) - z[2])))
             / (2.0 - pow(2.0, 1 - len(arr))), 4) AS ewma
    FROM arrs
    """,
)
def ewma_smooth_q(spark, sf_dir):
    """Finite-window EWMA smoothing (alpha = 1/2, last 8 points) per sampled
    user: power-of-two weights multiply exactly in IEEE doubles, the
    closed-form denominator 2 - 2^(1-n) keeps startup windows properly
    normalized, and the only inexact step (small-list summation) is rounded
    away.  One window exchange; the collected list never leaves the frame."""
    from engine.extended.timeseries import ewma

    e = (
        t(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") % 20 == 0)
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("value").isNotNull()
        )
        .select("user_id", "event_id", "ts", "value")
    )
    out = ewma(e, order_cols=["event_id"], window_rows=8, round_to=4)
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
        "ewma",
    )


@q(
    "timeseries_lttb",
    """
    WITH ev AS (
      SELECT user_id AS k, ts AS t, value AS v, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        AND user_id % 25 = 0),
    base AS (
      SELECT k, t, v,
             ROW_NUMBER() OVER (PARTITION BY k ORDER BY t, event_id) - 1 AS rk,
             COUNT(*) OVER (PARTITION BY k) AS n
      FROM ev),
    small AS (SELECT k, t, v, CAST(rk AS INT) AS bucket FROM base WHERE n <= 12),
    big AS (
      SELECT k, t, v, rk, n, CAST((rk * 12) // n AS INT) AS bucket,
             epoch_us(t) - MIN(epoch_us(t)) OVER (PARTITION BY k) AS x
      FROM base WHERE n > 12),
    anchors AS (
      SELECT k, bucket, AVG(x) AS bx, ROUND(AVG(v), 6) AS by
      FROM big GROUP BY k, bucket),
    interior AS (
      SELECT b.k, b.t, b.v, b.rk, b.bucket,
             ROUND(ABS((p.bx - nx.bx) * (b.v - p.by)
                       - (p.bx - CAST(b.x AS DOUBLE)) * (nx.by - p.by)),
                   3) AS area
      FROM big b
      JOIN anchors p ON p.k = b.k AND p.bucket = b.bucket - 1
      JOIN anchors nx ON nx.k = b.k AND nx.bucket = b.bucket + 1
      WHERE b.bucket BETWEEN 1 AND 10),
    picked AS (
      SELECT k, t, v, bucket FROM (
        SELECT k, t, v, bucket,
               ROW_NUMBER() OVER (PARTITION BY k, bucket
                                  ORDER BY area DESC, rk) AS rn
        FROM interior) WHERE rn = 1),
    ends AS (SELECT k, t, v, bucket FROM big WHERE rk = 0 OR rk = n - 1),
    allp AS (
      SELECT * FROM small UNION ALL SELECT * FROM ends
      UNION ALL SELECT * FROM picked)
    SELECT k AS user_id, strftime(t, '%Y-%m-%d %H:%M:%S') AS tick,
           v AS picked_value, bucket
    FROM allp
    """,
)
def timeseries_lttb_q(spark, sf_dir):
    """Largest-triangle downsampling (fixed-anchor LTTB variant) of each
    sampled user's event series to ~12 visually-representative points:
    equal-count buckets, each keeping the point with the largest rounded
    triangle area against the neighbor buckets' means, endpoints always
    kept.  x-coordinates are rebased epoch-micros so every mean is
    double-exact; one key window + one (key, bucket) aggregate + an
    argmax window — the dashboard-downsample shape for billions of
    series."""
    from engine.extended.timeseries import lttb_downsample

    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 25 == 0)
    out = lttb_downsample(
        e, order_cols=["event_id"], n_buckets=12, area_round=3, avg_round=6
    )
    return out.select(
        "user_id",
        F.date_format("tick", "yyyy-MM-dd HH:mm:ss").alias("tick"),
        "picked_value",
        "bucket",
    )


@q(
    "cohort_retention",
    """
    WITH spread AS (
      SELECT user_id,
             ts + (user_id % 6) * INTERVAL 31 DAY
                + (event_id % 3) * INTERVAL 40 DAY AS ts
      FROM events),
    ev AS (
      SELECT user_id AS u, ts FROM spread
      WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    firsts AS (SELECT u, MIN(ts) AS t0 FROM ev GROUP BY u),
    acts AS (
      SELECT DISTINCT ev.u,
             strftime(f.t0, '%Y-%m') AS cohort,
             (YEAR(ev.ts) * 12 + MONTH(ev.ts))
               - (YEAR(f.t0) * 12 + MONTH(f.t0)) AS k
      FROM ev JOIN firsts f ON ev.u = f.u)
    SELECT cohort, k, COUNT(*) AS n_users FROM acts GROUP BY cohort, k
    """,
)
def cohort_retention_q(spark, sf_dir):
    """Monthly cohort-retention matrix over the event stream: users keyed
    by first-event month, counted per calendar-month offset.  The
    synthetic events span one month, so a deterministic multi-month
    spread is planted IN-PLAN (pure day arithmetic — interval × integer,
    identical in both engines, no month-end clamping semantics) to give
    the matrix real cohorts and offsets.  Integer month arithmetic
    (year·12 + month differences) keeps the result engine-exact."""
    from engine.extended.funnel import cohort_retention

    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            "ts + (user_id % 6) * INTERVAL '31' DAY"
            " + (event_id % 3) * INTERVAL '40' DAY"
        ).alias("ts"),
    )
    return cohort_retention(e)


@q("funnel_conversion", _funnel_sql(["view", "click", "purchase"]))
def funnel_conversion_q(spark, sf_dir):
    """Sequential funnel over the event stream: users whose first view is
    followed by a first click, then a first purchase, each strictly later
    and within 7 days of the previous step.  Step k joins the shrinking
    user-cardinality cohort, never event×event — the funnel shape that
    holds at 100 TB of events."""
    from engine.extended.funnel import funnel_steps

    e = t(spark, sf_dir, "events")
    return funnel_steps(e, ["view", "click", "purchase"], window_days=7)


def _ivfpq_sql(
    *,
    n_lists: int = 8,
    ivf_iters: int = 2,
    m: int = 4,
    ksub: int = 8,
    pq_iters: int = 2,
    dsub: int = 16,
    nprobe: int = 3,
    k: int = 10,
    qid: int = 7,
) -> str:
    """DuckDB twin of the composed IVF-PQ probe (the FAISS IVFADC layout):
    the seeded-IVF CTE chain (``i_*``) assigns every vector to a coarse
    list and ranks the query's ``nprobe`` nearest lists; the seeded-PQ
    chain (``p_*``) learns global codebooks and codes; the final select
    ADC-scores ONLY vectors whose list is probed.  Codebooks are global
    (not per-list residuals) — documented simplification, same answer
    shape."""
    dist = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])))"
    )
    parts = [
        f"""
    WITH pts AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL),
    i_seeds AS (
      SELECT q, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT vec_id, q FROM pts
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_lists})),
    i_c0 AS (SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS c FROM i_seeds)"""
    ]
    for it in range(ivf_iters):
        parts.append(
            f""",
    i_a{it} AS (
      SELECT vec_id, q, cid FROM (
        SELECT p.vec_id, p.q, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {dist.format(a='p.q', b='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN i_c{it} c) WHERE rn = 1),
    i_s{it} AS (
      SELECT cid, i, SUM(x) AS s, COUNT(*) AS cnt FROM (
        SELECT cid, generate_subscripts(q, 1) AS i, UNNEST(q) AS x FROM i_a{it})
      GROUP BY cid, i),
    i_n{it} AS (SELECT cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) AS c
                FROM i_s{it} GROUP BY cid),
    i_c{it + 1} AS (SELECT i_c{it}.cid, COALESCE(i_n{it}.c, i_c{it}.c) AS c
                    FROM i_c{it} LEFT JOIN i_n{it} ON i_c{it}.cid = i_n{it}.cid)"""
        )
    icf = f"i_c{ivf_iters}"
    parts.append(
        f""",
    i_af AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {dist.format(a='p.q', b='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN {icf} c) WHERE rn = 1),
    qq AS (SELECT q FROM pts
           WHERE vec_id = (SELECT MIN(vec_id) FROM pts WHERE vec_id >= {qid})),
    i_probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY {dist.format(a='qq.q', b='c.c')}, c.cid) AS rn
        FROM {icf} c CROSS JOIN qq) WHERE rn <= {nprobe}),
    sjs AS (SELECT UNNEST(range(0, {m})) AS sj),
    p_seeds AS (
      SELECT q, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT vec_id, q FROM pts
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ksub})),
    p_sub AS (
      SELECT vec_id, sj,
             list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}) AS subq
      FROM pts CROSS JOIN sjs),
    p_c0 AS (
      SELECT sj, cid,
             list_transform(list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}),
                            x -> CAST(x AS DOUBLE)) AS c
      FROM p_seeds CROSS JOIN sjs)"""
    )
    for it in range(pq_iters):
        parts.append(
            f""",
    p_a{it} AS (
      SELECT vec_id, sj, subq, cid FROM (
        SELECT s.vec_id, s.sj, s.subq, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sj
                 ORDER BY {dist.format(a='s.subq', b='c.c')}, c.cid) AS rn
        FROM p_sub s JOIN p_c{it} c ON s.sj = c.sj) WHERE rn = 1),
    p_s{it} AS (
      SELECT sj, cid, i, SUM(x) AS s, COUNT(*) AS cnt FROM (
        SELECT sj, cid, generate_subscripts(subq, 1) AS i, UNNEST(subq) AS x FROM p_a{it})
      GROUP BY sj, cid, i),
    p_n{it} AS (SELECT sj, cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) AS c
                FROM p_s{it} GROUP BY sj, cid),
    p_c{it + 1} AS (SELECT p_c{it}.sj, p_c{it}.cid, COALESCE(p_n{it}.c, p_c{it}.c) AS c
                    FROM p_c{it} LEFT JOIN p_n{it}
                    ON p_c{it}.sj = p_n{it}.sj AND p_c{it}.cid = p_n{it}.cid)"""
        )
    pcf = f"p_c{pq_iters}"
    parts.append(
        f""",
    p_af AS (
      SELECT vec_id, sj, cid FROM (
        SELECT s.vec_id, s.sj, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sj
                 ORDER BY {dist.format(a='s.subq', b='c.c')}, c.cid) AS rn
        FROM p_sub s JOIN {pcf} c ON s.sj = c.sj) WHERE rn = 1),
    p_qsub AS (
      SELECT sj, list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}) AS subq
      FROM qq CROSS JOIN sjs),
    p_lut AS (
      SELECT c.sj, c.cid, {dist.format(a='p_qsub.subq', b='c.c')} AS d
      FROM {pcf} c JOIN p_qsub ON c.sj = p_qsub.sj)
    SELECT p_af.vec_id,
           ROUND(list_sum(list(p_lut.d ORDER BY p_lut.sj)) / 1000000000000.0, 6) AS adist
    FROM p_af
    JOIN i_af ON p_af.vec_id = i_af.vec_id
    JOIN p_lut ON p_af.sj = p_lut.sj AND p_af.cid = p_lut.cid
    WHERE i_af.cid IN (SELECT cid FROM i_probe)
    GROUP BY p_af.vec_id
    ORDER BY adist ASC NULLS LAST, p_af.vec_id
    LIMIT {k}"""
    )
    return "".join(parts)


@q("ann_ivfpq_topk", _ivfpq_sql())
def ann_ivfpq_topk(spark, sf_dir):
    """The composed IVF-PQ probe — the FAISS IVFADC index layout on Spark:
    the seeded coarse quantizer prunes the scan to 3 of 8 lists (partition
    pruning when the table is written partitionBy(ivf_list)), and the
    survivors are scored from 4-byte PQ codes by table lookup — at 100 TB
    the query touches nprobe/n_lists of the data and reads only the code
    column.  Pure composition of ivf_build_seeded + pq_train_seeded +
    pq_encode + pq_adc_topk; global codebooks (not per-list residuals —
    documented simplification)."""
    from engine.extended.similarity import (
        ivf_build_seeded,
        pq_adc_topk,
        pq_encode,
        pq_train_seeded,
        probe_lists_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    # ONE shared quantized view for the whole build (r11 opt): the query
    # vector read, the IVF Lloyd rounds, and the PQ Lloyd rounds all used
    # to quantize + persist the vectors separately (two cache
    # materializations + three cold scans); the composed probe now pins
    # the view once and every build job reads the shared cache.  Released
    # after training — the terminal ADC scan re-derives the quantize
    # projection lazily, the ivf_build_seeded contract.
    pts = (
        emb.filter(F.col("embedding").isNotNull())
        .select(*emb.columns, quantized_vec("embedding").alias("__q"))
        .persist()
    )
    qrows = (
        pts.filter(F.col("vec_id") >= 7)
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("__q").alias("qq"))
        .collect()
    )
    if not qrows:
        pts.unpersist()
        return emb.select("vec_id", F.lit(None).cast("double").alias("adist")).limit(0)
    qq = [int(x) for x in qrows[0]["qq"]]
    assigned, cents = ivf_build_seeded(
        emb, n_lists=8, iters=2, dim=len(qq), pts=pts
    )
    probe_lists = probe_lists_seeded(cents, qq, 3)
    cb = pq_train_seeded(emb, m=4, ksub=8, iters=2, dim=len(qq), pts=pts)
    pts.unpersist()
    enc = pq_encode(assigned, cb)
    return pq_adc_topk(
        enc.filter(F.col("ivf_list").isin(probe_lists)), cb, qq, k=10
    )


def _pagerank_sql(*, iters: int = 3, k: int = 20) -> str:
    """DuckDB twin of engine.extended.graph.pagerank over the
    supplier↔customer shipping graph: integer micro-unit ranks, floor
    divisions (DuckDB ``//`` = the engine's exact pmod-subtract division),
    ``iters`` unrolled rounds — integer sums are shuffle-order-independent,
    so even an iterative graph algorithm value-hash-checks exactly."""
    parts = [
        """
    WITH le AS (
      SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
                      'C' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    e AS (SELECT src, dst FROM le UNION SELECT dst, src FROM le),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)"""
    ]
    for it in range(iters):
        parts.append(
            f""",
    c{it} AS (
      SELECT e.dst AS node, CAST(SUM(r.rank // od.outdeg) AS BIGINT) AS s
      FROM e JOIN r{it} r ON e.src = r.node JOIN od ON e.src = od.src
      GROUP BY e.dst),
    r{it + 1} AS (
      SELECT n.node,
             CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c{it} c ON n.node = c.node)"""
        )
    parts.append(
        f"""
    SELECT node, rank FROM r{iters} ORDER BY rank DESC, node LIMIT {k}"""
    )
    return "".join(parts)


@q("pagerank_topk", _pagerank_sql())
def pagerank_topk(spark, sf_dir):
    """Link-graph authority: 3 PageRank rounds over the supplier↔customer
    shipping graph (both directions, distinct edges), top 20 nodes.  Ranks
    are integer micro-units with floor divisions, so the iterative result
    is shuffle-order-independent and oracle-exact — the crawl-authority
    computation a corpus pipeline runs over its domain link graph."""
    from engine.extended.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    # Long-encoded node keys (r11 opt, guide §2.3 "narrower types"): the
    # "S<k>"/"C<k>" node STRINGS only matter in the final 20-row output, yet
    # they used to ride every exchange of the edge build, the distinct, and
    # all three rank rounds.  Encode supplier k as 2k and customer k as
    # 2k+1 (disjoint by parity, exactly like the S/C prefixes), run the
    # whole graph on 8-byte longs, decode at the very end.  Rank arithmetic
    # depends only on the graph structure, which is isomorphic by
    # construction, so the result rows are IDENTICAL (verified collect-equal
    # at sf0.01 before landing; interleaved A/B at sf0.1: strings 7.50 s vs
    # longs 5.80 s median — see OPTIMIZATION_r11.md).
    fwd = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    # the union needs no second distinct (r11 opt, guide §2.4 "distinct on
    # data that is already unique"): fwd is distinct, the reversed branch
    # is a 1-1 rename of it, and the branches can never collide because
    # every fwd src is even while every reversed src is odd — dropping it
    # removes a full edge-sized Exchange from the build (the oracle's edge
    # CTE is unchanged; the edge multiset is identical by construction)
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # lazy mode: the registry sweep runs hundreds of queries in one session,
    # and a persisted result frame would stay cached for all of them (the
    # materialized mode is the >1-executor scale path, exercised in pytest)
    ranks = pagerank(edges, iters=3, materialize=False)
    dec = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("S"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("C"), ((F.col("node") - 1) / 2).cast("long").cast("string"))
    )
    out = ranks.select(dec.alias("node"), "rank")
    return out.orderBy(F.col("rank").desc(), "node").limit(20)


def _strongest_ties_edges(spark, sf_dir):
    """The strongest-ties supplier co-occurrence edge list shared by the
    graph queries (one Python copy, like the shared _TRI_GRAPH_SQL prefix
    on the oracle side): per-order supplier pairs via an orderkey
    SELF-JOIN (u < v), weighted by shared line pairs, top-6000 edges by
    (weight, key order) — a top-K edge budget keeps the graph
    cardinality-bound at any volume (an absolute support threshold
    measured superlinear at 10x); TakeOrderedAndProject keeps a K-heap,
    never a global sort.

    r12 opt (verdict r11 #7, measured at 1x/x10/x100 — OPTIMIZATION_r12
    .md): the previous collect_list + in-array O(k^2) pair explode wins
    ~0.25 s locally (one exchange vs two) but REVERSES at volume — at
    x100 (60M rows) the ObjectHashAggregate holding 15M per-order arrays
    ran 22-37 s vs 6.5-9.5 s for the self-join, and OOM'd the default
    4 g heap outright.  The self-join shape shuffles only narrow
    (orderkey, suppkey) rows, spills gracefully, lets AQE split a hot
    orderkey (the in-array product cannot), and is the oracle's own
    _EDGE_RAW_SQL shape.  Edge weights stay line-pair counts — the pair
    multiset is identical by construction (proved collect-equal at
    sf0.01)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey").isNotNull())
    a = li.select("l_orderkey", F.col("l_suppkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_suppkey").alias("v"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .orderBy(F.col("w").desc(), "u", "v")
        .limit(6000)
        .select("u", "v")
    )


#: the strongest-ties supplier co-occurrence edge CTE shared by every graph
#: oracle (one SQL copy, like the one Python copy in _strongest_ties_edges)
_EDGE_RAW_SQL = """raw AS (
      SELECT u, v FROM (
        SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        WHERE a.l_suppkey IS NOT NULL AND b.l_suppkey IS NOT NULL
        GROUP BY u, v)
      ORDER BY w DESC, u, v LIMIT 6000)"""

_TRI_GRAPH_SQL = f"""
    WITH {_EDGE_RAW_SQL},
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM raw UNION ALL SELECT v AS node FROM raw)
      GROUP BY node),
    de AS (
      SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
             CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
             CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS ddeg
      FROM raw
      JOIN deg du ON du.node = raw.u
      JOIN deg dv ON dv.node = raw.v),
    w AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM de e1 JOIN de e2
        ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
    tri AS (
      SELECT w.a, w.b, w.c
      FROM w JOIN de e3 ON e3.src = w.b AND e3.dst = w.c),
    pern AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT a AS node FROM tri UNION ALL
        SELECT b AS node FROM tri UNION ALL
        SELECT c AS node FROM tri)
      GROUP BY node)
"""


@q(
    "triangle_count_topk",
    _TRI_GRAPH_SQL
    + """
    SELECT node AS suppkey, CAST(n_triangles AS BIGINT) AS n_triangles
    FROM pern ORDER BY n_triangles DESC, suppkey LIMIT 20
    """,
)
def triangle_count_topk(spark, sf_dir):
    """Triangle counting over the supplier co-occurrence graph (suppliers
    sharing an order are linked — clique density signals tightly-coupled
    supplier communities): degree-ordered orientation finds each triangle
    exactly once with O(sqrt(m))-bounded wedge lists, the shape that holds
    on a power-law graph at 100 TB.  Top 20 nodes by triangle membership;
    all-integer, shuffle-order-independent, oracle-exact."""
    from engine.extended.graph import triangle_counts

    edges = _strongest_ties_edges(spark, sf_dir)
    counts = triangle_counts(edges, src_col="u", dst_col="v")
    return (
        counts.select(F.col("node").alias("suppkey"), "n_triangles")
        .orderBy(F.col("n_triangles").desc(), "suppkey")
        .limit(20)
    )


@q(
    "centroid_drift_by_label",
    """
    WITH x AS (
      SELECT label, vec_id % 2 AS half, generate_subscripts(embedding, 1) AS pos,
             CAST(round(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS q
      FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id IS NOT NULL AND label IS NOT NULL),
    comp AS (
      SELECT label, half, pos,
             SUM(q) / 1000000.0 / COUNT(*) AS m, COUNT(*) AS n
      FROM x GROUP BY label, half, pos),
    joined AS (
      SELECT a.label, a.pos, a.m AS ma, b.m AS mb,
             a.n AS na, b.n AS nb
      FROM comp a JOIN comp b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1),
    agg AS (
      SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
             SUM(ma * mb) AS dot,
             SUM(ma * ma) AS qa, SUM(mb * mb) AS qb,
             SUM((ma - mb) * (ma - mb)) AS d2
      FROM joined GROUP BY label)
    SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN qa * qb > 0
                THEN ROUND(dot / (sqrt(qa) * sqrt(qb)), 4) + 0.0 END
             AS cos_sim,
           ROUND(sqrt(d2), 4) AS l2_dist
    FROM agg
    """,
)
def centroid_drift_by_label_q(spark, sf_dir):
    """Embedding-drift monitoring: per label, the cosine and L2 distance
    between the centroids of two deterministic halves of the data (the
    batch-over-batch stability check a training pipeline runs on its
    feature store — a drifting or corrupted extraction shows up as
    centroid movement long before eval metrics do).  Per-component means
    come from exact integer-unit sums, so the only float steps are the
    final fixed-size reductions, rounded."""
    e = t(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & F.col("vec_id").isNotNull()
        & F.col("label").isNotNull()
    )
    x = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label",
        "half",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v").cast("double") * 1_000_000.0)
        .cast("long")
        .alias("q"),
    )
    comp = x.groupBy("label", "half", "pos").agg(
        (F.sum("q") / 1_000_000.0 / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    a = comp.filter(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("ma"), F.col("n").alias("na")
    )
    b = comp.filter(F.col("half") == 1).select(
        "label", "pos", F.col("m").alias("mb"), F.col("n").alias("nb")
    )
    joined = a.join(b, ["label", "pos"])
    agg = joined.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("qa"),
        F.sum(F.col("mb") * F.col("mb")).alias("qb"),
        F.sum((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))).alias(
            "d2"
        ),
    )
    return agg.select(
        "label",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.when(
            F.col("qa") * F.col("qb") > 0,
            F.round(
                F.col("dot") / (F.sqrt("qa") * F.sqrt("qb")), 4
            )
            + F.lit(0.0),
        ).alias("cos_sim"),
        F.round(F.sqrt("d2"), 4).alias("l2_dist"),
    )


@q(
    "token_gini_by_source",
    """
    WITH tok AS (
      SELECT doc_id, source,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS t
      FROM documents WHERE text IS NOT NULL),
    tc AS (SELECT doc_id, source, t, COUNT(*) AS c
           FROM tok GROUP BY doc_id, source, t),
    per_doc AS (
      SELECT doc_id, source,
             list_sort(list(c)) AS cs,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM tc GROUP BY doc_id, source),
    gini AS (
      SELECT doc_id, source,
             ROUND(
               list_sum(list_transform(
                 list_zip(cs, generate_series(1, len(cs))),
                 z -> (2 * z[2] - len(cs) - 1) * z[1]))
               * 1.0 / (n * total), 4) AS g
      FROM per_doc)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(g), 4) AS avg_gini
    FROM gini GROUP BY source
    """,
)
def token_gini_by_source_q(spark, sf_dir):
    """Vocabulary concentration per source: the Gini coefficient of each
    document's token-frequency distribution (0 = every token used
    equally, near 1 = a few tokens dominate — keyword-stuffed spam and
    templated boilerplate score high where prose stays low), averaged by
    source.  The per-doc numerator is EXACT integer arithmetic over the
    sorted count list (ties are interchangeable, so sort order cannot
    matter); only the final ratio and the per-source mean round."""
    from engine.extended.text import tokens

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tc = (
        d.select(
            "doc_id", "source", F.explode(tokens("text")).alias("t")
        )
        .groupBy("doc_id", "source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = tc.groupBy("doc_id", "source").agg(
        F.sort_array(F.collect_list("c")).alias("cs"),
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    num = F.aggregate(
        F.zip_with(
            F.col("cs"),
            F.sequence(F.lit(1), F.size("cs")),
            lambda c, i: (2 * i.cast("long") - F.col("n") - 1) * c,
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    gini = per_doc.select(
        "source",
        F.round(num * 1.0 / (F.col("n") * F.col("total")), 4).alias("g"),
    )
    return gini.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("g"), 4).alias("avg_gini"),
    )


@q(
    "readability_by_source",
    """
    WITH toks AS (
      SELECT source,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS ws,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents
      FROM documents WHERE text IS NOT NULL),
    counts AS (
      SELECT source, len(ws) AS n_words, n_sents,
             COALESCE(list_sum(list_transform(ws,
               w -> GREATEST(len(regexp_extract_all(w, '[aeiouy]+')), 1))),
               0) AS n_syl
      FROM toks),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS n_words,
             CAST(SUM(n_sents) AS BIGINT) AS n_sentences,
             CAST(SUM(n_syl) AS BIGINT) AS n_syllables
      FROM counts WHERE n_words > 0 GROUP BY source)
    SELECT source, n_docs, n_words, n_sentences, n_syllables,
           ROUND(0.39 * (n_words * 1.0 / n_sentences)
                 + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 2)
             AS fk_grade
    FROM agg
    """,
)
def readability_by_source_q(spark, sf_dir):
    """Flesch-Kincaid readability per source — the classic prose-quality
    signal (a spam farm's fragments and a legal dump's run-ons both land
    far from natural-web grade levels).  Words / sentence runs / vowel-
    group syllables are exact integer counts, and the grade is computed
    from SUMMED counts per source (never averaged per-doc floats), so the
    only float step is one final rounded formula over exact integers —
    engine-identical."""
    from engine.extended.text import readability_counts

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    c = readability_counts("text")
    per_doc = d.select(
        "source",
        c["n_words"].alias("w"),
        c["n_sentences"].alias("s"),
        c["n_syllables"].alias("y"),
    ).filter(F.col("w") > 0)
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("n_words"),
        F.sum("s").alias("n_sentences"),
        F.sum("y").alias("n_syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(0.39) * (F.col("n_words") * 1.0 / F.col("n_sentences"))
            + F.lit(11.8) * (F.col("n_syllables") * 1.0 / F.col("n_words"))
            - F.lit(15.59),
            2,
        ).alias("fk_grade"),
    )


@q(
    "multivariate_outliers",
    """
    WITH base AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS q,
             CAST(l_extendedprice AS DOUBLE) AS p,
             CAST(l_discount AS DOUBLE) AS d
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL),
    stats AS (
      SELECT AVG(q) AS mq, STDDEV_SAMP(q) AS sq,
             AVG(p) AS mp, STDDEV_SAMP(p) AS sp,
             AVG(d) AS md, STDDEV_SAMP(d) AS sd
      FROM base),
    scored AS (
      SELECT l_orderkey, l_linenumber,
             ROUND(
               CASE WHEN sq > 0 THEN ((q - mq) / sq) * ((q - mq) / sq)
                    ELSE 0.0 END
               + CASE WHEN sp > 0 THEN ((p - mp) / sp) * ((p - mp) / sp)
                      ELSE 0.0 END
               + CASE WHEN sd > 0 THEN ((d - md) / sd) * ((d - md) / sd)
                      ELSE 0.0 END, 3) AS m2
      FROM base CROSS JOIN stats)
    SELECT l_orderkey, l_linenumber, m2 FROM scored
    ORDER BY m2 DESC, l_orderkey, l_linenumber LIMIT 20
    """,
)
def multivariate_outliers_q(spark, sf_dir):
    """Multivariate outlier mining: diagonal-covariance Mahalanobis
    distance over (quantity, price, discount) — rows whose JOINT position
    is extreme even when each coordinate alone looks ordinary.  Global
    moments ride as a broadcast 1-row table; scoring is one codegen pass;
    ranking uses the ROUNDED score with key tie-breaks, and a
    TakeOrderedAndProject heap keeps top-k without a global sort."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
        & F.col("l_discount").isNotNull()
    )
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").cast("double").alias("p"),
        F.col("l_discount").cast("double").alias("d"),
    )
    stats = base.agg(
        F.avg("q").alias("mq"), F.stddev_samp("q").alias("sq"),
        F.avg("p").alias("mp"), F.stddev_samp("p").alias("sp"),
        F.avg("d").alias("md"), F.stddev_samp("d").alias("sd"),
    )

    def z2(v, m, s):
        zz = (F.col(v) - F.col(m)) / F.col(s)
        return F.when(F.col(s) > 0, zz * zz).otherwise(F.lit(0.0))

    scored = base.crossJoin(F.broadcast(stats)).select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            z2("q", "mq", "sq") + z2("p", "mp", "sp") + z2("d", "md", "sd"),
            3,
        ).alias("m2"),
    )
    return scored.orderBy(
        F.col("m2").desc(), "l_orderkey", "l_linenumber"
    ).limit(20)


def _spatial_sql() -> str:
    import math as _m

    radius = 150.0
    cell_lat = radius / 111.0
    cell_lon = radius / (111.0 * _m.cos(_m.radians(66.0)))
    # lon cells are modular so pairs straddling the ±180° antimeridian
    # meet (review finding) — mirror of engine/extended/spatial.py
    n_lon = int(_m.ceil(360.0 / cell_lon))
    return f"""
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 7919 % 12000) / 100.0 - 60 AS lat,
             (c_custkey * 104729 % 36000) / 100.0 - 180 AS lon
      FROM customer WHERE c_custkey IS NOT NULL),
    lpts AS (
      SELECT id, lat, lon,
             CAST(floor(lat / {cell_lat!r}) AS BIGINT) AS cy,
             CAST(floor((lon + 180.0) / {cell_lon!r}) AS BIGINT) % {n_lon}
               AS cx
      FROM pts WHERE id % 40 = 0 AND abs(lat) <= 66.0),
    rpts AS (
      SELECT id, lat, lon,
             CAST(floor(lat / {cell_lat!r}) AS BIGINT) AS cy,
             CAST(floor((lon + 180.0) / {cell_lon!r}) AS BIGINT) % {n_lon}
               AS cx
      FROM pts WHERE abs(lat) <= 66.0),
    probes AS (
      SELECT l.*, l.cy + dy.d AS pcy,
             (l.cx + dx.d + {n_lon}) % {n_lon} AS pcx
      FROM lpts l
      CROSS JOIN (SELECT UNNEST(generate_series(-1, 1)) AS d) dy
      CROSS JOIN (SELECT UNNEST(generate_series(-1, 1)) AS d) dx),
    cand AS (
      SELECT p.id AS store_id, p.lat AS la1, p.lon AS lo1,
             r.id AS cust_id, r.lat AS la2, r.lon AS lo2
      FROM probes p JOIN rpts r ON r.cy = p.pcy AND r.cx = p.pcx),
    d AS (
      SELECT store_id, cust_id,
             ROUND(2.0 * 6371.0 * asin(sqrt(
               sin(radians(la2 - la1) / 2) * sin(radians(la2 - la1) / 2)
               + cos(radians(la1)) * cos(radians(la2))
                 * sin(radians(lo2 - lo1) / 2) * sin(radians(lo2 - lo1) / 2)
             )), 3) AS dist_km
      FROM cand)
    SELECT store_id, cust_id, dist_km FROM d WHERE dist_km <= 150.0
    """


@q("spatial_radius_join", _spatial_sql())
def spatial_radius_join_q(spark, sf_dir):
    """Spatial radius join: every customer within 150 km of each sampled
    'store' (coordinates planted in-plan from the key — deterministic
    integer arithmetic).  Grid-cell bucketing first (integer floors, 3x3
    neighborhood probe — constant fan-out equi-join, never an all-pairs
    distance product), exact rounded haversine second: the geo-join shape
    that survives planetary-scale point sets."""
    from engine.extended.spatial import radius_join

    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey").isNotNull())
    pts = c.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919 % 12000) / 100.0 - 60).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180).alias("lon"),
    )
    stores = pts.filter(F.col("id") % 40 == 0).select(
        F.col("id").alias("store_id"), "lat", "lon"
    )
    custs = pts.select(F.col("id").alias("cust_id"), "lat", "lon")
    return radius_join(
        stores,
        custs,
        radius_km=150.0,
        left_id="store_id",
        right_id="cust_id",
        max_abs_lat=66.0,
    )


@q(
    "range_frame_hour_sum",
    """
    WITH ev AS (
      SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS es, value
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL)
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing,
           ROUND(SUM(CAST(round(value * 1000000.0) AS BIGINT)) OVER w
                 / 1000000.0, 4) AS hour_sum
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY es
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def range_frame_hour_sum_q(spark, sf_dir):
    """VALUE-based window frames (the RANGE sibling of the ROWS frames
    used elsewhere): each event's trailing-hour activity — count and sum
    of values within 3600 seconds BY TIMESTAMP VALUE, not by row count —
    per user.  The frame orders on epoch seconds so both engines use the
    same numeric RANGE semantics; the sum rides in integer micro-units
    (same-instant rows share one frame, so float order would be
    ambiguous).  One window exchange on the key."""
    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    es = F.unix_timestamp("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(es)
        .rangeBetween(-3600, Window.currentRow)
    )
    units = F.round(F.col("value") * 1_000_000.0).cast("long")
    return e.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.round(F.sum(units).over(w) / 1_000_000.0, 4).alias("hour_sum"),
    )


@q(
    "quality_calibration",
    f"""
    WITH tok AS (
      SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents),
    ws AS (
      SELECT doc_id, source,
             CASE WHEN toks IS NULL THEN NULL ELSE CAST(COALESCE(
               list_aggregate(list_transform(toks,
                 t -> ({_MD5H.format(x="'q|' || t")} % 4096) % 197 - 98),
                 'sum'), 0) AS BIGINT) END AS weight_sum
      FROM tok)
    SELECT doc_id, source, weight_sum,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY weight_sum), 4) AS pct,
           CAST(ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                           ORDER BY weight_sum), 4) >= 0.5
                AS INT) AS keep_calibrated
    FROM ws WHERE weight_sum IS NOT NULL
    """,
)
def quality_calibration_q(spark, sf_dir):
    """Per-source calibration of the hashed quality classifier: raw
    scores are NOT comparable across sources (each domain has its own
    score distribution), so the keep decision uses the score's
    percent-rank WITHIN its source — the per-domain threshold discipline
    real curation pipelines apply.  Ranking runs on the classifier's
    EXACT INTEGER weight sum (ties share a rank in both engines), one
    window exchange on source."""
    from engine.extended.curation import hashed_quality_score
    from engine.extended.text import tokens

    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", "source", tokens("text").alias("__toks"))
    ws = toked.select(
        "doc_id",
        "source",
        hashed_quality_score(F.col("__toks"))["weight_sum"].alias(
            "weight_sum"
        ),
    ).filter(F.col("weight_sum").isNotNull())
    w = Window.partitionBy("source").orderBy("weight_sum")
    pct = F.round(F.percent_rank().over(w), 4)
    return ws.select(
        "doc_id",
        "source",
        "weight_sum",
        pct.alias("pct"),
        (pct >= 0.5).cast("int").alias("keep_calibrated"),
    )


@q(
    "lang_source_mi",
    """
    WITH base AS (
      SELECT lang, source FROM documents
      WHERE lang IS NOT NULL AND source IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM base),
    joint AS (SELECT lang, source, COUNT(*) AS c_xy FROM base
              GROUP BY lang, source),
    px AS (SELECT lang, COUNT(*) AS c_x FROM base GROUP BY lang),
    py AS (SELECT source, COUNT(*) AS c_y FROM base GROUP BY source),
    mi AS (
      SELECT SUM((c_xy * 1.0 / nn.n)
                 * ln((c_xy * 1.0 / nn.n)
                      / ((c_x * 1.0 / nn.n) * (c_y * 1.0 / nn.n)))) AS mi
      FROM joint JOIN px USING (lang) JOIN py USING (source)
      CROSS JOIN n nn),
    hx AS (SELECT -SUM((c_x * 1.0 / nn.n) * ln(c_x * 1.0 / nn.n)) AS h_x
           FROM px CROSS JOIN n nn),
    hy AS (SELECT -SUM((c_y * 1.0 / nn.n) * ln(c_y * 1.0 / nn.n)) AS h_y
           FROM py CROSS JOIN n nn)
    SELECT CAST(n.n AS BIGINT) AS n,
           ROUND(h_x, 4) AS h_x, ROUND(h_y, 4) AS h_y,
           ROUND(mi.mi, 4) AS mi,
           CASE WHEN LEAST(h_x, h_y) > 0
                THEN ROUND(mi.mi / LEAST(h_x, h_y), 4) ELSE 0.0 END AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy CROSS JOIN n
    """,
)
def lang_source_mi_q(spark, sf_dir):
    """Feature-association audit: mutual information between language and
    source tags (is one informative about the other? is a split column
    secretly correlated with a label?).  Exact integer counts feed the
    probabilities; one joint aggregate bounds everything downstream at
    joint cardinality; normalized by the smaller marginal entropy."""
    from engine.ops.profile import categorical_mi

    d = t(spark, sf_dir, "documents")
    return categorical_mi(d, "lang", "source")


@q(
    "golden_user_profile",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type, value, props
      FROM events WHERE user_id IS NOT NULL),
    users AS (SELECT DISTINCT user_id FROM ev),
    lv AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ev WHERE value IS NOT NULL AND ts IS NOT NULL)
      WHERE rn = 1),
    lp AS (
      SELECT user_id, props FROM (
        SELECT user_id, props,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY length(props) DESC, props DESC)
                 AS rn
        FROM ev WHERE props IS NOT NULL)
      WHERE rn = 1),
    mt AS (
      SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type DESC) AS rn
        FROM (SELECT user_id, event_type, COUNT(*) AS c FROM ev
              WHERE event_type IS NOT NULL GROUP BY user_id, event_type))
      WHERE rn = 1)
    SELECT u.user_id, lv.value, lp.props AS props, mt.event_type
    FROM users u
    LEFT JOIN lv ON lv.user_id = u.user_id
    LEFT JOIN lp ON lp.user_id = u.user_id
    LEFT JOIN mt ON mt.user_id = u.user_id
    """,
)
def golden_user_profile_q(spark, sf_dir):
    """Survivorship merge: one golden profile per user from their event
    records — latest non-null value (recency with id tie-break), longest
    props payload, majority event_type — every rule a deterministic
    struct-max (never max_by, whose tie behavior is engine-dependent).
    The master-data collapse that runs after linkage groups records."""
    from engine.extended.linkage import golden_record

    e = t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return golden_record(
        e,
        "user_id",
        {"value": "latest", "props": "longest", "event_type": "majority"},
        ts_col="ts",
        id_col="event_id",
    ).select("user_id", "value", "props", "event_type")


@q(
    "entity_ids_incremental",
    """
    WITH clean AS (SELECT c_custkey AS rid, c_name AS rt FROM customer),
    src AS (
      SELECT c_custkey, c_name, c_custkey % 10 + 2 AS p
      FROM customer WHERE c_custkey % 4 = 0),
    dirty AS (
      SELECT c_custkey + 9000000 AS lid,
             CASE c_custkey % 3
               WHEN 0 THEN substr(c_name, 1, p - 1) || substr(c_name, p + 1)
               WHEN 1 THEN c_name
               ELSE 'new entity ' || MD5(CAST(c_custkey // 16 AS VARCHAR))
             END AS lt
      FROM src),
    lk AS (
      SELECT lid, lt, left(lt, 4) AS bk FROM dirty WHERE lt IS NOT NULL
      UNION ALL
      SELECT lid, lt, right(lt, 4) AS bk FROM dirty WHERE lt IS NOT NULL),
    rk0 AS (
      SELECT rid, rt, left(rt, 4) AS bk FROM clean WHERE rt IS NOT NULL
      UNION ALL
      SELECT rid, rt, right(rt, 4) AS bk FROM clean WHERE rt IS NOT NULL),
    rk AS (
      SELECT rid, rt, bk FROM (
        SELECT rid, rt, bk,
               ROW_NUMBER() OVER (PARTITION BY bk ORDER BY rid) AS rn
        FROM rk0)
      WHERE rn <= 1000),
    cand AS (SELECT DISTINCT lid, lt, rid, rt FROM lk JOIN rk USING (bk)),
    scored AS (
      SELECT lid, rid, levenshtein(lt, rt) AS d
      FROM cand WHERE levenshtein(lt, rt) <= 2),
    best AS (
      SELECT lid, rid, d FROM (
        SELECT lid, rid, d,
               ROW_NUMBER() OVER (PARTITION BY lid ORDER BY d, rid) AS rn
        FROM scored)
      WHERE rn = 1),
    matched AS (
      SELECT d.lid, b.rid AS entity_id, 0 AS is_new, CAST(b.d AS INT) AS dist
      FROM dirty d JOIN best b ON b.lid = d.lid),
    mx AS (SELECT MAX(c_custkey) AS m FROM customer),
    un AS (
      SELECT d.lid,
             MD5(LOWER(REGEXP_REPLACE(d.lt, '[^A-Za-z0-9]', '', 'g'))) AS fp
      FROM dirty d LEFT JOIN best b ON b.lid = d.lid
      WHERE b.lid IS NULL AND d.lt IS NOT NULL),
    reps AS (
      SELECT fp, lid AS rep FROM (
        SELECT fp, lid,
               ROW_NUMBER() OVER (PARTITION BY fp ORDER BY lid) AS rn
        FROM un)
      WHERE rn = 1),
    numbered AS (
      SELECT fp,
             (SELECT m FROM mx) + CAST(ROW_NUMBER() OVER (
               ORDER BY MD5(CAST(rep AS VARCHAR) || '|ent'), rep) AS BIGINT)
               AS entity_id
      FROM reps),
    newr AS (
      SELECT un.lid, n.entity_id, 1 AS is_new, CAST(NULL AS INT) AS dist
      FROM un JOIN numbered n USING (fp)),
    nullr AS (
      SELECT d.lid, CAST(NULL AS BIGINT) AS entity_id, 1 AS is_new,
             CAST(NULL AS INT) AS dist
      FROM dirty d LEFT JOIN best b ON b.lid = d.lid
      WHERE b.lid IS NULL AND d.lt IS NULL)
    SELECT lid AS record_id, entity_id, CAST(is_new AS INT) AS is_new, dist
    FROM matched
    UNION ALL SELECT lid, entity_id, CAST(is_new AS INT), dist FROM newr
    UNION ALL SELECT lid, entity_id, CAST(is_new AS INT), dist FROM nullr
    """,
)
def entity_ids_incremental_q(spark, sf_dir):
    """Incremental entity resolution with id minting: a batch of noisy
    records (planted in-plan: a deletion, an exact copy, or a genuinely
    new entity — some new ones exact twins of each other) resolves
    against the customer catalog; matches inherit the catalog id, twins
    collapse on the normalized fingerprint, and new entities get dense
    deterministic ids from max(existing) + the md5 global order — no
    global sort, no driver counter."""
    from engine.extended.linkage import incremental_entity_ids

    c = t(spark, sf_dir, "customer")
    canonical = c.select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("rt")
    )
    head = F.expr("substr(c_name, 1, c_custkey % 10 + 1)")
    tail = F.expr("substr(c_name, c_custkey % 10 + 3)")
    batch = c.filter(F.col("c_custkey") % 4 == 0).select(
        (F.col("c_custkey") + 9000000).alias("lid"),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(head, tail))
        .when(F.col("c_custkey") % 3 == 1, F.col("c_name"))
        .otherwise(
            F.concat(
                F.lit("new entity "),
                F.md5(F.expr("CAST(c_custkey div 16 AS STRING)")),
            )
        )
        .alias("lt"),
    )
    out = incremental_entity_ids(
        batch,
        canonical,
        batch_id="lid",
        batch_text="lt",
        canon_id="rid",
        canon_text="rt",
        max_dist=2,
        block_len=4,
        block_cap=1000,
    )
    return out.select(
        F.col("lid").alias("record_id"),
        "entity_id",
        F.col("is_new").cast("int").alias("is_new"),
        "dist",
    )


@q(
    "event_path_topk",
    """
    WITH ev AS (
      SELECT user_id, ts, event_id, event_type FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    seq AS (
      SELECT event_type || '>' ||
             LEAD(event_type, 1) OVER w || '>' ||
             LEAD(event_type, 2) OVER w AS path
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT path, COUNT(*) AS n FROM seq WHERE path IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 10
    """,
)
def event_path_topk_q(spark, sf_dir):
    """Behavioral sequence mining: the 10 most common 3-step event-type
    paths across user journeys (each user's events in (ts, id) order;
    windows never cross users).  LEAD over one key window + a global
    count — the path-analysis primitive behind funnel discovery, at one
    exchange on the user key plus a path-cardinality aggregate."""
    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    seq = e.select(path.alias("path"), F.lead("event_type", 2).over(w).alias("__l2"))
    return (
        seq.filter(F.col("__l2").isNotNull())
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


@q(
    "vocab_drift_kl",
    """
    WITH tok AS (
      SELECT source AS grp,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS t
      FROM documents),
    gc AS (SELECT grp, t, COUNT(*) AS c_s FROM tok GROUP BY grp, t),
    tt AS (SELECT t, SUM(c_s) AS c_g FROM gc GROUP BY t),
    pg AS (SELECT grp, SUM(c_s) AS n_s FROM gc GROUP BY grp),
    gl AS (SELECT SUM(c_s) AS n_g, COUNT(DISTINCT t) AS v FROM gc),
    j AS (
      SELECT gc.grp, gc.c_s, tt.c_g, pg.n_s, gl.n_g, gl.v
      FROM gc JOIN tt USING (t) JOIN pg USING (grp) CROSS JOIN gl)
    SELECT grp AS source, CAST(ANY_VALUE(n_s) AS BIGINT) AS n_tokens,
           ROUND(SUM(
             ((c_s + 1.0) / (n_s + v))
             * ln(((c_s + 1.0) / (n_s + v))
                  / ((c_g - c_s + 1.0) / (n_g - n_s + v)))), 4) AS kl
    FROM j GROUP BY grp
    """,
)
def vocab_drift_kl_q(spark, sf_dir):
    """Corpus-drift detection: per source, the KL divergence of its
    unigram distribution against the rest of the corpus (add-1 smoothed,
    observed-support variant) — a spam farm, wrong-language feed, or
    machine-generated source scores high.  Same partial-agg pipeline as
    TF-IDF: one explode, a (group, token) and a token aggregate joined on
    the token key, two broadcast scalars; never group x vocabulary."""
    from engine.extended.text import vocab_kl_by_group

    d = t(spark, sf_dir, "documents")
    return vocab_kl_by_group(d, group_col="source")


@q(
    "rollup_hour_to_day",
    """
    WITH p AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             COUNT(value) AS n,
             SUM(CAST(round(value * 1000000.0) AS BIGINT)) AS s,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type, date_trunc('day', ts))
    SELECT event_type, strftime(d, '%Y-%m-%d') AS bucket_ts,
           CAST(n AS BIGINT) AS n,
           (CASE WHEN s < 0 THEN -1 ELSE 1 END
            * ((2 * abs(s) + 100) // 200)) / 10000.0 AS total,
           vmin, vmax,
           (CASE WHEN s < 0 THEN -1 ELSE 1 END
            * ((2 * abs(s) + 100 * n) // (200 * n))) / 10000.0 AS vavg
    FROM p
    """,
)
def rollup_hour_to_day_q(spark, sf_dir):
    """Continuous-aggregate layering: daily statistics derived by MERGING
    hourly mergeable partials (n/sum/min/max re-aggregate; avg computed at
    read time) — never by re-reading raw events.  The oracle aggregates
    the raw rows directly, so the hash match PROVES the merge is lossless;
    counts and extrema merge exactly, the re-summed floats are rounded.
    At 100 TB every coarser dashboard resolution reads only the
    bucket-cardinality layer below it."""
    from engine.extended.timeseries import rollup_merge, rollup_partials

    e = t(spark, sf_dir, "events")
    hourly = rollup_partials(
        e, key_cols=["event_type"], ts_col="ts", value_col="value",
        bucket="hour",
    )
    daily = rollup_merge(hourly, key_cols=["event_type"], bucket="day")
    return daily.select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd").alias("bucket_ts"),
        "n", "total", "vmin", "vmax", "vavg",
    )


@q("compression_quality")  # rows-only: zlib UDF has no SQL twin
def compression_quality_q(spark, sf_dir):
    """Compression-ratio quality signal per source: zlib size over raw
    size (repetitive boilerplate compresses far below natural prose) via
    the sanctioned Arrow pandas_udf seam — deterministic at a fixed
    level, golden-pinned in pytest; rows-only here because no SQL engine
    exposes zlib."""
    from engine.extended.curation import compression_ratio

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    r = d.select("source", compression_ratio("text").alias("ratio"))
    return r.groupBy("source").agg(
        F.count("ratio").alias("n_docs"),
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.sum(F.when(F.col("ratio") <= 0.3, 1).otherwise(0)).alias(
            "n_repetitive"
        ),
    )


@q(
    "negative_sample_topk",
    """
    WITH c AS (
      SELECT vec_id AS cid, label AS cl FROM embeddings
      WHERE vec_id IS NOT NULL),
    pos AS (
      SELECT cid, cl,
             CAST(ROW_NUMBER() OVER (
               ORDER BY MD5(CAST(cid AS VARCHAR) || '|nego'), cid) - 1
               AS BIGINT) AS gp
      FROM c),
    nn AS (SELECT COUNT(*) AS n FROM c),
    anch AS (
      SELECT vec_id AS aid, label AS al FROM embeddings
      WHERE vec_id IS NOT NULL AND vec_id % 50 = 0),
    probes AS (
      SELECT aid, al, gs.j,
             CAST(('0x' || SUBSTRING(MD5(CAST(aid AS VARCHAR) || '|'
                   || CAST(gs.j AS VARCHAR) || '|neg'), 1, 15)) AS BIGINT)
               % (SELECT n FROM nn) AS tp
      FROM anch CROSS JOIN
           (SELECT UNNEST(generate_series(0, 14)) AS j) gs),
    cand AS (
      SELECT aid, j, cid, cl
      FROM probes JOIN pos ON pos.gp = probes.tp
      WHERE cid <> aid AND cl IS DISTINCT FROM al),
    dd AS (
      SELECT aid, j, cid, cl,
             ROW_NUMBER() OVER (PARTITION BY aid, cid ORDER BY j) AS dup
      FROM cand),
    rk AS (
      SELECT aid, j, cid, cl,
             ROW_NUMBER() OVER (PARTITION BY aid ORDER BY j) AS neg_rank
      FROM dd WHERE dup = 1)
    SELECT aid AS vec_id, CAST(neg_rank AS INT) AS neg_rank,
           cid AS neg_id, cl AS neg_label
    FROM rk WHERE neg_rank <= 5
    """,
)
def negative_sample_topk_q(spark, sf_dir):
    """Contrastive-training negatives: 5 deterministic pseudo-random
    different-label corpus rows per sampled anchor — probe j targets
    md5(anchor|j) mod N over the corpus's deterministic global positions,
    so every epoch, engine, and restart draws the same negatives with no
    RNG state.  Linear in anchors (probes equi-join the position index;
    never anchors × corpus); self/same-label/duplicate hits are skipped
    and absorbed by 3x overprobing."""
    from engine.extended.sampling import negative_sample

    e = t(spark, sf_dir, "embeddings")
    anchors = e.filter(F.col("vec_id") % 50 == 0)
    return negative_sample(anchors, e, k=5, n_probes=15)


@q(
    "winsorized_stats",
    """
    WITH base AS (
      SELECT l_returnflag AS g,
             CAST(FLOOR(CAST(l_extendedprice AS DOUBLE) * 10000.0 + 0.5)
                  AS BIGINT) AS vi
      FROM lineitem
      WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL
        AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
    bounds AS (
      SELECT g,
             CAST(FLOOR(quantile_cont(vi, 0.05) + 0.5) AS BIGINT) AS lo_i,
             CAST(FLOOR(quantile_cont(vi, 0.95) + 0.5) AS BIGINT) AS hi_i
      FROM base GROUP BY g)
    SELECT b.g AS l_returnflag, COUNT(*) AS n,
           ANY_VALUE(lo_i) / 10000.0 AS lo_bound,
           ANY_VALUE(hi_i) / 10000.0 AS hi_bound,
           CAST(SUM(CASE WHEN vi < lo_i THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_lo,
           CAST(SUM(CASE WHEN vi > hi_i THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_hi,
           FLOOR(CAST(SUM(LEAST(GREATEST(vi, lo_i), hi_i)) AS DOUBLE)
                 * 10000.0 / (COUNT(*) * 10000.0) + 0.5) / 10000.0
             AS win_mean
    FROM base b JOIN bounds USING (g)
    GROUP BY b.g
    """,
)
def winsorized_stats_q(spark, sf_dir):
    """Outlier-robust pricing stats: per return flag, values clipped to the
    group's exact [p05, p95] (winsorization), with clip counts and the
    winsorized mean.  The r9 determinism rework: values quantize to
    integer 1e-4 units BEFORE the percentile (integer-input quantiles are
    bit-identical across the engines) and every rendering is
    FLOOR(x + 0.5) — ROUND diverges on identical doubles whose shortest
    decimal string ends in a half digit (Spark HALF_UP on the string,
    DuckDB rint on the binary).  Two shuffles on the group key
    (percentile aggregate broadcast back, then the clipped aggregate) —
    no sort, no self-join."""
    from engine.ops.profile import winsorized_stats

    li = t(spark, sf_dir, "lineitem")
    return winsorized_stats(li, "l_returnflag", "l_extendedprice")


@q(
    "script_profile",
    """
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[A-Za-z]', '', 'g'))) AS BIGINT) AS latin_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[0-9]', '', 'g'))) AS BIGINT) AS digit_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[\\x{0400}-\\x{04FF}]', '', 'g'))) AS BIGINT) AS cyrillic_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[\\x{0370}-\\x{03FF}]', '', 'g'))) AS BIGINT) AS greek_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[\\x{4E00}-\\x{9FFF}]', '', 'g'))) AS BIGINT) AS cjk_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[\\x{0600}-\\x{06FF}]', '', 'g'))) AS BIGINT) AS arabic_chars,
           CAST(SUM(length(text) - length(regexp_replace(text,
                '[ \\t\\n\\x0B\\f\\r]', '', 'g'))) AS BIGINT) AS ws_chars
    FROM documents WHERE text IS NOT NULL
    GROUP BY lang
    """,
)
def script_profile_q(spark, sf_dir):
    """Writing-system composition per language tag: exact char counts by
    BMP script block (latin/digit/cyrillic/greek/CJK/arabic/whitespace) —
    the mixed-script/contamination signal language-ID alone misses.
    Length-difference counting keeps everything integer, zero-shuffle
    codegen, and engine-invariant even around astral-plane characters."""
    from engine.extended.text import script_count_exprs

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    exprs = script_count_exprs("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(e).alias(name) for name, e in exprs.items()],
    )


@q(
    "code_detect_stats",
    """
    WITH m AS (
      SELECT source,
             length(text) - length(regexp_replace(text, '\\n', '', 'g')) + 1
               AS n_lines,
             len(regexp_extract_all(text,
                 '(?:^|\\n)(?:    |\\t)[ \\t]*[^ \\t\\n\\x0B\\f\\r]'))
               AS indented,
             length(text) - length(regexp_replace(text, '[{};=<>]', '', 'g'))
               AS braces,
             (length(text) - length(replace(text, '```', ''))) // 3
               AS fences,
             len(regexp_extract_all(text,
                 '\\b(?:def|function|return|import|const|class|void|public|static|lambda)\\b'))
               AS kw,
             length(regexp_replace(text, '[^ -~]', '', 'g')) AS ascii_len
      FROM documents WHERE text IS NOT NULL),
    f AS (
      SELECT source, indented, fences, kw,
             ROUND(indented / CAST(GREATEST(n_lines, 1) AS DOUBLE), 4)
               AS indent_ratio,
             ROUND(braces / CAST(GREATEST(ascii_len, 1) AS DOUBLE), 4)
               AS brace_density
      FROM m)
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN fences > 0 OR indent_ratio >= 0.25
                          OR brace_density >= 0.02 OR kw >= 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
           CAST(SUM(indented) AS BIGINT) AS indented_lines,
           CAST(SUM(fences) AS BIGINT) AS fence_blocks,
           CAST(SUM(kw) AS BIGINT) AS code_kw_hits
    FROM f GROUP BY source
    """,
)
def code_detect_stats_q(spark, sf_dir):
    """Code-likeness composition per source: indent-layout, brace density,
    markdown fences, and keyword hits combined into an is_code flag
    (thresholds compare ROUNDED ratios with ASCII-only denominators, so
    the decision is engine-exact) — the route/weight/drop signal for
    source code inside a web corpus.  Exact integer counting, one scan,
    pure codegen."""
    from engine.extended.curation import code_detect_exprs

    d = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    e = code_detect_exprs("text")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(e["is_code"], 1).otherwise(0)).alias("n_code"),
        F.sum(e["indented_lines"]).alias("indented_lines"),
        F.sum(e["fence_blocks"]).alias("fence_blocks"),
        F.sum(e["code_kw_hits"]).alias("code_kw_hits"),
    )


@q(
    "split_leakage_audit",
    """
    WITH aug AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0),
    lab AS (
      SELECT MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS fp,
             CASE
               WHEN CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) < 52428 THEN 'train'
               WHEN CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) < 58982 THEN 'val'
               ELSE 'test' END AS split
      FROM aug WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    ds AS (SELECT DISTINCT fp, split FROM lab)
    SELECT a.split AS split_a, b.split AS split_b, COUNT(*) AS n_shared
    FROM ds a JOIN ds b ON a.fp = b.fp AND a.split < b.split
    GROUP BY split_a, split_b
    """,
)
def split_leakage_audit_q(spark, sf_dir):
    """Train/val/test leakage audit: normalized-text fingerprints that
    land in more than one hash-assigned split, counted per split pair —
    the eval-contamination gate run before any split ships.  Composes the
    engine's own hash_split + fingerprint, so the audit measures exactly
    what the split/dedup operators produce; pair generation happens
    inside each fingerprint's split set (bounded by the split count), on
    top of the one fingerprint shuffle exact dedup already pays.  A
    deterministic twin of every 7th document is planted IN-PLAN under a
    shifted id (different hash split, same text) so the audit always has
    known positives to count."""
    from engine.ops.quality import split_leakage_audit

    d = t(spark, sf_dir, "documents")
    aug = d.select("doc_id", "text").unionByName(
        d.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return split_leakage_audit(aug)


@q(
    "weighted_sample_topk",
    """
    WITH d AS (
      SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS w FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
    keyed AS (
      SELECT lang, doc_id, w,
             ROUND(
               ln((CAST(('0x' || SUBSTRING(
                     MD5(CAST(doc_id AS VARCHAR) || '|wrs'), 1, 8))
                   AS BIGINT) + 1) / 4294967297.0) / w, 6) + 0.0
               AS sample_key
      FROM d)
    SELECT lang, doc_id, sample_key FROM (
      SELECT lang, doc_id, sample_key,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY sample_key DESC, doc_id) AS rn
      FROM keyed)
    WHERE rn <= 20
    """,
)
def weighted_sample_topk_q(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    20 docs per language with inclusion probability proportional to
    length — the quality-weighted subsampling step of corpus curation,
    RNG-free (the md5 tag is the randomness) so the sample reproduces
    across runs, partitionings, and engines.  Keys rounded before
    ranking: ln() is ulp territory where JVM and C runtimes may differ."""
    from engine.extended.sampling import weighted_sample

    d = t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    out = weighted_sample(
        d, "lang", k=20, weight_col="n_chars", id_col="doc_id"
    )
    return out.select("lang", "doc_id", "sample_key")


def _mmr_sql(k: int) -> str:
    """Unrolled DuckDB twin of the greedy MMR loop: round r's argmax CTE
    ``s{r}`` picks (score DESC, id) from pool ``v{r-1}``; pool ``v{r}``
    drops the pick and folds its FLOOR(cos·10⁴ + 0.5)-quantized cosine
    into the running integer max-sim (the one rounding semantic Spark,
    DuckDB, and the operator's driver-side batch path all compute
    bit-identically on the same double).  An exhausted pool makes every
    later CTE empty, matching the operator's early break."""
    parts = [
        """
    WITH v0 AS (
      SELECT vec_id AS id, embedding AS emb,
             SQRT(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
             CAST(FLOOR((vec_id % 100) / 100.0 * 10000 + 0.5) AS BIGINT) AS ql,
             CAST(0 AS BIGINT) AS msl
      FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id IS NOT NULL
        AND len(list_filter(embedding, x -> x IS NULL)) = 0
        AND len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
                 OR isinf(CAST(x AS DOUBLE)))) = 0)"""
    ]
    for r in range(1, k + 1):
        parts.append(
            f""",
    s{r} AS (
      SELECT id, emb, nrm,
             (50 * ql - 50 * msl) / 1000000.0 AS s
      FROM v{r - 1} ORDER BY s DESC, id LIMIT 1),
    v{r} AS (
      SELECT v.id, v.emb, v.nrm, v.ql,
             GREATEST(v.msl,
               CASE WHEN v.nrm * s.nrm > 0 THEN CAST(FLOOR(
                 list_sum(list_transform(list_zip(v.emb, s.emb),
                          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                 / (v.nrm * s.nrm) * 10000 + 0.5) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END) AS msl
      FROM v{r - 1} v, s{r} s WHERE v.id <> s.id)"""
        )
    selects = [
        f"SELECT {r} AS sel_rank, id AS vec_id, s AS score FROM s{r}"
        for r in range(1, k + 1)
    ]
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


_MMR_K = 6


@q("mmr_select_topk", _mmr_sql(_MMR_K))
def mmr_select_topk_q(spark, sf_dir):
    """Diversity-aware selection: greedy maximal marginal relevance over
    the embedding pool (quality blended against max similarity to the
    already-selected set, lambda = 1/2) — the pick-high-quality-but-
    non-redundant step after corpus scoring.  Scores and similarities
    are floor-quantized to scaled integers before each argmax, so the
    greedy path is engine-exact; selection runs in driver-side batches
    bounded by the (batch+1)-th score (one Spark job per batch, not per
    pick), never a materialized similarity matrix."""
    from engine.extended.selection import mmr_select

    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isNotNull())
    pool = e.select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") % 100) / F.lit(100.0)).alias("quality"),
    )
    picks = mmr_select(pool, k=_MMR_K, lam_pct=50, quality_col="quality")
    return spark.createDataFrame(
        [(p["sel_rank"], p["id"], p["score"]) for p in picks],
        "sel_rank int, vec_id bigint, score double",
    )


@q(
    "entity_match",
    """
    WITH clean AS (SELECT c_custkey AS rid, c_name AS rt FROM customer),
    src AS (
      SELECT c_custkey, c_name, c_custkey % 10 + 2 AS p
      FROM customer WHERE c_custkey % 5 = 0),
    dirty AS (
      SELECT c_custkey AS lid,
             CASE c_custkey % 3
               WHEN 0 THEN substr(c_name, 1, p - 1) || substr(c_name, p + 1)
               WHEN 1 THEN substr(c_name, 1, p - 1) || 'Q'
                           || substr(c_name, p + 1)
               ELSE md5(CAST(c_custkey AS VARCHAR))
             END AS lt
      FROM src),
    lk AS (
      SELECT lid, lt, left(lt, 4) AS bk FROM dirty WHERE lt IS NOT NULL
      UNION ALL
      SELECT lid, lt, right(lt, 4) AS bk FROM dirty WHERE lt IS NOT NULL),
    rk0 AS (
      SELECT rid, rt, left(rt, 4) AS bk FROM clean WHERE rt IS NOT NULL
      UNION ALL
      SELECT rid, rt, right(rt, 4) AS bk FROM clean WHERE rt IS NOT NULL),
    rk AS (
      SELECT rid, rt, bk FROM (
        SELECT rid, rt, bk,
               ROW_NUMBER() OVER (PARTITION BY bk ORDER BY rid) AS rn
        FROM rk0)
      WHERE rn <= 1000),
    cand AS (SELECT DISTINCT lid, lt, rid, rt FROM lk JOIN rk USING (bk)),
    scored AS (
      SELECT lid, rid, levenshtein(lt, rt) AS d
      FROM cand WHERE levenshtein(lt, rt) <= 2),
    best AS (
      SELECT lid, rid, d FROM (
        SELECT lid, rid, d,
               ROW_NUMBER() OVER (PARTITION BY lid ORDER BY d, rid) AS rn
        FROM scored)
      WHERE rn = 1)
    SELECT dirty.lid AS dirty_id, b.rid AS match_id, CAST(b.d AS INT) AS dist
    FROM dirty LEFT JOIN best b ON b.lid = dirty.lid
    """,
)
def entity_match_q(spark, sf_dir):
    """Entity resolution: noisy customer records (planted IN-PLAN — a
    deterministic char deletion, a char substitution, or an unmatchable
    random string per sampled row) resolved against the clean customer
    table by multi-pass blocking (prefix + suffix keys — a single edit
    damages at most one of the two) and thresholded levenshtein verify,
    best match per dirty row.  Never all-pairs: candidates come from
    equi-joins on block keys with the bucket_cap discipline on hot
    blocks — the record-linkage shape that survives 100 TB."""
    from engine.extended.linkage import blocked_levenshtein_match

    c = t(spark, sf_dir, "customer")
    clean = c.select(
        F.col("c_custkey").alias("rid"), F.col("c_name").alias("rt")
    )
    head = F.expr("substr(c_name, 1, c_custkey % 10 + 1)")
    tail = F.expr("substr(c_name, c_custkey % 10 + 3)")
    dirty = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            F.col("c_custkey").alias("lid"),
            F.when(F.col("c_custkey") % 3 == 0, F.concat(head, tail))
            .when(
                F.col("c_custkey") % 3 == 1,
                F.concat(head, F.lit("Q"), tail),
            )
            .otherwise(F.md5(F.col("c_custkey").cast("string")))
            .alias("lt"),
        )
    )
    return blocked_levenshtein_match(
        dirty,
        clean,
        left_id="lid",
        left_text="lt",
        right_id="rid",
        right_text="rt",
        max_dist=2,
        block_len=4,
        block_cap=1000,
    ).select(
        F.col("lid").alias("dirty_id"),
        F.col("match_id"),
        F.col("dist"),
    )


@q(
    "clustering_coeff_topk",
    _TRI_GRAPH_SQL
    + """
    , deg2 AS (SELECT node, d AS degree FROM deg),
    coef AS (
      SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
             CAST(COALESCE(p.n_triangles, 0) AS BIGINT) AS n_triangles,
             ROUND(2.0 * COALESCE(p.n_triangles, 0)
                   / (d.degree * (d.degree - 1)), 4) AS coefficient
      FROM deg2 d LEFT JOIN pern p ON p.node = d.node
      WHERE d.degree >= 2)
    SELECT node AS suppkey, degree, n_triangles, coefficient
    FROM coef ORDER BY coefficient DESC, suppkey LIMIT 20
    """,
)
def clustering_coeff_topk_q(spark, sf_dir):
    """Local clustering coefficients over the strongest-ties supplier
    graph: how close each node's neighborhood is to a clique (2T/d(d-1))
    — the cohesion ranking on top of raw triangle counts.  Exact integer
    triangles and degrees; the single rounded division is the only float
    step, so the iterative-free graph metric is oracle-exact."""
    from engine.extended.graph import clustering_coefficients

    edges = _strongest_ties_edges(spark, sf_dir)
    out = clustering_coefficients(edges, src_col="u", dst_col="v")
    return (
        out.select(
            F.col("node").alias("suppkey"),
            "degree",
            "n_triangles",
            "coefficient",
        )
        .orderBy(F.col("coefficient").desc(), "suppkey")
        .limit(20)
    )


def _lpa_round_sql(i: int) -> str:
    """One unrolled synchronous LPA round (votes → deterministic argmax →
    label update), mirroring engine.extended.graph.label_propagation."""
    p = i - 1
    return f"""
    v{i} AS (
      SELECT und.s AS node, lab{p}.label, COUNT(*) AS c
      FROM und JOIN lab{p} ON lab{p}.node = und.d
      GROUP BY und.s, lab{p}.label),
    p{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label)
                 AS rn
        FROM v{i}) WHERE rn = 1),
    lab{i} AS (
      SELECT l.node, COALESCE(p.label, l.label) AS label
      FROM lab{p} l LEFT JOIN p{i} p ON p.node = l.node)"""


@q(
    "label_propagation_communities",
    f"""
    WITH {_EDGE_RAW_SQL},
    und AS (SELECT u AS s, v AS d FROM raw UNION SELECT v, u FROM raw),
    lab0 AS (SELECT s AS node, s AS label FROM (SELECT DISTINCT s FROM und)),
    {",".join(_lpa_round_sql(i) for i in (1, 2, 3))}
    SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM lab3 GROUP BY label
    ORDER BY n_members DESC, community LIMIT 20
    """,
)
def label_propagation_communities(spark, sf_dir):
    """Community detection over the strongest-ties supplier graph
    (engine.extended.graph.label_propagation): 3 synchronous LPA rounds —
    each node adopts its neighbors' most frequent label, ties to the
    smallest — with the random choice of classic LPA replaced by a total
    order, so the iterative result is shuffle-order-independent and the
    oracle unrolls the rounds as CTEs (the pagerank/BPE discipline).
    Output: the 20 largest communities.  Per-round cost is one
    co-partitioned neighbor join + one (node, label) count — edge-
    cardinality, no global structure, same 100 TB shape as pagerank's
    rounds."""
    from engine.extended.graph import label_propagation

    # persist the edge cut point: the strongest-ties subtree (pair scan +
    # top-6000 budget) is referenced once per LPA round and would re-run
    # 3x lazily — the cross_source_overlap persist-by-contract convention
    # (caller owns the frame; bench/tests clearCache between queries)
    edges = _strongest_ties_edges(spark, sf_dir).persist()
    # lazy label mode for the registry sweep (no per-round cached frames);
    # lineage stays linear because labels is referenced once per round
    labels = label_propagation(edges, src_col="u", dst_col="v", iters=3,
                               materialize=False)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


def _bpe_sql(rounds: int, final: str) -> str:
    """DuckDB twin of bpe_train (engine/extended/bpe.py): word frequencies,
    space-framed double-space-joined char sequences, then ``rounds``
    unrolled merge rounds — pair counts from adjacent symbol positions,
    argmax with (count DESC, lhs, rhs) tie-break, literal-REPLACE merge
    (the framing invariant makes literal replace exact; see the module
    docstring).  ``final`` selects over the per-round ``b{r}`` argmax CTEs
    and the final word table ``w{rounds}``."""
    parts = [
        """
    WITH wf AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                     x -> LOWER(x))) AS word
        FROM documents) GROUP BY word),
    w0 AS (
      SELECT cnt, ' ' || substr(s, 1, length(s) - 2) || ' ' AS seq
      FROM (SELECT cnt, regexp_replace(word, '(.)', '\\1  ', 'g') AS s FROM wf))"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
    p{r} AS (
      SELECT sy[i] AS lhs, sy[i + 1] AS rhs, SUM(cnt) AS c
      FROM (SELECT cnt, sy, UNNEST(range(1, len(sy))) AS i
            FROM (SELECT cnt,
                         string_split(substr(seq, 2, length(seq) - 2), '  ') AS sy
                  FROM w{r}))
      GROUP BY lhs, rhs),
    b{r} AS (SELECT lhs, rhs, c FROM p{r} ORDER BY c DESC, lhs, rhs LIMIT 1),
    w{r + 1} AS (
      SELECT cnt,
             CASE WHEN b.lhs IS NULL THEN seq
                  ELSE REPLACE(seq, ' ' || b.lhs || '  ' || b.rhs || ' ',
                               ' ' || b.lhs || b.rhs || ' ') END AS seq
      FROM w{r} LEFT JOIN b{r} b ON TRUE)"""
        )
    parts.append(final)
    return "".join(parts)


_BPE_ROUNDS = 6

@q(
    "bpe_merge_rules",
    _bpe_sql(
        _BPE_ROUNDS,
        "\n    "
        + "\n    UNION ALL ".join(
            f"SELECT {r} AS merge_rank, lhs, rhs, lhs || rhs AS merged, "
            f"CAST(c AS BIGINT) AS pair_count FROM b{r}"
            for r in range(_BPE_ROUNDS)
        ),
    ),
)
def bpe_merge_rules_q(spark, sf_dir):
    """BPE tokenizer training over the corpus: the 6 highest-count adjacent
    symbol-pair merges, learned iteratively (each round's counts see the
    previous round's merge).  The corpus is read ONCE into a word-frequency
    table; every round after that is vocabulary-sized — the only shape that
    trains a tokenizer on 100 TB."""
    from engine.extended.bpe import bpe_train, rules_df

    d = t(spark, sf_dir, "documents")
    rules, words = bpe_train(d, rounds=_BPE_ROUNDS)
    words.unpersist()
    return rules_df(spark, rules)


@q(
    "bpe_symbol_stats",
    _bpe_sql(
        _BPE_ROUNDS,
        f"""
    SELECT sym, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT cnt, UNNEST(string_split(substr(seq, 2, length(seq) - 2), '  ')) AS sym
      FROM w{_BPE_ROUNDS})
    GROUP BY sym ORDER BY n DESC, sym LIMIT 30""",
    ),
)
def bpe_symbol_stats_q(spark, sf_dir):
    """Corpus symbol frequencies AFTER the learned merges (top 30): the
    emergent subword vocabulary.  Computed from the merged word-frequency
    table directly — applying rules to the raw corpus again would re-read
    100 TB for an answer the vocabulary table already carries."""
    from engine.extended.bpe import bpe_train

    d = t(spark, sf_dir, "documents")
    _, words = bpe_train(d, rounds=_BPE_ROUNDS)
    syms = F.split(
        F.substring("seq", F.lit(2), F.length("seq") - 2), "  "
    )
    out = (
        words.select("cnt", F.explode(syms).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "sym")
        .limit(30)
    )
    # release the training cache now: the registry sweep would otherwise
    # strand it for the whole session.  The result recomputes the (small)
    # word table once at collect time — the training collects already ran
    # against the cache.
    words.unpersist()
    return out


def _bpe_encode_sql(rounds: int) -> str:
    """Encode-side twin: the trained ``b{r}`` argmax CTEs replay over each
    SAMPLED document's token char-sequences (the same literal-REPLACE chain
    ``bpe_apply`` runs), then per-doc integer segmentation stats.  A round
    that learned no rule (empty ``b{r}``) LEFT-JOINs NULL and leaves the
    sequence unchanged — matching the engine's shorter rule list."""
    parts = [
        f""",
    d AS (
      SELECT doc_id,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS word
      FROM documents WHERE doc_id % 10 = 0),
    e0 AS (
      SELECT doc_id, ' ' || substr(s, 1, length(s) - 2) || ' ' AS seq
      FROM (SELECT doc_id, regexp_replace(word, '(.)', '\\1  ', 'g') AS s
            FROM d))"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
    e{r + 1} AS (
      SELECT doc_id,
             CASE WHEN b.lhs IS NULL THEN seq
                  ELSE REPLACE(seq, ' ' || b.lhs || '  ' || b.rhs || ' ',
                               ' ' || b.lhs || b.rhs || ' ') END AS seq
      FROM e{r} LEFT JOIN b{r} b ON TRUE)"""
        )
    parts.append(
        f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(len(sy)) AS BIGINT) AS n_symbols,
           CAST(SUM(len(list_filter(sy, s -> length(s) > 1))) AS BIGINT)
             AS n_merged
    FROM (SELECT doc_id,
                 string_split(substr(seq, 2, length(seq) - 2), '  ') AS sy
          FROM e{rounds})
    GROUP BY doc_id"""
    )
    return "".join(parts)


def _bpe_fertility_sql(rounds: int) -> str:
    """Per-language fertility twin: the encode replay keyed by ``lang``
    instead of ``doc_id``, aggregated to tokens/symbols per language."""
    parts = [
        f""",
    d AS (
      SELECT lang,
             UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS word
      FROM documents WHERE doc_id % 10 = 0),
    e0 AS (
      SELECT lang, ' ' || substr(s, 1, length(s) - 2) || ' ' AS seq
      FROM (SELECT lang, regexp_replace(word, '(.)', '\\1  ', 'g') AS s
            FROM d))"""
    ]
    for r in range(rounds):
        parts.append(
            f""",
    e{r + 1} AS (
      SELECT lang,
             CASE WHEN b.lhs IS NULL THEN seq
                  ELSE REPLACE(seq, ' ' || b.lhs || '  ' || b.rhs || ' ',
                               ' ' || b.lhs || b.rhs || ' ') END AS seq
      FROM e{r} LEFT JOIN b{r} b ON TRUE)"""
        )
    parts.append(
        f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(len(sy)) AS BIGINT) AS n_symbols,
           ROUND(SUM(len(sy)) * 1.0 / COUNT(*), 4) AS fertility
    FROM (SELECT lang,
                 string_split(substr(seq, 2, length(seq) - 2), '  ') AS sy
          FROM e{rounds})
    GROUP BY lang"""
    )
    return "".join(parts)


@q("bpe_fertility_by_lang", _bpe_sql(_BPE_ROUNDS, _bpe_fertility_sql(_BPE_ROUNDS)))
def bpe_fertility_by_lang_q(spark, sf_dir):
    """Tokenizer fertility per language: average subword symbols per token
    after the learned merges — the diagnostic that shows which languages
    the vocabulary under-serves (high fertility = more pieces per word =
    costlier training tokens for that language).  Training reads the
    corpus once; the sampled encode is a pure-codegen replay; the ratio
    divides exact integers, so it is bit-identical across engines."""
    from engine.extended.bpe import bpe_apply, bpe_train

    d = t(spark, sf_dir, "documents")
    rules, words = bpe_train(d, rounds=_BPE_ROUNDS)
    words.unpersist()
    enc = bpe_apply(d.filter(F.col("doc_id") % 10 == 0), rules)
    per_tok = enc.select("lang", F.explode("bpe_symbols").alias("sy"))
    return per_tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.size("sy")).alias("n_symbols"),
        F.round(
            F.sum(F.size("sy")) * 1.0 / F.count(F.lit(1)), 4
        ).alias("fertility"),
    )


@q("bpe_encode_tokens", _bpe_sql(_BPE_ROUNDS, _bpe_encode_sql(_BPE_ROUNDS)))
def bpe_encode_tokens_q(spark, sf_dir):
    """BPE ENCODING: the trained merge rules replayed over every sampled
    document's tokens (``bpe_apply`` — a pure-codegen literal-replace
    chain, zero shuffle beyond the training aggregates), verified by
    per-doc integer segmentation stats (token count, subword count,
    multi-char-symbol count — any wrong merge shifts the counts).
    Training reads the full corpus once; encoding is embarrassingly
    parallel over documents, the tokenize-100-TB shape."""
    from engine.extended.bpe import bpe_apply, bpe_train

    d = t(spark, sf_dir, "documents")
    rules, words = bpe_train(d, rounds=_BPE_ROUNDS)
    words.unpersist()
    enc = bpe_apply(d.filter(F.col("doc_id") % 10 == 0), rules)
    per_tok = enc.select(
        "doc_id", F.explode("bpe_symbols").alias("sy")
    ).select(
        "doc_id",
        F.size("sy").alias("ns"),
        F.size(F.filter("sy", lambda s: F.length(s) > 1)).alias("nm"),
    )
    return per_tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("ns").alias("n_symbols"),
        F.sum("nm").alias("n_merged"),
    )


@q(
    "contamination_bloom",
    """
    WITH toklist AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    tri AS (
      SELECT doc_id, toks, UNNEST(range(1, len(toks) - 1)) AS i
      FROM toklist WHERE len(toks) >= 3),
    shingles AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM tri),
    eval_sh AS (
      SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0),
    train AS (
      SELECT doc_id, sh FROM shingles WHERE doc_id % 97 <> 0),
    idx AS (SELECT UNNEST(range(0, 3)) AS i),
    bits AS (
      SELECT DISTINCT
             CAST(('0x' || SUBSTRING(MD5('bf' || CAST(i AS VARCHAR) || '|' || sh), 1, 15))
                  AS BIGINT) % 16384 AS p
      FROM eval_sh CROSS JOIN idx),
    probe AS (
      SELECT t.doc_id, t.sh, i.i,
             CAST(('0x' || SUBSTRING(MD5('bf' || CAST(i.i AS VARCHAR) || '|' || t.sh), 1, 15))
                  AS BIGINT) % 16384 AS p
      FROM train t CROSS JOIN idx i),
    hit AS (
      SELECT doc_id, sh,
             (SUM(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END) = 3) AS flagged
      FROM probe pp LEFT JOIN bits b ON pp.p = b.p
      GROUP BY doc_id, sh)
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           ROUND(SUM(CASE WHEN flagged THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS bloom_rate
    FROM hit GROUP BY doc_id
    """,
)
def contamination_bloom_q(spark, sf_dir):
    """Constant-memory decontamination: the eval slice's shingle set becomes
    a 16384-bit Bloom filter (2 KiB vs an O(set) broadcast) and the training
    scan probes it with pure codegen bit tests — ZERO joins on the 100 TB
    side.  The md5 hash family makes the filter's exact bit pattern — false
    positives included — reproducible in the SQL oracle, so the driver
    value-hash-checks an approximate data structure exactly."""
    from engine.extended.curation import bloom_contamination

    d = t(spark, sf_dir, "documents")
    eval_df = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return bloom_contamination(train, eval_df)


@q(
    "sequence_pack",
    """
    WITH toked AS (
      SELECT doc_id, doc_id % 16 AS shard,
             LENGTH(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                                   x -> LOWER(x))) AS n_tok
      FROM documents),
    binned AS (
      SELECT shard,
             CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
               AS BIGINT) AS seq_id,
             n_tok
      FROM toked)
    SELECT shard, seq_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM binned GROUP BY shard, seq_id
    """,
)
def sequence_pack(spark, sf_dir):
    """Pre-training sequence packing (streaming concatenation, 256-token
    budget, 16 shards): each doc lands in the sequence where its first token
    falls.  Sharding keeps the running-sum window partition-local — the only
    packing layout whose cumsum parallelizes at 100 TB."""
    from engine.extended.curation import pack_sequences

    d = t(spark, sf_dir, "documents")
    return pack_sequences(d, budget=256, shards=16)


@q(
    "mixture_sample",
    """
    WITH weighted AS (
      SELECT source, COUNT(*) AS n_avail,
             CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                         WHEN 'src2' THEN 0.2 END AS w
      FROM documents GROUP BY source),
    eligible AS (SELECT * FROM weighted WHERE w > 0),
    -- DOUBLE division + the 1e-9 floor epsilon, mirroring the engine: the
    -- binding group's quota w*(n/w) sits on the floor boundary in doubles
    -- (DuckDB's decimal CASE literals would otherwise compute an exact
    -- quota the engine's double path drops by one)
    scaled AS (
      SELECT MIN(CAST(n_avail AS DOUBLE) / CAST(w AS DOUBLE)) AS scale
      FROM eligible),
    quotas AS (
      SELECT e.source, e.n_avail,
             CAST(FLOOR(CAST(e.w AS DOUBLE) * s.scale + 1e-9) AS BIGINT)
               AS quota
      FROM eligible e, scaled s),
    ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY MD5(CAST(d.doc_id AS VARCHAR) || '|mix'), d.doc_id) AS rk
      FROM documents d JOIN quotas q ON d.source = q.source),
    kept AS (
      SELECT r.source, r.doc_id FROM ranked r JOIN quotas q ON r.source = q.source
      WHERE r.rk <= q.quota)
    SELECT k.source, q.n_avail, COUNT(*) AS n_kept,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 4) AS achieved_frac
    FROM kept k JOIN quotas q ON k.source = q.source
    GROUP BY k.source, q.n_avail
    """,
)
def mixture_sample_q(spark, sf_dir):
    """Domain-mixture reweighting: largest exact subsample hitting target
    proportions {src0: .5, src1: .3, src2: .2} (md5-rank deterministic;
    unlisted sources dropped).  Verifies the achieved mixture per source."""
    from engine.extended.sampling import mixture_sample

    d = t(spark, sf_dir, "documents")
    avail = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail"))
    kept = mixture_sample(d, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    per = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    total = per.agg(F.sum("n_kept").alias("__total"))
    return (
        per.join(avail, "source")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_avail",
            "n_kept",
            F.round(F.col("n_kept") / F.col("__total"), 4).alias("achieved_frac"),
        )
    )


def _zorder_oracle_sql(bits: int = 8) -> str:
    # the exact Morton interleave zorder_key() emits, as DuckDB bit arithmetic
    terms = []
    for b in range(bits):
        terms.append(f"((((o_orderkey % 256) >> {b}) & 1) << {2 * b})")
        terms.append(f"((((o_custkey % 256) >> {b}) & 1) << {2 * b + 1})")
    z = " | ".join(terms)
    return f"""
    SELECT o_orderkey, ({z}) AS zkey FROM orders
    """


@q("zorder_key", _zorder_oracle_sql())
def zorder_key_q(spark, sf_dir):
    """Morton/Z-order clustering key over (orderkey, custkey) low bytes —
    the multi-column data-skipping layout key (engine.ops.io.zorder_key;
    write-side pass = cluster_by_zorder).  Pure codegen bit arithmetic,
    bit-identical across engines."""
    from engine.ops.io import zorder_key

    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        zorder_key(
            [F.pmod("o_orderkey", F.lit(256)), F.pmod("o_custkey", F.lit(256))],
            bits=8,
        ).alias("zkey"),
    )




def _hilbert_oracle_sql() -> str:
    from engine.ops.io import hilbert_key_sql

    return hilbert_key_sql(
        "o_orderkey % 256",
        "o_custkey % 256",
        bits=8,
        from_sql="orders",
        keep_cols=["o_orderkey"],
    )


@q("hilbert_key", _hilbert_oracle_sql())
def hilbert_key_q(spark, sf_dir):
    """Hilbert-curve clustering key over (orderkey, custkey) low bytes —
    the locality layout key whose consecutive ranges are compact squares
    (Z-order's diagonal jumps leave range scans touching more files;
    zorder_key is the sibling).  The xy→d loop unrolls to BRANCHLESS
    integer arithmetic (engine.ops.io.hilbert_key), bit-identical across
    engines; the oracle runs the same arithmetic as a chained-subquery
    twin generated by the SAME Python loop."""
    from engine.ops.io import with_hilbert_key

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return with_hilbert_key(
        o,
        F.pmod("o_orderkey", F.lit(256)),
        F.pmod("o_custkey", F.lit(256)),
        bits=8,
    ).select("o_orderkey", "hkey")


# ===========================================================================
# r11 late additions: Gopher rule battery + n-gram novelty
# ===========================================================================


@q(
    "gopher_quality_rules",
    """
    WITH toked AS (
      SELECT doc_id, text,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(LENGTH(toks) AS BIGINT) AS n,
             CAST(COALESCE(list_aggregate(
               list_transform(toks, t -> LENGTH(t)), 'sum'), 0) AS BIGINT)
               AS sum_len,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', ''))
               + LENGTH(text) - LENGTH(REPLACE(text, chr(8230), ''))
               + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3
               AS BIGINT) AS n_sym,
             CAST(LENGTH(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha,
             CAST(LENGTH(list_intersect(list_distinct(toks),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS n_stop
      FROM toked),
    f AS (
      SELECT *,
             CAST(n >= 50 AND n <= 100000 AS INT) AS flag_words,
             CAST(n > 0 AND sum_len >= 3 * n AND sum_len <= 10 * n AS INT)
               AS flag_word_len,
             CAST(10 * n_sym <= n AS INT) AS flag_symbol,
             CAST(n > 0 AND 5 * n_alpha >= 4 * n AS INT) AS flag_alpha,
             CAST(n_stop >= 2 AS INT) AS flag_stop
      FROM m)
    SELECT doc_id,
           n AS n_words,
           CASE WHEN n > 0 THEN ROUND(sum_len * 1.0 / n, 4) END
             AS mean_word_len,
           CASE WHEN n > 0 THEN ROUND(n_sym * 1.0 / n, 4) END
             AS symbol_ratio,
           CASE WHEN n > 0 THEN ROUND(n_alpha * 1.0 / n, 4) END
             AS alpha_word_frac,
           n_stop AS n_stop_distinct,
           flag_words, flag_word_len, flag_symbol, flag_alpha, flag_stop,
           CAST(flag_words = 1 AND flag_word_len = 1 AND flag_symbol = 1
                AND flag_alpha = 1 AND flag_stop = 1 AS INT) AS keep
    FROM f
    """,
)
def gopher_quality_rules(spark, sf_dir):
    """Gopher-style quality rule battery (Rae et al. 2021 §A1.1): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    fraction, stop-word presence — per-rule flags plus the composite keep.
    Every flag compares cross-multiplied INTEGERS (engine.extended.text.
    gopher_rule_exprs), so the filter decision is engine-exact; the rounded
    ratios are display columns only.  Zero shuffles, one codegen scan."""
    from engine.extended.text import gopher_rule_exprs, tokens

    d = t(spark, sf_dir, "documents")
    toked = d.select("doc_id", "text", tokens("text").alias("__toks"))
    cols = gopher_rule_exprs(F.col("__toks"), "text")
    return toked.select("doc_id", *[c.alias(nm) for nm, c in cols.items()])


@q(
    "ngram_novelty",
    """
    WITH toked AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'),
                            x -> LOWER(x)) AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               generate_series(1, LENGTH(toks) - 2),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      FROM toked WHERE LENGTH(toks) >= 3),
    e AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(MD5(s), 1, 15)) AS BIGINT) AS fp
      FROM sh),
    fo AS (
      SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS first_id
      FROM e)
    SELECT doc_id,
           COUNT(*) AS n_ngrams,
           CAST(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(SUM(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS novelty
    FROM fo GROUP BY doc_id
    """,
)
def ngram_novelty_q(spark, sf_dir):
    """Per-doc n-gram novelty: fraction of a doc's distinct word 3-grams
    whose corpus-wide first occurrence (min doc_id) is this doc — the
    marginal-contribution / feed-ranking signal of corpus curation
    (engine.extended.curation.ngram_novelty).  Two bounded-key shuffles:
    shingles collapse to 60-bit md5 fingerprints BEFORE the wide exchange,
    first-owner is a min-window on that exchange (no self-join)."""
    from engine.extended.curation import ngram_novelty

    d = t(spark, sf_dir, "documents")
    return ngram_novelty(d, shingle_n=3)


# Line-fixture synthesis shared by the c4 battery's engine and oracle sides:
# the corpus is single-line word soup, so (mojibake_repair precedent) the
# query builds deterministic line structure in BOTH engines — 7-token lines
# with a cycling terminator pattern (terminal '.', no terminator, a
# "javascript." line, terminal '!'), plus doc-keyed 'lorem ipsum' and
# curly-brace tail lines so every document-level rule has both outcomes.
_C4_SUFFIX_SQL = (
    "CASE i % 4 WHEN 0 THEN '.' WHEN 1 THEN '' "
    "WHEN 2 THEN ' javascript.' ELSE '!' END"
)


@q(
    "c4_quality_rules",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks
      FROM documents WHERE text IS NOT NULL),
    nz AS (SELECT doc_id, toks FROM toked WHERE LENGTH(toks) > 0),
    built AS (
      SELECT doc_id,
             array_to_string(list_transform(
               generate_series(0, CAST(CEIL(LENGTH(toks) / 7.0) AS BIGINT) - 1),
               i -> array_to_string(list_slice(toks, i*7+1, i*7+7), ' ')
                    || {_C4_SUFFIX_SQL}), chr(10))
             || CASE WHEN doc_id % 7 = 0
                  THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
                  ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN chr(10) || 'var x = {{ a: 1 }};'
                  ELSE '' END AS tx
      FROM nz),
    lined AS (
      SELECT doc_id, tx, string_split(tx, chr(10)) AS ls FROM built),
    kept AS (
      SELECT doc_id, tx, ls,
             COALESCE(array_to_string(list_filter(ls, l ->
               regexp_matches(l, '[.!?"]$')
               AND LENGTH(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
               AND NOT regexp_matches(LOWER(l), 'javascript')), chr(10)), '')
               AS ct
      FROM lined),
    m AS (
      SELECT doc_id,
             CAST(LENGTH(ls) AS BIGINT) AS n_lines,
             CAST(LENGTH(string_split(ct, chr(10)))
                  - CASE WHEN ct = '' THEN 1 ELSE 0 END AS BIGINT)
               AS n_kept_lines,
             CAST(LENGTH(ct) - LENGTH(REGEXP_REPLACE(ct, '[.!?]', '', 'g'))
               AS BIGINT) AS n_sentences,
             CAST(NOT regexp_matches(LOWER(tx), 'lorem ipsum') AS INT)
               AS flag_lorem,
             CAST(NOT regexp_matches(tx, '\\{{') AS INT) AS flag_brace,
             ct AS clean_text
      FROM kept)
    SELECT doc_id, n_lines, n_kept_lines, n_sentences,
           CAST(n_sentences >= 3 AS INT) AS flag_sentences,
           flag_lorem, flag_brace,
           CAST(n_sentences >= 3 AND flag_lorem = 1 AND flag_brace = 1
                AS INT) AS keep,
           clean_text
    FROM m
    """,
)
def c4_quality_rules(spark, sf_dir):
    """C4-style line-level quality rule battery (Raffel et al. 2020 §2.2;
    engine.extended.text.c4_rule_exprs): keep lines ending in terminal
    punctuation with ≥5 words and no "javascript"; keep documents whose
    kept text retains ≥3 sentence terminators and whose raw text has no
    "lorem ipsum" / curly brace.  Gopher's battery judges the DOCUMENT,
    C4's filters WITHIN it first — together they are the standard web-
    corpus pre-dedup gauntlet.  All line handling is array-expression-
    level (split/filter/join, never an explode): zero shuffles, one
    codegen scan at any corpus size."""
    from engine.extended.text import c4_rule_exprs, tokens

    d = t(spark, sf_dir, "documents")
    toked = d.filter(F.col("text").isNotNull()).select(
        "doc_id", tokens("text").alias("__toks")
    ).filter(F.size("__toks") > 0)
    nch = F.ceil(F.size("__toks") / F.lit(7.0)).cast("int")
    suffix = lambda i: (  # noqa: E731
        F.when(i % 4 == F.lit(0), F.lit("."))
        .when(i % 4 == F.lit(1), F.lit(""))
        .when(i % 4 == F.lit(2), F.lit(" javascript."))
        .otherwise(F.lit("!"))
    )
    lines_arr = F.transform(
        F.sequence(F.lit(0), nch - F.lit(1)),
        lambda i: F.concat(
            F.array_join(F.slice("__toks", i * 7 + 1, 7), " "), suffix(i)
        ),
    )
    tx = F.concat(
        F.array_join(lines_arr, "\n"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit("\nlorem ipsum dolor sit amet consectetur."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0, F.lit("\nvar x = { a: 1 };")
        ).otherwise(F.lit("")),
    )
    built = toked.select("doc_id", tx.alias("__tx"))
    cols = c4_rule_exprs(F.col("__tx"))
    return built.select("doc_id", *[c.alias(nm) for nm, c in cols.items()])


@q(
    "group_safe_split",
    """
    WITH fp AS (
      SELECT doc_id,
             MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS f
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    g AS (
      SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS group_rep
      FROM fp)
    SELECT doc_id, group_rep,
           CASE
             WHEN CAST(('0x' || SUBSTRING(MD5(CAST(group_rep AS VARCHAR)), 1, 4)) AS INTEGER)
                  < 52428 THEN 'train'
             WHEN CAST(('0x' || SUBSTRING(MD5(CAST(group_rep AS VARCHAR)), 1, 4)) AS INTEGER)
                  < 58982 THEN 'val'
             ELSE 'test' END AS split
    FROM g
    """,
)
def group_safe_split_q(spark, sf_dir):
    """Leakage-safe train/val/test split (engine.extended.sampling.
    group_safe_split): the assignment unit is the exact-dup GROUP (canonical
    member = min id over the normalized-text fingerprint), so duplicate
    documents can never straddle splits — the constructive counterpart of
    split_leakage_audit, which is empty on this split by construction
    (pinned by test).  One fingerprint shuffle + a min-window on it; the
    split itself is a pure md5 expression on the representative id."""
    from engine.extended.sampling import group_safe_split

    d = t(spark, sf_dir, "documents")
    return group_safe_split(d)


@q(
    "trigram_lm_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tg AS (
      SELECT doc_id, UNNEST(CASE WHEN LENGTH(toks) < 3 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 2),
             i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END) AS tg
      FROM toks),
    c3 AS (SELECT tg, COUNT(*) AS c3 FROM tg GROUP BY tg),
    c3h AS (SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS h2,
                   SUM(c3) AS c3h FROM c3 GROUP BY 1),
    bg AS (
      SELECT UNNEST(CASE WHEN LENGTH(toks) < 2 THEN CAST([] AS VARCHAR[])
        ELSE list_transform(range(0, LENGTH(toks) - 1),
             i -> array_to_string(list_slice(toks, i + 1, i + 2), ' ')) END) AS bg
      FROM toks),
    c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
    c2h AS (SELECT split_part(bg, ' ', 1) AS w2, SUM(c2) AS c2h
            FROM c2 GROUP BY 1),
    ug AS (SELECT UNNEST(toks) AS w FROM toks),
    c1 AS (SELECT w, COUNT(*) AS c1 FROM ug GROUP BY w),
    nt AS (SELECT COUNT(*) AS n FROM ug)
    SELECT t.doc_id, COUNT(*) AS n_trigrams,
           ROUND(AVG(log2(
             CAST(0.6 AS DOUBLE) * (c3.c3 / c3h.c3h)
           + CAST(0.3 AS DOUBLE) * (c2.c2 / c2h.c2h)
           + CAST(0.1 AS DOUBLE) * (c1.c1 / CAST(nt.n AS DOUBLE)))), 4)
             AS avg_logp
    FROM tg t
    JOIN c3 ON t.tg = c3.tg
    JOIN c3h ON split_part(t.tg, ' ', 1) || ' ' || split_part(t.tg, ' ', 2) = c3h.h2
    JOIN c2 ON split_part(t.tg, ' ', 2) || ' ' || split_part(t.tg, ' ', 3) = c2.bg
    JOIN c2h ON split_part(t.tg, ' ', 2) = c2h.w2
    JOIN c1 ON split_part(t.tg, ' ', 3) = c1.w
    CROSS JOIN nt
    GROUP BY t.doc_id
    """,
)
def trigram_lm_quality(spark, sf_dir):
    """Per-doc average log-prob under a Jelinek-Mercer interpolated trigram
    LM trained on the corpus itself (engine.extended.curation.
    trigram_lm_scores; λ = 0.6/0.3/0.1 over trigram/bigram/unigram) — the
    step up from bigram_lm_quality toward KenLM-class perplexity filtering.
    Every component probability is a ratio of exact integer counts whose
    histories sum over their continuations; the interpolation is one
    fixed-order double expression, so both engines score identically."""
    from engine.extended.curation import trigram_lm_scores

    d = t(spark, sf_dir, "documents")
    return trigram_lm_scores(d)


@q(
    "source_quality_shrunk",
    f"""
    WITH toked AS (
      SELECT source, {_TOKS_SQL} AS toks
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT source,
             CAST(LENGTH(toks) AS BIGINT) AS n,
             CAST(LENGTH(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS na,
             CAST(LENGTH(list_intersect(list_distinct(toks),
               ['the','be','to','of','and','that','have','with']))
               AS BIGINT) AS ns
      FROM toked),
    f AS (
      SELECT source,
             CAST(n >= 50 AND n <= 100000 AND 5 * na >= 4 * n AND ns >= 2
                  AS INT) AS keep
      FROM m),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(keep) AS BIGINT) AS n_flag
      FROM f GROUP BY source),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn,
                   CAST(SUM(n_flag) AS BIGINT) AS kk FROM per)
    SELECT source, n_docs, n_flag,
           ROUND(n_flag / n_docs, 4) AS rate,
           ROUND((n_flag * nn + 20 * kk) / ((n_docs + 20) * nn), 4)
             AS shrunk_rate
    FROM per CROSS JOIN tot
    """,
)
def source_quality_shrunk(spark, sf_dir):
    """Per-source quality-rate triage with empirical-Bayes shrinkage toward
    the corpus rate (engine.extended.curation.shrunk_group_rate, prior
    strength m=20 pseudo-docs): a tiny source with a perfect rate must not
    outrank a large source with a near-perfect one — the domain-level
    filtering signal of RefinedWeb/FineWeb-style curation.  The keep flag
    is the integer-exact core of the Gopher battery (word-count bounds,
    alphabetic-word fraction, stop-word presence), COMPOSED from
    gopher_rule_exprs' own flag columns so a threshold change there can
    never drift from this triage (review catch: the first draft re-spelled
    the three rules inline).  One corpus scan + one group-key shuffle;
    totals derive from the per-group aggregate and ride in as a 1-row
    broadcast."""
    from engine.extended.curation import shrunk_group_rate
    from engine.extended.text import gopher_rule_exprs, tokens

    d = t(spark, sf_dir, "documents")
    toked = d.filter(F.col("text").isNotNull()).select(
        "source", "text", tokens("text").alias("__toks")
    )
    flags = gopher_rule_exprs(F.col("__toks"), "text")
    keep = (
        (flags["flag_words"] == 1)
        & (flags["flag_alpha"] == 1)
        & (flags["flag_stop"] == 1)
    ).cast("int")
    flagged = toked.select("source", keep.alias("__keep"))
    return shrunk_group_rate(flagged, "source", "__keep", m=20)


@q(
    "dedup_containment",
    f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, GREATEST(LENGTH(toks) - 2, 0)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles,
             toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4]
               || ' ' || toks[5] AS pkey
      FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
      WHERE LENGTH(toks) >= 5
      QUALIFY ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY doc_id) <= 500)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN LENGTH(a.shingles) > 0 THEN
             ROUND(LENGTH(list_intersect(a.shingles, b.shingles)) * 1.0
                   / LENGTH(a.shingles), 4) END AS contain_a,
           CASE WHEN LENGTH(b.shingles) > 0 THEN
             ROUND(LENGTH(list_intersect(a.shingles, b.shingles)) * 1.0
                   / LENGTH(b.shingles), 4) END AS contain_b
    FROM sh a JOIN sh b ON a.pkey = b.pkey AND a.doc_id < b.doc_id
    """,
)
def dedup_containment(spark, sf_dir):
    """Exact word-3-gram CONTAINMENT over candidate pairs blocked on a
    shared 5-token prefix (engine.extended.dedup.ngram_containment_pairs):
    |A∩B|/|A| and |A∩B|/|B| — Broder's asymmetric resemblance, the
    subset-duplication / quote detector symmetric Jaccard misses (a short
    doc embedded whole in a long one has tiny Jaccard but containment ≈ 1
    on the short side).  Blocks cap at their 500 lowest-id members (the
    engine.extended.dedup.cap_per_key contract; prefix_block_pairs);
    verification joins shingle arrays onto the bounded candidate set, and
    at corpus scale the blocker is the banded MinHash candidate join."""
    from engine.extended.dedup import (
        ngram_containment_pairs,
        prefix_block_pairs,
    )

    d = t(spark, sf_dir, "documents")
    return ngram_containment_pairs(d, prefix_block_pairs(d))


@q(
    "dedup_weighted_jaccard",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    keyed AS (
      SELECT doc_id,
             toks[1] || ' ' || toks[2] || ' ' || toks[3] || ' ' || toks[4]
               || ' ' || toks[5] AS pkey
      FROM toked WHERE LENGTH(toks) >= 5
      QUALIFY ROW_NUMBER() OVER (PARTITION BY pkey ORDER BY doc_id) <= 500),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM keyed a JOIN keyed b
        ON a.pkey = b.pkey AND a.doc_id < b.doc_id),
    tc AS (
      SELECT doc_id AS id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(toks) AS tok FROM toked)
      GROUP BY 1, 2),
    tot AS (SELECT id, SUM(c) AS n FROM tc GROUP BY id),
    sh AS (
      SELECT p.id_a, p.id_b, SUM(LEAST(a.c, b.c)) AS msum
      FROM pairs p
      JOIN tc a ON a.id = p.id_a
      JOIN tc b ON b.id = p.id_b AND b.tok = a.tok
      GROUP BY p.id_a, p.id_b)
    SELECT p.id_a, p.id_b,
           CASE WHEN ta.n + tb.n - COALESCE(sh.msum, 0) > 0 THEN
             ROUND(COALESCE(sh.msum, 0)
                   / ((ta.n + tb.n - COALESCE(sh.msum, 0)) * 1.0), 4) END
             AS weighted_jaccard
    FROM pairs p
    LEFT JOIN sh ON sh.id_a = p.id_a AND sh.id_b = p.id_b
    JOIN tot ta ON ta.id = p.id_a
    JOIN tot tb ON tb.id = p.id_b
    """,
)
def dedup_weighted_jaccard(spark, sf_dir):
    """Multiset (frequency-weighted) token Jaccard over the capped
    prefix-blocked candidates (engine.extended.dedup.
    weighted_jaccard_pairs): Σmin(cA,cB)/Σmax(cA,cB) — sees repetition
    where set Jaccard collapses it.  Computed with ONE inner join via
    Σmax = |A|+|B|−Σmin, so the per-pair token UNION never materializes;
    count tables build once at distinct-(id,token) volume."""
    from engine.extended.dedup import prefix_block_pairs, weighted_jaccard_pairs

    d = t(spark, sf_dir, "documents")
    return weighted_jaccard_pairs(d, prefix_block_pairs(d))
