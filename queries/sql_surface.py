"""Capability pack 2: subqueries, grouping sets, unpivot, scalar packs, as-of/range joins, JSON, percentiles, sketches, governance.

Split out of the flat queries.py (VERDICT r6 #8); all entries register
into the shared ``queries._base.SPARK_QUERIES`` / ``ORACLE_SQL``.
"""

from __future__ import annotations

from queries._base import *  # noqa: F401,F403
from queries._base import _arr_str  # noqa: F401
from queries.extended import _BRUTE_TOPK_SQL, _MD5H, _TOKS_SQL, _est_sql, _minhash_with_sql, _query_vec_rows, ann_cosine_topk, corpus_pipeline_v3, dedup_exact, dedup_minhash_incremental  # noqa: F401

# ===========================================================================
# Capability pack 2: subqueries, grouping sets, unpivot, scalar packs,
# as-of/range joins, JSON, percentiles (engine capabilities the reference
# lacks but a replacement engine must carry — SURVEY §7 step 2 note)
# ===========================================================================


@q(
    "q6_selective_agg",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_selective_agg(spark, sf_dir):
    """TPC-H Q6 shape: highly selective scan-agg — every predicate must reach
    the parquet reader (PushedFilters)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "json_extract_props",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
    FROM events WHERE props IS NOT NULL
    """,
)
def json_extract_props(spark, sf_dir):
    """JSON column extraction (events.props carries {"k": int})."""
    e = t(spark, sf_dir, "events")
    return e.filter(F.col("props").isNotNull()).select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


@q(
    "exists_subquery",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def exists_subquery(spark, sf_dir):
    """EXISTS ≡ left-semi join (decorrelated by hand — the scalable plan)."""
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return R.semi_join(c, big, on="c_custkey").select("c_custkey")


@q(
    "scalar_subquery_above_avg",
    """
    SELECT o_orderkey FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def scalar_subquery_above_avg(spark, sf_dir):
    """Scalar subquery: compare each row against a global aggregate.
    Expressed as an empty-key window avg (one exchange, no driver round-trip)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy()
    return (
        o.withColumn("__avg", F.avg("o_totalprice").over(w))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey")
    )


@q(
    "grouping_sets_agg",
    """
    SELECT COALESCE(o_orderstatus, '<all>') AS status,
           COALESCE(o_orderpriority, '<all>') AS priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Explicit GROUPING SETS (SQL API — DataFrame has cube/rollup only)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs_v")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>') AS status,
               COALESCE(o_orderpriority, '<all>') AS priority,
               COUNT(*) AS n
        FROM orders_gs_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@q(
    "cube_agg",
    """
    SELECT COALESCE(CAST(n_regionkey AS VARCHAR), '<all>') AS region_key,
           COALESCE(SUBSTRING(n_name, 1, 1), '<all>') AS initial,
           COUNT(*) AS n
    FROM nation GROUP BY CUBE(n_regionkey, SUBSTRING(n_name, 1, 1))
    """,
)
def cube_agg(spark, sf_dir):
    """CUBE over two derived dimensions."""
    n = t(spark, sf_dir, "nation").withColumn("initial", F.substring("n_name", 1, 1))
    return (
        n.cube("n_regionkey", "initial")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce(F.col("n_regionkey").cast("string"), F.lit("<all>")).alias(
                "region_key"
            ),
            F.coalesce("initial", F.lit("<all>")).alias("initial"),
            "n",
        )
    )


@q(
    "unpivot_part_attrs",
    """
    SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'retail' AS attr, p_retailprice AS val FROM part
    """,
)
def unpivot_part_attrs(spark, sf_dir):
    """Unpivot/melt wide→long (DataFrame.unpivot; oracle = UNION ALL)."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retail"),
    )
    return p.unpivot("p_partkey", ["size", "retail"], "attr", "val")


@q(
    "string_funcs_pack",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS up,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           REPLACE(p_type, ' ', '_') AS snake,
           SPLIT_PART(p_type, ' ', 1) AS first_word,
           CAST(levenshtein(REGEXP_REPLACE(p_brand, '[^ -~]', '', 'g'),
                            REGEXP_REPLACE(p_name, '[^ -~]', '', 'g'))
                AS BIGINT) AS lev,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           REVERSE(p_brand) AS rev
    FROM part
    """,
)
def string_funcs_pack(spark, sf_dir):
    """String function battery (upper/lpad/replace/split_part/levenshtein/
    length/reverse) — all codegen built-ins."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("up"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("first_word"),
        # ASCII-restricted: DuckDB levenshtein counts BYTES on non-ASCII
        # while Spark counts codepoints (fuzz-found) — same discipline as
        # every char-level oracle op (text.ascii_norm_text)
        F.levenshtein(
            F.regexp_replace("p_brand", "[^ -~]", ""),
            F.regexp_replace("p_name", "[^ -~]", ""),
        ).cast("long").alias("lev"),
        F.length("p_name").cast("long").alias("name_len"),
        F.reverse("p_brand").alias("rev"),
    )


@q(
    "date_funcs_pack",
    """
    SELECT o_orderkey,
           EXTRACT(year FROM o_orderdate) AS y,
           EXTRACT(month FROM o_orderdate) AS m,
           EXTRACT(day FROM o_orderdate) AS d,
           EXTRACT(dow FROM o_orderdate) + 1 AS dow_sun1,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE)::VARCHAR AS plus30,
           CAST(LAST_DAY(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           DATEDIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since
    FROM orders
    """,
)
def date_funcs_pack(spark, sf_dir):
    """Date function battery; DOW normalized to Sunday=1 in both engines."""
    o = t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("d"),
        F.dayofweek(d).cast("long").alias("dow_sun1"),
        F.date_add(d, 30).cast("string").alias("plus30"),
        F.last_day(d).cast("string").alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since"),
    )


@q(
    "array_agg_sorted",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           COUNT(*) AS n
    FROM orders GROUP BY o_custkey
    """,
)
def array_agg_sorted(spark, sf_dir):
    """Deterministic array aggregation: collect + sort (collect_list order is
    partition-dependent; array_sort pins it), rendered as a comma-joined
    string so the driver comparator can canonicalize it (VERDICT r4 #1)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        _arr_str(F.array_sort(F.collect_list("o_orderkey"))).alias("order_keys"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "percentiles_exact",
    """
    SELECT l_returnflag,
           array_to_string(list_transform(
             quantile_cont(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT),
                           [0.25, 0.5, 0.75]),
             x -> CAST(ROUND(x * 100.0) AS BIGINT)), ',')
             AS price_quartiles
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentiles_exact(spark, sf_dir):
    """Exact interpolated quantiles (Spark `percentile` ≡ DuckDB
    `quantile_cont`), computed in the INTEGER-CENTS domain and rendered as
    comma-joined 1e4-scaled integers.

    Quantizing to cents BEFORE the quantile is load-bearing, not cosmetic:
    the r9 adversarial fixtures caught the double-domain form one off in
    the last digit.  Root cause (pinned empirically): both engines use
    the SAME interpolation (``(1−f)·a + f·b``, bit-identical on shared
    inputs) — the divergence is ``ROUND`` itself, which Spark applies
    half-up to the double's SHORTEST DECIMAL STRING while DuckDB rints
    the binary value, so any result whose shortest string ends in a half
    digit rounds apart.  Over exact-integer cents with quarter fractions
    the interpolated quantile is EXACT (b−a, ·0.25, and the sum are all
    representable), so the final ROUND only ever sees exact integers —
    no rounding decision on a knife edge."""
    li = t(spark, sf_dir, "lineitem")
    cents = money_cents("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        _arr_str(
            F.transform(
                F.percentile(cents, F.lit([0.25, 0.5, 0.75])),
                lambda x: F.round(x * 100.0, 0).cast("long"),
            ),
        ).alias("price_quartiles")
    )


@q(
    "null_funcs_pack",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(TRIM(c_mktsegment), ''), 'UNK') AS seg,
           CASE WHEN c_acctbal IS NULL THEN 'missing'
                WHEN c_acctbal < 0 THEN 'neg' ELSE 'pos' END AS bal_class,
           GREATEST(c_acctbal, 0.0) AS floor0,
           LEAST(CAST(c_nationkey AS BIGINT), 10) AS cap10
    FROM customer
    """,
)
def null_funcs_pack(spark, sf_dir):
    """NULL-handling battery: nullif/coalesce/case/greatest/least."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.trim("c_mktsegment"), F.lit("")), F.lit("UNK")).alias(
            "seg"
        ),
        F.when(F.col("c_acctbal").isNull(), "missing")
        .when(F.col("c_acctbal") < 0, "neg")
        .otherwise("pos")
        .alias("bal_class"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("floor0"),
        F.least(F.col("c_nationkey").cast("long"), F.lit(10)).alias("cap10"),
    )


@q(
    "asof_join_events_orders",
    """
    WITH probe AS (
      SELECT o_orderkey, o_custkey % 50 AS key, o_orderdate AS pts FROM orders),
    build AS (
      SELECT user_id % 50 AS key,
             TIMESTAMP '1992-01-01 00:00:00' + INTERVAL (event_id % 2000) DAY
               + INTERVAL (event_id) SECOND AS bts,
             value FROM events)
    SELECT p.o_orderkey, p.key,
           CAST(b.bts AS VARCHAR) AS asof_ts,
           ROUND(b.value, 2) AS asof_value
    FROM (SELECT * FROM probe WHERE pts IS NOT NULL) p ASOF LEFT JOIN build b
      ON p.key = b.key AND b.bts <= p.pts
    UNION ALL
    SELECT o_orderkey, key, CAST(NULL AS VARCHAR) AS asof_ts,
           CAST(NULL AS DOUBLE) AS asof_value
    FROM probe WHERE pts IS NULL
    """,
)
def asof_join_events_orders(spark, sf_dir):
    """As-of join (no Spark native): for each order, the latest event-derived
    tick at or before the order date, per key.  Union+window formulation —
    one shuffle on the key, no nested-loop (engine.ops.asof).  A NULL probe
    timestamp matches nothing (the oracle carves those rows out explicitly:
    DuckDB's sort-based ASOF would hand them the latest build row)."""
    from engine.ops.asof import asof_join

    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    probe = o.select(
        "o_orderkey", (F.col("o_custkey") % 50).alias("key"), F.col("o_orderdate").alias("pts")
    )
    build = e.select(
        (F.col("user_id") % 50).alias("key"),
        (
            F.lit("1992-01-01 00:00:00").cast("timestamp")
            + F.make_dt_interval(days=F.col("event_id") % 2000, secs=F.col("event_id"))
        ).alias("bts"),
        "value",
    )
    out = asof_join(probe, build, "key", "pts", "bts", ["bts", "value"])
    return out.select(
        "o_orderkey",
        "key",
        F.col("bts").cast("string").alias("asof_ts"),
        F.round("value", 2).alias("asof_value"),
    )


@q(
    "asof_join_forward",
    """
    WITH probe AS (
      SELECT o_orderkey, o_custkey % 50 AS key, o_orderdate AS pts FROM orders),
    build AS (
      SELECT user_id % 50 AS key,
             TIMESTAMP '1992-01-01 00:00:00' + INTERVAL (event_id % 2000) DAY
               + INTERVAL (event_id) SECOND AS bts,
             value FROM events)
    SELECT p.o_orderkey, p.key,
           CAST(b.bts AS VARCHAR) AS next_ts,
           ROUND(b.value, 2) AS next_value
    FROM (SELECT * FROM probe WHERE pts IS NOT NULL) p ASOF LEFT JOIN build b
      ON p.key = b.key AND b.bts >= p.pts
    UNION ALL
    SELECT o_orderkey, key, CAST(NULL AS VARCHAR) AS next_ts,
           CAST(NULL AS DOUBLE) AS next_value
    FROM probe WHERE pts IS NULL
    """,
)
def asof_join_forward(spark, sf_dir):
    """FORWARD as-of join (direction="forward"): for each order, the
    EARLIEST event tick at or after the order date per key — the
    look-ahead twin of asof_join_events_orders (label generation, "next
    touch" attribution).  Same union+window shape over the reversed
    timestamp order, one shuffle on the key; a NULL probe timestamp
    matches nothing in any direction (guarded explicitly — desc ordering
    would otherwise sort NULLs last where the frame sees every build
    row)."""
    from engine.ops.asof import asof_join

    o = t(spark, sf_dir, "orders")
    e = t(spark, sf_dir, "events")
    probe = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 50).alias("key"),
        F.col("o_orderdate").alias("pts"),
    )
    build = e.select(
        (F.col("user_id") % 50).alias("key"),
        (
            F.lit("1992-01-01 00:00:00").cast("timestamp")
            + F.make_dt_interval(days=F.col("event_id") % 2000, secs=F.col("event_id"))
        ).alias("bts"),
        "value",
    )
    out = asof_join(
        probe, build, "key", "pts", "bts", ["bts", "value"], direction="forward"
    )
    return out.select(
        "o_orderkey",
        "key",
        F.col("bts").cast("string").alias("next_ts"),
        F.round("value", 2).alias("next_value"),
    )


@q(
    "range_join_sessions",
    """
    SELECT a.event_id AS id_a, b.event_id AS id_b
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts <= a.ts
     AND b.ts >= a.ts - INTERVAL 10 MINUTE
     AND a.event_id <> b.event_id
    """,
)
def range_join_sessions(spark, sf_dir):
    """Range join (pairs of same-user events within 10 minutes) as a
    bucketized hash join — never a nested loop (engine.ops.asof)."""
    from engine.ops.asof import range_join_buckets

    e = t(spark, sf_dir, "events")
    a = e.select(F.col("event_id").alias("id_a"), F.col("user_id").alias("u_a"), F.col("ts").alias("ts_a"))
    b = e.select(F.col("event_id").alias("id_b"), F.col("user_id").alias("u_b"), F.col("ts").alias("ts_b"))
    out = range_join_buckets(
        a, b, "ts_a", "ts_b", window_seconds=600, extra_key=("u_a", "u_b")
    )
    return out.filter(F.col("id_a") != F.col("id_b")).select("id_a", "id_b")


@q(
    "hll_native_cells",
    """
    WITH h AS (
      SELECT l_returnflag,
             CAST(('0x' || SUBSTRING(MD5(CAST(l_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h60
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL)
    SELECT l_returnflag,
           CAST(h60 % 256 AS BIGINT) AS bucket,
           CAST(MAX(CASE WHEN h60 // 256 = 0 THEN 53
                         ELSE 53 - LENGTH(BIN(h60 // 256)) END)
                AS BIGINT) AS max_rho
    FROM h GROUP BY l_returnflag, h60 % 256
    ORDER BY l_returnflag, bucket
    """,
)
def hll_native_cells(spark, sf_dir):
    """Grouped HLL register construction, value-hash-checked end to end
    (the driver slot that replaced the rows-only ``approx_sketches`` —
    VERDICT r8 #3; Spark's native Datasketches registers stay pinned by
    pytest against known-cardinality fixtures in
    tests/test_sketch_skew.py).  A real HyperLogLog register table over
    the dual-implementable md5_long family: 60-bit hash, p=8 → bucket =
    h mod 256, rho = leading-zeros-in-52-bit-value + 1 = 53 − bitlength
    (pure integer via length(bin(v)), never float log2 — the
    determinism-ledger bucketing rule), MAX per (group, bucket).  The
    100 TB shape: map-side partial MAX collapses every partition to
    ≤ |groups|·256 cells before ONE tiny shuffle — the same reason HLL
    replaces exact distinct at scale, demonstrated with registers both
    engines can replay bit for bit."""
    from engine.extended.dedup import md5_long

    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull() & F.col("l_returnflag").isNotNull()
    )
    h60 = md5_long(F.col("l_partkey").cast("string"))
    v52 = F.expr("__h60 div 256")
    rho = F.when(v52 == 0, F.lit(53)).otherwise(
        F.lit(53) - F.length(F.bin(v52)).cast("long")
    )
    return (
        li.select("l_returnflag", h60.alias("__h60"))
        .groupBy(
            "l_returnflag", (F.col("__h60") % 256).cast("long").alias("bucket")
        )
        .agg(F.max(rho).cast("long").alias("max_rho"))
        .orderBy("l_returnflag", "bucket")
    )


#: width is a FORMAT parameter ({w}) — a .replace() on the literal was a
#: silent-no-op trap if the template ever changed (review catch)
_CMS_HASH = (
    "CAST(('0x' || SUBSTRING(MD5(CAST({i} AS VARCHAR) || ':' || {k}), 1, 15)) "
    "AS BIGINT) % {w}"
)


@q(
    "cms_heavy_hitters",
    f"""
    WITH src AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k
      FROM lineitem WHERE l_partkey IS NOT NULL),
    rows3 AS (SELECT * FROM (VALUES (0), (1), (2)) r(i)),
    cells AS (
      SELECT i AS row_i, {_CMS_HASH.format(i='i', k='k', w=512)} AS col_i,
             COUNT(*) AS cnt
      FROM src CROSS JOIN rows3 GROUP BY 1, 2),
    exact AS (SELECT k, COUNT(*) AS exact_n FROM src GROUP BY k),
    probe AS (
      SELECT e.k, e.exact_n, MIN(c.cnt) AS est_n
      FROM exact e
      CROSS JOIN rows3 r
      JOIN cells c
        ON c.row_i = r.i
       AND c.col_i = {_CMS_HASH.format(i='r.i', k='e.k', w=512)}
      GROUP BY e.k, e.exact_n)
    SELECT CAST(k AS BIGINT) AS l_partkey, exact_n, est_n,
           est_n - exact_n AS overcount
    FROM probe ORDER BY est_n DESC, l_partkey LIMIT 20
    """,
)
def cms_heavy_hitters(spark, sf_dir):
    """Heavy hitters via a deterministic count-min sketch (d=3, w=512).

    The sketch build is the 100 TB frequency path: one pass, ≤ d×w groups,
    so map-side partials collapse everything and NO per-key shuffle happens
    (vs. the exact count's full key shuffle).  Estimates probe the broadcast
    cell table and take MIN over rows — always ≥ exact (`overcount` ≥ 0 is
    pinned cross-engine).  Hashes are the md5_long dual family so DuckDB
    computes the bit-identical sketch.  Reference parity: the reference's
    per-batch pandas value_counts (driver-resident) answered the same
    question at toy scale."""
    from engine.extended.sketch import cms_build, cms_estimate

    li = t(spark, sf_dir, "lineitem")
    sk = cms_build(li, "l_partkey", depth=3, width=512)
    exact = (
        li.where(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    est = cms_estimate(sk, exact, "l_partkey", depth=3, width=512, est_col="est_n")
    return (
        est.select(
            "l_partkey",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("est_n"), F.asc("l_partkey"))
        .limit(20)
    )


@q(
    "cms_merge_shards",
    f"""
    WITH src AS (
      SELECT CAST(l_partkey AS VARCHAR) AS k, l_orderkey % 2 AS shard
      FROM lineitem WHERE l_partkey IS NOT NULL),
    rows3 AS (SELECT * FROM (VALUES (0), (1), (2)) r(i)),
    by_shard AS (
      SELECT shard, i AS row_i, {_CMS_HASH.format(i='i', k='k', w=512)} AS col_i,
             COUNT(*) AS cnt
      FROM src CROSS JOIN rows3 GROUP BY 1, 2, 3),
    merged AS (
      SELECT row_i, col_i, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM by_shard GROUP BY 1, 2),
    whole AS (
      SELECT i AS row_i, {_CMS_HASH.format(i='i', k='k', w=512)} AS col_i,
             COUNT(*) AS cnt
      FROM src CROSS JOIN rows3 GROUP BY 1, 2)
    SELECT COUNT(*) AS n_cells,
           CAST(SUM(CASE WHEN m.cnt <> w.cnt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_diff,
           CAST(SUM(m.cnt) AS BIGINT) AS total_increments,
           CAST(MAX(m.cnt) AS BIGINT) AS max_cell
    FROM merged m JOIN whole w ON m.row_i = w.row_i AND m.col_i = w.col_i
    """,
)
def cms_merge_shards(spark, sf_dir):
    """CMS linearity pinned cross-engine: sketches built on disjoint shards
    (even/odd l_orderkey) merged element-wise equal the whole-corpus sketch
    cell for cell (`n_diff` = 0).  This is the property that lets per-day /
    per-partition sketches roll up without re-reading history — the
    incremental-corpus pattern applied to frequencies."""
    from engine.extended.sketch import cms_build, cms_merge

    li = t(spark, sf_dir, "lineitem")
    even = cms_build(li.where(F.col("l_orderkey") % 2 == 0), "l_partkey")
    odd = cms_build(li.where(F.col("l_orderkey") % 2 == 1), "l_partkey")
    merged = cms_merge(even, odd)
    whole = cms_build(li, "l_partkey")
    j = merged.select("row", "col", F.col("cnt").alias("m_cnt")).join(
        whole.select("row", "col", F.col("cnt").alias("w_cnt")), ["row", "col"]
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.when(F.col("m_cnt") != F.col("w_cnt"), 1).otherwise(0))
        .cast("long")
        .alias("n_diff"),
        F.sum("m_cnt").cast("long").alias("total_increments"),
        F.max("m_cnt").cast("long").alias("max_cell"),
    )


@q(
    "salted_distinct_users",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def salted_distinct_users(spark, sf_dir):
    """COUNT(DISTINCT) with the distinct phase salted (engine.ops.skew.
    salted_count_distinct): each value lands in exactly one of 16 salt
    buckets, per-(group, salt) distinct counts are disjoint and sum to the
    exact answer — the hot group's distinct state spreads over 16 reducers
    instead of one.  Result is exactly SQL COUNT(DISTINCT)."""
    from engine.ops.skew import salted_count_distinct

    e = t(spark, sf_dir, "events")
    return salted_count_distinct(
        e, ["event_type"], "user_id", salts=16, out_col="n_users"
    ).withColumn("n_users", F.col("n_users").cast("long"))


@q(
    "skew_salted_enrich",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def skew_salted_enrich(spark, sf_dir):
    """Fact-to-dim enrichment through an explicitly salted join (engine.ops.
    skew.salted_join): events' power-law user fan-in (150 users × 10k events
    at sf0.01) is spread over 8 salt buckets, the dim side replicated 8×.
    Results are identical to the plain join — pinned by the oracle — while
    the hot key's rows land on 8 reducers.  This is the manual fallback for
    the skew AQE can't fix (hash joins, pre-AQE planners)."""
    from engine.ops.skew import salted_join

    e = (
        t(spark, sf_dir, "events")
        .select("user_id", "value")
        .where(F.col("user_id").isNotNull())
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(e, c, "user_id", salts=8)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_value"),
    )


@q(
    "join_key_skew_stats",
    """
    WITH k AS (
      SELECT user_id, COUNT(*) AS n FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys, AVG(n) AS mean_n,
                   MAX(n) AS max_n,
                   quantile_cont(n, 0.99) AS p99_n
            FROM k)
    SELECT CAST(n_keys AS BIGINT) AS n_keys,
           CAST(max_n AS BIGINT) AS max_n,
           CAST(FLOOR(10000.0 * max_n / total + 0.5) AS BIGINT)
             AS max_share_bp,
           CAST(FLOOR(100.0 * p99_n / mean_n + 0.5) AS BIGINT)
             AS p99_to_mean_pct,
           CASE WHEN max_n > 20 * mean_n THEN 1 ELSE 0 END AS skewed
    FROM tot
    """,
)
def join_key_skew_stats(spark, sf_dir):
    """Join-key skew diagnostic — the DETECTION companion to salted_join /
    salted_count_distinct / AQE skew handling: per-key cardinality profile
    of the prospective join column (key count, hottest key's share in
    basis points, p99-to-mean ratio, a 20×-mean skew flag).  Run this
    before choosing a join strategy at 100 TB: one hash aggregate on the
    key plus a second aggregate over the key-cardinality table — the
    profile costs one shuffle bounded by key cardinality, the decision it
    informs saves the serialized-reducer retry.  Ratios render via
    FLOOR(x + 0.5) — NOT ROUND, whose half-rounding mode differs between
    Spark (HALF_UP on BigDecimal) and DuckDB (rint) exactly when the
    ratio is a representable x.5 (e.g. one hot row in a power-of-two
    total: 10000·1/4000 = 2.5 — review-caught); floor-plus-half has one
    semantic in both engines on identically-computed doubles."""
    e = t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    k = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    tot = k.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.avg("n").alias("mean_n"),
        F.max("n").alias("max_n"),
        F.expr("percentile(n, 0.99)").alias("p99_n"),
    )
    return tot.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("max_n").cast("long").alias("max_n"),
        F.floor(10000.0 * F.col("max_n") / F.col("total") + 0.5)
        .cast("long")
        .alias("max_share_bp"),
        F.floor(100.0 * F.col("p99_n") / F.col("mean_n") + 0.5)
        .cast("long")
        .alias("p99_to_mean_pct"),
        F.when(F.col("max_n") > 20 * F.col("mean_n"), 1)
        .otherwise(0)
        .alias("skewed"),
    )


@q(
    "bloom_prefilter_join",
    """
    SELECT p.p_brand, COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size = 1
    GROUP BY p.p_brand
    """,
)
def bloom_prefilter_join(spark, sf_dir):
    """Selective fact-to-dim join behind a Bloom runtime filter (engine.ops.
    runtime_filter.bloom_prefilter): the surviving dim keys (p_size = 1,
    ~2% of part) collapse into a 2 KiB literal bit array and non-matching
    lineitem rows are dropped IN THE SCAN — before any exchange — via pure
    codegen bit tests.  No false negatives, so the downstream join result is
    exactly the plain join's (the oracle IS the plain join); false positives
    are eliminated by the join itself.  At 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~2% that can
    match."""
    from engine.ops.runtime_filter import bloom_prefilter

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    dim = (
        t(spark, sf_dir, "part")
        .where(F.col("p_size") == 1)
        .select("p_partkey", "p_brand")
    )
    pre = bloom_prefilter(li, dim.select("p_partkey"), "l_partkey", "p_partkey")
    j = pre.join(F.broadcast(dim), pre.l_partkey == dim.p_partkey)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@q(
    "bucketed_join_colocated",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
             AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def bucketed_join_colocated(spark, sf_dir):
    """Fact-to-dim join through bucketed catalog tables (engine.ops.io.
    write_bucketed): both sides land in 16 hash buckets on the join key, so
    the join reads co-located buckets and needs NO exchange on either side —
    the layout answer to repeated 100 TB joins, paying one shuffle at write
    time and zero per query after.  The no-Exchange sort-merge plan shape is
    pinned in tests/test_layout.py (broadcast disabled there to force SMJ);
    at oracle scale AQE may still pick a broadcast — the RESULT is layout-
    independent, which is what the oracle pins here.  Monetary sums go
    through DECIMAL (the q1 discipline: float partial sums crossing ROUND
    diverge across engines/partition counts).  The first call in a session
    MATERIALIZES the bucketed layout; repeat calls hit the session layout
    cache (write_bucketed_cached keyed on the source parquet fingerprint)
    and skip straight to the exchange-free join — one layout payment per
    data version, the production contract for bucketed infrastructure.
    Table names are additionally namespaced per sf_dir so concurrent
    registry consumers on different packs cannot race on a shared name."""
    import hashlib

    from engine.ops.io import path_fingerprint, read_table, write_bucketed_cached

    sfx = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    fp = path_fingerprint(
        f"{sf_dir}/orders.parquet", f"{sf_dir}/customer.parquet"
    )
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    write_bucketed_cached(
        o, f"bj_orders_{sfx}", "o_custkey", 16,
        sort_col="o_custkey", fingerprint=fp,
    )
    write_bucketed_cached(
        c, f"bj_customer_{sfx}", "c_custkey", 16,
        sort_col="c_custkey", fingerprint=fp,
    )
    ob = read_table(spark, f"bj_orders_{sfx}")
    cb = read_table(spark, f"bj_customer_{sfx}")
    j = ob.join(cb, ob.o_custkey == cb.c_custkey)
    return j.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_price"),
    )


@q(
    "hll_shard_merge",
    """
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_n,
           1 AS merge_matches_whole, 1 AS rel_err_lt_5pct
    FROM lineitem WHERE l_partkey IS NOT NULL
    """,
)
def hll_shard_merge(spark, sf_dir):
    """Mergeable distinct-count sketches (Spark's Datasketches HLL family):
    per-shard sketches (l_orderkey % 4) union into the corpus sketch without
    re-reading history — the incremental-corpus pattern applied to distinct
    counts, and the only distinct-count shape that rolls up per-day at
    100 TB.  DuckDB cannot reproduce Datasketches register values, so the
    oracle pins the PROPERTIES the sketches must satisfy, computed
    Spark-side from deterministic sketches: the shard-merged estimate equals
    the whole-corpus estimate within 1% (register-max merge is associative),
    and the estimate lands within 5% of the exact count (lgK=12 → ~1.6%
    rsd; exact in sparse mode at oracle scale).  `exact_n` itself is the
    cross-engine value check."""
    li = (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey").isNotNull())
        .select("l_orderkey", "l_partkey")
    )
    shards = li.groupBy(F.pmod("l_orderkey", F.lit(4)).alias("shard")).agg(
        F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sk")
    )
    merged = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est")
    )
    whole = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey", F.lit(12))).alias(
            "whole_est"
        ),
        F.count_distinct("l_partkey").cast("long").alias("exact_n"),
    )
    both = whole.crossJoin(F.broadcast(merged))
    return both.select(
        "exact_n",
        (
            F.abs(F.col("merged_est") - F.col("whole_est"))
            <= 0.01 * F.col("whole_est")
        )
        .cast("int")
        .alias("merge_matches_whole"),
        (
            F.abs(F.col("merged_est") - F.col("exact_n"))
            <= 0.05 * F.col("exact_n")
        )
        .cast("int")
        .alias("rel_err_lt_5pct"),
    )


@q(
    "corpus_pipeline_v4",
    """
    WITH k AS (
      SELECT doc_id, source, text,
             MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS key
      FROM documents),
    corpus AS (
      SELECT DISTINCT key FROM k WHERE doc_id % 2 = 0 AND key IS NOT NULL),
    batch AS (SELECT * FROM k WHERE doc_id % 2 = 1),
    dup AS (
      SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c ON b.key = c.key),
    feat AS (
      SELECT b.doc_id, b.source,
             (d.doc_id IS NOT NULL) AS is_dup,
             COALESCE(
               LENGTH(regexp_extract_all(b.text, '[A-Za-z0-9'']+')) >= 10
               AND ROUND(
                 LENGTH(REGEXP_REPLACE(b.text, '[^A-Za-z]', '', 'g'))
                 * 1.0 / NULLIF(LENGTH(b.text), 0), 4) >= 0.5,
               FALSE) AS q_ok
      FROM batch b LEFT JOIN dup d ON b.doc_id = d.doc_id)
    SELECT source,
           COUNT(*) AS n_batch,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN NOT is_dup AND NOT q_ok THEN 1 ELSE 0 END)
             AS BIGINT) AS n_lowq,
           CAST(SUM(CASE WHEN NOT is_dup AND q_ok THEN 1 ELSE 0 END)
             AS BIGINT) AS n_accepted
    FROM feat GROUP BY source
    """,
)
def corpus_pipeline_v4(spark, sf_dir):
    """Composed INGESTION pipeline v4 — the round-5 levers end to end in one
    plan: the incoming batch (odd doc_ids) probes the accepted corpus's
    Bloom filter and back-checks the flagged slice exactly
    (dedup_bloom_incremental's shape), survivors pass the length/alpha
    quality gate (n_tokens ≥ 10, alpha_ratio ≥ 0.5 — quality_exprs), and
    the per-source funnel report (batch → dup-dropped → low-quality →
    accepted) is the nightly-ingest accounting a 100 TB corpus needs.
    Scale shape: one content-hash scan over the batch, a bloom-prereduced
    back-check join, codegen feature exprs — no pass re-reads the corpus
    beyond its key projection."""
    from engine.extended.text import quality_exprs
    from engine.ops.runtime_filter import bloom_prefilter

    d = t(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.regexp_replace("text", "[^A-Za-z0-9]", "")))
    with_key = d.select("doc_id", "source", "text", key.alias("key"))
    corpus = (
        with_key.where(F.col("doc_id") % 2 == 0)
        .select("key")
        .where(F.col("key").isNotNull())
        .distinct()
    )
    batch = with_key.where(F.col("doc_id") % 2 == 1)
    dup_ids = (
        bloom_prefilter(batch, corpus, "key")
        .join(corpus, "key")
        .select("doc_id")
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    fx = quality_exprs("text")
    feat = (
        batch.join(dup_ids, "doc_id", "left")
        .withColumn("is_dup", F.col("__dup").isNotNull())
        .withColumn(
            "q_ok",
            F.coalesce(
                (fx["n_tokens"] >= 10) & (fx["alpha_ratio"] >= 0.5),
                F.lit(False),
            ),
        )
    )
    return feat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias("n_dup"),
        F.sum(F.when(~F.col("is_dup") & ~F.col("q_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_lowq"),
        F.sum(F.when(~F.col("is_dup") & F.col("q_ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_accepted"),
    )


@q(
    "hist_shard_merge",
    """
    WITH src AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v, l_orderkey % 2 AS shard
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    b AS (
      SELECT shard,
             CAST(LEAST(GREATEST(FLOOR(v / 468.75), 0), 255) AS BIGINT)
               AS bucket
      FROM src),
    by_shard AS (SELECT shard, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    merged AS (
      SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt FROM by_shard GROUP BY 1),
    whole AS (SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY 1),
    tot AS (SELECT SUM(cnt) AS n FROM merged),
    cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS c FROM merged),
    p50b AS (SELECT MIN(bucket) AS bk FROM cum, tot WHERE c >= 0.5 * n),
    est AS (SELECT ROUND((bk + 1) * 468.75, 2) AS est_p50 FROM p50b),
    ex AS (
      SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS m FROM src)
    SELECT (SELECT COUNT(*) FROM merged) AS n_buckets_used,
           (SELECT CAST(SUM(CASE WHEN m2.cnt <> w2.cnt THEN 1 ELSE 0 END)
                    AS BIGINT)
              FROM merged m2 JOIN whole w2 USING (bucket)) AS n_diff,
           est.est_p50,
           CASE WHEN ABS(est.est_p50 - ex.m) <= 468.75 THEN 1 ELSE 0 END
             AS within_one_bucket
    FROM est, ex
    """,
)
def hist_shard_merge(spark, sf_dir):
    """Mergeable equi-width histogram — the QUANTILE member of the sketch
    family (frequencies = count-min, distinct = HLL union, quantiles =
    this).  Per-shard histograms on a data-independent grid (0..120000,
    256 buckets over l_extendedprice) merge by element-wise addition into
    the whole-corpus histogram (n_diff = 0 pinned cell-for-cell
    cross-engine), and the p50 read off the cumulative histogram lands
    within one bucket width of the exact median (flag pinned).  Unlike a
    t-digest the grid sketch is bit-identically reproducible in the
    oracle; the trade is fixed resolution.  Build shuffle ≤ n_buckets
    groups — constant in input volume."""
    from engine.extended.sketch import (
        hist_build,
        hist_exact_quantile,
        hist_merge,
        hist_quantile,
    )

    lo, hi, nb = 0.0, 120000.0, 256
    w = (hi - lo) / nb
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()
    )
    even = hist_build(
        li.where(F.col("l_orderkey") % 2 == 0),
        "l_extendedprice",
        lo=lo,
        hi=hi,
        n_buckets=nb,
    )
    odd = hist_build(
        li.where(F.col("l_orderkey") % 2 == 1),
        "l_extendedprice",
        lo=lo,
        hi=hi,
        n_buckets=nb,
    )
    # merged is referenced twice (cell-diff audit + quantile read) and its
    # lazy lineage re-ran both shard builds per reference (6 lineitem scans
    # in the pre-fix plan) — pin the ≤256-row histogram once (r11 opt)
    from engine.cache import ledger_persist

    merged = ledger_persist(hist_merge(even, odd))
    # whole is referenced twice (cell-diff audit + the exact-median
    # narrowing below) — pin the ≤256-row histogram like merged (r11 opt)
    whole = ledger_persist(
        hist_build(li, "l_extendedprice", lo=lo, hi=hi, n_buckets=nb)
    )
    diff = (
        merged.select("bucket", F.col("cnt").alias("m_cnt"))
        .join(whole.select("bucket", F.col("cnt").alias("w_cnt")), "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_buckets_used"),
            F.sum(F.when(F.col("m_cnt") != F.col("w_cnt"), 1).otherwise(0))
            .cast("long")
            .alias("n_diff"),
        )
    )
    est = hist_quantile(
        merged, 0.5, lo=lo, hi=hi, n_buckets=nb, out_col="__e"
    ).select(F.round("__e", 2).alias("est_p50"))
    # Exact median via two-pass histogram narrowing (r11 opt): the old
    # percentile() aggregate collected EVERY price into one ObjectHash
    # buffer and merged + sorted it in a single final task — the query's
    # dominant stage at sf0.1 (~2.3 s of ~3.5 s measured) and its only
    # memory term that grows with rows-per-task.  hist_exact_quantile
    # reuses the already-pinned ``whole`` histogram to bound the median's
    # bucket range, re-scans only those buckets' rows (~1/256 of the
    # table), and reproduces percentile()'s interpolation bit-for-bit
    # (verified value-equal on lineitem, tie-heavy, out-of-grid, and
    # 1-row fixtures before landing).
    exact = hist_exact_quantile(
        li, "l_extendedprice", whole, 0.5, lo=lo, hi=hi, n_buckets=nb,
        out_col="__m",
    )
    out = diff.crossJoin(F.broadcast(est)).crossJoin(F.broadcast(exact))
    return out.select(
        "n_buckets_used",
        "n_diff",
        "est_p50",
        (F.abs(F.col("est_p50") - F.col("__m")) <= F.lit(w))
        .cast("int")
        .alias("within_one_bucket"),
    )


@q(
    "dup_cluster_size_hist",
    """
    WITH k AS (
      SELECT MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS key
      FROM documents WHERE text IS NOT NULL),
    c AS (SELECT key, COUNT(*) AS sz FROM k GROUP BY key)
    SELECT CAST(LEAST(sz, 10) AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM c GROUP BY 1
    """,
)
def dup_cluster_size_hist(spark, sf_dir):
    """Duplicate-cluster size distribution — the corpus-health metric that
    tells you WHETHER to dedup before you pay for it: clusters of
    normalized-content hashes bucketed by size (10+ capped into one
    bucket), with cluster and document counts per size.  A healthy crawl
    is dominated by size-1; a fat tail here is the signal that
    dedup_exact / dedup_bloom_incremental will shrink the corpus.  Two
    hash aggregates, both key-bounded — the audit never costs more than
    the dedup it justifies."""
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    key = F.md5(F.lower(F.regexp_replace("text", "[^A-Za-z0-9]", "")))
    c = d.select(key.alias("key")).groupBy("key").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return c.groupBy(
        F.least(F.col("sz"), F.lit(10)).cast("long").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
    )


# Deterministic seed slice for cross_source_overlap (VERDICT r5 #3): the
# uniform driver corpora contain ZERO cross-source duplicate content, so the
# audit over them alone returns an empty frame in both engines — a hash match
# that proves nothing about the join/ratio logic.  These rows are unioned
# into the audited corpus by BOTH the Spark query and the oracle SQL (single
# source of truth below), guaranteeing ≥3 non-trivial output pairs at every
# SF — (a,b)=8/10 shared, (a,c)=4/6, plus whatever the corpus itself holds
# (the skew pack's 190 organic pairs still surface on top).
_OVERLAP_SEED: list[tuple[str, str]] = (
    [("seed_mirror_a", f"seed shared ab {i} syndicated body") for i in range(8)]
    + [("seed_mirror_b", f"seed shared ab {i} syndicated body") for i in range(8)]
    + [("seed_mirror_a", f"seed shared ac {i} mirrored body") for i in range(4)]
    + [("seed_mirror_c", f"seed shared ac {i} mirrored body") for i in range(4)]
    + [("seed_mirror_b", f"seed only b {i} original body") for i in range(2)]
    + [("seed_mirror_c", f"seed only c {i} original body") for i in range(2)]
)

_OVERLAP_SEED_VALUES = ",\n      ".join(
    "('{}', '{}')".format(s, txt) for s, txt in _OVERLAP_SEED
)


@q(
    "cross_source_overlap",
    f"""
    WITH docs AS (
      SELECT source, text FROM documents
      WHERE text IS NOT NULL AND source IS NOT NULL
      UNION ALL
      SELECT * FROM (VALUES
      {_OVERLAP_SEED_VALUES}
      ) AS seed(source, text)),
    k AS (
      SELECT DISTINCT source,
             MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS key
      FROM docs),
    n AS (SELECT source, COUNT(*) AS n_keys FROM k GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared,
           CAST(FLOOR(10000.0 * COUNT(*) / LEAST(na.n_keys, nb.n_keys) + 0.5)
             AS BIGINT) AS overlap_bp
    FROM k a JOIN k b ON a.key = b.key AND a.source < b.source
    JOIN n na ON na.source = a.source
    JOIN n nb ON nb.source = b.source
    GROUP BY a.source, b.source, na.n_keys, nb.n_keys
    """,
)
def cross_source_overlap(spark, sf_dir):
    """Cross-source content overlap: for each source pair, how many exact
    (normalized) contents they share, and that count as basis points of
    the smaller source's distinct-content set — the provenance audit that
    catches mirror sites, syndication, and upstream contamination BETWEEN
    corpus slices (the within-corpus twin of ngram_contamination's
    train-vs-eval check).  Shape: distinct (source, key) projection, then
    a self-equi-join on the content hash — candidate pairs are bounded by
    duplicate-key fan-in, never |corpus|²; ratio rendered with
    FLOOR(x + 0.5) (the engine-exact half rule).

    The audited corpus is documents UNION the _OVERLAP_SEED slice — the
    driver's uniform fixtures have no organic cross-source duplicates, so
    without the seed both engines agree on an EMPTY frame and the driver
    row proves nothing (VERDICT r5 #3).  The seed is tiny (28 rows),
    broadcast-scale, and shares the exact literal rows with the oracle's
    VALUES list."""
    seed = spark.createDataFrame(_OVERLAP_SEED, "source string, text string")
    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", "text")
        .unionByName(seed)
    )
    key = F.md5(F.lower(F.regexp_replace("text", "[^A-Za-z0-9]", "")))
    # the distinct (source, key) frame feeds THREE branches (counts + both
    # join sides) whose divergent projections defeat ReusedExchange —
    # persist the cut point so the corpus scan + normalize-hash + distinct
    # run once (the corpus_pipeline_v3 discipline)
    k = d.select("source", key.alias("key")).distinct().persist()
    n = k.groupBy("source").agg(F.count(F.lit(1)).alias("n_keys"))
    a = k.select(F.col("source").alias("source_a"), "key")
    b = k.select(F.col("source").alias("source_b"), "key")
    pairs = a.join(b, "key").where(F.col("source_a") < F.col("source_b"))
    g = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_shared")
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n_keys").alias("__na"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_keys").alias("__nb"))
    out = g.join(F.broadcast(na), "source_a").join(F.broadcast(nb), "source_b")
    return out.select(
        "source_a",
        "source_b",
        "n_shared",
        F.floor(
            10000.0 * F.col("n_shared") / F.least("__na", "__nb") + 0.5
        )
        .cast("long")
        .alias("overlap_bp"),
    )


@q(
    "dp_noisy_counts",
    """
    WITH g AS (
      SELECT c_mktsegment AS segment, COUNT(*) AS n FROM customer
      GROUP BY c_mktsegment),
    u AS (
      SELECT segment, n,
             (CAST(('0x' || SUBSTRING(MD5(COALESCE(segment, '<null>')
                || '|dp-noise|spark-graft'), 1, 13)) AS BIGINT) % 4503599627370496)
               / 4503599627370496.0 AS uu
      FROM g)
    SELECT segment,
           ROUND(n + CASE WHEN uu < 0.5 THEN 2.0 * LN(2.0 * uu)
                          ELSE -2.0 * LN(2.0 * (1.0 - uu)) END, 4) + 0.0
             AS noisy_count,
           CAST(0.5 AS DOUBLE) AS epsilon
    FROM u
    """,
)
def dp_noisy_counts(spark, sf_dir):
    """ε-differentially-private counts (Laplace mechanism, sensitivity 1,
    ε = 0.5 → scale b = 2): per-segment counts released with additive
    Laplace noise, the governance sibling of k_anonymity_audit for
    publishing corpus statistics.  Noise is SEEDED per group
    (md5-uniform → inverse-CDF Laplace) so the mechanism's arithmetic is
    bit-reproducible cross-engine — the ln-on-dyadic-rational + ROUND(4)
    discipline the bigram-LM oracles already pin.  NOTE: a seeded
    deterministic draw demonstrates the mechanism but is NOT DP-secure
    randomness — production callers must swap in a secret per-release
    seed (parameterized salt), which changes none of the plan shape (one
    hash aggregate, noise is pure codegen)."""
    c = t(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n")
    )
    seed = F.concat(
        F.coalesce(F.col("segment"), F.lit("<null>")),
        F.lit("|dp-noise|spark-graft"),
    )
    # 13 hex digits = 52 bits < 2^53: the % and the division are exact in
    # doubles, so uu is the same dyadic rational in both engines
    uu = (
        F.conv(F.substring(F.md5(seed), 1, 13), 16, 10).cast("long")
        % F.lit(4503599627370496)
    ) / F.lit(4503599627370496.0)
    noise = F.when(uu < 0.5, 2.0 * F.log(2.0 * uu)).otherwise(
        -2.0 * F.log(2.0 * (1.0 - uu))
    )
    # + 0.0 folds a rounded -0.0 (noise within 5e-5 of -n) to +0.0 — the
    # ledger's rendering-divergence guard for near-zero negative outputs
    return g.select(
        "segment",
        (F.round(F.col("n") + noise, 4) + F.lit(0.0)).alias("noisy_count"),
        F.lit(0.5).alias("epsilon"),
    )


@q(
    "hll_set_ops",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL),
         b AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view' AND user_id IS NOT NULL)
    SELECT (SELECT COUNT(*) FROM a) AS n_a,
           (SELECT COUNT(*) FROM b) AS n_b,
           (SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM b))
             AS n_union,
           (SELECT COUNT(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b))
             AS n_intersect,
           1 AS union_est_ok, 1 AS intersect_est_ok
    """,
)
def hll_set_ops(spark, sf_dir):
    """Sketch set algebra: |A ∪ B| straight from the HLL union, |A ∩ B| by
    inclusion-exclusion (|A| + |B| − |A ∪ B|) — set overlap between two
    100 TB key sets with constant-size state and no pairwise join (the
    audience-overlap / cross-corpus-user question).  The exact
    cardinalities are the cross-engine value check; the sketch estimates
    (deterministic Datasketches registers) are pinned within 5% of exact
    for the union and within 10% of the union for the intersection
    (inclusion-exclusion compounds the register error — the documented
    trade; exact-sparse at oracle scale)."""
    e = t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    a = e.where(F.col("event_type") == "click").select("user_id")
    b = e.where(F.col("event_type") == "view").select("user_id")
    sk = (
        a.select(F.lit("a").alias("s"), "user_id")
        .unionByName(b.select(F.lit("b").alias("s"), "user_id"))
        .groupBy("s")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    ests = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"),
        F.sum(F.hll_sketch_estimate("sk")).alias("est_sum"),
    )
    exact = (
        a.agg(F.count_distinct("user_id").cast("long").alias("n_a"))
        .crossJoin(
            F.broadcast(
                b.agg(F.count_distinct("user_id").cast("long").alias("n_b"))
            )
        )
        .crossJoin(
            F.broadcast(
                a.unionByName(b).agg(
                    F.count_distinct("user_id").cast("long").alias("n_union")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                a.intersect(b).agg(
                    F.count(F.lit(1)).cast("long").alias("n_intersect")
                )
            )
        )
    )
    out = exact.crossJoin(F.broadcast(ests))
    est_i = F.col("est_sum") - F.col("est_union")
    # both-sets-empty corpora (hostile fuzz: zero click AND zero view rows)
    # leave the sketch frame empty and the estimates NULL — the flags
    # coalesce to 1 (trivially within bound), matching the oracle's literals
    return out.select(
        "n_a",
        "n_b",
        "n_union",
        "n_intersect",
        F.coalesce(
            (
                F.abs(F.col("est_union") - F.col("n_union"))
                <= 0.05 * F.col("n_union")
            ).cast("int"),
            F.lit(1),
        ).alias("union_est_ok"),
        F.coalesce(
            (
                F.abs(est_i - F.col("n_intersect")) <= 0.10 * F.col("n_union")
            ).cast("int"),
            F.lit(1),
        ).alias("intersect_est_ok"),
    )


@q(
    "hll_windowed_users",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           1 AS est_ok
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
    """,
)
def hll_windowed_users(spark, sf_dir):
    """Distinct users per event-time day with a mergeable sketch riding
    next to the exact count: the per-day HLL sketches are what a 100 TB
    deployment STORES (daily rollups union into weekly/monthly distincts
    without re-reading events — the only distinct-count shape that
    composes over time); the exact count is the cross-engine value check
    and the 5% flag pins the sketch against it per day."""
    e = t(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    byday = e.groupBy(
        F.col("ts").cast("date").cast("string").alias("day")
    ).agg(
        F.count_distinct("user_id").cast("long").alias("exact_users"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("__est"),
    )
    return byday.select(
        "day",
        "exact_users",
        (
            F.abs(F.col("__est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        )
        .cast("int")
        .alias("est_ok"),
    )


@q(
    "k_anonymity_audit",
    """
    WITH cls AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size
      FROM customer GROUP BY c_mktsegment, c_nationkey)
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_classes,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS small_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
             AS BIGINT) AS rows_at_risk
    FROM cls GROUP BY c_mktsegment
    """,
)
def k_anonymity_audit(spark, sf_dir):
    """k-anonymity release audit (engine.ops.profile.k_anonymity, k=5) over
    the (segment, nation) quasi-identifier pair: classes smaller than k
    re-identify their members by linkage, so a privacy-gated training-data
    release needs this count at zero (or those rows suppressed).  One hash
    aggregate bounded by quasi-identifier cardinality — row volume never
    reaches the audit's shuffle."""
    from engine.ops.profile import k_anonymity

    c = t(spark, sf_dir, "customer")
    cls = k_anonymity(c, ["c_mktsegment", "c_nationkey"], k=5)
    return cls.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("class_size").cast("long").alias("min_class_size"),
        F.sum(F.when(F.col("at_risk"), 1).otherwise(0))
        .cast("long")
        .alias("small_classes"),
        F.sum(F.when(F.col("at_risk"), F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


@q(
    "dedup_bloom_incremental",
    """
    WITH k AS (
      SELECT doc_id, source,
             MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))) AS key
      FROM documents),
    corpus AS (
      SELECT DISTINCT key FROM k WHERE doc_id % 2 = 0 AND key IS NOT NULL),
    batch AS (SELECT doc_id, source, key FROM k WHERE doc_id % 2 = 1)
    SELECT b.doc_id, b.source,
           CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END AS is_dup
    FROM batch b LEFT JOIN corpus c ON b.key = c.key
    """,
)
def dedup_bloom_incremental(spark, sf_dir):
    """Incremental exact dedup with a Bloom-prereduced index probe: the
    corpus's normalized-text hashes become a constant-size Bloom filter
    (engine.ops.runtime_filter.bloom_prefilter), the incoming batch drops
    its certainly-new docs in the scan, and only the flagged slice joins
    the real corpus index — so the verdict is EXACT (the oracle is the
    plain semi-join; Bloom false positives are resolved by the back-check
    join) while the per-batch join input shrinks from |batch| to
    |batch ∩ corpus| + ε.  This is the ingestion-time shape of
    dedup_exact: at 100 TB the nightly batch probes a 2 KiB filter instead
    of shuffling against the full corpus index (sibling of
    dedup_minhash_incremental, which does the same for NEAR-dups).
    Batch-internal duplicates are intentionally not flagged — the verdict
    is against the accepted corpus, matching the index-probe contract."""
    from engine.ops.runtime_filter import bloom_prefilter

    d = t(spark, sf_dir, "documents")
    key = F.md5(F.lower(F.regexp_replace("text", "[^A-Za-z0-9]", "")))
    with_key = d.select("doc_id", "source", key.alias("key"))
    corpus = (
        with_key.where(F.col("doc_id") % 2 == 0)
        .select("key")
        .where(F.col("key").isNotNull())
        .distinct()
    )
    batch = with_key.where(F.col("doc_id") % 2 == 1)
    cand = bloom_prefilter(batch, corpus, "key")
    dup_ids = cand.join(corpus, "key").select("doc_id").distinct()
    return batch.join(
        dup_ids.withColumn("__hit", F.lit(1)), "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce(F.col("__hit"), F.lit(0)).alias("is_dup"),
    )


def _ivf_seeded_sql(
    *,
    n_lists: int = 8,
    iters: int = 2,
    nprobe: int = 3,
    k: int = 10,
    qid: int = 7,
    train_where: str | None = None,
    final_select: str | None = None,
) -> str:
    """DuckDB twin of ivf_build_seeded + ivf_topk_seeded: md5-rank seeds,
    ``iters`` unrolled Lloyd rounds over exact-integer quantized components
    (sums are order-independent bigint arithmetic; centroid components are
    one IEEE division of exact ints), squared-euclid assignment with the
    same left-to-right double fold Spark's ``aggregate(zip_with(...))``
    performs, cosine re-rank of the ``nprobe`` probed lists.

    ``train_where`` restricts the QUANTIZER TRAINING (seeds + Lloyd
    rounds) to a slice while the final assignment and probe still cover
    every vector — the incremental-maintenance contract (train once on the
    base corpus, add later batches against the FIXED centroids)."""
    dist = (
        "list_sum(list_transform(list_zip({a}, {b}), "
        "z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])))"
    )
    train = "train" if train_where else "pts"
    train_cte = (
        f""",
    train AS (SELECT * FROM pts WHERE {train_where})"""
        if train_where
        else ""
    )
    parts = [
        f"""
    WITH pts AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings WHERE embedding IS NOT NULL){train_cte},
    seeds AS (
      SELECT q, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT vec_id, q FROM {train}
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_lists})),
    c0 AS (SELECT cid, list_transform(q, x -> CAST(x AS DOUBLE)) AS c FROM seeds)"""
    ]
    for it in range(iters):
        parts.append(
            f""",
    a{it} AS (
      SELECT vec_id, q, cid FROM (
        SELECT p.vec_id, p.q, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {dist.format(a='p.q', b='c.c')}, c.cid) AS rn
        FROM {train} p CROSS JOIN c{it} c) WHERE rn = 1),
    s{it} AS (
      SELECT cid, i, SUM(x) AS s, COUNT(*) AS cnt FROM (
        SELECT cid, generate_subscripts(q, 1) AS i, UNNEST(q) AS x FROM a{it})
      GROUP BY cid, i),
    n{it} AS (SELECT cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) AS c
              FROM s{it} GROUP BY cid),
    c{it + 1} AS (SELECT c{it}.cid, COALESCE(n{it}.c, c{it}.c) AS c
                  FROM c{it} LEFT JOIN n{it} USING (cid))"""
        )
    cf = f"c{iters}"
    parts.append(
        f""",
    af AS (
      SELECT vec_id, cid FROM (
        SELECT p.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY p.vec_id
                 ORDER BY {dist.format(a='p.q', b='c.c')}, c.cid) AS rn
        FROM pts p CROSS JOIN {cf} c) WHERE rn = 1)"""
    )
    # custom consumers of the assignment table (balance audit etc.) stop
    # here — same training/assignment CTEs, their own final SELECT
    if final_select is not None:
        parts.append(final_select)
        return "".join(parts)
    parts.append(
        f""",
    qq AS (SELECT q, embedding AS qv,
           SQRT(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM pts WHERE embedding IS NOT NULL AND vec_id = (SELECT MIN(vec_id) FROM pts WHERE embedding IS NOT NULL AND vec_id >= {qid})),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               ROW_NUMBER() OVER (ORDER BY {dist.format(a='qq.q', b='c.c')}, c.cid) AS rn
        FROM {cf} c CROSS JOIN qq) WHERE rn <= {nprobe})
    SELECT e.vec_id,
           CASE WHEN SQRT(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qq.qn > 0
           THEN ROUND(
             list_sum(list_transform(list_zip(e.embedding, qq.qv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
             (SQRT(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qq.qn), 4)
           END AS sim
    FROM pts e
    JOIN af ON e.vec_id = af.vec_id
    CROSS JOIN qq
    WHERE af.cid IN (SELECT cid FROM probe)
    ORDER BY sim DESC NULLS LAST, e.vec_id
    LIMIT {k}"""
    )
    return "".join(parts)


@q("ann_ivf_topk", _ivf_seeded_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic seeded k-means coarse quantizer (md5-rank
    seeds, 2 Lloyd rounds over exact-integer quantized components — fully
    oracle-able, unlike the MLlib ``ivf_build`` production-training path),
    probe the 3 nearest of 8 lists, exact-rank survivors by cosine
    (partition-pruning ANN path at deployment scale)."""
    from engine.extended.similarity import (
        ivf_build_seeded,
        ivf_topk_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 7))
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding"), quantized_vec("embedding").alias("qq"))
        .collect()
    )
    if not qrows:
        return emb.select("vec_id", F.lit(None).cast("double").alias("sim")).limit(0)
    qv = [float(x) for x in qrows[0]["embedding"]]
    qq = [float(x) for x in qrows[0]["qq"]]
    assigned, cents = ivf_build_seeded(emb, n_lists=8, iters=2, dim=len(qv))
    return ivf_topk_seeded(assigned, cents, qq, qv, k=10, nprobe=3)


@q(
    "ann_recall_audit",
    f"""
    SELECT 10 AS k,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) * 10 AS BIGINT) AS recall_pct
    FROM (
      SELECT vec_id FROM ({_ivf_seeded_sql()})
      INTERSECT
      SELECT vec_id FROM ({_BRUTE_TOPK_SQL})
    )
    """,
)
def ann_recall_audit(spark, sf_dir):
    """ANN quality audit: recall@10 of the IVF index (3-of-8-list probe)
    against the exact brute-force top-10 — the evaluation a deployment
    reads before trading exactness for partition pruning.  Both rankings
    are the registry's own deterministic constructions
    (ann_ivf_topk / ann_cosine_topk), so the overlap — and therefore the
    recall number itself — is pinned cross-engine rather than summarized.
    Shape: the two top-10 lists are k-row frames; the audit join costs
    nothing beyond the index builds it audits."""
    from engine.extended.similarity import (
        cosine_topk,
        ivf_build_seeded,
        ivf_topk_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 7))
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding"), quantized_vec("embedding").alias("qq"))
        .collect()
    )
    if not qrows:
        return spark.createDataFrame(
            [(10, 0, 0)], "k int, n_overlap long, recall_pct long"
        )
    qv = [float(x) for x in qrows[0]["embedding"]]
    qq = [float(x) for x in qrows[0]["qq"]]
    assigned, cents = ivf_build_seeded(emb, n_lists=8, iters=2, dim=len(qv))
    ivf = ivf_topk_seeded(assigned, cents, qq, qv, k=10, nprobe=3).select("vec_id")
    brute = cosine_topk(emb, qv, k=10).select("vec_id")
    overlap = ivf.join(brute, "vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap")
    )
    return overlap.select(
        F.lit(10).alias("k"),
        "n_overlap",
        (F.col("n_overlap") * 10).cast("long").alias("recall_pct"),
    )


def _pq_adc_sql(
    *,
    m: int = 4,
    ksub: int = 8,
    iters: int = 2,
    dsub: int = 16,
    k: int = 10,
    qid: int = 7,
) -> str:
    """DuckDB twin of pq_train_seeded + pq_encode + pq_adc_topk: md5-rank
    seed rows shared by all ``m`` subspaces, ``iters`` unrolled Lloyd rounds
    per subspace over exact-integer quantized subvectors (grouping key is
    (subspace, centroid) so ONE set of CTEs trains all subspaces at once),
    then asymmetric distance = per-subspace query-to-centroid distance summed
    in subspace order (``list_sum(list(d ORDER BY sj))`` — the same
    left-to-right fold the Spark LUT scan performs)."""
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
    sjs AS (SELECT UNNEST(range(0, {m})) AS sj),
    seeds AS (
      SELECT q, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT vec_id, q FROM pts
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ksub})),
    sub AS (
      SELECT vec_id, sj,
             list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}) AS subq
      FROM pts CROSS JOIN sjs),
    c0 AS (
      SELECT sj, cid,
             list_transform(list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}),
                            x -> CAST(x AS DOUBLE)) AS c
      FROM seeds CROSS JOIN sjs)"""
    ]
    for it in range(iters):
        parts.append(
            f""",
    a{it} AS (
      SELECT vec_id, sj, subq, cid FROM (
        SELECT s.vec_id, s.sj, s.subq, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sj
                 ORDER BY {dist.format(a='s.subq', b='c.c')}, c.cid) AS rn
        FROM sub s JOIN c{it} c ON s.sj = c.sj) WHERE rn = 1),
    s{it} AS (
      SELECT sj, cid, i, SUM(x) AS s, COUNT(*) AS cnt FROM (
        SELECT sj, cid, generate_subscripts(subq, 1) AS i, UNNEST(subq) AS x FROM a{it})
      GROUP BY sj, cid, i),
    n{it} AS (SELECT sj, cid, list(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE) ORDER BY i) AS c
              FROM s{it} GROUP BY sj, cid),
    c{it + 1} AS (SELECT c{it}.sj, c{it}.cid, COALESCE(n{it}.c, c{it}.c) AS c
                  FROM c{it} LEFT JOIN n{it}
                  ON c{it}.sj = n{it}.sj AND c{it}.cid = n{it}.cid)"""
        )
    cf = f"c{iters}"
    parts.append(
        f""",
    af AS (
      SELECT vec_id, sj, cid FROM (
        SELECT s.vec_id, s.sj, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sj
                 ORDER BY {dist.format(a='s.subq', b='c.c')}, c.cid) AS rn
        FROM sub s JOIN {cf} c ON s.sj = c.sj) WHERE rn = 1),
    qsub AS (
      SELECT sj, list_slice(q, sj * {dsub} + 1, sj * {dsub} + {dsub}) AS subq
      FROM (SELECT q FROM pts
            WHERE vec_id = (SELECT MIN(vec_id) FROM pts WHERE vec_id >= {qid}))
      CROSS JOIN sjs),
    lut AS (
      SELECT c.sj, c.cid, {dist.format(a='qsub.subq', b='c.c')} AS d
      FROM {cf} c JOIN qsub ON c.sj = qsub.sj)
    SELECT af.vec_id,
           ROUND(list_sum(list(lut.d ORDER BY lut.sj)) / 1000000000000.0, 6) AS adist
    FROM af JOIN lut ON af.sj = lut.sj AND af.cid = lut.cid
    GROUP BY af.vec_id
    ORDER BY adist ASC NULLS LAST, af.vec_id
    LIMIT {k}"""
    )
    return "".join(parts)


@q("ann_pq_adc_topk", _pq_adc_sql())
def ann_pq_adc_topk(spark, sf_dir):
    """Product-quantization ANN: deterministic per-subspace codebooks (4
    subspaces × 8 centroids, 2 Lloyd rounds — the oracle-able twin of
    FAISS-style PQ training), codes stored as 4 small ints per vector
    (~64× smaller than float32 — how 100 TB of embeddings fits in RAM),
    query scored by asymmetric distance: a 4×8 lookup table of
    query-to-centroid distances, summed per stored code with NO float
    vector read at query time (pure codegen scan + TakeOrderedAndProject)."""
    from engine.extended.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 7))
        .orderBy("vec_id")
        .limit(1)
        .select(quantized_vec("embedding").alias("qq"))
        .collect()
    )
    if not qrows:
        return emb.select("vec_id", F.lit(None).cast("double").alias("adist")).limit(0)
    qq = [int(x) for x in qrows[0]["qq"]]
    cb = pq_train_seeded(emb, m=4, ksub=8, iters=2, dim=len(qq))
    enc = pq_encode(emb, cb)
    return pq_adc_topk(enc, cb, qq, k=10)


@q(
    "memo_lookup_or_compute",
    """
    WITH cache AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 9 = 0 THEN NULL
                  ELSE UPPER(c_name) END AS display_name
      FROM customer WHERE c_custkey % 3 = 0),
    probed AS (
      SELECT o.o_orderkey, o.o_custkey, cache.display_name AS cached,
             cache.c_custkey IS NOT NULL AS hit
      FROM orders o LEFT JOIN cache ON o.o_custkey = cache.c_custkey),
    computed AS (
      SELECT DISTINCT p.o_custkey, 'COMPUTED_' || CAST(p.o_custkey AS VARCHAR) AS computed
      FROM probed p WHERE NOT p.hit)
    SELECT p.o_orderkey,
           CASE WHEN p.hit THEN p.cached ELSE c.computed END AS display_name
    FROM probed p LEFT JOIN computed c ON p.o_custkey = c.o_custkey
    """,
)
def memo_lookup_or_compute(spark, sf_dir):
    """The reference's memoization-join pattern as a generic engine op
    (engine.ops.memo.lookup_or_compute): cache probe (J5) → compute ONLY
    misses → hit-marker overlay (J7).  Cache = customers with custkey%3==0,
    and every custkey%9==0 cache row is a NEGATIVE entry (display_name
    NULL): the op must treat it as a hit — keep the NULL, never recompute
    it (r11 __hit-marker contract; the oracle's CASE WHEN hit mirrors it)."""
    from engine.ops.memo import lookup_or_compute

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cache = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("o_custkey"),
            F.when(F.col("c_custkey") % 9 == 0, F.lit(None))
            .otherwise(F.upper("c_name"))
            .alias("display_name"),
        )
    )

    def compute(misses):
        return misses.select("o_custkey").distinct().withColumn(
            "display_name",
            F.concat(F.lit("COMPUTED_"), F.col("o_custkey").cast("string")),
        )

    out = lookup_or_compute(o, cache, "o_custkey", ["display_name"], compute)
    return out.select("o_orderkey", "display_name")


@q(
    "doc_overlap_winnow",
    f"""
    WITH nrm AS (
      SELECT doc_id,
             REGEXP_REPLACE(LOWER(REGEXP_REPLACE(text, '[^ -~]', '', 'g')),
                            '\\s+', ' ', 'g') AS n
      FROM documents),
    st AS (
      SELECT doc_id, n,
             UNNEST(CASE WHEN LENGTH(n) < 64 THEN [CAST(0 AS BIGINT)]
               ELSE range(0, CAST(LENGTH(n) - 64 AS BIGINT) + 1, 32) END) AS s
      FROM nrm),
    fp AS (SELECT DISTINCT doc_id,
           {_MD5H.format(x='SUBSTRING(n, s + 1, 64)')} AS fp FROM st),
    fpok AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS __fn FROM fp)
      WHERE __fn <= 500)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_windows
    FROM fpok a JOIN fpok b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def doc_overlap_winnow(spark, sf_dir):
    """Partial-overlap candidate pairs via rolling-window fingerprints
    (winnowing shape): docs sharing any 64-char window hash.  Catches
    containment/quotation overlaps that whole-doc hashing misses.

    md5-mode hash + ASCII-restricted normalization (non-ASCII stripped
    BEFORE lowering): ASCII lowercasing is engine-invariant, Unicode
    lowering is not (Java vs utf8proc disagree on İ and friends), so the
    oracle twin is exact by construction.

    Ubiquity cap (r11): fingerprints shared by MORE than 500 docs are
    dropped before the self-join — standard winnowing practice (a window in
    thousands of docs is boilerplate, not overlap signal) and the bound
    that keeps the fp join from going quadratic on a hot shared header at
    corpus scale.  One count-over-fp window on the SAME fp-hash exchange
    the join needs anyway; oracle-mirrored; inert on every test corpus
    (max fp fan-out ≪ 500)."""
    from engine.extended.text import ascii_norm_text, rolling_fingerprints_from

    d = t(spark, sf_dir, "documents")
    norm = ascii_norm_text("text")
    fp = (
        d.select(F.col("doc_id").alias("id"), norm.alias("__norm"))
        .select(
            "id",
            F.explode(
                rolling_fingerprints_from(
                    F.col("__norm"), window=64, stride=32, hash_fn="md5"
                )
            ).alias("fp"),
        )
        .distinct()
    )
    wfp = Window.partitionBy("fp")
    fp = (
        fp.withColumn("__fn", F.count(F.lit(1)).over(wfp))
        .filter(F.col("__fn") <= 500)
        .drop("__fn")
    )
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .orderBy("id_a", "id_b")
    )


@q(
    "cdc_apply_changelog",
    """
    WITH changes AS (
      SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 0
                  THEN 'D' ELSE 'U' END AS op,
             ROUND(o_totalprice, 2) AS c_acctbal_new,
             o_orderpriority AS c_mktsegment_new
      FROM orders),
    latest AS (
      SELECT * FROM (
        SELECT c.*, ROW_NUMBER() OVER (PARTITION BY c_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM changes c) WHERE rn = 1),
    survivors AS (
      SELECT s.c_custkey, ROUND(s.c_acctbal, 2) AS c_acctbal, s.c_mktsegment
      FROM customer s ANTI JOIN latest l ON s.c_custkey = l.c_custkey),
    upserts AS (
      SELECT c_custkey, c_acctbal_new AS c_acctbal, c_mktsegment_new AS c_mktsegment
      FROM latest WHERE op <> 'D')
    SELECT * FROM survivors UNION ALL SELECT * FROM upserts
    """,
)
def cdc_apply_changelog(spark, sf_dir):
    """CDC apply (MERGE-INTO emulation, no lakehouse format): latest I/U/D
    change per key wins — engine.ops.scd.apply_changelog."""
    from engine.ops.scd import apply_changelog

    snapshot = t(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    o = t(spark, sf_dir, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        "o_orderkey",
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0), "D"
        )
        .otherwise("U")
        .alias("op"),
        F.round("o_totalprice", 2).alias("c_acctbal"),
        F.col("o_orderpriority").alias("c_mktsegment"),
    )
    return apply_changelog(
        snapshot, changes, "c_custkey", ["o_orderdate", "o_orderkey"]
    )


@q(
    "scd2_history_merge",
    """
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer),
    upd AS (
      SELECT * FROM (
        SELECT o_custkey AS c_custkey, o_orderpriority AS c_mktsegment,
               o_orderdate AS effective_ts,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    closed AS (
      SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
             COALESCE(u.effective_ts, d.valid_to) AS valid_to
      FROM dim d LEFT JOIN upd u ON d.c_custkey = u.c_custkey),
    new_rows AS (
      SELECT c_custkey, c_mktsegment, effective_ts AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM upd)
    SELECT c_custkey, c_mktsegment,
           CAST(valid_from AS VARCHAR) AS valid_from_s,
           CAST(valid_to AS VARCHAR) AS valid_to_s
    FROM (SELECT * FROM closed UNION ALL SELECT * FROM new_rows)
    """,
)
def scd2_history_merge(spark, sf_dir):
    """SCD2 merge (type-2 dimension maintenance without MERGE INTO): close
    current versions of updated keys, append new open versions —
    engine.ops.scd.scd2_merge."""
    from engine.ops.scd import scd2_merge

    dim = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("effective_ts").desc(), F.col("o_orderkey").desc()
    )
    latest = (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_orderpriority").alias("c_mktsegment"),
            F.col("o_orderdate").alias("effective_ts"),
            "o_orderkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "o_orderkey")
    )
    out = scd2_merge(dim, latest, "c_custkey", ["c_mktsegment"])
    return out.select(
        "c_custkey",
        "c_mktsegment",
        F.col("valid_from").cast("string").alias("valid_from_s"),
        F.col("valid_to").cast("string").alias("valid_to_s"),
    )


@q(
    "window_functions_pack",
    """
    SELECT o_orderkey,
           ROUND(LAG(o_totalprice) OVER w, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price,
           NTILE(4) OVER w AS quartile,
           ROUND(FIRST_VALUE(o_totalprice) OVER w, 2) AS first_price,
           RANK() OVER (PARTITION BY o_custkey ORDER BY ROUND(o_totalprice, 2) DESC NULLS LAST) AS price_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS LAST, o_orderkey)
    """,
)
def window_functions_pack(spark, sf_dir):
    """Analytic window battery: lag/lead/ntile/first_value/rank (engine
    capability; reference uses only row_number semantics)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    wr = Window.partitionBy("o_custkey").orderBy(
        F.round("o_totalprice", 2).desc_nulls_last()
    )
    return o.select(
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.first("o_totalprice").over(w), 2).alias("first_price"),
        F.rank().over(wr).alias("price_rank"),
    )


@q(
    "regex_pack",
    """
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           CASE WHEN regexp_matches(p_type, '^PROMO') THEN 1 ELSE 0 END AS is_promo,
           CAST(LENGTH(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS vowel_count,
           regexp_replace(p_brand, '[0-9]+', '#', 'g') AS brand_masked
    FROM part
    """,
)
def regex_pack(spark, sf_dir):
    """Regex battery: extract-group, match-predicate, match-count, masked
    replace — all codegen built-ins."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.when(F.col("p_type").rlike("^PROMO"), 1).otherwise(0).alias("is_promo"),
        F.size(F.regexp_extract_all(F.col("p_name"), F.lit("[aeiou]"), F.lit(0)))
        .cast("long")
        .alias("vowel_count"),
        F.regexp_replace("p_brand", "[0-9]+", "#").alias("brand_masked"),
    )


@q(
    "correlated_above_group_avg",
    """
    SELECT o.o_orderkey FROM orders o
    WHERE o.o_totalprice > (SELECT AVG(o2.o_totalprice) FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
    """,
)
def correlated_above_group_avg(spark, sf_dir):
    """Correlated scalar subquery, hand-decorrelated to a per-key window avg
    (one exchange instead of a re-scan per outer row — the only plan that
    survives scale).  A NULL correlation key can never satisfy the
    correlated form (the subquery matches no rows, AVG is NULL), but a
    window PARTITION BY groups NULL keys together — the decorrelation must
    exclude them explicitly (fuzz-found)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("__avg", F.avg("o_totalprice").over(w))
        .filter(
            F.col("o_custkey").isNotNull()
            & (F.col("o_totalprice") > F.col("__avg"))
        )
        .select("o_orderkey")
    )


@q(
    "vocab_stats",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))) AS token
      FROM documents)
    SELECT token,
           COUNT(*) AS term_freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM tok GROUP BY token
    ORDER BY doc_freq DESC, term_freq DESC, token LIMIT 50
    """,
)
def vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics: term frequency + document frequency per
    token, top-50 by DF (the vocabulary-building scan of a training-data
    pipeline — explode + two-level aggregate, one shuffle on token)."""
    from engine.extended.text import tokens

    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("term_freq").desc(), "token")
        .limit(50)
    )


@q(
    "quality_filter_rate",
    """
    WITH scored AS (
      SELECT source,
             CASE WHEN LENGTH(text) >= 100
                   AND LENGTH(list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x))) >= 20
                   AND LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) * 1.0
                       / LENGTH(text) >= 0.5
                  THEN 1 ELSE 0 END AS keep
      FROM documents WHERE LENGTH(text) > 0)
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(keep) AS BIGINT) AS n_kept,
           ROUND(SUM(keep) * 1.0 / COUNT(*), 4) AS keep_rate
    FROM scored GROUP BY source
    """,
)
def quality_filter_rate(spark, sf_dir):
    """Corpus quality filter + per-source keep rate: the composed filter a
    training pipeline applies before tokenization (length, token count,
    alpha ratio thresholds)."""
    from engine.extended.text import token_count

    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    alpha_ratio = (
        F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
        / F.length("text").cast("double")
    )
    keep = (
        F.when(
            (F.length("text") >= 100)
            & (token_count("text") >= 20)
            & (alpha_ratio >= 0.5),
            1,
        ).otherwise(0)
    )
    return (
        d.withColumn("keep", keep)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("keep").alias("n_kept"),
            F.round(F.sum("keep") / F.count(F.lit(1)), 4).alias("keep_rate"),
        )
    )


@q(
    "dup_rate_by_source",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))))
             AS n_unique,
           ROUND(1.0 - COUNT(DISTINCT MD5(LOWER(REGEXP_REPLACE(text, '[^A-Za-z0-9]', '', 'g'))))
                 * 1.0 / COUNT(*), 4) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dup_rate_by_source(spark, sf_dir):
    """Exact-duplicate rate per source — the dedup health metric a corpus
    pipeline tracks per ingest feed (distinct fingerprints vs rows)."""
    from engine.extended.text import fingerprint

    d = t(spark, sf_dir, "documents")
    uniq = F.countDistinct(fingerprint("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        uniq.alias("n_unique"),
        F.round(F.lit(1.0) - uniq / F.count(F.lit(1)), 4).alias("dup_rate"),
    )


@q(
    "dedup_minhash_cc",
    _minhash_with_sql(recursive=True)
    + f""",
    capped AS MATERIALIZED (
      SELECT doc_id, band, bkey FROM (
        SELECT doc_id, band, bkey,
               ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rn
        FROM banded) WHERE rn <= 500),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    prs AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id_a
      JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ROUND({_est_sql('sa', 'sb')}, 4) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION
      SELECT id_b, id_a FROM prs),
    reach AS (
      SELECT src AS id, src AS lbl FROM edges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
    losers AS (
      SELECT id FROM (SELECT id, MIN(lbl) AS group_id FROM reach GROUP BY id)
      WHERE group_id <> id)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM losers)
    """,
)
def dedup_minhash_cc(spark, sf_dir):
    """Transitive near-dup removal: LSH candidates → connected components
    (union-by-min to fixpoint) → keep each group's smallest doc_id.  The
    oracle mirrors the iterated label propagation with a recursive CTE
    (min reachable id per node), so even the ITERATIVE operator is
    value-hash-checked (md5-mode hash family)."""
    from engine.extended.dedup import minhash_dedup_cc

    d = t(spark, sf_dir, "documents")
    return minhash_dedup_cc(d, threshold=0.5, hash_fn="md5").select(
        "doc_id", "source"
    ).orderBy("doc_id")


@q(
    "dataset_split",
    """
    WITH labeled AS (
      SELECT doc_id,
             CASE
               WHEN CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                    < 52428 THEN 'train'
               WHEN CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                    < 58982 THEN 'val'
               ELSE 'test' END AS split
      FROM documents)
    SELECT split, COUNT(*) AS n FROM labeled GROUP BY split
    """,
)
def dataset_split(spark, sf_dir):
    """Deterministic train/val/test split from md5(doc_id) — reproducible
    across engines/runs/row orders (engine.extended.sampling.hash_split)."""
    from engine.extended.sampling import hash_split

    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("split", hash_split("doc_id"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "stratified_sample",
    """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE CAST(('0x' || SUBSTRING(MD5(
            '42|' || COALESCE(lang, '␀') || '|'
                  || COALESCE(CAST(doc_id AS VARCHAR), '␀')), 1, 15))
          AS BIGINT) % 10000 < 5000
    GROUP BY lang ORDER BY lang NULLS LAST
    """,
)
def stratified_sample_q(spark, sf_dir):
    """Deterministic per-language stratified sample of documents
    (class-balanced subset): md5-rank Bernoulli keep at 5000 bp per
    stratum — no group-size collection, no driver-collected lang domain
    (the distinct().collect() this query carried until r8), and exactly
    reproducible by the SQL oracle, upgrading it from rows-only to
    hash-matched."""
    from engine.extended.sampling import stratified_sample_det

    d = t(spark, sf_dir, "documents")
    out = stratified_sample_det(d, "lang", 5000, id_col="doc_id", seed=42)
    return (
        out.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy(F.col("lang").asc_nulls_last())
    )


@q(
    "hybrid_search_topk",
    """
    WITH tok AS (
      SELECT doc_id, list_transform(regexp_extract_all(text, '[A-Za-z0-9'']+'), x -> LOWER(x)) AS toks
      FROM documents),
    stats AS (
      SELECT COUNT(*) AS n,
             COUNT(CASE WHEN list_contains(toks, 'spark') THEN 1 END) AS df_spark,
             COUNT(CASE WHEN list_contains(toks, 'merge') THEN 1 END) AS df_merge
      FROM tok),
    lex AS (
      SELECT t.doc_id,
             ROUND(
               LN((s.n + 1.0) / (s.df_spark + 1.0)) *
                 (LENGTH(list_filter(t.toks, x -> x = 'spark')) /
                  (LENGTH(list_filter(t.toks, x -> x = 'spark')) + 1.2)) +
               LN((s.n + 1.0) / (s.df_merge + 1.0)) *
                 (LENGTH(list_filter(t.toks, x -> x = 'merge')) /
                  (LENGTH(list_filter(t.toks, x -> x = 'merge')) + 1.2)), 4)
               AS lex_score
      FROM tok t, stats s),
    qv AS (SELECT embedding AS q FROM embeddings WHERE embedding IS NOT NULL AND vec_id = (SELECT MIN(vec_id) FROM embeddings WHERE embedding IS NOT NULL AND vec_id >= 3)),
    vec AS (
      SELECT e.vec_id AS doc_id,
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
             END AS vec_score
      FROM embeddings e, qv)
    SELECT l.doc_id, l.lex_score, v.vec_score,
           ROUND(l.lex_score + v.vec_score, 4) AS score
    FROM lex l JOIN vec v ON l.doc_id = v.doc_id
    ORDER BY score DESC NULLS LAST, l.doc_id LIMIT 10
    """,
)
def hybrid_search_topk(spark, sf_dir):
    """Hybrid lexical+vector retrieval: BM25-style query-term scoring fused
    with cosine similarity to a query embedding, exact top-10
    (engine.extended.search.hybrid_topk)."""
    from engine.extended.search import hybrid_topk

    d = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec_rows(emb, 3)
    if qv is None:
        return d.select(
            "doc_id", F.lit(None).cast("double").alias("score")
        ).limit(0)
    return hybrid_topk(d, emb, ["spark", "merge"], qv, k=10, alpha=1.0)




@q(
    "l_diversity_audit",
    """
    WITH j AS (
      SELECT c.c_mktsegment, c.c_nationkey, o.o_orderpriority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    cls AS (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size,
             COUNT(DISTINCT o_orderpriority) AS sdiv
      FROM j GROUP BY c_mktsegment, c_nationkey)
    SELECT c_mktsegment AS segment,
           COUNT(*) AS n_classes,
           CAST(MIN(sdiv) AS BIGINT) AS min_diversity,
           CAST(SUM(CASE WHEN sdiv < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS low_div_classes,
           CAST(SUM(CASE WHEN sdiv < 3 THEN class_size ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM cls GROUP BY c_mktsegment
    """,
)
def l_diversity_audit(spark, sf_dir):
    """l-diversity release audit (engine.ops.profile.l_diversity, l=3) —
    the homogeneity-attack companion to k_anonymity_audit: a (segment,
    nation) class whose orders all share one priority leaks that sensitive
    attribute by association no matter how large the class is.  One exact
    COUNT(DISTINCT) aggregate bounded by quasi-identifier cardinality."""
    from engine.ops.profile import l_diversity

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "c_nationkey", "o_orderpriority"
    )
    cls = l_diversity(j, ["c_mktsegment", "c_nationkey"], "o_orderpriority", l=3)
    return cls.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("sensitive_diversity").cast("long").alias("min_diversity"),
        F.sum(F.when(F.col("at_risk"), 1).otherwise(0))
        .cast("long")
        .alias("low_div_classes"),
        F.sum(F.when(F.col("at_risk"), F.col("class_size")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


@q(
    "attribution_last_click",
    """
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
        AND ts IS NOT NULL),
    c AS (
      SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
        AND ts IS NOT NULL),
    cand AS (
      SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR),
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY p_id
                     ORDER BY c_ts DESC, c_id DESC) AS rn
        FROM cand) WHERE rn = 1)
    SELECT p.p_id, p.user_id, CAST(p.p_ts AS VARCHAR) AS p_ts_s,
           b.c_id AS attributed_click,
           epoch_ms(p.p_ts) - epoch_ms(b.c_ts) AS gap_ms
    FROM p LEFT JOIN best b ON p.p_id = b.p_id
    """,
)
def attribution_last_click(spark, sf_dir):
    """Last-touch attribution — the batch twin of the stream-stream join
    (ST family): each purchase attributed to the same user's most recent
    click within the hour (ties by click id), unattributed purchases kept
    with NULLs.  The candidate join carries user_id as its hash key with
    the time window as residual predicate (the watermark-bounded
    stream-stream join's state-pruning window, batch-planned); one
    purchase-keyed window picks the survivor.  Gap reported in exact
    integer milliseconds (unix_millis/epoch_ms — never fractional-epoch
    subtraction, whose floor order differs by engine)."""
    e = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    cand = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR")),
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("c_ts").desc(), F.col("c_id").desc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_id", "c_id", "c_ts")
    )
    b = best.alias("b")
    return (
        p.alias("pp")
        .join(b, F.col("pp.p_id") == F.col("b.p_id"), "left")
        .select(
            F.col("pp.p_id").alias("p_id"),
            F.col("pp.user_id").alias("user_id"),
            F.col("pp.p_ts").cast("string").alias("p_ts_s"),
            F.col("b.c_id").alias("attributed_click"),
            (F.unix_millis(F.col("pp.p_ts")) - F.unix_millis(F.col("b.c_ts")))
            .alias("gap_ms"),
        )
    )


_BK_HASH = "CAST(('0x' || SUBSTRING(MD5({x} || '|bk'), 1, 15)) AS BIGINT)"


@q(
    "bottomk_shard_merge",
    f"""
    WITH keys AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
      WHERE o_custkey IS NOT NULL)
    SELECT {_BK_HASH.format(x="key")} AS hash, key
    FROM keys ORDER BY hash, key LIMIT 32
    """,
)
def bottomk_shard_merge(spark, sf_dir):
    """Bottom-k distinct sample, shard-merged
    (engine.extended.sketch.bottomk_build/merge): five shard sketches of
    the order customer keys — sharded by a derived priority bucket
    ``crc32(priority) mod 5``, total by construction, so no
    distinct().collect() of the priority domain is needed (VERDICT r7 #6)
    — merged Spark-side must equal the oracle's DIRECT bottom-32 of the
    global key set bit-for-bit: min-ranks commute with union, the merge
    identity that makes the bottom-k sketch the distinct-SAMPLE member of
    the mergeable-summary quartet.  Per-shard maintenance is a size-k
    top-k (no key-cardinality shuffle); merges act on k-row frames."""
    from engine.extended.sketch import bottomk_build, bottomk_merge

    o = t(spark, sf_dir, "orders")
    bucket = F.pmod(
        F.crc32(F.coalesce(F.col("o_orderpriority"), F.lit("␀"))), F.lit(5)
    )
    shards = [
        bottomk_build(o.filter(bucket == i), "o_custkey", k=32)
        for i in range(5)
    ]
    return bottomk_merge(shards, k=32)


_BK_EST = (
    "CASE WHEN {n} < 64 THEN CAST({n} AS BIGINT) "
    "ELSE CAST(FLOOR(CAST(72634054790231359488 AS DOUBLE) / {hk}) AS BIGINT) END"
)


@q(
    "theta_sketch_setops",
    f"""
    WITH a AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL),
    b AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
      WHERE o_orderpriority = '2-HIGH' AND o_custkey IS NOT NULL),
    ska AS (SELECT * FROM (
      SELECT {_BK_HASH.format(x="key")} AS hash, key FROM a
      ORDER BY hash, key LIMIT 64)),
    skb AS (SELECT * FROM (
      SELECT {_BK_HASH.format(x="key")} AS hash, key FROM b
      ORDER BY hash, key LIMIT 64)),
    sku AS (SELECT * FROM (
      SELECT DISTINCT hash, key FROM (SELECT * FROM ska UNION ALL SELECT * FROM skb)
      ORDER BY hash, key LIMIT 64)),
    ea AS (SELECT {_BK_EST.format(n="COUNT(*)", hk="MAX(hash)")} AS est_a FROM ska),
    eb AS (SELECT {_BK_EST.format(n="COUNT(*)", hk="MAX(hash)")} AS est_b FROM skb),
    eu AS (SELECT {_BK_EST.format(n="COUNT(*)", hk="MAX(hash)")} AS est_union FROM sku),
    uni AS (SELECT * FROM (
      SELECT COALESCE(x.hash, y.hash) AS hash,
             CASE WHEN x.hash IS NULL THEN 0 ELSE 1 END AS in_a,
             CASE WHEN y.hash IS NULL THEN 0 ELSE 1 END AS in_b
      FROM ska x FULL OUTER JOIN skb y ON x.hash = y.hash
      ORDER BY hash LIMIT 64)),
    jac AS (SELECT COUNT(*) AS k_used,
                   CAST(SUM(in_a * in_b) AS BIGINT) AS n_both FROM uni)
    SELECT est_a, est_b, est_union, n_both,
           CAST(FLOOR(CAST(n_both * est_union AS DOUBLE)
                / GREATEST(k_used, 1)) AS BIGINT) AS est_intersection,
           GREATEST(est_a - CAST(FLOOR(CAST(n_both * est_union AS DOUBLE)
                / GREATEST(k_used, 1)) AS BIGINT), 0) AS est_only_a
    FROM ea, eb, eu, jac
    """,
)
def theta_sketch_setops(spark, sf_dir):
    """Theta-sketch set algebra from bottom-k samples
    (engine.extended.sketch.bottomk_setops_estimate): union cardinality
    from the merged sketch (merge IS the union's sketch), intersection
    from the shared fraction of the union's uniform k-sample, difference
    by inclusion — the full union/intersect/A-not-B estimate family over
    two order-priority customer segments, from nothing but two mergeable
    64-row samples.  The KMV estimator (k-1)·2^60/h_k and every division
    render as FLOOR over exact integers, so the APPROXIMATION itself is
    bit-reproducible and the oracle replays it (the same contract
    bottomk_jaccard established)."""
    from engine.extended.sketch import bottomk_build, bottomk_setops_estimate

    o = t(spark, sf_dir, "orders")
    ska = bottomk_build(
        o.filter(F.col("o_orderpriority") == "1-URGENT"), "o_custkey", k=64
    )
    skb = bottomk_build(
        o.filter(F.col("o_orderpriority") == "2-HIGH"), "o_custkey", k=64
    )
    return bottomk_setops_estimate(ska, skb, k=64)


@q(
    "jaccard_bottomk_overlap",
    f"""
    WITH a AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_custkey IS NOT NULL),
    b AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key FROM orders
      WHERE o_orderpriority = '2-HIGH' AND o_custkey IS NOT NULL),
    ska AS (SELECT hash FROM (
      SELECT {_BK_HASH.format(x="key")} AS hash, key FROM a
      ORDER BY hash, key LIMIT 64)),
    skb AS (SELECT hash FROM (
      SELECT {_BK_HASH.format(x="key")} AS hash, key FROM b
      ORDER BY hash, key LIMIT 64)),
    uni AS (
      SELECT hash, MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT hash, 1 AS in_a, 0 AS in_b FROM ska
        UNION ALL
        SELECT hash, 0 AS in_a, 1 AS in_b FROM skb)
      GROUP BY hash ORDER BY hash LIMIT 64)
    SELECT COUNT(*) AS k_used,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
           CAST(FLOOR(SUM(in_a * in_b) * 10000
                / GREATEST(COUNT(*), 1)) AS BIGINT) AS jaccard_bp
    FROM uni
    """,
)
def jaccard_bottomk_overlap(spark, sf_dir):
    """Set-overlap estimation from bottom-k sketches
    (engine.extended.sketch.bottomk_jaccard): the Jaccard similarity of the
    urgent-order and high-order customer sets estimated from two 64-hash
    sketches — the cheap cross-corpus overlap probe that runs on sketch
    exchanges instead of key exchanges (the cross_source_overlap question
    when the sources cannot ship their key sets).  The estimator is
    deterministic downstream of the sketches, so the ESTIMATE itself
    oracle-checks even though it approximates the true Jaccard."""
    from engine.extended.sketch import bottomk_build, bottomk_jaccard

    o = t(spark, sf_dir, "orders")
    a = bottomk_build(
        o.filter(F.col("o_orderpriority") == "1-URGENT"), "o_custkey", k=64
    )
    b = bottomk_build(
        o.filter(F.col("o_orderpriority") == "2-HIGH"), "o_custkey", k=64
    )
    return bottomk_jaccard(a, b, k=64)


@q(
    "join_size_estimate",
    f"""
    WITH cells AS (
      SELECT r.i AS row, {_CMS_HASH.format(i="r.i", k="CAST(l_partkey AS VARCHAR)", w=4096)} AS col,
             COUNT(*) AS cnt
      FROM lineitem, (SELECT UNNEST([0, 1, 2]) AS i) r
      WHERE l_partkey IS NOT NULL
      GROUP BY 1, 2),
    ip AS (SELECT row, SUM(cnt * cnt) AS p FROM cells GROUP BY row),
    est AS (SELECT CAST(MIN(p) AS BIGINT) AS est_pairs FROM ip),
    ex AS (
      SELECT CAST(SUM(c * c) AS BIGINT) AS exact_pairs FROM (
        SELECT COUNT(*) AS c FROM lineitem
        WHERE l_partkey IS NOT NULL GROUP BY l_partkey))
    SELECT est_pairs, exact_pairs,
           CAST(FLOOR(est_pairs * 10000.0 / exact_pairs) AS BIGINT)
             AS ratio_bp
    FROM est, ex
    """,
)
def join_size_estimate(spark, sf_dir):
    """Self-join size estimation from a count-min sketch inner product
    (engine.extended.sketch.cms_inner_product): the number of candidate
    pairs a blocking key (here l_partkey) would explode into, answered
    from a 3×4096 cell table instead of a second corpus pass — the
    query-optimizer / dedup-blocking-audit primitive.  The sketch inner
    product upper-bounds the exact Σ count² (collisions only ADD), so
    ratio_bp ≥ 10000 always; both numbers ride the output so the audit
    shows its own error."""
    from engine.extended.sketch import cms_build, cms_inner_product

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
    sk = cms_build(li, "l_partkey", depth=3, width=4096)
    est = cms_inner_product(sk, sk)
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_pairs"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_pairs",
        "exact_pairs",
        F.floor(
            F.col("est_pairs") * F.lit(10000.0) / F.col("exact_pairs")
        ).cast("long").alias("ratio_bp"),
    )


@q(
    "ivf_index_incremental",
    _ivf_seeded_sql(train_where="vec_id % 10 <> 0"),
)
def ivf_index_incremental(spark, sf_dir):
    """Incremental IVF index maintenance: the coarse quantizer trains on
    the base corpus (vec_id % 10 != 0) ONCE; the held-out batch is added
    against the FIXED centroids (engine.extended.similarity.ivf_add_batch
    — one pure-expression pass over the batch, no retrain, no base
    rescan); the probe runs over the merged index.  The oracle rebuilds
    the whole thing with training restricted to the same base slice, so
    the query proves the incremental add lands every batch row in exactly
    the list a from-scratch assignment would — the FAISS train-once /
    add-forever contract, hash-checked.  Completes the incremental index
    family (minhash band index, line-fingerprint index, SemDeDup
    centroids)."""
    from engine.extended.similarity import (
        ivf_add_batch,
        ivf_build_seeded,
        ivf_topk_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    qrows = (
        emb.filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 7))
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding"), quantized_vec("embedding").alias("qq"))
        .collect()
    )
    if not qrows:
        return emb.select("vec_id", F.lit(None).cast("double").alias("sim")).limit(0)
    qv = [float(x) for x in qrows[0]["embedding"]]
    qq = [float(x) for x in qrows[0]["qq"]]
    assigned_base, cents = ivf_build_seeded(base, n_lists=8, iters=2, dim=len(qv))
    added = ivf_add_batch(batch, cents)
    merged = assigned_base.unionByName(added)
    return ivf_topk_seeded(merged, cents, qq, qv, k=10, nprobe=3)


@q(
    "ranking_auc_value",
    """
    WITH s AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(value * 1000 + 0.5) AS BIGINT),
                            -1000000000), 1000000000) + 1000000000 AS score,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS lab
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')),
    vt AS (
      SELECT score, SUM(lab) AS np, SUM(1 - lab) AS nn
      FROM s GROUP BY score),
    r AS (
      SELECT score, np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumneg
      FROM vt),
    agg AS (SELECT SUM(np * (2 * cumneg + nn)) AS s2,
                   SUM(np) AS p, SUM(nn) AS n FROM r)
    SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           CASE WHEN p > 0 AND n > 0 THEN
             CAST(FLOOR(CAST(s2 AS DOUBLE)
                  / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) END AS auc_micro
    FROM agg
    """,
)
def ranking_auc_value(spark, sf_dir):
    """ROC AUC of the event value as a purchase-vs-view discriminator
    (engine.ops.profile.ranking_auc) — the scorer evaluation read before
    trusting a quality column for selection.  Computed via the pairwise
    identity over the DISTINCT-score table (ties at exact half credit,
    integer arithmetic until one final division) with the cumulative
    running sum on the shared bit-length-bucket rank machinery — never a
    SinglePartition rank window over the corpus."""
    from engine.ops.profile import ranking_auc

    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    return ranking_auc(
        e.select("value", (F.col("event_type") == "purchase").alias("lab")),
        "value",
        "lab",
    )


@q(
    "gaps_and_islands",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    isl AS (
      SELECT user_id, d,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days),
    runs AS (
      SELECT user_id, anchor, COUNT(*) AS len_days
      FROM isl GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len_days) AS BIGINT) AS longest_streak,
           CAST(SUM(len_days) AS BIGINT) AS active_days
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def gaps_and_islands(spark, sf_dir):
    """Gaps-and-islands — consecutive-day activity streaks per user: the
    classic ``date - row_number`` anchor groups each user's distinct
    active days into maximal consecutive runs with ZERO self-joins (the
    naive formulation is a quadratic date self-join).  Two window-free
    aggregations ride the same user_id shuffle as the ranking window —
    one exchange end to end.  Engagement-streak / retention analysis over
    the events stream."""
    e = t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.expr("date_sub(d, CAST(row_number() OVER "
               "(PARTITION BY user_id ORDER BY d) AS INT))").alias("anchor"),
    )
    runs = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len_days")
    )
    return (
        runs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_streaks"),
            F.max("len_days").cast("long").alias("longest_streak"),
            F.sum("len_days").cast("long").alias("active_days"),
        )
        .orderBy("user_id")
    )


@q(
    "trimmed_mean_stats",
    """
    WITH v AS (
      SELECT event_type, event_id,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS mu
      FROM events WHERE value IS NOT NULL),
    ranked AS (
      SELECT event_type, mu,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY mu, event_id NULLS FIRST) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM v),
    kept AS (SELECT * FROM ranked WHERE rn > n // 10 AND rn <= n - n // 10)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(FLOOR(CAST(SUM(mu) AS DOUBLE) / COUNT(*)) AS BIGINT)
             AS trimmed_mean_mu,
           CAST(MIN(mu) AS BIGINT) AS lo_mu,
           CAST(MAX(mu) AS BIGINT) AS hi_mu
    FROM kept GROUP BY event_type ORDER BY event_type NULLS LAST
    """,
)
def trimmed_mean_stats(spark, sf_dir):
    """Rank-based 10% TRIMMED statistics per event type (drop, not clip —
    the clip sibling is ``winsorized_stats`` over lineitem prices): drop exactly the lowest and highest n//10 ROWS by a fully keyed
    rank (value micro-units, event_id tie-break — never a float
    percentile, whose interpolation diverges across engines per the
    determinism ledger), then report the trimmed mean in floored integer
    micro-units.  The drop-variant robust aggregate of the data-quality family
    (outlier-insensitive per-group centers at corpus scale); one
    event_type shuffle shared by both windows and the final aggregate."""
    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    v = e.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long").alias("mu"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("mu"), F.col("event_id").asc_nulls_first()
    )
    wn = Window.partitionBy("event_type")
    ranked = v.select(
        "event_type",
        "mu",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    kept = ranked.filter(
        (F.col("rn") > F.expr("n div 10"))
        & (F.col("rn") <= F.col("n") - F.expr("n div 10"))
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.floor(
                F.sum("mu").cast("double") / F.count(F.lit(1))
            ).cast("long").alias("trimmed_mean_mu"),
            F.min("mu").cast("long").alias("lo_mu"),
            F.max("mu").cast("long").alias("hi_mu"),
        )
        .orderBy(F.col("event_type").asc_nulls_last())
    )


@q(
    "ann_rank_quality",
    f"""
    WITH ivf AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY sim DESC NULLS LAST, vec_id) AS r
      FROM ({_ivf_seeded_sql()})),
    tru AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY sim DESC NULLS LAST, vec_id) AS r
      FROM ({_BRUTE_TOPK_SQL})),
    j AS (
      SELECT i.r AS ir, t.r AS tr
      FROM ivf i LEFT JOIN tru t ON i.vec_id = t.vec_id),
    d AS (
      SELECT SUM(CASE WHEN tr IS NULL THEN CAST(0 AS DOUBLE)
                      ELSE (11 - tr) / log2(ir + 1) END) AS dcg,
             SUM(CASE WHEN tr = 1 THEN CAST(1 AS DOUBLE) / ir END) AS mrr_raw,
             CAST(COUNT(tr) AS BIGINT) AS n_overlap
      FROM j),
    i AS (SELECT SUM((11 - r) / log2(r + 1)) AS idcg FROM tru)
    SELECT 10 AS k, n_overlap,
           ROUND(COALESCE(mrr_raw, CAST(0 AS DOUBLE)), 4) AS mrr,
           ROUND(dcg / idcg, 4) AS ndcg
    FROM d CROSS JOIN i
    """,
)
def ann_rank_quality(spark, sf_dir):
    """Graded ranking quality of the IVF index against brute-force truth:
    MRR (reciprocal rank of the TRUE nearest neighbor inside the ANN list;
    0 if missed) and nDCG@10 with graded relevance 11−truth_rank — the IR
    metrics that see ORDER quality where ann_recall_audit's set-overlap
    recall cannot (an index returning the right 10 docs reversed scores
    recall 100 but low nDCG).  Both rankings are the registry's own
    deterministic constructions; ranks come from 10-row windows, so the
    audit costs nothing beyond the index builds it grades.  The three
    embeddings scans in the final plan are the three inherent ROLES
    (quantized k-means build, IVF probe, raw brute-force scan — different
    column sets; the ann_recall_audit shape), not a missed reuse."""
    from engine.extended.similarity import (
        cosine_topk,
        ivf_build_seeded,
        ivf_topk_seeded,
        quantized_vec,
    )

    emb = t(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("embedding").isNotNull() & (F.col("vec_id") >= 7))
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("embedding"), quantized_vec("embedding").alias("qq"))
        .collect()
    )
    if not qrows:
        # oracle parity (review catch): the SQL twin's ungrouped aggregate
        # still emits ONE row on a query-less corpus — (10, 0, 0.0, NULL),
        # never zero rows (the ann_recall_audit precedent)
        return spark.createDataFrame(
            [(10, 0, 0.0, None)],
            "k int, n_overlap long, mrr double, ndcg double",
        )
    qv = [float(x) for x in qrows[0]["embedding"]]
    qq = [float(x) for x in qrows[0]["qq"]]
    assigned, cents = ivf_build_seeded(emb, n_lists=8, iters=2, dim=len(qv))
    rank_w = Window.orderBy(F.col("sim").desc_nulls_last(), F.col("vec_id"))
    ivf = (
        ivf_topk_seeded(assigned, cents, qq, qv, k=10, nprobe=3)
        .select("vec_id", F.row_number().over(rank_w).alias("ir"))
    )
    tru = cosine_topk(emb, qv, k=10).select(
        "vec_id", F.row_number().over(rank_w).alias("tr")
    )
    # full outer so idcg derives from the SAME tru evaluation (review
    # catch: a separate tru.agg() re-ran the whole brute-force scan);
    # truth-only rows carry a null ir, so their dcg term nulls out and
    # only idcg sees them — values identical to the two-pass form
    j = ivf.join(tru, "vec_id", "full_outer")
    d = j.agg(
        F.sum(
            F.when(F.col("tr").isNull(), F.lit(0.0)).otherwise(
                (F.lit(11) - F.col("tr")) / F.log2(F.col("ir") + 1)
            )
        ).alias("dcg"),
        F.sum(
            F.when(F.col("tr") == 1, F.lit(1.0) / F.col("ir"))
        ).alias("mrr_raw"),
        F.count(
            F.when(F.col("ir").isNotNull() & F.col("tr").isNotNull(), F.lit(1))
        ).cast("long").alias("n_overlap"),
        F.sum((F.lit(11) - F.col("tr")) / F.log2(F.col("tr") + 1)).alias(
            "idcg"
        ),
    )
    return d.select(
        F.lit(10).alias("k"),
        "n_overlap",
        F.round(F.coalesce("mrr_raw", F.lit(0.0)), 4).alias("mrr"),
        F.round(F.col("dcg") / F.col("idcg"), 4).alias("ndcg"),
    )


@q(
    "oov_rate_by_source",
    f"""
    WITH tk AS (
      SELECT source, UNNEST({_TOKS_SQL}) AS tok FROM documents),
    tokc AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok),
    vc AS (SELECT tok, SUM(c) AS cc FROM tokc GROUP BY tok),
    vocab AS (SELECT tok FROM vc ORDER BY cc DESC, tok LIMIT 500)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) * 1.0
                 / SUM(c), 4) AS oov_rate
    FROM tokc LEFT JOIN vocab v ON tokc.tok = v.tok
    GROUP BY source
    """,
)
def oov_rate_by_source(spark, sf_dir):
    """Vocabulary-coverage audit: per-source fraction of token occurrences
    outside the corpus's own top-500 vocabulary (count-desc, token
    tie-break) — the tokenizer-coverage / domain-shift signal read before
    fixing a vocab or adding a domain to the mixture.  ONE corpus scan:
    tokens collapse to (source, token) counts first, and BOTH the
    vocabulary (a further aggregate, TakeOrdered 500 rows) and the probe
    (broadcast left join) consume that same distinct-pair exchange — the
    first draft scanned documents twice (reuse_audit catch); the second
    shuffle carries distinct pairs, never token volume."""
    d = t(spark, sf_dir, "documents")
    from engine.extended.text import tokens

    tk = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    tokc = tk.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        tokc.groupBy("tok")
        .agg(F.sum("c").alias("cc"))
        .orderBy(F.col("cc").desc(), "tok")
        .limit(500)
        .select("tok", F.lit(1).alias("__v"))
    )
    joined = tokc.join(F.broadcast(vocab), "tok", "left")
    oov_c = F.sum(F.when(F.col("__v").isNull(), F.col("c")).otherwise(0))
    return joined.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        oov_c.cast("long").alias("n_oov"),
        F.round(oov_c / F.sum("c"), 4).alias("oov_rate"),
    )


@q(
    "ivf_balance_audit",
    _ivf_seeded_sql(
        final_select=""",
    sz AS (SELECT cid, COUNT(*) AS s FROM af GROUP BY cid)
    SELECT 8 AS n_lists,
           CAST(SUM(s) AS BIGINT) AS n_vectors,
           CAST(MIN(s) AS BIGINT) AS min_sz,
           CAST(MAX(s) AS BIGINT) AS max_sz,
           ROUND((8 * SUM(s * s)) / (SUM(s) * SUM(s) * 1.0), 4) AS imbalance
    FROM sz"""
    ),
)
def ivf_balance_audit(spark, sf_dir):
    """IVF list-balance audit: per-list population min/max and the
    imbalance factor ``n_lists·Σs²/(Σs)²`` (1.0 = perfectly even; the
    expected probe slowdown of an unbalanced index, since probe cost is
    proportional to the hit lists' sizes).  The ops metric a deployment
    watches to decide when to retrain the coarse quantizer.  Reads the
    SAME seeded k-means assignment the ann_ivf_topk family builds; the
    audit itself is one ≤n_lists-row aggregate."""
    from engine.extended.similarity import ivf_build_seeded

    emb = t(spark, sf_dir, "embeddings")
    dim_rows = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("d"))
        .limit(1)
        .collect()
    )
    if not dim_rows:
        # oracle parity (review catch): the SQL twin's ungrouped aggregate
        # over the empty list-size CTE still emits ONE all-NULL row
        return spark.createDataFrame(
            [(8, None, None, None, None)],
            "n_lists int, n_vectors long, min_sz long, max_sz long, imbalance double",
        )
    assigned, _ = ivf_build_seeded(
        emb, n_lists=8, iters=2, dim=int(dim_rows[0]["d"])
    )
    sz = assigned.groupBy("ivf_list").agg(F.count(F.lit(1)).alias("s"))
    return sz.agg(
        F.lit(8).alias("n_lists"),
        F.sum("s").cast("long").alias("n_vectors"),
        F.min("s").cast("long").alias("min_sz"),
        F.max("s").cast("long").alias("max_sz"),
        F.round(
            (F.lit(8) * F.sum(F.col("s") * F.col("s")))
            / (F.sum("s") * F.sum("s") * F.lit(1.0)),
            4,
        ).alias("imbalance"),
    )


_BATCH_QIDS = [3, 5, 7, 11]


@q(
    "ann_batch_topk",
    f"""
    WITH qs AS (
      SELECT vec_id AS qid, embedding AS qv,
             SQRT(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
      FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id IN ({", ".join(str(q_) for q_ in _BATCH_QIDS)})),
    scored AS (
      SELECT qs.qid, e.vec_id,
             CASE WHEN SQRT(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qs.qn > 0
             THEN ROUND(
               list_sum(list_transform(list_zip(e.embedding, qs.qv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) /
               (SQRT(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qs.qn),
               4)
             END AS sim
      FROM embeddings e CROSS JOIN qs
      WHERE e.embedding IS NOT NULL AND e.vec_id <> qs.qid)
    SELECT qid, vec_id, sim,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY sim DESC NULLS LAST, vec_id) AS rnk
      FROM scored)
    WHERE rnk <= 3
    """,
)
def ann_batch_topk(spark, sf_dir):
    """Batched multi-query brute-force ANN: exact top-3 per query for a
    4-query batch in ONE corpus scan (each vector scores against every
    query in the same projection — query batching is how a retrieval
    deployment amortizes the scan).  Per-query top-k uses the SALTED
    two-level pattern: rank within (qid, crc32-salt-of-64) buckets first —
    partition-parallel, never one partition per query — then rank the
    ≤3·64 survivors per query; exact because a global top-3 row is top-3
    in its salt bucket.  Rounded sims + id tie-break keep both levels
    engine-deterministic.  The two embeddings scans in the plan are
    different ROLES (reviewed, the cdc_apply_changelog class): the
    4-row query slice with its pushed vec_id IN filter vs the full
    corpus scan — nothing reusable."""
    from engine.extended.dedup import cosine

    emb = t(spark, sf_dir, "embeddings")
    qs = (
        emb.filter(
            F.col("embedding").isNotNull()
            & F.col("vec_id").isin(_BATCH_QIDS)
        )
        .select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        emb.filter(F.col("embedding").isNotNull())
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 4).alias("sim"),
        )
    )
    salted = scored.withColumn(
        "__salt", F.crc32(F.col("vec_id").cast("string")) % 64
    )
    w_local = Window.partitionBy("qid", "__salt").orderBy(
        F.col("sim").desc_nulls_last(), F.col("vec_id")
    )
    local = (
        salted.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= 3)
        .drop("__salt", "__lr")
    )
    w_global = Window.partitionBy("qid").orderBy(
        F.col("sim").desc_nulls_last(), F.col("vec_id")
    )
    return (
        local.withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= 3)
        .select("qid", "vec_id", "sim", F.col("rnk").cast("long").alias("rnk"))
    )


def _li_cos_sql(i: int, j: int, sub: int = 16) -> str:
    """cosine(doc slice j, query slice i) with the zero-norm CASE guard,
    COALESCEd to the −2.0 sentinel — generated per (i, j) so the oracle
    evaluates the IDENTICAL fixed-order expression the engine builds."""
    a = f"list_slice(e.embedding, {j * sub + 1}, {j * sub + sub})"
    b = f"list_slice(qv.q, {i * sub + 1}, {i * sub + sub})"
    na = f"SQRT(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    nb = f"SQRT(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    dot = (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    return (
        f"COALESCE(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END, "
        f"CAST(-2.0 AS DOUBLE))"
    )


@q(
    "late_interaction_topk",
    f"""
    WITH qv AS (SELECT embedding AS q FROM embeddings WHERE embedding IS NOT NULL AND LENGTH(embedding) = 64 AND vec_id = (SELECT MIN(vec_id) FROM embeddings WHERE embedding IS NOT NULL AND LENGTH(embedding) = 64 AND vec_id >= 5)),
    scored AS (
      SELECT e.vec_id,
             ROUND({" + ".join("GREATEST(" + ", ".join(_li_cos_sql(i, j) for j in range(4)) + ")" for i in range(4))}, 4) AS maxsim
      FROM embeddings e CROSS JOIN qv
      WHERE e.embedding IS NOT NULL AND LENGTH(e.embedding) = LENGTH(qv.q))
    SELECT vec_id, maxsim FROM scored
    ORDER BY maxsim DESC NULLS LAST, vec_id LIMIT 10
    """,
)
def late_interaction_topk_q(spark, sf_dir):
    """ColBERT-style late-interaction (MaxSim) retrieval
    (engine.extended.similarity.late_interaction_topk): the 64-dim vectors
    split into 4 subvector facets and score = Σ_i max_j cos(q_i, d_j) —
    each query facet matches its best document facet independently, the
    multi-vector scoring shape on single-vector storage.  Pure codegen
    (16 slice-cosines per row in ONE scan, zero-norm slices sink to the
    −2.0 sentinel), top-k via TakeOrderedAndProject.  The oracle's slice
    offsets are fixed at 16, so BOTH sides pick the first 64-dim query
    vector specifically (review catch: a hostile corpus whose min
    vec_id≥5 vector had an odd dim crashed the engine's slicing while
    the oracle ran) — no 64-dim vector → empty result on both sides."""
    from engine.extended.similarity import late_interaction_topk

    emb = t(spark, sf_dir, "embeddings")
    qv = _query_vec_rows(emb, 5, dim=64)
    if qv is None:
        return emb.select(
            "vec_id", F.lit(None).cast("double").alias("maxsim")
        ).limit(0)
    return late_interaction_topk(emb, qv, n_slices=4, k=10)
