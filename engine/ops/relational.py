"""Relational core: projections, filters, joins, aggregates, sorts.

Each function re-expresses one operator row of SURVEY.md §2 (citations into
/root/reference) as a declarative DataFrame transformation, so Catalyst gets
the whole plan: filters and projections reach the parquet/JDBC scan, small
join sides are broadcast explicitly, and nothing forces a driver-side
materialization.

Scale notes (100 TB design point):

- every join helper takes ``small_side_broadcast`` — the reference's joins all
  have one bounded side (a micro-batch or a keyed dim slice), which at cluster
  scale means broadcast-hash, never sort-merge;
- ``keyset_page`` keeps the incremental-scan contract (ORDER BY ts LIMIT n) as
  a Catalyst ``TakeOrderedAndProject`` — no global sort materialization;
- nothing here calls ``collect()`` except the two scalar guards (A1) that the
  reference defines as driver-side aborts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "ordered_pairs",
    "normalize_code_col",
    "range_scan",
    "in_list_filter",
    "left_join_broadcast",
    "anti_join",
    "semi_join",
    "overlay_join",
    "coalesce_fill_join",
    "keyset_page",
    "min_max",
    "success_rate",
    "missing_key_audit",
]


# -- P2: CASE WHEN null-normalization (helpers/query_helper.py:8-10) ---------
def normalize_code_col(col: Column | str, *, none_token: str = "none") -> Column:
    """Blank-or-'none' codes become NULL; everything else is trimmed.

    Reference SQL: ``CASE WHEN LENGTH(TRIM(x))=0 OR TRIM(x)='none' THEN NULL
    ELSE TRIM(x) END`` (helpers/query_helper.py:8-10).
    """
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when((F.length(t) == 0) | (t == none_token), F.lit(None)).otherwise(t)


# -- P5 + S1/S2: half-open range scan with non-null guard --------------------
def range_scan(
    df: DataFrame,
    ts_col: str,
    start,
    end,
    *,
    extra_predicate: Column | None = None,
) -> DataFrame:
    """``ts >= start AND ts < end AND ts IS NOT NULL`` (+ optional predicate).

    Mirrors the reference's incremental scan WHERE clause
    (helpers/query_helper.py:20-23,35-38).  Expressed as plain filters so the
    parquet/JDBC source receives them as pushed predicates.
    """
    c = F.col(ts_col)
    cond = c.isNotNull() & (c >= F.lit(start)) & (c < F.lit(end))
    if extra_predicate is not None:
        cond = cond & extra_predicate
    return df.filter(cond)


# -- P6/S3: IN-list membership (semi-join shipped as literals) ---------------
def in_list_filter(df: DataFrame, col: str, values) -> DataFrame:
    """Reference ships key sets as SQL ``IN (...)`` literals
    (lib/pipeline_controller.py:317-319).  ``isin`` pushes down to the source
    the same way; for unbounded key sets use :func:`semi_join` instead.
    """
    return df.filter(F.col(col).isin(list(values)))


# -- J1/J2/J5/J6: left equi-joins with a bounded side ------------------------
def left_join_broadcast(
    left: DataFrame, right: DataFrame, on, *, broadcast_right: bool = True
) -> DataFrame:
    """Left join where the right side is a bounded dim/cache slice
    (J1/J2 in SQL, J5/J6 driver-side merges in the reference:
    lib/pipeline_controller.py:329-330,348-349).

    ``broadcast_right=True`` is correct whenever the right side is ≤ the
    micro-batch key set (always true in the reference's pattern) — at 100 TB
    this is the difference between a map-side join and a full shuffle.
    """
    if broadcast_right:
        right = F.broadcast(right)
    return left.join(right, on=on, how="left")


# -- J3: anti-join vs. accumulated key state ---------------------------------
def anti_join(df: DataFrame, seen: DataFrame, on) -> DataFrame:
    """Drop rows whose key already appeared (reference `~isin(processed_ids)`,
    lib/pipeline_controller.py:164-168).  ``left_anti`` keeps the probe side
    streaming-friendly; broadcast the (bounded) seen-set."""
    return df.join(F.broadcast(seen), on=on, how="left_anti")


def semi_join(df: DataFrame, keys: DataFrame, on) -> DataFrame:
    """Membership filter with an unbounded key set (scales past IN-lists)."""
    return df.join(F.broadcast(keys), on=on, how="left_semi")


# -- J7/J9: overlay join (DataFrame.update / Series.update equivalents) ------
def overlay_join(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    overlay_cols: list[str],
    *,
    update_prefix: str = "__upd_",
) -> DataFrame:
    """Overwrite ``overlay_cols`` of matching rows with values from ``updates``,
    keeping the base value where the update is null or the key is absent.

    The reference does this positionally with ``DataFrame.update``
    (lib/pipeline_controller.py:217-218) and ``Series.update`` for geocode
    retries (:390,:406); the declarative form is a broadcast left join +
    per-column ``coalesce(update, base)``.
    """
    renamed = updates.select(
        F.col(key), *[F.col(c).alias(update_prefix + c) for c in overlay_cols]
    )
    out = base.join(F.broadcast(renamed), on=key, how="left")
    for c in overlay_cols:
        out = out.withColumn(c, F.coalesce(F.col(update_prefix + c), F.col(c)))
    return out.drop(*[update_prefix + c for c in overlay_cols])


# -- J8: small-dim fill with fallback ----------------------------------------
def coalesce_fill_join(
    base: DataFrame,
    dim: DataFrame,
    key: str,
    fill_col: str,
    fallback_col: str,
    *,
    out_col: str | None = None,
) -> DataFrame:
    """Fill ``fill_col`` from a keyed dim; fall back to ``fallback_col``.

    Mirrors the reference's initial-home-library-code dict-map join with
    missing-key fallback (lib/pipeline_controller.py:222-227,413-435).
    """
    out_col = out_col or fill_col
    dim_slice = dim.select(F.col(key), F.col(fill_col).alias("__dim_fill"))
    out = base.join(F.broadcast(dim_slice), on=key, how="left")
    return out.withColumn(out_col, F.coalesce(F.col("__dim_fill"), F.col(fallback_col))).drop(
        "__dim_fill"
    )


# -- O1/ST1: keyset pagination unit ------------------------------------------
def keyset_page(df: DataFrame, order_cols: list[str], limit: int) -> DataFrame:
    """``ORDER BY ... LIMIT n`` — the reference's micro-batch unit
    (helpers/query_helper.py:24-25,39-40).  Catalyst executes this as
    ``TakeOrderedAndProject`` (per-partition top-k + merge), never a global
    sort, so it scales to arbitrarily large scans.

    NULLS LAST pinned explicitly: the reference's source is Postgres, whose
    ASC default is NULLS LAST, while Spark's is NULLS FIRST — on a nullable
    ordering column the page contents would silently differ (fuzz-found)."""
    return df.orderBy(*[F.col(c).asc_nulls_last() for c in order_cols]).limit(limit)


# -- A1/ST5: min/max stall guard ---------------------------------------------
def min_max(df: DataFrame, col: str) -> tuple:
    """Single-pass min+max (reference computes both to detect a batch whose
    watermark cannot advance, lib/pipeline_controller.py:150-162)."""
    row = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).collect()[0]
    return row["mn"], row["mx"]


# -- A5: geocode success rate -------------------------------------------------
def success_rate(df: DataFrame, col: str) -> float:
    """share of non-null ``col`` (lib/pipeline_controller.py:407-409)."""
    row = df.agg(
        F.count(F.when(F.col(col).isNotNull(), 1)).alias("ok"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (row["ok"] / row["n"]) if row["n"] else 0.0


# -- J8 audit: keys missing from the dim (reference logs a warning listing
# -- them, lib/pipeline_controller.py:427-435) ------------------------------
def missing_key_audit(df: DataFrame, dim: DataFrame, key: str, *, sample: int = 20):
    """Keys present in ``df`` but absent from ``dim``: (count, sample list).

    The reference warns with the full id list; at scale the full list is a
    DataFrame — this returns the count plus a bounded sample for the log
    line, leaving the anti-join result reusable by callers that need it all.
    """
    missing = df.select(key).distinct().join(
        F.broadcast(dim.select(key).distinct()), on=key, how="left_anti"
    )
    count = missing.count()
    sample_vals = [r[key] for r in missing.limit(sample).collect()] if count else []
    return count, sample_vals


def ordered_pairs(arr: Column, a_name: str = "a", b_name: str = "b") -> Column:
    """All strictly-ordered (x < y) element pairs of an array, as an array
    of 2-field structs — the in-array pair generator shared by the
    split-leakage audit and the co-occurrence edge builder (one extracted
    helper instead of two hand-synced copies of the nested
    transform/filter idiom).  O(len²) per row: for BOUNDED arrays only
    (split sets, order line counts) — never explode an unbounded list
    through this."""
    return F.flatten(
        F.transform(
            arr,
            lambda x: F.filter(
                F.transform(
                    arr, lambda y: F.struct(x.alias(a_name), y.alias(b_name))
                ),
                lambda p: p[a_name] < p[b_name],
            ),
        )
    )
