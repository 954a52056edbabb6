"""Deduplication operators (SURVEY §2.3 J3/J4, §2.9 ST4).

The reference's correctness hinges on two dedup semantics:

1. **Deterministic keep-first per key (J4).**  pandas
   ``duplicated(keep='first')`` over a frame that was globally sorted by the
   source SQL (helpers/query_helper.py:30).  Spark must NOT use
   ``dropDuplicates`` here — row choice would be nondeterministic.  We use a
   ``row_number()`` window over the explicit tiebreak key, which is
   deterministic, partition-parallel, and needs only a hash exchange on the
   dedup key (no global sort).

2. **Cross-batch / cross-mode session dedup (J3/ST4).**  the reference keeps a
   growing ``processed_ids`` set (lib/pipeline_controller.py:74).  Batch form:
   broadcast anti-join against the accumulated key frame.  Streaming form:
   ``dropDuplicates`` with watermark-scoped state (engine.streaming).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["keep_first", "keep_best", "exact_dedup", "accumulate_keys"]


def keep_first(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per ``key_cols``: the first under ``order_cols``.

    Reference: sort by (ts, display_order, patron_record_address_type_id) then
    ``duplicated(keep='first')`` (lib/pipeline_controller.py:176-181).  The
    window needs only partition-local sort after a hash exchange on the key —
    at 100 TB this is one shuffle, and AQE splits skewed keys.

    NULLS LAST pinned on the ordering (Postgres/reference ASC semantics;
    Spark defaults NULLS FIRST): a row with an unknown ordering value must
    never win "first" over a known one (fuzz-found).
    """
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_best(
    df: DataFrame,
    key_cols: list[str],
    score_col: str,
    tie_cols: list[str],
    *,
    size_col: str | None = None,
) -> DataFrame:
    """Keep the HIGHEST-``score_col`` row per ``key_cols`` — survivor
    selection by quality, the curation-grade twin of :func:`keep_first`.

    Where keep-first preserves ingestion order (the reference's
    ``duplicated(keep='first')`` contract), a training-corpus dedup wants
    the BEST member of each duplicate cluster — longest cleanly-extracted
    variant, highest quality score — because mirrors and re-crawls differ
    in boilerplate even when their content key collides.  Determinism:
    score DESC NULLS LAST (an unknown score must never beat a known one),
    then ``tie_cols`` ASC NULLS LAST.

    ``size_col`` optionally emits the duplicate-cluster size on the
    surviving row (same window partition — no extra shuffle), so the
    output doubles as the dedup's audit record.

    Same scale shape as keep_first: one hash exchange on the key, then a
    partition-local sort; AQE splits skewed clusters.
    """
    order = [F.col(score_col).desc_nulls_last()] + [
        F.col(c).asc_nulls_last() for c in tie_cols
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = df.withColumn("__rn", F.row_number().over(w))
    if size_col:
        out = out.withColumn(
            size_col,
            F.count(F.lit(1)).over(Window.partitionBy(*key_cols)).cast("long"),
        )
    return out.filter(F.col("__rn") == 1).drop("__rn")


def exact_dedup(df: DataFrame, on_cols: list[str], keep_by: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal on ``on_cols``.

    With ``keep_by`` the choice is deterministic (keep-first ordered by
    ``keep_by``); without it, falls back to ``dropDuplicates`` (row choice
    unspecified — fine when the duplicates are truly identical rows).
    """
    if keep_by:
        return keep_first(df, on_cols, keep_by)
    return df.dropDuplicates(on_cols)


def accumulate_keys(seen: DataFrame | None, new_keys: DataFrame) -> DataFrame:
    """ST4/A4: fold a batch's keys into the session key set
    (``processed_ids.update``, lib/pipeline_controller.py:174,284).

    The result is lazy: a caller folding batch after batch checkpoints each
    result, as :class:`engine.pipeline.IncrementalRunner` does, so the key
    set stays one checkpoint instead of a union chain that grows with every
    batch."""
    if seen is None:
        return new_keys.distinct()
    return seen.unionByName(new_keys).distinct()
