"""The three incremental pipeline mode graphs + the batch-incremental runner
(SURVEY §3, §2.9).

Each mode is a pure function ``DataFrame → DataFrame`` (plus bounded dim
inputs), so the same graph runs under the batch-incremental runner here, a
Structured Streaming ``foreachBatch``, or a plain one-shot batch.  All
orchestration state (watermark, session dedup keys) lives outside the graphs.

Graph ↔ reference mapping (citations into /root/reference):

- :func:`new_patrons_graph`      — lib/pipeline_controller.py:135-246
- :func:`updated_patrons_graph`  — same chain + memo-cache probe (:199-227)
- :func:`deleted_patrons_graph`  — lib/pipeline_controller.py:248-309
- :class:`IncrementalRunner`     — the micro-batch loop (:84-133) with
  watermark advance (ST2), completion detection (ST3), cross-batch dedup
  (ST4) and the stall guard (ST5)
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.ops import relational as R
from engine.ops.dedup import accumulate_keys, keep_first
from engine.ops.geocode import ADDR_COLS, with_geoid
from engine.ops.hashing import address_key, normalize_id, obfuscate_col
from engine.ops.address import zip5
from engine.schemas import SINK_RECORD


class PipelineMode(Enum):
    """helpers/pipeline_mode.py:4-10."""

    NEW_PATRONS = "new"
    UPDATED_PATRONS = "updated"
    DELETED_PATRONS = "deleted"


#: ordering / watermark column per mode (helpers/query_helper.py:63-69).
MODE_ORDER_COL = {
    PipelineMode.NEW_PATRONS: "creation_timestamp",
    PipelineMode.UPDATED_PATRONS: "last_updated_timestamp",
    PipelineMode.DELETED_PATRONS: "deletion_date_et",
}

MODE_STATE_KEY = {
    PipelineMode.NEW_PATRONS: "creation_dt",
    PipelineMode.UPDATED_PATRONS: "update_dt",
    PipelineMode.DELETED_PATRONS: "deletion_date",
}

#: J4 tiebreak key (helpers/query_helper.py:30): the source pre-sorts by
#: (ts, display_order, patron_record_address_type_id); engine keeps the
#: explicit per-key ordering columns instead of a global sort.
DEDUP_ORDER_COLS = ["display_order", "patron_record_address_type_id"]


class PipelineStallError(RuntimeError):
    """ST5: a full batch whose ordering values are all identical — the
    watermark cannot advance (lib/pipeline_controller.py:150-162)."""


@dataclass
class PipelineConfig:
    salt: str = "dev-salt"
    hash_mode: str = "sha2"  # 'bcrypt' for reference-identical hashes
    batch_size: int = 10_000
    deleted_batch_size: int = 500_000
    max_batches: int | None = None


def _ensure_sierra_columns(batch: DataFrame) -> DataFrame:
    """Null-fill sierra columns a partial source omits (same tolerance as
    ``_finalize`` on the way out): the graphs' contract is the full
    SIERRA_PATRONS shape, but an incremental source that projects only
    (id, ordering ts) must still flow — missing demographics are simply
    null, exactly like the reference's all-null patron row."""
    from engine.schemas import SIERRA_PATRONS

    missing = {
        f.name: F.lit(None).cast(f.dataType)
        for f in SIERRA_PATRONS.fields
        if f.name not in batch.columns
    }
    return batch.withColumns(missing) if missing else batch


def _prep_batch(batch: DataFrame, seen: DataFrame | None, cfg: PipelineConfig) -> DataFrame:
    """Shared head of all modes: schema tolerance → id normalize (F12) →
    session anti-join (J3) → keep-first dedup (J4: by the address tiebreak
    cols when present, else by creation time, which
    :func:`_ensure_sierra_columns` always supplies)."""
    batch = _ensure_sierra_columns(batch)
    out = batch.withColumn("patron_id_plaintext", normalize_id("patron_id_plaintext"))
    if seen is not None:
        out = R.anti_join(out, seen, on="patron_id_plaintext")
    if set(DEDUP_ORDER_COLS) <= set(out.columns):
        out = keep_first(out, ["patron_id_plaintext"], DEDUP_ORDER_COLS).drop(
            *DEDUP_ORDER_COLS
        )
    else:
        out = keep_first(
            out, ["patron_id_plaintext"], [MODE_ORDER_COL[PipelineMode.NEW_PATRONS]]
        )
    return out


def _finalize(df: DataFrame) -> DataFrame:
    """Final projection + casts into the 11-field sink shape
    (lib/pipeline_controller.py:236-240, ``_DTYPE_MAP``)."""
    cols = []
    for f_ in SINK_RECORD.fields:
        if f_.name in df.columns:
            cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
        else:
            cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    return df.select(*cols)


def new_patrons_graph(
    batch: DataFrame,
    cfg: PipelineConfig,
    *,
    seen: DataFrame | None = None,
    census=None,
    geosupport=None,
) -> DataFrame:
    """NEW_PATRONS: every patron is unknown → hash, geocode, project.

    Chain (reference steps 4-12, SURVEY §3 entry point 1): prep → address-key
    concat (F1) + keyed hash (F2) → geocode cascade (S5/S6/J9) → overlay (J7)
    → zip5 (F5) + creation date (F6) → sink projection.
    """
    d = _prep_batch(batch, seen, cfg)
    d = d.withColumn(
        "address_hash",
        obfuscate_col(
            address_key("patron_id_plaintext", ADDR_COLS), cfg.salt, mode=cfg.hash_mode
        ),
    )
    d = d.withColumn(
        "patron_id", obfuscate_col("patron_id_plaintext", cfg.salt, mode=cfg.hash_mode)
    )
    # NEW mode: nothing cached — geocode every address (reference :203-208)
    if census is not None:
        d = with_geoid(d, census, geosupport)
    d = (
        d.withColumn("postal_code", zip5("postal_code"))
        .withColumn(
            "creation_date_et",
            F.to_date(F.from_utc_timestamp(F.col("creation_timestamp"), "America/New_York")),
        )
        .withColumn(
            "initial_patron_home_library_code", F.col("patron_home_library_code")
        )
    )
    return _finalize(d)


def updated_patrons_graph(
    batch: DataFrame,
    patron_info: DataFrame,
    cfg: PipelineConfig,
    *,
    seen: DataFrame | None = None,
    census=None,
    geosupport=None,
) -> DataFrame:
    """UPDATED_PATRONS: memo-cache probe first (J5), geocode only misses,
    backfill initial_patron_home_library_code from the warehouse (J8).

    Reference: lib/pipeline_controller.py:199-227,311-331,413-435.
    """
    d = _prep_batch(batch, seen, cfg)
    d = d.withColumn(
        "address_hash",
        obfuscate_col(
            address_key("patron_id_plaintext", ADDR_COLS), cfg.salt, mode=cfg.hash_mode
        ),
    )
    # J5: probe the warehouse memo-cache by address_hash (broadcast: the cache
    # slice is bounded by the batch's key set — ship keys, not the table)
    cache = patron_info.select(
        "address_hash",
        F.col("patron_id").alias("cached_patron_id"),
        F.col("geoid").alias("cached_geoid"),
        F.col("initial_patron_home_library_code").alias("cached_iphlc"),
    )
    d = R.left_join_broadcast(d, cache, on="address_hash")

    # misses: hash the id and run the geocode cascade only for unknown addresses
    d = d.withColumn(
        "patron_id",
        F.coalesce(
            F.col("cached_patron_id"),
            obfuscate_col("patron_id_plaintext", cfg.salt, mode=cfg.hash_mode),
        ),
    )
    if census is not None:
        d = with_geoid(d, census, geosupport, only=F.col("cached_patron_id").isNull())
        d = d.withColumn("geoid", F.coalesce("cached_geoid", "geoid"))
    else:
        d = d.withColumn("geoid", F.col("cached_geoid"))

    # J8: initial home library code — cache value, else warehouse by patron_id,
    # else current home library code (reference fallback logs a warning)
    iphlc_dim = patron_info.select(
        "patron_id", F.col("initial_patron_home_library_code").alias("wh_iphlc")
    )
    d = R.left_join_broadcast(d, iphlc_dim, on="patron_id")
    d = d.withColumn(
        "initial_patron_home_library_code",
        F.coalesce("cached_iphlc", "wh_iphlc", "patron_home_library_code"),
    ).drop("cached_patron_id", "cached_geoid", "cached_iphlc", "wh_iphlc")
    d = d.withColumn("postal_code", zip5("postal_code")).withColumn(
        "creation_date_et",
        F.to_date(F.from_utc_timestamp(F.col("creation_timestamp"), "America/New_York")),
    )
    return _finalize(d)


def deleted_patrons_graph(
    batch: DataFrame,
    patron_info: DataFrame,
    cfg: PipelineConfig,
    *,
    seen: DataFrame | None = None,
) -> DataFrame:
    """DELETED_PATRONS: hash ids, enrich with the full warehouse record (J6),
    carry the deletion date (lib/pipeline_controller.py:248-309)."""
    d = batch.withColumn("patron_id_plaintext", normalize_id("patron_id_plaintext"))
    if seen is not None:
        d = R.anti_join(d, seen, on="patron_id_plaintext")
    d = d.dropDuplicates(["patron_id_plaintext"])
    d = d.withColumn(
        "patron_id", obfuscate_col("patron_id_plaintext", cfg.salt, mode=cfg.hash_mode)
    )
    # the warehouse record must not shadow the stream's deletion date / phlc
    wh = patron_info.drop("patron_home_library_code", "deletion_date_et").withColumnRenamed(
        "circ_active_date_et", "wh_circ_active_date_et"
    )
    d = R.left_join_broadcast(d, wh, on="patron_id")
    d = d.withColumn("circ_active_date_et", F.col("wh_circ_active_date_et"))
    return _finalize(d)


# ---------------------------------------------------------------------------
# Batch-incremental runner (ST1-ST5)
# ---------------------------------------------------------------------------


@dataclass
class RunStats:
    batches: int = 0
    rows_in: int = 0
    rows_out: int = 0
    last_watermark: object = None


class IncrementalRunner:
    """The reference's micro-batch loop (lib/pipeline_controller.py:84-133) as
    an ``AvailableNow``-style driver over any ordered source DataFrame.

    Per batch: keyset page (O1) → graph → sink → watermark advance (ST2) via
    the *pre-dedup* batch max, persisted through ``state_store`` (S4).
    Restart semantics are the reference's: the next run re-reads rows equal to
    the stored watermark (inclusive ``>=``), and the session key set (ST4)
    makes the re-emissions no-ops — at-least-once upstream, idempotent
    downstream.

    The session key set ``seen`` is one checkpointed frame: each batch folds
    its keys into it with :func:`engine.ops.dedup.accumulate_keys` and
    checkpoints the result, so its plan is one scan whatever the number of
    batches, and no lineage of earlier batches is replayed.  The fold itself
    still reads every key seen so far (O(keys seen) per batch).
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        state_store,
        *,
        sink=None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.state_store = state_store
        self.sink = sink
        self.seen: DataFrame | None = None

    def run_mode(
        self,
        source: DataFrame,
        mode: PipelineMode,
        graph,
        *,
        now=None,
    ) -> RunStats:
        order_col = MODE_ORDER_COL[mode]
        state_key = MODE_STATE_KEY[mode]
        limit = (
            self.cfg.deleted_batch_size
            if mode is PipelineMode.DELETED_PATRONS
            else self.cfg.batch_size
        )
        stats = RunStats()
        while True:
            state = self.state_store.get()
            start = state[state_key]
            scan = R.range_scan(
                source, order_col, start, now or F.current_timestamp()
            )
            batch = R.keyset_page(scan, [order_col], limit)
            batch = batch.localCheckpoint(eager=True)  # pin: one scan per batch
            page = batch.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(order_col).alias("mn"),
                F.max(order_col).alias("mx"),
            ).collect()[0]
            n, mn, mx = page["n"], page["mn"], page["mx"]
            if n == 0:
                break
            # ST5 stall guard: full batch, watermark cannot advance
            if n == limit and mn == mx:
                raise PipelineStallError(
                    f"{mode}: batch of {n} rows all at {mn!r}; raise batch_size"
                )
            out = graph(batch, seen=self.seen)
            if self.sink is not None:
                emitted = self.sink(out, stats.batches)
            else:
                emitted = out.count()
            # the output's plan holds the previous key set: drop it, so once
            # the fold replaces that set only one key-set checkpoint is live
            del out
            # ST4: fold this batch's keys into the session key set, held as
            # one checkpoint: the next anti-join broadcasts a single scan
            self.seen = accumulate_keys(
                self.seen, batch.select("patron_id_plaintext")
            ).localCheckpoint(eager=True)
            # ST2: advance watermark to the pre-dedup batch max
            stats.last_watermark = mx
            state[state_key] = str(mx)
            self.state_store.set(state)
            stats.batches += 1
            stats.rows_in += n
            stats.rows_out += emitted
            if n < limit:  # ST3: completion
                break
            if self.cfg.max_batches and stats.batches >= self.cfg.max_batches:
                break
        return stats
