"""Incremental aggregate-view maintenance over CDC state — the "ETL to
dashboard" layer the reference's users build by hand downstream of Kudu
(full re-aggregation per refresh). Here the rollup is maintained by DELTAS:

    delta(group) = contrib(post-merge rows of the batch's keys)
                 − contrib(pre-merge rows of the batch's keys)
    rollup(group) += delta(group)

so refresh cost tracks the micro-batch, never the table. Handles the three
classic subtleties of incremental view maintenance:

- a key MOVING groups (dept change) — its old group gets a negative
  contribution from the pre-merge row, the new group a positive one;
- soft deletes — ``delete_state='1'`` rows contribute nothing, so a delete
  subtracts the row's prior contribution and adds nothing back;
- resurrection / partial updates — the post-merge row carries the full
  coalesced current values, so contributions are always whole-row.

Only invertible aggregates (count, sum — and anything derived from them:
avg, ratios) can be maintained by deltas; for min/max this module provides
``maintain_minmax`` / ``sync_with_minmax`` instead — touched-group
re-aggregation, the honest cost floor for non-invertible aggregates.
Sums accumulate in DECIMAL so incremental and from-scratch
aggregation agree bit-for-bit (float addition is not associative; decimal
addition is) — the ``cdc_dept_rollup`` query hash-checks exactly that
equivalence against a from-scratch DuckDB fold.

ONE PROTOCOL, two steps around the base merge, shared by
``cdc.sync_batch`` and ``sync_with_rollup``:

1. ``pre_merge_delta`` — before the merge, pin ``pre`` (the state rows of
   the batch's buckets) and derive the delta with the one formula
   ``rollup_delta(pre, merge_upserts(pre, batch))``: the post-merge rows
   are computable without touching disk. Whole buckets are exact, because
   a row the batch does not touch appears identically in ``pre`` and
   ``post`` and cancels (DECIMAL, so bit-exact).
2. ``post_merge_apply`` — after the merge, ``maintain_rollup`` the delta,
   then ``clear_pending``.

With an ``epoch`` (Structured Streaming's ``foreachBatch`` batch id) the
view is exactly-once under checkpoint replay:

- **Write-ahead pending delta.** Step 1 persists the delta under
  ``{view}__pending/epoch={N}`` with an atomic directory rename, and a
  replayed epoch reuses the stored delta instead of recomputing it (after
  a crash past the base merge, ``pre`` would already hold the merged rows
  and the recomputed delta would be zero).
- **Per-group epoch stamp.** Each view row carries ``last_epoch``; an
  apply skips any group whose stored epoch is already >= the incoming
  one. Because a StateStore write commits the whole view at once and the
  epoch check is per GROUP, a crash mid-apply replays cleanly: a view
  that committed skips every group, one that did not gets the delta —
  no double counting, no loss.

``epoch=None`` (ad-hoc batch backfills) runs the same order and formula
without the pending write and without the guard: at-most-once on a crash
between the two writes, and the caller owns re-derivation (one groupBy
over the base table).

Scale shape: contributions are two hash aggs over the batch's buckets
(pinned once, before the merge), the delta is group-keyed
(tiny — its durable write is one small parquet file), and the rollup
update reads/rewrites only the delta's groups' buckets (partition-pruned).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import DELETE_STATE
from .merge import StateStore, merge_upserts, upsert_many

# Exact accumulation type for the maintained sum (DECIMAL addition is
# associative, so incremental == from-scratch regardless of batch split).
_SUM_DEC = "decimal(22,2)"


def rollup_schema(group_field: T.StructField) -> T.StructType:
    """Schema of the maintained view: (group, n_alive, sum_dec, last_epoch).

    ``last_epoch`` is the replay-idempotency stamp (highest epoch applied
    to the group; null when maintained without epochs) — readers project
    it away."""
    return T.StructType(
        [
            group_field,
            T.StructField("n_alive", T.LongType(), True),
            T.StructField("sum_dec", T.DecimalType(22, 2), True),
            T.StructField("last_epoch", T.LongType(), True),
        ]
    )


def _contrib(rows: DataFrame, group_col: str, sum_col: str, sign: int) -> DataFrame:
    """Signed (count, sum) contribution of alive rows, per group.

    The sum is coalesced to 0: a group whose only rows carry a null
    ``sum_col`` must contribute d_sum=0, not NULL — a NULL delta would
    propagate through maintain_rollup's addition and clobber the group's
    accumulated sum."""
    alive = rows.filter(
        (F.col(DELETE_STATE).isNull() | (F.col(DELETE_STATE) != "1"))
        & F.col(group_col).isNotNull()
    )
    return alive.groupBy(group_col).agg(
        (F.lit(sign) * F.count(F.lit(1))).alias("d_n"),
        (
            F.lit(sign)
            * F.coalesce(
                F.sum(F.col(sum_col).cast(_SUM_DEC)), F.lit(0).cast(_SUM_DEC)
            )
        )
        .cast(_SUM_DEC)
        .alias("d_sum"),
    )


def rollup_delta(
    pre: DataFrame, post: DataFrame, group_col: str, sum_col: str
) -> DataFrame:
    """Per-group (d_n, d_sum) between the pre- and post-merge state rows
    of the batch's keys. Extra rows are harmless when they appear
    identically on both sides (they cancel), so whole buckets will do."""
    d = _contrib(post, group_col, sum_col, +1).unionByName(
        _contrib(pre, group_col, sum_col, -1)
    )
    return d.groupBy(group_col).agg(
        F.sum("d_n").alias("d_n"),
        F.sum("d_sum").cast(_SUM_DEC).alias("d_sum"),
    )


# -- write-ahead pending delta (durable across a crash between the base
#    merge and the rollup apply) --------------------------------------------


def _pending_dir(rollup: StateStore) -> str:
    return rollup.path.rstrip("/") + "__pending"


def pending_path(rollup: StateStore, epoch: int) -> str:
    return os.path.join(_pending_dir(rollup), f"epoch={epoch}")


def write_pending(delta: DataFrame, rollup: StateStore, epoch: int) -> None:
    """Durably stage the epoch's delta BEFORE the base merge. The write
    lands in a temp dir and is published with one atomic directory rename
    (on HDFS/object stores this becomes FileSystem.rename / a commit
    marker)."""
    tmp = pending_path(rollup, epoch) + ".__tmp__"
    shutil.rmtree(tmp, ignore_errors=True)
    delta.write.mode("overwrite").parquet(tmp)
    final = pending_path(rollup, epoch)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def read_pending(
    spark: SparkSession, rollup: StateStore, epoch: int, group_field: T.StructField
) -> DataFrame | None:
    """The stored delta for ``epoch``, or None if absent/incomplete."""
    p = pending_path(rollup, epoch)
    if not os.path.isdir(p) or not os.path.isfile(os.path.join(p, "_SUCCESS")):
        return None
    schema = T.StructType(
        [
            group_field,
            T.StructField("d_n", T.LongType(), True),
            T.StructField("d_sum", T.DecimalType(22, 2), True),
        ]
    )
    return spark.read.schema(schema).parquet(p)


def clear_pending(rollup: StateStore, epoch: int) -> None:
    """Drop the applied epoch's delta plus any OLDER leftovers (an epoch
    below the current one has been fully committed — otherwise the
    checkpoint would replay it, not its successor)."""
    root = _pending_dir(rollup)
    if not os.path.isdir(root):
        return
    for entry in os.listdir(root):
        try:
            e = int(entry.split("=", 1)[1].removesuffix(".__tmp__"))
        except (IndexError, ValueError):
            continue
        if e <= epoch:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)


def maintain_rollup(
    spark: SparkSession,
    rollup: StateStore,
    delta: DataFrame,
    group_col: str,
    epoch: int | None = None,
) -> None:
    """Apply a delta to the maintained view: rollup[group] += delta.

    Only the delta's groups' BUCKETS are read and rewritten (the delta is
    group-keyed and tiny, so ``buckets_of`` is one small job; untouched
    groups never move). With ``epoch`` set, groups already
    stamped at >= epoch keep their stored values — the per-group half of
    the exactly-once protocol described in the module docstring. Zero-alive
    groups keep their row (n_alive=0) as an audit trail — readers filter
    ``n_alive > 0`` for the live view.
    """
    delta = delta.persist()
    try:
        cur = rollup.read_buckets(rollup.buckets_of(delta)).select(
            F.col(group_col),
            F.col("n_alive").alias("_cur_n"),
            F.col("sum_dec").alias("_cur_sum"),
            F.col("last_epoch").alias("_cur_epoch"),
        )
        applied = (
            F.lit(True)
            if epoch is None
            else F.col("_cur_epoch").isNull() | (F.col("_cur_epoch") < F.lit(epoch))
        )
        updated = delta.join(cur, group_col, "left").select(
            F.col(group_col),
            F.when(
                applied, F.coalesce(F.col("_cur_n"), F.lit(0)) + F.col("d_n")
            )
            .otherwise(F.col("_cur_n"))
            .alias("n_alive"),
            F.when(
                applied,
                (
                    F.coalesce(F.col("_cur_sum"), F.lit(0).cast(_SUM_DEC))
                    + F.col("d_sum")
                ).cast(_SUM_DEC),
            )
            .otherwise(F.col("_cur_sum"))
            .cast(_SUM_DEC)
            .alias("sum_dec"),
            (
                F.lit(None).cast("long")
                if epoch is None
                else F.when(applied, F.lit(epoch)).otherwise(F.col("_cur_epoch"))
            ).alias("last_epoch"),
        )
        rollup.upsert_batch(updated)
    finally:
        delta.unpersist()


def pre_merge_delta(
    spark: SparkSession,
    state: StateStore,
    batch: DataFrame,
    buckets: list[int],
    rollup: StateStore,
    group_col: str,
    sum_col: str,
    epoch: int | None = None,
) -> DataFrame | None:
    """Step 1 of the protocol (module docstring), run BEFORE ``batch`` is
    merged into ``state``: the view's delta for the batch, or None when
    the batch has no rows (``buckets``, its buckets of ``state``, is
    empty) and no pending delta is stored. With ``epoch`` a stored
    pending delta is reused, and a new one is written ahead and returned
    as read back from disk."""
    group_field = next(f for f in rollup.schema.fields if f.name == group_col)
    if epoch is not None:
        stored = read_pending(spark, rollup, epoch, group_field)
        if stored is not None:
            return stored
    if not buckets:
        return None
    # localCheckpoint PINS the pre-merge rows: the merge rewrites the
    # buckets in place, so a lazy `pre` would re-read the post-merge data
    # when the delta finally evaluates.
    pre = state.read_buckets(buckets).localCheckpoint()
    delta = rollup_delta(
        pre, merge_upserts(pre, batch, state.key_cols), group_col, sum_col
    )
    if epoch is None:
        return delta
    write_pending(delta, rollup, epoch)
    return read_pending(spark, rollup, epoch, group_field)


def post_merge_apply(
    spark: SparkSession,
    rollup: StateStore,
    delta: DataFrame | None,
    group_col: str,
    epoch: int | None = None,
) -> None:
    """Step 2 of the protocol, run AFTER the base merge: apply
    ``pre_merge_delta``'s result, then drop the epoch's pending delta."""
    if delta is None:
        return
    maintain_rollup(spark, rollup, delta, group_col, epoch=epoch)
    if epoch is not None:
        clear_pending(rollup, epoch)


def sync_with_rollup(
    spark: SparkSession,
    state: StateStore,
    typed_batch: DataFrame,
    rollup: StateStore,
    group_col: str,
    sum_col: str,
    epoch: int | None = None,
) -> None:
    """One micro-batch: MERGE the (folded, typed) batch into ``state`` and
    maintain the rollup view around it with the module's one protocol —
    exactly-once under checkpoint replay with ``epoch`` (the foreachBatch
    batch id), at-most-once without."""
    buckets = state.buckets_of(typed_batch)
    delta = pre_merge_delta(
        spark, state, typed_batch, buckets, rollup, group_col, sum_col, epoch
    )
    upsert_many(
        spark,
        [(state, typed_batch)],
        affected={os.path.basename(state.path.rstrip("/")): buckets},
    )
    post_merge_apply(spark, rollup, delta, group_col, epoch)


# -- non-invertible aggregates (min/max): re-aggregate touched groups -------


def minmax_schema(group_field: T.StructField, val_type: T.DataType) -> T.StructType:
    """Schema of a maintained min/max view: (group, min_val, max_val,
    n_alive)."""
    return T.StructType(
        [
            group_field,
            T.StructField("min_val", val_type, True),
            T.StructField("max_val", val_type, True),
            T.StructField("n_alive", T.LongType(), True),
        ]
    )


def maintain_minmax(
    spark: SparkSession,
    state: StateStore,
    view: StateStore,
    touched: DataFrame,
    group_col: str,
    val_col: str,
) -> None:
    """Refresh min/max (non-invertible — a delete can retire the current
    extreme, so no delta formula exists) for exactly the groups the batch
    TOUCHED: one scan of the base table filtered to those groups, one
    upsert of the recomputed rows. Unlike the sum/count delta path this
    re-reads base rows, but only the touched groups' — the honest lower
    bound for min/max maintenance without an auxiliary per-group heap.
    Re-aggregation is naturally idempotent (recomputing from the merged
    base gives the same rows), so no epoch machinery is needed.

    ``touched``: one-column DataFrame of group values (pre ∪ post groups —
    include the PRE-merge groups of moved keys or their old group keeps a
    stale extreme).

    At 100 TB: the filter on the group column prunes via parquet min/max
    row-group stats when base files are clustered by group (write_zordered
    or a group-partitioned layout); worst case it is one full column scan
    per batch — if that dominates, keep a sum/count delta view and accept
    eventual min/max refresh instead.
    """
    t = touched.select(F.col(group_col)).distinct().localCheckpoint()
    alive = state.read().join(t, group_col).filter(
        (F.col(DELETE_STATE).isNull() | (F.col(DELETE_STATE) != "1"))
        & F.col(group_col).isNotNull()
    )
    recomputed = alive.groupBy(group_col).agg(
        F.min(val_col).alias("min_val"),
        F.max(val_col).alias("max_val"),
        F.count(F.lit(1)).alias("n_alive"),
    )
    # groups whose last alive row vanished need an explicit zero row (the
    # aggregate above simply has no row for them)
    gone = t.join(recomputed.select(group_col), group_col, "left_anti").select(
        F.col(group_col),
        F.lit(None).cast(
            next(f.dataType for f in view.schema.fields if f.name == "min_val")
        ).alias("min_val"),
        F.lit(None).cast(
            next(f.dataType for f in view.schema.fields if f.name == "max_val")
        ).alias("max_val"),
        F.lit(0).cast("long").alias("n_alive"),
    )
    # replace_rows: a re-aggregated NULL extreme must OVERWRITE the stale
    # stored value, not coalesce with it
    view.upsert_batch(recomputed.unionByName(gone), replace_rows=True)


def sync_with_minmax(
    spark: SparkSession,
    state: StateStore,
    typed_batch: DataFrame,
    view: StateStore,
    group_col: str,
    val_col: str,
) -> None:
    """One micro-batch: MERGE into ``state`` and refresh the min/max view
    for the touched groups (pre-merge groups of the batch's keys ∪ the
    batch's own groups, so group moves retire the old group's extremes)."""
    keys = typed_batch.select(state.key_cols).distinct()
    pre_groups = (
        state.read().join(keys, state.key_cols).select(group_col)
    )
    touched = pre_groups.unionByName(
        typed_batch.select(group_col)
    ).filter(F.col(group_col).isNotNull()).distinct().localCheckpoint()
    state.upsert_batch(typed_batch)
    maintain_minmax(spark, state, view, touched, group_col, val_col)
