"""Incremental aggregate-view maintenance over CDC state — the "ETL to
dashboard" layer the reference's users build by hand downstream of Kudu
(full re-aggregation per refresh). Here the rollup is maintained by DELTAS:

    delta(group) = contrib(base rows now) − contrib(base rows the view reflects)
    rollup(group) += delta(group)

so refresh cost tracks the buckets the base rewrote, never the table.
Handles the three classic subtleties of incremental view maintenance:

- a key MOVING groups (dept change) — its old group gets a negative
  contribution from the old row, the new group a positive one;
- soft deletes — ``delete_state='1'`` rows contribute nothing, so a delete
  subtracts the row's prior contribution and adds nothing back;
- resurrection / partial updates — the merged row carries the full
  coalesced current values, so contributions are always whole-row.

Only invertible aggregates (count, sum — and anything derived from them:
avg, ratios) can be maintained by deltas; min/max views re-aggregate the
groups of the changed rows instead, the honest cost floor for
non-invertible aggregates.
Sums accumulate in DECIMAL so incremental and from-scratch
aggregation agree bit-for-bit (float addition is not associative; decimal
addition is) — the ``cdc_dept_rollup`` query hash-checks exactly that
equivalence against a from-scratch DuckDB fold.

ONE PROTOCOL, the version diff, run AFTER the base merge for both view
kinds by ``refresh_rollup`` (sum/count) and ``refresh_minmax`` (and by
the SCD2 history, operators/scd2.py). Every StateStore write publishes a
numbered manifest (operators/merge.py), and the view's own manifest
records ``source_version``, the base version it reflects:

1. ``new`` is the base's newest manifest, ``old`` the one at the view's
   source version (the empty version 0 for a view never written, so a view
   created over a non-empty base starts from all of it);
2. if ``new`` is the source version, the view is current: stop;
3. the buckets whose file lists differ between ``old`` and ``new`` hold
   every changed row (file names are version-unique, so after a rebucket
   every bucket differs; steps 1-3 are ``_changed_rows``);
4. a sum/count view adds ``rollup_delta`` of the two sides (an unchanged
   row appears on both and cancels, DECIMAL so bit-exact); a min/max view
   re-aggregates every group either side names. Either rewrites the view
   buckets its groups hash into (``rewrite_buckets``), committing the rows
   and ``source_version = new`` in one manifest publish.

The view is exactly-once whatever happened to the base in between, with
or without a streaming batch id: a crash between the base merge and the
view commit leaves the source version behind, so the next refresh counts
that merge; a replayed batch re-merges the base (idempotent upserts, the
reference's model), and the diff of identical rows is zero; a base write
made without the view is counted by the next refresh; a checkpoint reset
changes nothing, as store versions never restart. The source version
must still be kept by the base (``_KEEP_VERSIONS`` later commits), or
the refresh raises ``ValueError`` rather than guess.

Scale shape: contributions are two hash aggs over the changed buckets,
the delta is group-keyed (tiny), and the rollup update reads/rewrites
only the delta's groups' buckets (partition-pruned). A min/max refresh
adds one scan of the base at ``new``, semi-joined to the touched groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import DELETE_STATE
from .merge import StateStore

# Exact accumulation type for the maintained sum (DECIMAL addition is
# associative, so incremental == from-scratch regardless of batch split).
_SUM_DEC = "decimal(22,2)"


def rollup_schema(group_field: T.StructField) -> T.StructType:
    """Schema of the maintained view: (group, n_alive, sum_dec)."""
    return T.StructType(
        [
            group_field,
            T.StructField("n_alive", T.LongType(), True),
            T.StructField("sum_dec", T.DecimalType(22, 2), True),
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
    """Per-group (d_n, d_sum) between two versions of the base rows that
    changed. Extra rows are harmless when they appear identically on both
    sides (they cancel), so whole buckets will do."""
    d = _contrib(post, group_col, sum_col, +1).unionByName(
        _contrib(pre, group_col, sum_col, -1)
    )
    return d.groupBy(group_col).agg(
        F.sum("d_n").alias("d_n"),
        F.sum("d_sum").cast(_SUM_DEC).alias("d_sum"),
    )


def maintain_rollup(
    spark: SparkSession,
    rollup: StateStore,
    delta: DataFrame,
    group_col: str,
    source_version: int,
) -> None:
    """Apply a delta to the maintained view, rollup[group] += delta, and
    record ``source_version`` (the base version the result reflects) in
    the same commit.

    Only the delta's groups' BUCKETS are read and rewritten (the delta is
    group-keyed and tiny, so ``buckets_of`` is one small job; untouched
    buckets never move). An empty delta still commits, so the source
    version advances. Zero-alive groups keep their row (n_alive=0) as an
    audit trail — readers filter ``n_alive > 0`` for the live view.
    """
    delta = delta.persist()
    try:
        buckets = rollup.buckets_of(delta)
        updated = rollup.read_buckets(buckets).join(delta, group_col, "full_outer")
        zero = F.lit(0).cast(_SUM_DEC)
        rollup.rewrite_buckets(
            buckets,
            updated.select(
                F.col(group_col),
                (F.coalesce("n_alive", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
                .alias("n_alive"),
                (F.coalesce("sum_dec", zero) + F.coalesce("d_sum", zero))
                .cast(_SUM_DEC)
                .alias("sum_dec"),
            ),
            source_version=source_version,
        )
    finally:
        delta.unpersist()


def _changed_rows(
    state: StateStore, view: StateStore
) -> tuple[DataFrame, DataFrame, dict] | None:
    """Steps 1-3 of the protocol, for both view kinds, over
    ``StateStore.changes_since``: the rows of ``state``'s changed buckets
    at the version ``view`` reflects and at the newest one, and the newest
    manifest; ``None`` when the view is current. A delta needs the old
    rows, so a view without a source version, or with a retired one, raises
    ``ValueError``: delete it, and the next refresh rebuilds it."""
    manifest = view._manifest()
    if manifest["version"] and "source_version" not in manifest:
        raise ValueError(
            f"{view.path}: a rollup view without a source_version, written "
            "before views recorded the base version they reflect; delete it "
            "and the next refresh rebuilds it from the whole base"
        )
    source = manifest.get("source_version", 0)
    new, old, changed = state.changes_since(source)
    if old is None:
        raise ValueError(
            f"{state.path}: version {source} is no longer kept; delete "
            f"{view.path} and the next refresh rebuilds it"
        )
    if source == new["version"]:
        return None
    return state._scan(old, changed), state._scan(new, changed), new


def refresh_rollup(
    spark: SparkSession,
    state: StateStore,
    rollup: StateStore,
    group_col: str,
    sum_col: str,
) -> None:
    """Bring the sum/count view up to ``state``'s newest version — the
    module's one protocol, run after the base merge."""
    diff = _changed_rows(state, rollup)
    if diff is not None:
        pre, post, new = diff
        delta = rollup_delta(pre, post, group_col, sum_col)
        maintain_rollup(spark, rollup, delta, group_col, new["version"])


def sync_with_rollup(
    spark: SparkSession,
    state: StateStore,
    typed_batch: DataFrame,
    rollup: StateStore,
    group_col: str,
    sum_col: str,
) -> None:
    """One micro-batch: MERGE the (folded, typed) batch into ``state``,
    then ``refresh_rollup`` — exactly-once, and a re-run after a crash
    anywhere converges (module docstring)."""
    state.upsert_batch(typed_batch)
    refresh_rollup(spark, state, rollup, group_col, sum_col)


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


def refresh_minmax(
    spark: SparkSession,
    state: StateStore,
    view: StateStore,
    group_col: str,
    val_col: str,
) -> None:
    """Bring the min/max view up to ``state``'s newest version — the
    protocol of ``refresh_rollup``, but min/max are non-invertible (a
    delete can retire the current extreme), so every group named in the
    changed buckets at either version (a moved key's old group included) is
    re-aggregated from the base at the newest version. A group left with
    no live row gets a zero row (``n_alive`` 0, null extremes). The base
    scan is pruned by row-group stats when the base is clustered by group
    (write_zordered); else it is one column scan per refresh.
    """
    diff = _changed_rows(state, view)
    if diff is None:
        return
    pre, post, new = diff
    touched = pre.unionByName(post).select(group_col).dropna().distinct().persist()
    try:
        alive = state._scan(new).join(touched, group_col, "left_semi").filter(
            F.col(DELETE_STATE).isNull() | (F.col(DELETE_STATE) != "1")
        )
        recomputed = alive.groupBy(group_col).agg(
            F.min(val_col).alias("min_val"),
            F.max(val_col).alias("max_val"),
            F.count(F.lit(1)).alias("n_alive"),
        )
        rows = touched.join(recomputed, group_col, "left").select(
            group_col, "min_val", "max_val",
            F.coalesce("n_alive", F.lit(0).cast("long")).alias("n_alive"),
        )
        # touched groups' rows are replaced whole (a NULL extreme
        # overwrites); no touched group still commits the source version
        buckets = view.buckets_of(touched)
        kept = view.read_buckets(buckets).join(touched, group_col, "left_anti")
        view.rewrite_buckets(
            buckets, kept.unionByName(rows), source_version=new["version"]
        )
    finally:
        touched.unpersist()


def sync_with_minmax(
    spark: SparkSession,
    state: StateStore,
    typed_batch: DataFrame,
    view: StateStore,
    group_col: str,
    val_col: str,
) -> None:
    """``sync_with_rollup`` for a min/max view."""
    state.upsert_batch(typed_batch)
    refresh_minmax(spark, state, view, group_col, val_col)
