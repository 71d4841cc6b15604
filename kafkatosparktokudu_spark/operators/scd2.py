"""Incremental SCD2 history maintenance over the CDC stream.

``ogg.history_table_changes`` derives the full SCD2 version table from a
complete change log in one shot; this module maintains the same table
INCREMENTALLY, batch by batch, the way a streaming CDC sync runs
(KuduManager.scala keeps only latest state — this is the warehouse-native
history the reference never had).

Design: RECOMPUTE-PER-AFFECTED-KEY, not append-stitching. Two bucketed
StateStores under one root, both bucket-pruned by the entity id alone
(``bucket_cols`` prefix bucketing):

- ``raw/``  (key = (id, seq), bucketed by id): the per-entity change log
  — normalized change records, upserted idempotently.
- ``hist/`` (key = (id, version), bucketed by id): the derived SCD2
  rows, whole-row-replaced per batch for affected keys.

Batch protocol (apply_batch): upsert the batch's records into ``raw``;
then re-derive history_table_changes over the AFFECTED KEYS' complete
change log (bucket-pruned read) and whole-row-replace those keys' rows
in ``hist``. A key's version count only grows, so replacement leaves no
stale rows.

Why recompute wins here:

- LATE DATA IS EXACT. A record older than a key's already-closed history
  (the fixture plants one: a stale-ts update arriving last) needs
  interval SPLICING — version renumbering and payload re-inheritance for
  every later version. Cumulative stored states cannot be spliced
  (inherited-vs-overwritten is indistinguishable); the raw log re-derives
  perfectly, and the result provably equals the one-shot operator on the
  union of all batches (property-tested, including the planted late
  record crossing the batch boundary).
- EXACTLY-ONCE FOR FREE. Both writes are idempotent (keyed upsert of
  deterministic rows), and ``hist`` is a pure function of ``raw``: crash
  anywhere, replay the epoch, converge — no version bookkeeping (the
  rollup view records the base version it reflects because aggregate
  deltas are NOT idempotent; this derivation is).

Cost: a batch pays O(total changes of the keys it touches) — the same
touched-group re-aggregation trade as the min/max rollup. Hot keys with
very long histories are the degenerate case; real systems cap or
compact per-key history (purge closed versions past a retention bound —
StateStore.purge-style bucket rewrite) — documented, not needed at
fixture scale.

Scale shape per batch: one keyed upsert into ``raw``, one bucket-pruned
read of affected ids, one window pass keyed on the id (the
history_table_changes exchange), one keyed upsert into ``hist``.
Nothing scans unaffected keys, ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import DELETE_STATE, TargetTable
from .merge import StateStore
from .ogg import history_table_changes, typed_key

_RAW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("op_type", T.StringType(), True),
        T.StructField("current_ts", T.StringType(), True),
        T.StructField("current_ts_norm", T.StringType(), True),
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def _hist_schema(target: TargetTable) -> T.StructType:
    return T.StructType(
        list(target.payload.fields)
        + [
            T.StructField(DELETE_STATE, T.StringType(), True),
            T.StructField("valid_from", T.StringType(), True),
            T.StructField("valid_to", T.StringType(), True),
            T.StructField("version", T.IntegerType(), False),
            T.StructField("is_current", T.BooleanType(), True),
        ]
    )


class Scd2Store:
    """Incrementally maintained SCD2 history for one target table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        target: TargetTable,
        n_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.target = target
        self.raw = StateStore(
            spark,
            f"{path}/raw",
            ["id", "seq"],
            _RAW_SCHEMA,
            n_buckets,
            bucket_cols=["id"],
        )
        self.hist = StateStore(
            spark,
            f"{path}/hist",
            [target.key, "version"],
            _hist_schema(target),
            n_buckets,
            bucket_cols=[target.key],
        )

    def apply_batch(self, changes: DataFrame) -> None:
        """Apply one batch of NORMALIZED change rows (already filtered to
        this table). Idempotent, so a replayed batch needs no epoch."""
        # Pin the batch ONCE: the bucket collect, the raw upsert and the
        # affected-key semi-join must all see the same rows — a
        # non-deterministic input recomputed between those three uses
        # could leave hist stale for keys the collect never saw.
        # The raw log keys on the catalog-typed id, in its string form, so
        # an int-keyed table's '007' and '7' share one entity's log.
        raw_rows = changes.select(
            typed_key(self.target).cast("string").alias("id"),
            "seq", "op_type", "current_ts", "current_ts_norm", "after",
        ).persist()
        try:
            keys = raw_rows.select("id").distinct()
            buckets = self.raw.buckets_of(keys)
            if not buckets:
                return
            self.raw.upsert_batch(raw_rows)
            all_changes = self.raw.read_buckets(buckets).join(
                keys, "id", "left_semi"
            )
            derived = history_table_changes(all_changes, self.target)
            self.hist.upsert_batch(derived, replace_rows=True)
        finally:
            raw_rows.unpersist()

    def history(self) -> DataFrame:
        """The full SCD2 table, in the exact shape (and column order) of
        ogg.history_table_changes."""
        return self.hist.read()

    def rebucket(self, n_new: int) -> None:
        """Online geometry migration for BOTH underlying stores (the r11
        StateStore.rebucket: one full rewrite committed as the store's
        next version, so a crash leaves each store at its old geometry or
        its new one). The two migrations are not atomic with each other,
        and don't need to be: each store's modulus lives in its own
        manifest, so raw and hist geometries are independent — a crash
        between them just leaves one store migrated, correct at either
        geometry, and a re-run converges."""
        self.raw.rebucket(n_new)
        self.hist.rebucket(n_new)

    def purge_closed_before(self, cutoff: str) -> int:
        """Hot-key retention: bound a key's re-derivation cost by
        COMPACTING its prefix of versions fully closed before ``cutoff``
        (normalized-ts string, same format as ``valid_to``) into one
        synthetic baseline raw record.

        Because ``hist`` is a pure function of ``raw``, deleting hist
        rows alone would be undone by the next apply_batch — retention
        has to act on the LOG. Per key, versions map 1:1 to raw records
        ordered by (current_ts, seq) and valid_to is nondecreasing, so
        the closed-before-cutoff versions form a prefix 1..j0. The
        compaction replaces raw records 1..j (j = j0 backed off any
        trailing D records — a delete's payload exists only by
        inheritance, so the baseline must be a self-contained non-D
        record) with ONE synthetic record at record j's (ts, seq)
        carrying the FOLDED after-map (per payload field, last non-null
        over non-D records 1..j) — exactly the cumulative state the
        derivation would have inherited. Re-deriving over the compacted
        log therefore reproduces versions j..n verbatim (payloads,
        intervals, is_current) with version numbers shifted to 1..n-j+1,
        and equals the one-shot derivation on the retained log
        (property-tested).

        Protocol (crash-safe by re-run): probe the buckets holding
        purgeable rows (pushdown ts < cutoff, keys with >= 2 such
        records), compute the compacted log for those buckets, persist
        it, rewrite HIST first (affected keys' rows replaced wholesale —
        version counts shrink, so this needs ``rewrite_buckets``'s
        delete semantics, not an upsert), then rewrite RAW. A crash
        between the two leaves raw uncompacted — re-running the purge
        recomputes the identical compaction and converges; after the
        raw rewrite lands the purge is a no-op. Returns the number of
        raw records removed.

        Scale: the probe is a pruned filter-agg; everything else tracks
        the affected buckets only — one window pass keyed on id (the
        same exchange class as the derivation) plus two staged bucket
        rewrites. Unaffected keys are never scanned."""
        from pyspark.sql import Window

        if not self.raw.exists():
            return 0
        # -- probe: buckets containing a key with >=2 records before the
        # cutoff (exactly the keys with >=1 closed-before-cutoff version)
        cand = (
            self.raw._read_with_bucket()
            .filter(F.col("current_ts_norm") < cutoff)
            .groupBy("_bucket", "id")
            .count()
            .filter(F.col("count") >= 2)
            .select("_bucket")
            .distinct()
            .collect()
        )
        buckets = [r["_bucket"] for r in cand]
        if not buckets:
            return 0

        raw_b = self.raw.read_buckets(buckets)
        w = Window.partitionBy("id").orderBy("current_ts", "seq")
        wk = Window.partitionBy("id")
        wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        closed = F.col("next_ts").isNotNull() & (F.col("next_ts") < cutoff)
        pay = [
            f.name
            for f in self.target.payload.fields
            if f.name != self.target.key
        ]
        fold_cols = [
            F.last(
                F.when(
                    F.col("op_type") != "D", F.col("after").getItem(nm.upper())
                ),
                ignorenulls=True,
            )
            .over(wcum)
            .alias(f"__f_{nm}")
            for nm in pay
        ]
        r = (
            raw_b.select("*", *fold_cols)
            .withColumn("rn", F.row_number().over(w))
            .withColumn("next_ts", F.lead("current_ts_norm").over(w))
        )
        r = r.withColumn("j0", F.max(F.when(closed, F.col("rn"))).over(wk))
        r = r.withColumn(
            "j",
            F.max(
                F.when(
                    (F.col("rn") <= F.col("j0")) & (F.col("op_type") != "D"),
                    F.col("rn"),
                )
            ).over(wk),
        )
        if pay:
            folded_after = F.map_filter(
                F.create_map(
                    *[
                        c
                        for nm in pay
                        for c in (F.lit(nm.upper()), F.col(f"__f_{nm}"))
                    ]
                ),
                lambda _, v: v.isNotNull(),
            )
        else:
            folded_after = F.expr("map()").cast("map<string,string>")
        is_baseline = F.col("j").isNotNull() & (F.col("rn") == F.col("j"))
        compacted = (
            r.filter(F.col("j").isNull() | (F.col("rn") >= F.col("j")))
            .select(
                "id",
                "seq",
                "op_type",
                "current_ts",
                "current_ts_norm",
                F.when(is_baseline, folded_after)
                .otherwise(F.col("after"))
                .alias("after"),
                F.col("j").isNotNull().alias("__touched"),
            )
            .persist()
        )
        try:
            n_purged = (
                raw_b.count()
                - compacted.count()  # also materializes the persist
            )
            if n_purged == 0:
                return 0
            touched_keys = (
                compacted.filter("__touched").select("id").distinct()
            )
            hist_keys = touched_keys.select(
                typed_key(self.target).alias(self.target.key)
            )
            hist_buckets = self.hist.buckets_of(hist_keys)
            new_hist = history_table_changes(
                compacted.filter("__touched").drop("__touched"), self.target
            )
            old_keep = self.hist.read_buckets(hist_buckets).join(
                F.broadcast(hist_keys), self.target.key, "left_anti"
            )
            self.hist.rewrite_buckets(
                hist_buckets, old_keep.unionByName(new_hist)
            )
            self.raw.rewrite_buckets(buckets, compacted.drop("__touched"))
            return int(n_purged)
        finally:
            compacted.unpersist()
