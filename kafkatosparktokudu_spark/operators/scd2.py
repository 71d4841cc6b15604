"""Incremental SCD2 history maintenance over the CDC stream.

``ogg.history_table_changes`` derives the full SCD2 version table from a
complete change log in one shot; this module maintains the same table
INCREMENTALLY, batch by batch, the way a streaming CDC sync runs
(KuduManager.scala keeps only latest state — this is the warehouse-native
history the reference never had).

Design: the history is a DERIVED STORE over the change log, refreshed
from the log's version diff like the rollup views (operators/rollup.py).
Two StateStores under one root, both bucketed by the entity id alone
(``bucket_cols``): ``raw/`` (key (id, seq)), the change log keyed on the
catalog-typed id in its string form and upserted idempotently, and
``hist/`` (key (id, version)), the SCD2 rows, whose manifest records
``source_version``, the raw version they reflect. The stores CO-BUCKET
(``_bucket_col`` hashes ``concat_ws`` of the bucket columns, which casts
the typed key to raw's string id; test_scd2_raw_and_hist_co_bucket), so
one protocol, ``refresh``, runs after every raw write: the history of
raw's rows in the buckets ``raw.changes_since`` lists replaces exactly
those hist buckets, and the same publish records raw's version — even
with none changed, so it never falls out of raw's kept window. A hist
with no source version, or a retired one, counts every bucket as
changed; one at another geometry than raw (a crash inside ``rebucket``)
is written whole at raw's.

Why recompute wins here:

- LATE DATA IS EXACT. A record older than a key's already-closed history
  (the fixture plants one: a stale-ts update arriving last) needs
  interval SPLICING — version renumbering and payload re-inheritance for
  every later version. Cumulative stored states cannot be spliced
  (inherited-vs-overwritten is indistinguishable); the raw log re-derives
  perfectly, and the result provably equals the one-shot operator on the
  union of all batches (property-tested, including the planted late
  record crossing the batch boundary).
- EXACTLY-ONCE BY THE RECORDED VERSION. The raw upsert is idempotent and
  hist names the raw version it reflects, so after a crash between the
  two commits, or a raw write made without a refresh, the next refresh
  re-derives every bucket raw changed since: no batch has to come back.

Cost: a refresh pays O(total changes of the keys in the changed buckets);
``purge_closed_before`` bounds hot keys' histories. Per batch: one keyed
upsert into ``raw``, then one staged rewrite of the changed hist buckets
(a pruned raw scan, one window pass keyed on the id). No key list, no
read of hist; nothing scans unchanged buckets.
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
        this table): upsert them into the raw log, then ``refresh``.
        Idempotent, so a replayed batch needs no epoch."""
        # The raw log keys on the catalog-typed id, in its string form, so
        # an int-keyed table's '007' and '7' share one entity's log.
        self.raw.upsert_batch(
            changes.select(
                typed_key(self.target).cast("string").alias("id"),
                "seq", "op_type", "current_ts", "current_ts_norm", "after",
            )
        )
        self.refresh()

    def refresh(self) -> None:
        """Bring hist up to raw's newest version (module docstring)."""
        hist = self.hist._manifest()
        source = hist.get("source_version", None if hist["version"] else 0)
        new, _, changed = self.raw.changes_since(source)
        n = new["n_buckets"] if hist["n_buckets"] != new["n_buckets"] else None
        if n or source != new["version"]:
            buckets = list(range(n)) if n else changed
            self.hist._write(
                history_table_changes(self.raw._scan(new, buckets), self.target),
                buckets, new["version"], n_buckets=n,
            )

    def history(self) -> DataFrame:
        """The full SCD2 table, in the exact shape (and column order) of
        ogg.history_table_changes."""
        return self.hist.read()

    def rebucket(self, n_new: int) -> None:
        """Online geometry migration: raw is rewritten at ``n_new``, then
        the refresh writes hist whole at raw's new geometry. A crash in
        between leaves hist at the old one, and the next refresh
        converges."""
        self.raw.rebucket(n_new)
        self.refresh()

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

        Protocol (crash-safe by re-run): ``refresh`` (so a hist left
        behind by a crash after an earlier purge's raw commit catches
        up), probe the buckets holding purgeable rows (pushdown ts <
        cutoff, keys with >= 2 such records), rewrite them in RAW with
        the compacted log, then ``refresh`` again, which re-derives their
        hist buckets whole. Returns the number of raw records removed.

        Scale: a pruned filter-agg probe, then work on the affected
        buckets only: one window pass keyed on id, two staged rewrites."""
        from pyspark.sql import Window

        self.refresh()
        manifest = self.raw._manifest()
        # -- probe: buckets containing a key with >=2 records before the
        # cutoff (exactly the keys with >=1 closed-before-cutoff version)
        cand = (
            self.raw._scan(manifest)
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

        raw_b = self.raw._scan(manifest, buckets).drop("_bucket")
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
            )
            .persist()
        )
        try:
            n_purged = (
                raw_b.count()
                - compacted.count()  # also materializes the persist
            )
            if n_purged:
                self.raw.rewrite_buckets(buckets, compacted)
                self.refresh()
            return int(n_purged)
        finally:
            compacted.unpersist()
