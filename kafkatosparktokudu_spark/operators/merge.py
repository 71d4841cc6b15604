"""Keyed upsert state store: insert-or-update by primary key on plain parquet.

Re-expresses the reference's Kudu upsert sink (S18: ``newUpsert`` +
``session.apply`` per record, KuduManager.scala:70-73,114) as a
set-oriented MERGE inside ``foreachBatch``. Semantics preserved
(SURVEY.md §2.1 "semantics worth preserving"):

1. upsert = insert-or-update by PK; replays converge (idempotent)
2. delete is logical (delete_state='1', payload untouched)
3. partial update: absent/null payload keys leave prior values
4. at-least-once delivery absorbed by upsert idempotence

Layout: state is **hash-bucketed on the key**
(``_bucket = pmod(xxhash64(key), N)``), one parquet directory per bucket.
A batch reads and rewrites only the buckets its keys hash into, so both
sides of the merge join are bounded by maxOffsetsPerTrigger and the cost
tracks the batch, not the table.

One write protocol (``_stage_and_swap``) serves every mutation except
``rebucket``. The caller names, per store, the buckets it replaces:

1. stage: ONE Spark job writes the new contents of those buckets to
   ``{path}.__staging__`` beside the first store, partitioned by
   (position in the call, bucket). The rows are hash-repartitioned on
   that pair into a FIXED number of tasks, the smaller of the session's
   default parallelism and the number of listed buckets, so each bucket
   is still written by one task as one file. A column-only repartition
   would let AQE coalesce a small batch's shuffle to one partition, and
   one task would then write every bucket directory in turn (measured: a
   37k-row batch into 48 buckets as 1 task, 0.92 s);
2. guard: every staged bucket must be in its store's list. A staged
   bucket outside the list means the caller under-declared it — its
   state was never read, so swapping it in would replace that bucket's
   history with batch-only rows. The swap raises ``ValueError`` before
   any directory moves, leaving every store unchanged;
3. swap: for each listed bucket, remove the live directory and rename
   the staged one in when it exists (a listed bucket with no staged rows
   is left empty), then delete the staging dir.

``upsert_many`` is the only merge path (``upsert_batch`` is a one-store
call of it); ``rewrite_buckets`` stages caller-supplied contents and
``purge_soft_deleted`` is a probe job plus ``rewrite_buckets``.

Crash safety: the swap is atomic per bucket directory, not across buckets
or stores; recovery relies on checkpoint replay + upsert idempotence
(the reference's model: offsets persisted after writes,
ConsumerMain.scala:128-151, duplicates absorbed by upsert). A leftover
staging dir is overwritten by the next write. ``rebucket`` alone swaps the
whole directory behind a commit marker (``_recover_rebucket`` heals it).

On a lakehouse table format (Delta/Iceberg) this whole class collapses
into ``MERGE INTO``; the public API is shaped so that swap is a drop-in.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET = "_bucket"
# geometry metadata, persisted IN the store dir: underscore-prefixed files
# are invisible to Spark's file index (like _SUCCESS), so the parquet
# reads never see it. Without this a store rebucketed to N'=128 reopened
# by code still passing n_buckets=64 would prune point lookups with the
# WRONG hash modulus and silently miss rows.
_META = "_STORE_META.json"
# commit marker for the rebucket swap: written LAST into a fully-staged
# copy; its presence means "the staged geometry is the committed truth".
_REBUCKET_COMMIT = "_REBUCKET_COMMIT"


def merge_upserts(
    state: DataFrame, batch: DataFrame, key_cols: list[str],
    replace_rows: bool = False,
) -> DataFrame:
    """Pure merge: one row per key, column-wise ``coalesce(new, old)``.

    ``batch`` must already be folded to one row per key (fold_table_changes).
    Column set of both sides must match. Partial updates ride on coalesce:
    a folded column is null iff no record in the batch set it.

    ``replace_rows=True`` switches to whole-row semantics: a key present in
    the batch takes the batch row VERBATIM, nulls included — what a
    recomputed aggregate view needs (a re-aggregated min of NULL must
    overwrite the stale extreme, not coalesce with it).

    CONTRACT: key columns are primary keys and must be non-null on both
    sides (the CDC path guarantees this — is_valid drops null-ID records
    and the catalog declares keys non-nullable). Plain ``==`` instead of
    eqNullSafe matters for the plan: a null-safe join hashes on
    ``(coalesce(k,''), isnull(k))``, which can NOT reuse the fold's
    groupBy(key) exchange, so the batch side would be shuffled twice.
    """
    value_cols = [c for c in state.columns if c not in key_cols]
    b = batch.select(
        *[F.col(c).alias(f"_b_{c}") for c in batch.columns]
    )
    cond = [state[k] == b[f"_b_{k}"] for k in key_cols]
    joined = state.join(b, cond, "full_outer")
    in_batch = b[f"_b_{key_cols[0]}"].isNotNull()
    out_cols = [
        F.coalesce(b[f"_b_{k}"], state[k]).alias(k) for k in key_cols
    ] + [
        (
            F.when(in_batch, b[f"_b_{c}"]).otherwise(state[c])
            if replace_rows
            else F.coalesce(b[f"_b_{c}"], state[c])
        ).alias(c)
        for c in value_cols
    ]
    return joined.select(*out_cols)


class StateStore:
    """Bucketed-parquet keyed table with MERGE-style upsert batches.

    Schema evolution: reopening a store with a WIDER schema (upstream DDL
    added a nullable column) just works — the explicit-schema parquet read
    returns null for the new column on pre-evolution bucket files, and the
    coalesce merge fills values in as batches arrive; reopening NARROWER
    projects the surviving columns. No rewrite, no migration job — pinned
    by test_statestore_schema_evolution_across_restart."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        schema: T.StructType,
        n_buckets: int = 64,
        bucket_cols: list[str] | None = None,
    ) -> None:
        """``bucket_cols``: hash-bucket on a PREFIX of the key instead of
        the whole key (must be a prefix so every full key still lands in
        exactly one bucket) — lets a composite-keyed store, e.g. a
        per-entity change log keyed (id, seq), prune reads by the leading
        column alone ("all of this id's rows")."""
        # LOCAL-FILESYSTEM-ONLY, enforced: the bucket swap / snapshot /
        # purge protocols use os.rename + hardlinks, so a remote URI
        # (hdfs://, s3a://, even file://) would make exists() always-False
        # — st06's enrich_epoch would silently join an EMPTY dimension side
        # while writes kept landing (ADVICE r10). Fail fast instead; the
        # lakehouse swap-in for remote stores is MERGE INTO (module
        # docstring / DEPLOY.md).
        if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", path):
            raise ValueError(
                f"StateStore is local-filesystem-only (got URI {path!r}); "
                "use a plain local path, or a Delta/Iceberg MERGE INTO "
                "sink for remote storage (see DEPLOY.md)"
            )
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.schema = schema
        self.n_buckets = n_buckets
        if bucket_cols is not None and key_cols[: len(bucket_cols)] != bucket_cols:
            raise ValueError(
                f"bucket_cols {bucket_cols} must be a prefix of key_cols {key_cols}"
            )
        self.bucket_cols = bucket_cols or key_cols
        # heal a crashed rebucket swap BEFORE anything reads or writes,
        # then adopt the persisted geometry: the on-disk _STORE_META wins
        # over the constructor argument so call sites need no change when
        # an operator rebuckets a live store (VERDICT r10 #2).
        self._recover_rebucket()
        meta = self._read_meta()
        if meta is not None and "n_buckets" in meta:
            self.n_buckets = int(meta["n_buckets"])

    # -- helpers ------------------------------------------------------------
    def _bucket_col(self, n_buckets: int | None = None) -> F.Column:
        key = F.concat_ws("\x1f", *[F.col(k) for k in self.bucket_cols])
        n = self.n_buckets if n_buckets is None else n_buckets
        return F.pmod(F.xxhash64(key), F.lit(n)).cast("int")

    def buckets_of(self, df: DataFrame) -> list[int]:
        """The buckets ``df``'s rows hash into at this store's geometry —
        one distinct-collect job. ``df`` carries the bucket columns, typed
        as the store declares them."""
        return [
            r[0] for r in df.select(self._bucket_col()).distinct().collect()
        ]

    def _read_meta(self) -> dict | None:
        import json

        try:
            with open(os.path.join(self.path, _META), encoding="utf-8") as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def _write_meta(self, dir_path: str | None = None, n_buckets: int | None = None) -> None:
        import json

        target = dir_path or self.path
        if not os.path.isdir(target):
            return
        tmp = os.path.join(target, _META + ".tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(
                {"n_buckets": n_buckets if n_buckets is not None else self.n_buckets},
                fh,
            )
        os.replace(tmp, os.path.join(target, _META))

    def _recover_rebucket(self) -> None:
        """Finish or roll back a rebucket swap interrupted by a crash.

        The swap protocol (``rebucket``) has exactly four crash windows;
        each leaves an unambiguous layout, so recovery is decision-free:

        - staging WITHOUT the commit marker → the staged write never
          finished: delete staging, the live store is untouched;
        - staging WITH the marker (live dir present or already renamed
          away) → the new geometry is committed: complete the swap;
        - leftover ``.__rebucket_old__`` next to a live store → the swap
          finished but cleanup didn't: delete it;
        - a stray commit marker inside the live store → final tidy-up.
        """
        old = self.path + ".__rebucket_old__"
        import glob

        for stg in glob.glob(glob.escape(self.path) + ".__rebucket_*__"):
            if stg == old:
                continue
            if os.path.isfile(os.path.join(stg, _REBUCKET_COMMIT)):
                # committed: the staged copy IS the store now
                if os.path.isdir(self.path):
                    shutil.rmtree(self.path)
                os.rename(stg, self.path)
            else:
                shutil.rmtree(stg, ignore_errors=True)
        if os.path.isdir(old):
            if os.path.isdir(self.path):
                shutil.rmtree(old, ignore_errors=True)
            else:  # unreachable under the protocol order, but heal anyway
                os.rename(old, self.path)
        marker = os.path.join(self.path, _REBUCKET_COMMIT)
        if os.path.isfile(marker):
            os.remove(marker)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            e.startswith(f"{_BUCKET}=") for e in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        """Current state (without the bucket column)."""
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        return self._read_with_bucket().drop(_BUCKET)

    def _read_with_bucket(self) -> DataFrame:
        return (
            self.spark.read.schema(
                T.StructType(
                    list(self.schema.fields)
                    + [T.StructField(_BUCKET, T.IntegerType(), True)]
                )
            )
            .option("basePath", self.path)
            .parquet(self.path)
        )

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """State rows of the given buckets only (partition-pruned scan,
        bucket column dropped) — the shared read recipe of the merge path
        and the rollup pre/post snapshots."""
        if not buckets or not self.exists():
            return self.spark.createDataFrame([], self.schema)
        return (
            self._read_with_bucket()
            .filter(F.col(_BUCKET).isin(buckets))
            .drop(_BUCKET)
        )

    def lookup(self, keys: list[tuple] | list) -> DataFrame:
        """Point lookup by primary key — the Kudu read pattern the
        reference's consumers use downstream (openTable + key scan).
        Computes the keys' buckets driver-side with the same hash the
        writer used, scans ONLY those bucket directories (partition
        pruning at file-listing time), then filters to the exact keys.
        Cost is O(|keys| buckets) regardless of table size — the
        point-read property a keyed store owes its users.

        ``keys``: list of key tuples (or scalars for single-column keys),
        in the key columns' declared types."""
        if not self.exists():
            return self.spark.createDataFrame([], self.schema)
        norm_keys = [
            k if isinstance(k, tuple) else (k,) for k in keys
        ]
        if not norm_keys:
            return self.spark.createDataFrame([], self.schema)
        key_schema = T.StructType(
            [
                next(f for f in self.schema.fields if f.name == kc)
                for kc in self.key_cols
            ]
        )
        from ..functions.localframe import local_frame

        kdf = local_frame(self.spark, norm_keys, key_schema)
        return self.read_buckets(self.buckets_of(kdf)).join(
            F.broadcast(kdf), self.key_cols, "left_semi"
        )

    # -- the merge ----------------------------------------------------------
    def upsert_batch(self, batch: DataFrame, replace_rows: bool = False) -> None:
        """MERGE the (already folded, typed) batch into the store — a
        one-store ``upsert_many``: one job collects the touched buckets,
        one job merges them against their state and stages the result,
        then the staged buckets swap in (module docstring)."""
        upsert_many(self.spark, [(self, batch)], replace_rows=replace_rows)

    def snapshot(self):
        """Context manager yielding a snapshot-isolated view of the store.

        ``read()`` lists bucket directories lazily at job time, so a
        concurrent ``upsert_batch`` swapping buckets mid-query can serve
        some buckets pre-merge and others post-merge — or fail outright
        on a vanished file (the swap deletes replaced files by path). A
        reporting query running WHILE the stream merges wants one
        consistent version.

        Implementation: hardlink the current file set into a temp sibling
        directory (no data copy; the links keep the bytes alive after the
        swap unlinks the originals) and read from there; the links are
        dropped on exit. On object stores with native versioning
        (S3/GCS), pin object versions instead — this is the plain-FS
        equivalent.

            with store.snapshot() as df:
                df.groupBy(...).agg(...)
        """
        import contextlib
        import uuid

        @contextlib.contextmanager
        def _snap():
            if not self.exists():
                yield self.spark.createDataFrame([], self.schema)
                return
            snap_dir = f"{self.path}.__snap_{uuid.uuid4().hex[:8]}__"
            os.makedirs(snap_dir)
            try:
                n = 0
                for entry in sorted(os.listdir(self.path)):
                    if not entry.startswith(f"{_BUCKET}="):
                        continue
                    d = os.path.join(self.path, entry)
                    for f in os.listdir(d):
                        if not f.endswith(".parquet"):
                            continue
                        src = os.path.join(d, f)
                        dst = os.path.join(snap_dir, f"{n:06d}.parquet")
                        try:
                            os.link(src, dst)
                        except OSError:  # cross-device / FS without links
                            shutil.copy2(src, dst)
                        n += 1
                if n == 0:
                    yield self.spark.createDataFrame([], self.schema)
                else:
                    yield self.spark.read.schema(self.schema).parquet(snap_dir)
            finally:
                shutil.rmtree(snap_dir, ignore_errors=True)

        return _snap()

    def rewrite_buckets(self, buckets: list[int], content: DataFrame) -> None:
        """Replace the given buckets' contents WHOLESALE with ``content``
        (the caller supplies exactly those buckets' intended rows — this
        is the delete-capable primitive upsert can't be: rows absent from
        ``content`` are gone after the swap). Same stage-and-swap protocol
        as the merge path, including its guard: a content row hashing
        outside ``buckets`` raises instead of vanishing with the staging
        dir. A bucket with no surviving rows is removed outright. Cost
        tracks the rewritten buckets, never the table.

        Crash contract — atomic PER BUCKET, not across buckets: the final
        swap is a loop of rmtree+rename, so a crash mid-loop leaves some
        buckets rewritten and the rest at their prior contents, with no
        marker distinguishing the two. Callers must therefore be
        idempotent-by-re-run — ``content`` must be recomputable from the
        (possibly half-swapped) store such that re-running the whole
        operation converges (``purge_closed_before`` documents exactly
        this property: a close-date predicate is true of both old and new
        bucket states). Do NOT build on this primitive if a half-applied
        rewrite would be unrecoverable; that caller needs a commit-marker
        protocol (write all staged buckets, fsync a manifest, then swap)
        this local-FS store deliberately keeps out of scope."""
        if not buckets:
            return
        _stage_and_swap(
            content.select([F.col(f.name) for f in self.schema.fields])
            .withColumn(_BUCKET, self._bucket_col())
            .withColumn(_TABLE, F.lit(0)),
            [(self, buckets)],
        )

    def rebucket(self, n_new: int) -> None:
        """Online bucket-count migration (VERDICT r10 #2 — the last 100 TB
        maintenance op): rewrite the WHOLE table once at the new hash
        geometry, then swap it in atomically. DEPLOY.md tells operators to
        scale n_buckets with table size (the ×91 stress measured why:
        probe cost tracks touched buckets, so a store that outgrew its
        bucket count serves every batch from a few giant files); before
        this, changing n_buckets meant an undocumented by-hand rewrite.

        Protocol (single-writer, like every other mutation here):

        1. stage the full table re-hashed to ``n_new`` buckets at
           ``{path}.__rebucket_{n_new}__`` — ONE distributed job, the only
           full-table pass; readers keep using the live store throughout;
        2. write the staged ``_STORE_META`` (n_new), then the
           ``_REBUCKET_COMMIT`` marker LAST — the commit point;
        3. swap: rename live → ``.__rebucket_old__``, staging → live,
           drop the marker, delete old.

        A crash anywhere replays through ``_recover_rebucket`` (runs at
        every handle construction): before the marker the operation
        vanishes, after it the swap completes — never a half-geometry
        store. Point lookups from a handle opened mid-recovery see either
        the old or the new geometry, both correct, because the hash
        modulus always travels WITH the directory via ``_STORE_META``
        (the constructor's n_buckets is just the initial default).

        Cost: one full-table read+write — O(table), unavoidable for a
        modulus change, but bounded, restartable, and done ONCE per
        capacity step (vs every batch overpaying on a wrong geometry).
        """
        if n_new < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_new}")
        self._recover_rebucket()
        if n_new == self.n_buckets:
            return
        if not self.exists():
            self.n_buckets = n_new
            self._write_meta()  # no-op if the dir doesn't exist yet
            return
        staging = f"{self.path}.__rebucket_{n_new}__"
        shutil.rmtree(staging, ignore_errors=True)
        (
            self.read()
            .withColumn(_BUCKET, self._bucket_col(n_buckets=n_new))
            .repartition(_BUCKET)
            .write.mode("overwrite")
            .partitionBy(_BUCKET)
            .parquet(staging)
        )
        self._write_meta(dir_path=staging, n_buckets=n_new)
        # commit point: marker lands only after the staged copy + meta are
        # fully on disk (os-level create after the write job returned)
        with open(os.path.join(staging, _REBUCKET_COMMIT), "w", encoding="utf-8") as fh:
            fh.write(f"{self.n_buckets}->{n_new}\n")
        old = self.path + ".__rebucket_old__"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(staging, self.path)
        os.remove(os.path.join(self.path, _REBUCKET_COMMIT))
        shutil.rmtree(old, ignore_errors=True)
        self.n_buckets = n_new

    # -- housekeeping -------------------------------------------------------
    def purge_soft_deleted(
        self,
        older_than: str,
        delete_col: str = "delete_state",
        ts_col: str = "time_stamp",
    ) -> int:
        """Retention pass: physically remove soft-deleted rows whose audit
        timestamp is older than ``older_than`` (the delete-scan job Kudu
        operators schedule; logical deletes stay queryable until then —
        reference semantics keep D rows with delete_state='1' forever).

        Only buckets CONTAINING purgeable rows are rewritten (one pruned
        probe for the bucket set, then ``rewrite_buckets``); a bucket left
        empty is removed outright. Returns the number of rows purged.
        At 100 TB the cost tracks the purgeable
        buckets, not the table — and because every bucket is one file,
        the rewrite is a bounded, restartable job (idempotent: re-running
        purges nothing the second time)."""
        if not self.exists():
            return 0
        purgeable = (F.col(delete_col) == "1") & (F.col(ts_col) < older_than)
        probe = (
            self._read_with_bucket()
            .filter(purgeable)
            .groupBy(_BUCKET)
            .count()
            .collect()
        )
        if not probe:
            return 0
        affected = [r[_BUCKET] for r in probe]
        self.rewrite_buckets(affected, self.read_buckets(affected).filter(~purgeable))
        return int(sum(r["count"] for r in probe))


_TABLE = "_table"


def _stage_and_swap(
    staged: DataFrame, targets: list[tuple[StateStore, list[int]]]
) -> None:
    """The one write protocol (module docstring). ``staged`` carries
    ``_table`` (an index into ``targets``) and ``_bucket``; each target
    store's listed buckets are replaced wholesale by its staged rows.

    Staged under the first store's sibling ``{path}.__staging__``, so the
    renames stay on that store's filesystem."""
    staging = targets[0][0].path.rstrip("/") + ".__staging__"
    # A fixed partition count: AQE would coalesce a column-only
    # repartition of a small batch into ONE write task (module docstring)
    n_parts = min(
        staged.sparkSession.sparkContext.defaultParallelism,
        sum(len(buckets) for _, buckets in targets),
    )
    (
        staged.repartition(max(n_parts, 1), _TABLE, _BUCKET)
        .write.mode("overwrite")
        .partitionBy(_TABLE, _BUCKET)
        .parquet(staging)
    )
    srcs = [os.path.join(staging, f"{_TABLE}={i}") for i in range(len(targets))]
    # Guard against silent loss, checked for every store before anything
    # moves: a staged bucket outside its list was never read as state, so
    # swapping it in would drop that bucket's history. The staged
    # directory listing is the cheap, job-free place to catch it.
    for src, (store, buckets) in zip(srcs, targets):
        staged_buckets = {
            int(e.split("=", 1)[1])
            for e in (os.listdir(src) if os.path.isdir(src) else [])
            if e.startswith(f"{_BUCKET}=")
        }
        extra = staged_buckets - set(buckets)
        if extra:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(
                f"{store.path}: staged rows for buckets {sorted(extra)} not "
                f"in the bucket list {sorted(buckets)} — refusing to drop them"
            )
    for src, (store, buckets) in zip(srcs, targets):
        if os.path.isdir(src):
            os.makedirs(store.path, exist_ok=True)
        for b in buckets:
            src_b = os.path.join(src, f"{_BUCKET}={b}")
            dst = os.path.join(store.path, f"{_BUCKET}={b}")
            shutil.rmtree(dst, ignore_errors=True)
            if os.path.isdir(src_b):
                os.rename(src_b, dst)
        if store._read_meta() is None:
            store._write_meta()  # first write of this store: pin its geometry
    shutil.rmtree(staging, ignore_errors=True)


def _union_by_name(frames: list[DataFrame]) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _schemas_compatible(stores: list[StateStore]) -> bool:
    """unionByName requires any column name shared across tables to carry
    one type. Real catalogs can violate that (emp.id int vs audit.id
    string), so the combined write guards and falls back to per-table."""
    seen: dict[str, T.DataType] = {}
    for s in stores:
        for f in s.schema.fields:
            if f.name in seen and seen[f.name] != f.dataType:
                return False
            seen[f.name] = f.dataType
    return True


def upsert_many(
    spark: SparkSession,
    merges: list[tuple[StateStore, DataFrame]],
    affected: dict[str, list[int]] | None = None,
    replace_rows: bool = False,
) -> None:
    """MERGE several stores' folded batches with ONE staged write — the
    only merge path (``StateStore.upsert_batch`` is a one-store call).

    1. Buckets to rewrite, per store: supplied by the caller
       (``affected``, keyed by store basename — cdc.sync_batch hashes
       the pre-fold keys with each store's ``_bucket_col`` once its
       fill job has cached the batch), or computed
       by tagging each batch with its position in ``merges``, unioning,
       persisting and collecting the distinct (position, bucket) pairs —
       one job.
    2. Each batch full-outer-merges (``merge_upserts``) against only those
       buckets of its store; the merged outputs, tagged by position, are
       unioned by name and handed to ``_stage_and_swap``. With
       ``affected`` supplied the folds, merges and staged write fuse into
       a single Spark job.

    Guard: ``affected`` must cover every bucket each batch touches; a
    store with no entry is declared to have no rows. A missed bucket's
    state was never read, so its staged copy would hold batch-only rows:
    the swap sees the staged bucket outside the list and raises
    ``ValueError`` before any store changes (pinned by
    test_upsert_many_refuses_missed_bucket).

    ``replace_rows`` applies to every store (see ``merge_upserts``). The
    staged files carry the union-by-name schema (absent columns are
    null-RLE, ~free in parquet); reads prune to each store's declared
    schema. Stores declaring one column name with different types cannot
    share a union, so they take one call each (same semantics, more jobs).
    """
    merges = [(s, b) for s, b in merges if b is not None]
    if not merges:
        return
    stores = [s for s, _ in merges]
    if not _schemas_compatible(stores):
        for m in merges:
            upsert_many(spark, [m], affected, replace_rows)
        return
    batches = [b.select([F.col(f.name) for f in s.schema.fields]) for s, b in merges]
    tagged = None
    if affected is None:
        tagged = _union_by_name(
            [
                b.withColumn(_BUCKET, s._bucket_col()).withColumn(_TABLE, F.lit(i))
                for i, (s, b) in enumerate(zip(stores, batches))
            ]
        ).persist()
    try:
        if tagged is None:
            buckets = [
                list(affected.get(os.path.basename(s.path.rstrip("/")), []))
                for s in stores
            ]
        else:
            buckets = [[] for _ in stores]
            for r in tagged.select(_TABLE, _BUCKET).distinct().collect():
                buckets[r[_TABLE]].append(r[_BUCKET])
            if not any(buckets):
                return  # every batch is empty
            batches = [
                tagged.filter(F.col(_TABLE) == i).select(b.columns)
                for i, b in enumerate(batches)
            ]
        merged = []
        for i, (store, batch, bs) in enumerate(zip(stores, batches, buckets)):
            if bs and store.exists():
                batch = merge_upserts(
                    store.read_buckets(bs), batch, store.key_cols,
                    replace_rows=replace_rows,
                )
            merged.append(
                batch.withColumn(_BUCKET, store._bucket_col())
                .withColumn(_TABLE, F.lit(i))
            )
        _stage_and_swap(_union_by_name(merged), list(zip(stores, buckets)))
    finally:
        if tagged is not None:
            tagged.unpersist()


def propagate_deletes(
    forget: DataFrame,
    direct: dict[str, tuple[DataFrame, str]],
    cascade: dict[str, tuple[DataFrame, str, str, str]] | None = None,
) -> tuple[dict[str, DataFrame], DataFrame]:
    """Compliance delete propagation (px23) — the right-to-be-forgotten
    sweep every data platform eventually runs: given a one-column
    ``forget`` frame of keys to erase, anti-join every ``direct`` table
    (name → (df, key_col)) against it, and CASCADE through foreign keys
    (child name → (child_df, child_fk, parent_name, parent_pk)): a
    child row dies when its FK points at a parent row being deleted —
    the lineitem-of-a-forgotten-customer's-order shape. The reference's
    delete is per-record logical (delete_state='1',
    KuduManager.scala:78-84); this is the BATCH physical sweep that a
    retention/compliance job layers on top.

    Returns ``(scrubbed, audit)``: the scrubbed frames (callers write
    them back through the StateStore / partitioned-write discipline so
    only affected buckets rewrite), and a one-row-per-table audit
    (table_name, n_before, n_deleted, n_retained) — the evidence a
    compliance run must produce.

    Scale: the forget list is a bounded request list — broadcast it;
    the cascaded parent-PK set can be arbitrarily large, so those
    anti-joins stay shuffle-planned (AQE picks broadcast when it fits).
    Every table is scanned twice (audit count + scrub) — at 100 TB run
    the audit off the scrub's write metrics instead."""
    fcol = forget.columns[0]
    fkeys = F.broadcast(forget.select(F.col(fcol).alias("_forget_k")).distinct())

    scrubbed: dict[str, DataFrame] = {}
    audits: list[DataFrame] = []

    def _audit(name: str, df: DataFrame, doomed_keys: DataFrame, key: str) -> None:
        hit = df.join(doomed_keys, F.col(key) == F.col(doomed_keys.columns[0]), "left_semi")
        n_before = df.agg(F.count(F.lit(1)).cast("bigint").alias("n_before"))
        n_del = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_deleted"))
        audits.append(
            n_before.crossJoin(n_del).select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_deleted",
                (F.col("n_before") - F.col("n_deleted"))
                .cast("bigint")
                .alias("n_retained"),
            )
        )

    for name, (df, key) in direct.items():
        _audit(name, df, fkeys, key)
        scrubbed[name] = df.join(
            fkeys, F.col(key) == F.col("_forget_k"), "left_anti"
        )

    for name, (df, fk, parent_name, parent_pk) in (cascade or {}).items():
        pdf, pkey = direct[parent_name]
        doomed = (
            pdf.join(fkeys, F.col(pkey) == F.col("_forget_k"), "left_semi")
            .select(F.col(parent_pk).alias("_doomed_pk"))
            .distinct()
        )
        _audit(name, df, doomed, fk)
        scrubbed[name] = df.join(
            doomed, F.col(fk) == F.col("_doomed_pk"), "left_anti"
        )

    audit = audits[0]
    for a in audits[1:]:
        audit = audit.unionAll(a)
    return scrubbed, audit.orderBy("table_name")
