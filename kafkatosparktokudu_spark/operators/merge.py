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

Versions: a store is its manifest log, ``{path}/_manifest/<version>.json``.
A manifest holds the version, ``n_buckets`` and the live files of each
bucket; the newest one is the store. No data file is replaced in place: a
write adds files under version-unique names
(``_bucket=<b>/v<version>-part-*.parquet``) and publishes the next
manifest. Every read (``exists``, ``read``, ``read_buckets``, ``lookup``)
reads the newest manifest once and plans against its file list, so a
frame keeps reading the version it was planned on while later writes land
— the consistent scan the reference's Kudu reads get.

One write protocol (``_stage_and_commit``) serves every mutation. The
caller names, per store, the buckets it replaces:

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
   state was never read, so committing it would replace that bucket's
   history with batch-only rows. The commit raises ``ValueError`` before
   any file moves, leaving every store unchanged;
3. commit, store by store: move the staged files into their bucket
   directories under version-unique names, then publish the next
   manifest (temp file + ``os.replace``) — the commit point. A listed
   bucket with no staged rows drops out of the new version; an unlisted
   bucket keeps its files;
4. retire: delete every data file that none of the last
   ``_KEEP_VERSIONS + 1`` manifests names, and the older manifests.

``upsert_many`` is the only merge path (``upsert_batch`` is a one-store
call of it); ``rewrite_buckets`` stages caller-supplied contents,
``purge_soft_deleted`` is a probe job plus ``rewrite_buckets``, and
``rebucket`` is one write of every row at a new geometry.

Crash safety: a store reads as its newest manifest, so a crash at any
step leaves it at exactly the old version (before the publish) or the new
one (after it). Files moved in by a crashed write are named by no
manifest, and the next write's retire step deletes them; a leftover
staging dir is overwritten by the next write. A write to several stores
publishes them one after another, so a crash between publishes leaves
some stores at the new version; recovery relies on checkpoint replay +
upsert idempotence (the reference's model: offsets persisted after
writes, ConsumerMain.scala:128-151, duplicates absorbed by upsert).

A manifest may carry one more key, ``source_version``: a derived store
(a rollup view, operators/rollup.py; the SCD2 history, operators/scd2.py)
records there the base version it reflects, in the same
``rewrite_buckets`` publish as its rows, and refreshes from the base
buckets ``changes_since`` that version. Base-store manifests carry none.

Retention: a frame stays readable for ``_KEEP_VERSIONS`` later commits of
its store. A file's age counts from the version that superseded it, not
the one that wrote it: a file this commit replaced is still what readers
of the previous version open.

On a lakehouse table format (Delta/Iceberg) this whole class collapses
into ``MERGE INTO``, and the manifest log is the local-FS form of their
transaction log; the public API is shaped so that swap is a drop-in.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_BUCKET = "_bucket"
_TABLE = "_table"
_MANIFESTS = "_manifest"
# Superseded versions a store keeps readable. A frame is planned against
# one version but opens its files only when it runs. A rollup view reads
# the base version it reflects after the merge that superseded it (two
# merges, when a crash between the merge and the view commit is
# replayed), and a read beside the stream queues behind at most one merge
# (up to 3.5 s against a 5 s trigger). Three versions cover both, for at
# most three superseded copies of each rewritten bucket on disk.
_KEEP_VERSIONS = 3


def merge_upserts(
    state: DataFrame, batch: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Pure merge: one row per key, column-wise ``coalesce(new, old)``.

    ``batch`` must already be folded to one row per key (fold_table_changes).
    Column set of both sides must match. Partial updates ride on coalesce:
    a folded column is null iff no record in the batch set it.

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
    out_cols = [
        F.coalesce(b[f"_b_{c}"], state[c]).alias(c) for c in key_cols + value_cols
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
        # LOCAL-FILESYSTEM-ONLY, enforced: the commit protocol moves files
        # with os.rename and publishes manifests with os.replace, so a
        # remote URI (hdfs://, s3a://, even file://) would make exists()
        # always-False — st06's enrich_epoch would silently join an EMPTY
        # dimension side while writes kept landing (ADVICE r10). Fail fast
        # instead; the lakehouse swap-in for remote stores is MERGE INTO
        # (module docstring / DEPLOY.md).
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
        # The manifest's geometry wins over the argument: call sites need
        # no change when a live store is rebucketed, and a stale n_buckets
        # would prune point lookups with the wrong hash modulus and miss
        # rows (VERDICT r10 #2).
        self.n_buckets = self._manifest()["n_buckets"]

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

    def _manifest(self, version: int | None = None) -> dict:
        """The newest published manifest, or the one of ``version``:
        ``{"version", "n_buckets", "buckets": {"<b>": [file path relative
        to the store, ...]}}``; version 0 with no buckets for a store never
        written and for ``version`` 0, the empty version every store starts
        at. A ``version`` whose manifest was retired raises ``ValueError``:
        its files may be gone."""
        log = os.path.join(self.path, _MANIFESTS)
        versions = _versions(log)
        if version:
            if version not in versions:
                raise ValueError(
                    f"{self.path}: version {version} is no longer kept "
                    f"(kept: {versions})"
                )
            return _load_manifest(log, version)
        if versions and version is None:
            return _load_manifest(log, versions[-1])
        if (
            os.path.isdir(self.path)
            and not os.path.isdir(log)
            and any(e.startswith(f"{_BUCKET}=") for e in os.listdir(self.path))
        ):
            raise ValueError(
                f"{self.path}: bucket directories without a {_MANIFESTS}/ "
                "log — a store in the layout from before manifests, which "
                "this module does not read; rebuild it from its source"
            )
        return {"version": 0, "n_buckets": self.n_buckets, "buckets": {}}

    def _scan(self, manifest: dict, buckets: list[int] | None = None) -> DataFrame:
        """The rows of ``manifest``'s version (of ``buckets`` only, when
        given), with the bucket column. The file list is fixed here, at
        plan time, so the frame reads this version whatever commits
        later."""
        schema = T.StructType(
            list(self.schema.fields) + [T.StructField(_BUCKET, T.IntegerType(), True)]
        )
        wanted = None if buckets is None else set(buckets)
        files = [
            os.path.join(self.path, f)
            for b, fs in manifest["buckets"].items()
            if wanted is None or int(b) in wanted
            for f in fs
        ]
        if not files:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.path)
            .parquet(*files)
        )

    def exists(self) -> bool:
        return bool(self._manifest()["buckets"])

    def read(self) -> DataFrame:
        """Current state (without the bucket column)."""
        return self._scan(self._manifest()).drop(_BUCKET)

    def read_buckets(self, buckets: list[int]) -> DataFrame:
        """State rows of the given buckets only (only their files are
        scanned, bucket column dropped) — the shared read recipe of the
        merge path, the rollup view update and the SCD2 operator."""
        return self._scan(self._manifest(), buckets).drop(_BUCKET)

    def lookup(self, keys: list[tuple] | list) -> DataFrame:
        """Point lookup by primary key — the Kudu read pattern the
        reference's consumers use downstream (openTable + key scan).
        Hashes the keys at the geometry of the manifest it reads (a handle
        opened before another handle's ``rebucket`` still finds every
        key), scans ONLY those buckets' files, then filters to the exact
        keys. Cost is O(|keys| buckets) regardless of table size —
        the point-read property a keyed store owes its users.

        ``keys``: list of key tuples (or scalars for single-column keys),
        in the key columns' declared types."""
        manifest = self._manifest()
        norm_keys = [
            k if isinstance(k, tuple) else (k,) for k in keys
        ]
        if not manifest["buckets"] or not norm_keys:
            return self.spark.createDataFrame([], self.schema)
        key_schema = T.StructType(
            [
                next(f for f in self.schema.fields if f.name == kc)
                for kc in self.key_cols
            ]
        )
        from ..functions.localframe import local_frame

        kdf = local_frame(self.spark, norm_keys, key_schema)
        hit = kdf.select(self._bucket_col(manifest["n_buckets"])).distinct()
        return (
            self._scan(manifest, [r[0] for r in hit.collect()])
            .drop(_BUCKET)
            .join(F.broadcast(kdf), self.key_cols, "left_semi")
        )

    # -- the merge ----------------------------------------------------------
    def upsert_batch(self, batch: DataFrame) -> None:
        """MERGE the (already folded, typed) batch into the store — a
        one-store ``upsert_many``: one job collects the touched buckets,
        one job merges them against their state and stages the result,
        then the next version is committed (module docstring)."""
        upsert_many(self.spark, [(self, batch)])

    def rewrite_buckets(
        self, buckets: list[int], content: DataFrame,
        source_version: int | None = None,
    ) -> None:
        """Replace the given buckets' contents WHOLESALE with ``content``
        (the caller supplies exactly those buckets' intended rows — this
        is the delete-capable primitive upsert can't be: rows absent from
        ``content`` are gone in the new version). Same stage-and-commit
        protocol as the merge path, including its guard: a content row
        hashing outside ``buckets`` raises instead of vanishing with the
        staging dir. A bucket with no surviving rows drops out of the new
        version. Cost tracks the rewritten buckets, never the table; the
        commit is atomic across them (module docstring). ``source_version``
        goes into the new manifest (a derived store's base version); with
        it, an empty ``buckets`` still commits, so that record advances."""
        if buckets or source_version is not None:
            self._write(content, buckets, source_version)

    def rebucket(self, n_new: int) -> None:
        """Online bucket-count migration: ONE write of every row at the
        new hash geometry, committed as the next version (DEPLOY.md: scale
        n_buckets with table size, since probe cost tracks touched
        buckets). The new manifest carries ``n_new``, so readers planned
        on the old version keep reading it, and a handle opened afterwards
        adopts the new geometry whatever ``n_buckets`` its call site
        passes. A crash leaves the old geometry or the new one, never a
        mix. Cost: one full-table read+write, once per capacity step."""
        if n_new < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_new}")
        if n_new != self.n_buckets:
            self._write(self.read(), list(range(n_new)), n_buckets=n_new)

    def _write(
        self, content: DataFrame, buckets: list[int],
        source_version: int | None = None, n_buckets: int | None = None,
    ) -> None:
        """Commit ``content`` as the rows of ``buckets`` — or, given
        ``n_buckets``, as the whole store at that geometry."""
        n = n_buckets or self.n_buckets
        _stage_and_commit(
            content.select([F.col(f.name) for f in self.schema.fields])
            .withColumn(_BUCKET, self._bucket_col(n))
            .withColumn(_TABLE, F.lit(0)),
            [(self, buckets)],
            n_buckets=n_buckets,
            source_version=source_version,
        )
        self.n_buckets = n

    def changes_since(self, version: int | None) -> tuple[dict, dict | None, list[int]]:
        """The version diff every derived store refreshes from: the newest
        manifest, ``version``'s, and the buckets whose file lists differ
        (names are version-unique, so every bucket a write touched does).
        A ``version`` that is ``None`` or no longer kept gives no old
        manifest, and every bucket counts as changed."""
        new = self._manifest()
        if version is None or (
            version and version not in _versions(os.path.join(self.path, _MANIFESTS))
        ):
            return new, None, list(range(new["n_buckets"]))
        old = self._manifest(version)
        changed = sorted(
            int(b)
            for b in old["buckets"].keys() | new["buckets"].keys()
            if old["buckets"].get(b) != new["buckets"].get(b)
        )
        return new, old, changed

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

        Only buckets CONTAINING purgeable rows are rewritten (one probe
        for the bucket set, then ``rewrite_buckets``), both planned on one
        version; a bucket left empty drops out. Returns the number of rows
        purged. At 100 TB the cost tracks the purgeable
        buckets, not the table — and because every bucket is one file,
        the rewrite is a bounded, restartable job (idempotent: re-running
        purges nothing the second time)."""
        manifest = self._manifest()
        purgeable = (F.col(delete_col) == "1") & (F.col(ts_col) < older_than)
        probe = (
            self._scan(manifest)
            .filter(purgeable)
            .groupBy(_BUCKET)
            .count()
            .collect()
        )
        if not probe:
            return 0
        affected = [r[_BUCKET] for r in probe]
        self.rewrite_buckets(
            affected, self._scan(manifest, affected).drop(_BUCKET).filter(~purgeable)
        )
        return int(sum(r["count"] for r in probe))


def _versions(log: str) -> list[int]:
    """The published manifest versions in ``log``, oldest first."""
    try:
        names = os.listdir(log)
    except FileNotFoundError:
        return []
    stems = (n.removesuffix(".json") for n in names if n.endswith(".json"))
    return sorted(int(s) for s in stems if s.isdigit())


def _load_manifest(log: str, version: int) -> dict:
    with open(os.path.join(log, f"{version}.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _stage_and_commit(
    staged: DataFrame,
    targets: list[tuple[StateStore, list[int]]],
    n_buckets: int | None = None,
    source_version: int | None = None,
) -> None:
    """The one write protocol (module docstring). ``staged`` carries
    ``_table`` (an index into ``targets``) and ``_bucket``; each target
    store's listed buckets are replaced wholesale by its staged rows.
    ``n_buckets`` (one target): the rows are staged at this geometry, and
    the new version holds them alone. ``source_version`` goes into every
    new manifest (``rewrite_buckets``).

    Staged under the first store's sibling ``{path}.__staging__``, so the
    moves stay on that store's filesystem."""
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
    # committing it would drop that bucket's history. The staged
    # directory listing is the cheap, job-free place to catch it. So is a
    # handle whose geometry is not the store's: its rows were staged with
    # the wrong hash modulus.
    olds = []
    for src, (store, buckets) in zip(srcs, targets):
        staged_buckets = {
            int(e.split("=", 1)[1])
            for e in (os.listdir(src) if os.path.isdir(src) else [])
            if e.startswith(f"{_BUCKET}=")
        }
        extra = staged_buckets - set(buckets)
        old = store._manifest()
        if extra:
            problem = (
                f"staged rows for buckets {sorted(extra)} not in the bucket "
                f"list {sorted(buckets)} — refusing to drop them"
            )
        elif old["n_buckets"] != store.n_buckets:
            problem = (
                f"rows staged at {store.n_buckets} buckets, but the store "
                f"has {old['n_buckets']}"
            )
        else:
            olds.append(old)
            continue
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(f"{store.path}: {problem}")
    for src, (store, buckets), old in zip(srcs, targets, olds):
        _publish(store, src, buckets, old, n_buckets, source_version)
    for store, _ in targets:
        _retire(store)
    shutil.rmtree(staging, ignore_errors=True)


def _publish(
    store: StateStore, src: str, buckets: list[int], old: dict,
    n_buckets: int | None, source_version: int | None,
) -> None:
    """Move ``src``'s staged bucket files into ``store`` under the next
    version's names, then publish that version's manifest."""
    log = os.path.join(store.path, _MANIFESTS)
    # the log exists before any file moves in, so a crash in between
    # leaves an empty store, not bucket dirs that look like the old layout
    os.makedirs(log, exist_ok=True)
    version = old["version"] + 1
    listed = {str(b) for b in buckets}
    live = {} if n_buckets is not None else {
        b: fs for b, fs in old["buckets"].items() if b not in listed
    }
    for entry in sorted(os.listdir(src)) if os.path.isdir(src) else []:
        dst = os.path.join(store.path, entry)
        os.makedirs(dst, exist_ok=True)
        names = [
            f for f in sorted(os.listdir(os.path.join(src, entry)))
            if f.endswith(".parquet")
        ]
        for f in names:
            os.rename(os.path.join(src, entry, f), os.path.join(dst, f"v{version}-{f}"))
        live[entry.split("=", 1)[1]] = [f"{entry}/v{version}-{f}" for f in names]
    manifest = {
        "version": version,
        "n_buckets": n_buckets or store.n_buckets,
        "buckets": live,
    }
    if source_version is not None:
        manifest["source_version"] = source_version
    tmp = os.path.join(log, f".{version}.json.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(log, f"{version}.json"))


def _retire(store: StateStore) -> None:
    """Delete every data file that none of the last ``_KEEP_VERSIONS + 1``
    manifests names — files superseded longer ago, and the orphans of a
    crashed write — and the manifests older than those."""
    log = os.path.join(store.path, _MANIFESTS)
    versions = _versions(log)
    keep = versions[-(_KEEP_VERSIONS + 1):]
    named = {
        f for v in keep for fs in _load_manifest(log, v)["buckets"].values() for f in fs
    }
    for v in versions[: len(versions) - len(keep)]:
        os.remove(os.path.join(log, f"{v}.json"))
    for entry in os.listdir(store.path):
        if not entry.startswith(f"{_BUCKET}="):
            continue
        d = os.path.join(store.path, entry)
        for f in os.listdir(d):
            if f"{entry}/{f}" not in named:
                os.remove(os.path.join(d, f))
        if not os.listdir(d):
            os.rmdir(d)


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
       unioned by name and handed to ``_stage_and_commit``. With
       ``affected`` supplied the folds, merges and staged write fuse into
       a single Spark job.

    Guard: ``affected`` must cover every bucket each batch touches; a
    store with no entry is declared to have no rows. A missed bucket's
    state was never read, so its staged copy would hold batch-only rows:
    the commit sees the staged bucket outside the list and raises
    ``ValueError`` before any store changes (pinned by
    test_upsert_many_refuses_missed_bucket).

    The staged files carry the union-by-name schema (absent columns are
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
            upsert_many(spark, [m], affected)
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
                batch = merge_upserts(store.read_buckets(bs), batch, store.key_cols)
            merged.append(
                batch.withColumn(_BUCKET, store._bucket_col())
                .withColumn(_TABLE, F.lit(i))
            )
        _stage_and_commit(_union_by_name(merged), list(zip(stores, buckets)))
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
