"""Structured Streaming CDC pipeline — the reference's ConsumerMain rebuilt.

Mapping (SURVEY.md §3.1):

- DStream + foreachRDD            → readStream + foreachBatch          (S4)
- Seconds(5) batches              → trigger(processingTime='5 seconds')
- maxRatePerPartition/backpressure→ maxOffsetsPerTrigger               (S31)
- ZooKeeper / file / Kafka offset stores (S24-S29)
                                  → option("checkpointLocation", …) WAL
- per-record Kudu upsert loop     → cdc.sync_batch set-oriented MERGE  (S18)
- per-batch metrics log (S21-S23) → metrics.write_batch_log

The stream graph is defined once; everything per-batch happens inside
``foreachBatch`` exactly like the reference's foreachRDD body, but
set-oriented. At-least-once + idempotent upsert ⇒ exactly-once effect
(reference semantics #5).
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..catalog import TargetTable
from ..cdc import BatchMetrics, sync_batch
from ..config import PipelineConfig
from .metrics import write_batch_log


def kafka_source(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Kafka source (S1-S3). ``startingOffsets`` accepts "latest"/"earliest"
    or the explicit per-partition JSON produced by replay.offsets_to_json —
    the rebuild of ReadByAssignOffset's pinned Assign strategy
    (/root/reference/.../ReadByAssignOffset.scala:52-66).

    Requires the spark-sql-kafka package on the classpath (not in the local
    test image; the code path is exercised against the file source below,
    which yields the identical (value, seq) shape).
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.brokers)
        .option("subscribe", ",".join(cfg.topics))
        .option("startingOffsets", cfg.starting_offsets)
        .option("maxOffsetsPerTrigger", cfg.max_offsets_per_trigger)
        .option("failOnDataLoss", "false")
        .load()
        .select(
            F.col("value").cast("string").alias("value"),
            F.col("offset").alias("seq"),
        )
    )


def file_source(spark: SparkSession, path: str) -> DataFrame:
    """Text-file source yielding the same (value, seq) shape as Kafka —
    deterministic local stand-in for tests (seq comes from the record's own
    ``pos`` field via parse_ogg's fallback)."""
    return (
        spark.readStream.format("text")
        .load(path)
        .select(F.col("value"), F.lit(None).cast("long").alias("seq"))
    )


def _start_foreach_batch(
    stream: DataFrame,
    body: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    query_name: str,
    available_now: bool,
    trigger_interval: str,
    skip_empty: bool = True,
) -> StreamingQuery:
    """The wiring every ``start_*`` shares: run ``body`` on each
    micro-batch under a named query with its checkpoint.
    ``available_now=True`` drains everything currently in the source and
    stops; otherwise the trigger fires every ``trigger_interval`` of
    processing time.

    Spark may hand foreachBatch a batch of 0 rows (a new, empty source
    file). With ``skip_empty`` such a batch is dropped by an
    ``isEmpty()`` job before ``body`` runs (S5, ConsumerMain.scala:94) —
    a second read of the source. ``start_cdc_sync`` passes False: its
    body learns emptiness from the count its first job takes anyway."""

    def _run(batch_df: DataFrame, epoch_id: int) -> None:
        if not skip_empty or not batch_df.isEmpty():
            body(batch_df, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(_run)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def start_cdc_sync(
    spark: SparkSession,
    source: DataFrame,
    cfg: PipelineConfig,
    catalog: dict[str, TargetTable] | None = None,
    available_now: bool = False,
    on_batch: Callable[[int, BatchMetrics], None] | None = None,
    now_str: str | None = None,
    rollups: list | None = None,
) -> StreamingQuery:
    """Wire source → foreachBatch(sync) → trigger + checkpoint and start.

    ``available_now=True`` drains everything currently in the source and
    stops — the deterministic test/backfill mode; the default is the
    reference's 5-second processing-time cadence. ``rollups``
    (cdc.RollupSpec list) adds continuously-maintained aggregate views,
    updated by deltas inside the same foreachBatch batch — exactly-once
    under checkpoint replay, because each view commits the base version it
    reflects (operators/rollup.py).

    The source is read once per batch: there is no ``isEmpty()`` pre-read.
    ``sync_batch``'s first job counts the batch; a batch of 0 records
    writes no tbLog block and calls no ``on_batch`` (S5 parity,
    ConsumerMain.scala:94).
    """

    def _sync(batch_df: DataFrame, epoch_id: int) -> None:
        start = time.time()
        seq = F.col("seq") if "seq" in batch_df.columns else None
        raw = batch_df.select("value") if seq is None else batch_df
        m = sync_batch(
            spark,
            raw,
            cfg.warehouse_dir,
            catalog,
            now_str=now_str,
            dead_letter_dir=cfg.dead_letter_dir,
            rollups=rollups,
            # names the batch's Spark jobs (cdc.<phase> epoch=<id>)
            epoch_id=epoch_id,
        )
        if m.total == 0:
            return
        write_batch_log(cfg.metrics_dir, epoch_id, start, time.time(), m)
        if on_batch:
            on_batch(epoch_id, m)

    return _start_foreach_batch(
        source, _sync, cfg.checkpoint_dir,
        "cdc_sync", available_now, cfg.trigger_interval, skip_empty=False,
    )


# ---------------------------------------------------------------------------
# Event-time operators over a stream (absent in the reference — it is purely
# processing-time, SURVEY.md §2.2 "Streaming-only"; these are the Structured
# Streaming idioms the rebuilt engine adds).
# ---------------------------------------------------------------------------
def _event_time(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (with local time zone).

    The streaming parquet reader can surface the column as TIMESTAMP_NTZ
    (depending on how the file was written), and ``withWatermark`` rejects
    NTZ with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. The cast is a no-op when
    the column is already TIMESTAMP, and reinterprets NTZ in the session
    time zone — identical to what the batch reader does, so stream and
    batch twins stay value-equal.
    """
    return df.withColumn(col, F.col(col).cast("timestamp"))


def windowed_rollup(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling event-time window with watermark for late data."""
    return (
        _event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stateful streaming dedup by event_id within the watermark — the
    streaming analog of exact dedup (S20 / dropDuplicatesWithinWatermark)."""
    return (
        _event_time(events, "ts")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time window: each event lands in window/slide overlapping
    buckets. State size is bounded by the watermark — closed windows are
    evicted, so memory is O(open windows × groups) regardless of stream
    length."""
    return (
        _event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows: a session closes after ``gap`` of per-user silence.
    The built-in ``session_window`` merges overlapping candidate windows in
    state — the streaming twin of the batch q17_sessionize (lag + running
    sum), with identical gap semantics."""
    return (
        _event_time(events, "ts")
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each click pairs with the same user's purchases
    in the preceding ``lookback``. Both sides carry watermarks and the join
    condition bounds event-time distance, so state for either side is
    evicted once the watermark passes — bounded memory on unbounded
    streams (the canonical Structured Streaming interval join).

    ``how="left_outer"`` additionally emits unmatched clicks with null
    purchase columns — but only once the watermark proves no matching
    purchase can still arrive (Spark emits outer-join nulls on state
    eviction, NOT immediately; an availableNow drain therefore needs a
    final empty batch or the unmatched rows stay pending).
    ``how="full_outer"`` also emits unmatched purchases with null click
    columns under the same eviction rule; the output user_id coalesces
    across sides so it is non-null for every row in every mode."""
    c = clicks.select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").cast("timestamp").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") <= F.col("click_ts"))
        & (F.col("purchase_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return c.join(p, cond, how).select(
        F.coalesce("user_id", "p_user_id").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def stream_static_enrich(stream: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich a stream with a (broadcast) dimension
    table — no state at all; the dim is re-resolved per micro-batch, so a
    slowly-changing dimension picks up updates between batches."""
    return stream.join(F.broadcast(dim), on, "left")


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, exact sum) maintained across micro-batches — the shape
    the built-in aggs can't express when the update logic is procedural
    (here it's a simple accumulator; the point is the state plumbing:
    Arrow-batched per-group apply, explicit GroupState, append output).

    Scale: state is one tuple per user key, partitioned by the groupBy
    hash — the same distribution any stateful agg uses.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def fn(key: tuple, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """Same running totals via ``transformWithStateInPandas`` — Spark 4's
    successor to ``applyInPandasWithState``: state lives in named, typed
    variables obtained from a ``StatefulProcessorHandle`` (value/list/map
    state, optional TTL, timers) instead of one opaque tuple, and is backed
    by the RocksDB state store.

    Requires ``spark.sql.streaming.stateStore.providerClass =
    ...state.RocksDBStateStoreProvider`` on the session (transformWithState
    is RocksDB-only) and the ``protobuf`` package at runtime (the TWS
    state-server protocol); callers/tests set/skip accordingly.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n bigint, s double")

        def handleInputRows(self, key, rows, timerValues):
            cur = self._totals.get()
            n, s = cur if cur is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self._totals.update((n, s))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
            )

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        "user_id bigint, n_events bigint, sum_value double",
        "append",
        "none",
    )


def start_dedup_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    flags_dir: str,
    threshold: float = 0.2,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Continuous near-dup gating of an incoming document stream — the
    streaming face of ``operators.dedup.incremental_neardup_ingest``:
    each micro-batch is cluster-deduped within itself, screened against
    the signature store of everything previously accepted, and only novel
    keepers' signatures are upserted into it; per-doc (is_dup, matched_id)
    flags land in ``flags_dir`` as parquet for the downstream writer.

    Exactly-once shape: the flag write is idempotent per epoch (overwrite
    of the epoch's own subdirectory), and the gate is an idempotent sink:
    a replayed batch's accepted docs do not match their own stored rows,
    so they get the first delivery's flags and their re-upsert changes
    nothing (pinned by
    test_stream_dedup_ingest_matches_batch_and_replay_converges).

    ``docs_stream`` must carry (doc_id, text), doc_id of an integer type.
    """

    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.dedup import incremental_neardup_ingest

        flags = incremental_neardup_ingest(
            batch_df.select("doc_id", "text"), store_dir, threshold
        )
        flags.write.mode("overwrite").parquet(f"{flags_dir}/epoch={epoch_id}")

    return _start_foreach_batch(
        docs_stream, _ingest, checkpoint_dir,
        "dedup_ingest", available_now, trigger_interval,
    )


def ingest_shards_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    store_dir: str,
    out_dir: str,
    threshold: float = 0.2,
    n_shards: int = 8,
    n_bands: int = 10,
) -> None:
    """One micro-batch of the LLM-ingest pipeline (st04): near-dup GATE →
    quality score → stratified shard DEAL, continuing the per-band
    round-robin across epochs. This is the foreachBatch body of
    ``start_ingest_shard_pipeline`` and also runs directly in batch mode
    (the st04 query replays it over doc_id halves, the px06 recipe).

    Per epoch:
      1. ``incremental_neardup_ingest`` screens the batch within itself
         and against the signature store of everything previously
         accepted (a re-delivered epoch's accepted docs do not match
         their own stored rows, so they stay accepted).
      2. Accepted docs get the px14 quality score, a value band
         (``least(n_bands-1, floor(p_keep*n_bands))``) and the px19
         md5-32 order key.
      3. Within the epoch, docs rank per band by (h, doc_id); ranks
         continue from the per-band counters of the LATEST PRIOR epoch,
         then deal round-robin: ``shard = rank0 % n_shards``,
         ``pos = rank0 div n_shards`` — so per-(shard, band) counts
         differ by ≤1 over the WHOLE accepted history, exactly like the
         batch px19 invariant, with positions in (epoch, h, doc_id)
         arrival order (a stream cannot replay px19's global md5 order
         without re-sorting history; the balance invariant is the
         contract, pinned against the batch twin).

    Exactly-once shape: flag/assignment writes overwrite the epoch's own
    subdirectory; counters are cumulative snapshots per epoch, so a
    replayed epoch re-reads its predecessor's counters and reproduces
    its output bit-for-bit (pinned by the restart-parity test).

    Scale shape: everything is per-BATCH work — the band join against
    the store is the only touch of history (sub-quadratic, banded); the
    per-band window sorts only the epoch's accepted rows (trigger-
    bounded); counters/offsets are n_bands-row collects. Nothing
    rescans or re-sorts the accepted corpus.
    """
    from pyspark.sql import Window

    from ..functions.hashing import md5_hash32
    from ..functions.localframe import local_frame
    from ..operators.dedup import incremental_neardup_ingest
    from ..operators.text import quality_classifier_scores
    from .fsio import latest_epoch_before

    spark = batch_df.sparkSession
    flags = incremental_neardup_ingest(
        batch_df.select("doc_id", "text"), store_dir, threshold
    )
    flags.write.mode("overwrite").parquet(f"{out_dir}/flags/epoch={epoch_id}")
    # reuse the flags frame directly (r14): it hangs off a
    # localCheckpoint, so this is a cache read, not a recompute — the
    # old parquet read-back of the file just written re-paid schema
    # inference + a scan every epoch for identical rows
    accepted = batch_df.join(
        flags.filter(~F.col("is_dup")).select("doc_id"), "doc_id"
    )
    banded = quality_classifier_scores(accepted).select(
        "doc_id",
        F.least(
            F.lit(n_bands - 1), F.floor(F.col("p_keep") * n_bands).cast("int")
        )
        .cast("int")
        .alias("band"),
        md5_hash32(F.col("doc_id").cast("string")).alias("_h"),
    )
    # offsets: cumulative per-band counts as of the latest PRIOR epoch —
    # discovered through the Hadoop FileSystem API (fsio), NOT
    # os.listdir, so an HDFS/S3 out_dir resolves exactly like the
    # spark.read/write calls around it (ADVICE r9: driver-local listing
    # on a remote store silently reset the round-robin every epoch).
    cdir = f"{out_dir}/counters"
    prior_epoch = latest_epoch_before(spark, cdir, epoch_id)
    base: dict[int, int] = {}
    if prior_epoch is not None:
        base = {
            r["band"]: r["n"]
            for r in spark.read.parquet(f"{cdir}/epoch={prior_epoch}").collect()
        }
    off_df = local_frame(
        spark, [(b, base.get(b, 0)) for b in range(n_bands)],
        "band int, _offset bigint",
    )
    w = Window.partitionBy("band").orderBy("_h", "doc_id")
    assign = (
        banded.join(F.broadcast(off_df), "band")
        .withColumn(
            "_rank0",
            (F.row_number().over(w) + F.col("_offset") - 1).cast("bigint"),
        )
        .select(
            "doc_id",
            "band",
            F.expr(f"CAST(_rank0 % {int(n_shards)} AS INT)").alias("shard_id"),
            F.expr(f"CAST(_rank0 div {int(n_shards)} AS BIGINT)").alias(
                "pos_in_shard"
            ),
        )
    )
    assign.write.mode("overwrite").parquet(f"{out_dir}/shards/epoch={epoch_id}")
    new_cnt = {
        r["band"]: r["n"]
        for r in spark.read.parquet(f"{out_dir}/shards/epoch={epoch_id}")
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .collect()
    }
    local_frame(
        spark,
        [(b, base.get(b, 0) + new_cnt.get(b, 0)) for b in range(n_bands)],
        "band int, n bigint",
    ).repartition(1).write.mode("overwrite").parquet(
        f"{cdir}/epoch={epoch_id}"
    )  # repartition(1), NOT coalesce(1): an Arrow local_frame is an RDD of
    # Arrow batches behind Python workers; coalesce(1) makes ONE task drain
    # all 32 of them SEQUENTIALLY (measured 4-7 s per 10-row write, every
    # epoch); repartition reads them in parallel then shuffles <=n_bands
    # rows to the single writer (measured ~0.6 s warm).


def start_ingest_shard_pipeline(
    spark: SparkSession,
    docs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    threshold: float = 0.2,
    n_shards: int = 8,
    n_bands: int = 10,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """The LLM-ingest surface as ONE live pipeline (st04): each arriving
    document micro-batch is near-dup gated against the full accepted
    history (px06), quality-scored (px14), and dealt into quality-
    stratified training shards continuing the global round-robin (px19's
    balance invariant) — see ``ingest_shards_epoch`` for the per-epoch
    semantics and the exactly-once argument. ``docs_stream`` must carry
    (doc_id, text, n_chars)."""

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_shards_epoch(
            batch_df, epoch_id, store_dir, out_dir, threshold, n_shards, n_bands
        )

    return _start_foreach_batch(
        docs_stream, _epoch, checkpoint_dir,
        "ingest_shards", available_now, trigger_interval,
    )


def hll_monitor_epoch(
    batch_df: DataFrame,
    col: str,
    store_dir: str,
    p: int = 12,
    epoch_id: int = 0,
    keep_epochs: int = 4,
) -> None:
    """One micro-batch of the streaming distinct-count monitor (st05):
    the batch's HLL registers fold into the stored register table by
    bucket-wise MAX. Max-merge is idempotent/commutative/associative, so
    a replayed epoch reproduces its snapshot bit-identically.

    Crash-safety (ADVICE r9): the store is CUMULATIVE PER-EPOCH
    SNAPSHOTS (``store_dir/epoch=N``), the st04-counter discipline — an
    epoch reads its latest PRIOR snapshot and writes only its OWN
    subdirectory, so a crash mid-write can at worst leave a partial
    ``epoch=N`` that the replayed epoch overwrites; the accumulated
    history in earlier snapshots is never touched. (The previous
    read-store → overwrite-same-path layout lost the whole register
    history if the writer died between delete and write.) Old snapshots
    beyond ``keep_epochs`` are pruned best-effort AFTER the new write
    lands; a replayed epoch only ever needs its immediate predecessor,
    which retention always keeps.

    The register table is ≤ 2^p rows BY CONSTRUCTION (4096 at p=12,
    independent of stream size), so the merge is a bounded driver
    materialization (the k-means-seed convention) and each snapshot is
    one tiny parquet write per epoch. Prior-epoch discovery goes through
    the Hadoop FileSystem API (fsio) so HDFS/S3 stores work unchanged.
    """
    from ..functions.localframe import local_frame
    from ..operators.sketch import hll_registers
    from .fsio import latest_epoch_before, prune_epochs

    spark = batch_df.sparkSession
    new = hll_registers(batch_df, col, p)
    prior_epoch = latest_epoch_before(spark, store_dir, epoch_id)
    if prior_epoch is not None:
        new = new.unionByName(
            spark.read.parquet(f"{store_dir}/epoch={prior_epoch}")
        )
    merged = (
        new.groupBy("bucket").agg(F.max("reg").alias("reg")).collect()
    )  # bounded: <= 2^p rows
    local_frame(spark, merged, "bucket bigint, reg int").repartition(
        1  # not coalesce(1) — see the st04 counters note (4-7 s/epoch tax)
    ).write.mode("overwrite").parquet(f"{store_dir}/epoch={epoch_id}")
    prune_epochs(spark, store_dir, keep_epochs)


def start_hll_monitor(
    spark: SparkSession,
    stream: DataFrame,
    col: str,
    store_dir: str,
    checkpoint_dir: str,
    p: int = 12,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Live distinct-count monitor (st05): every micro-batch folds its
    HLL registers into a persistent register store by bucket-wise max —
    how a 100 TB ingest tracks approximate cardinality continuously
    without ever rescanning history. Read the current estimate any time
    with ``read_hll_estimate``; the store after N epochs equals the
    batch sketch of the concatenated stream EXACTLY (merge
    associativity), pinned against sk04 by test."""

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        hll_monitor_epoch(batch_df, col, store_dir, p, epoch_id=epoch_id)

    return _start_foreach_batch(
        stream, _epoch, checkpoint_dir, "hll_monitor", available_now, trigger_interval
    )


def read_hll_estimate(spark: SparkSession, store_dir: str, p: int = 12) -> DataFrame:
    """Current ``(m, hll_estimate)`` of an hll-monitor register store —
    the LATEST COMPLETE cumulative epoch snapshot (each snapshot already
    folds all history, so only one is ever read). Complete = carries the
    ``_SUCCESS`` marker: a monitor read racing a crash-interrupted epoch
    write must not consume the partial directory — it falls back to the
    newest finished epoch instead (ADVICE r10; Spark will replay the
    crashed epoch and overwrite the partial dir)."""
    from ..operators.sketch import hll_estimate_from_registers
    from .fsio import latest_complete_epoch

    e = latest_complete_epoch(spark, store_dir)
    if e is None:
        raise ValueError(f"no complete hll register snapshots under {store_dir}")
    return hll_estimate_from_registers(
        spark.read.parquet(f"{store_dir}/epoch={e}"), p
    )


def histogram_monitor_epoch(
    batch_df: DataFrame,
    col: str,
    store_dir: str,
    cents_per_bucket: int,
    epoch_id: int,
    keep_epochs: int = 3,
    max_buckets: int = 100_000,
) -> None:
    """One micro-batch of the streaming QUANTILE monitor (st07): fold the
    batch's fixed-grid histogram counts into a cumulative per-epoch
    register snapshot — the st05 recipe applied to a SUM-merged sketch.

    Counts (unlike HLL's max-merged registers) are NOT idempotent under
    replay, so the crash-safe layout does the work: snapshot_N =
    predecessor snapshot + batch_N's counts, written to epoch=N's OWN
    directory; a replayed epoch re-reads its PREDECESSOR and overwrites
    only itself, so delivery stays exactly-once with no epoch stamps in
    the data. Prior-epoch discovery via fsio (HDFS/S3-safe).

    The grid is integer-exact end to end: value → cents (``*100`` on the
    decimal, exact) → ``cents div cents_per_bucket``. Register table size
    = value range / bucket width, guarded by ``max_buckets`` (raise the
    width, not the ceiling, when a stream's range grows — quantile error
    is ± one bucket by construction).
    """
    from ..functions.localframe import local_frame
    from .fsio import latest_epoch_before, prune_epochs

    spark = batch_df.sparkSession
    new = (
        batch_df.select(
            F.expr(
                f"CAST({col} * 100 AS BIGINT) div {int(cents_per_bucket)}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    prior_epoch = latest_epoch_before(spark, store_dir, epoch_id)
    if prior_epoch is not None:
        new = new.unionByName(
            spark.read.parquet(f"{store_dir}/epoch={prior_epoch}")
        )
    merged = (
        new.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("cnt")).collect()
    )
    if len(merged) > max_buckets:
        raise ValueError(
            f"histogram register table would hold {len(merged)} buckets "
            f"(> max_buckets={max_buckets}); widen cents_per_bucket"
        )
    local_frame(spark, merged, "bucket bigint, cnt bigint").repartition(
        1  # not coalesce(1) — see the st04 counters note (4-7 s/epoch tax)
    ).write.mode("overwrite").parquet(f"{store_dir}/epoch={epoch_id}")
    prune_epochs(spark, store_dir, keep_epochs)


def start_histogram_monitor(
    spark: SparkSession,
    stream: DataFrame,
    col: str,
    store_dir: str,
    checkpoint_dir: str,
    cents_per_bucket: int,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Live quantile monitor (st07) — the distribution sibling of st05's
    cardinality monitor: every micro-batch folds its histogram into the
    cumulative register store; ``read_quantile_estimate`` serves
    p50/p90/p99 (± one bucket) any time without rescanning history. The
    store after N epochs equals the batch histogram of the concatenated
    stream EXACTLY (sum associativity + the per-epoch snapshot replay
    discipline), pinned against the batch twin by test."""

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        histogram_monitor_epoch(
            batch_df, col, store_dir, cents_per_bucket, epoch_id=epoch_id
        )

    return _start_foreach_batch(
        stream, _epoch, checkpoint_dir,
        "histogram_monitor", available_now, trigger_interval,
    )


# quantiles served by the monitor: label -> p/q (exact rational, so the
# rank threshold ceil(total * p / q) stays in integer arithmetic)
QUANTILE_LABELS: tuple[tuple[str, int, int], ...] = (
    ("p50", 1, 2),
    ("p90", 9, 10),
    ("p99", 99, 100),
)


def read_quantile_estimate(
    spark: SparkSession, store_dir: str, cents_per_bucket: int
) -> DataFrame:
    """Current quantile estimates of a histogram-monitor register store —
    the newest COMPLETE epoch snapshot (same ``_SUCCESS`` discipline as
    read_hll_estimate: a crash-interrupted epoch write belongs to the
    engine's replay, not to monitor reads).

    For each (label, p, q) in QUANTILE_LABELS: the smallest bucket whose
    running count reaches ``ceil(total·p/q)`` — all-integer math, so the
    DuckDB oracle reproduces it bit-for-bit. Returns
    ``(q_label, n_total, bucket, est_lo_cents, est_hi_cents)``; the true
    quantile lies in ``[est_lo, est_hi)`` by construction."""
    from .fsio import latest_complete_epoch

    e = latest_complete_epoch(spark, store_dir)
    if e is None:
        raise ValueError(f"no complete histogram snapshots under {store_dir}")
    regs = spark.read.parquet(f"{store_dir}/epoch={e}")
    w = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)  # bounded-ok: <=n_buckets register rows
    cum = regs.select(
        "bucket",
        F.sum("cnt").over(w).cast("bigint").alias("cum"),
        F.sum("cnt").over(
            W.orderBy("bucket").rowsBetween(  # bounded-ok: <=n_buckets register rows
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).cast("bigint").alias("n_total"),
    )
    width = int(cents_per_bucket)
    parts = []
    for label, p, q in QUANTILE_LABELS:
        parts.append(
            cum.filter(
                F.col("cum") >= F.expr(f"(n_total * {p} + {q - 1}) div {q}")
            )
            .orderBy("bucket")
            .limit(1)
            .select(
                F.lit(label).alias("q_label"),
                "n_total",
                "bucket",
                (F.col("bucket") * width).alias("est_lo_cents"),
                ((F.col("bucket") + 1) * width).alias("est_hi_cents"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def enrich_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    store,
    out_dir: str,
    join_key: str,
    how: str = "left",
) -> None:
    """One micro-batch of the stream-static enrichment (st06): join the
    arriving batch against the CURRENT contents of a mutable keyed
    StateStore (the dimension table the CDC pipeline maintains) and land
    the enriched rows in the epoch's own subdirectory.

    Why foreachBatch and not a plain stream-static `join()`: Spark pins a
    parquet static side's FILE INDEX when the streaming query is planned,
    so dimension updates after start are invisible (and the StateStore
    deletes superseded files a few commits later, so the cached index
    would point at deleted files). Re-building ``store.read()`` INSIDE the
    epoch reads the store's newest manifest, so every micro-batch joins
    the dimensions as-of its own trigger — the Kafka-consumer-side enrichment every CDC
    deployment runs downstream (the reference's consumers read the Kudu
    table per query for the same reason, KuduManager.scala:70-73).

    Exactly-once: the output is keyed by epoch subdirectory and
    OVERWRITTEN on replay — but note the honest caveat: a replayed epoch
    joins the dimensions as of the REPLAY time, the standard stream-static
    semantics (dimension freshness and replay determinism trade off; an
    AS-OF-stamped dimension join is the cdc_emp_asof_enrich operator).

    Scale shape: one keyed join per micro-batch (batch side trigger-
    bounded), one partitioned write. When the store is bucketed on the
    join key, the dimension side is PRUNED to the buckets the batch's
    keys hash into (one cheap distinct over the trigger-bounded batch,
    then the merge path's read_buckets recipe) — so at 100 TB the epoch
    reads dim data proportional to the BATCH's key locality, not the
    dimension table (r11; left/inner only — a full_outer join needs the
    unmatched dim rows pruning would drop). No state beyond the store
    itself."""
    dim = None
    if how in ("left", "inner") and store.bucket_cols == [join_key]:
        dim = store.read_buckets(store.buckets_of(batch_df))
    if dim is None:
        dim = store.read()
    enriched = batch_df.join(dim, join_key, how)
    enriched.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")


def start_state_enriched_stream(
    spark: SparkSession,
    stream: DataFrame,
    store,
    checkpoint_dir: str,
    out_dir: str,
    join_key: str,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Live face of ``enrich_epoch``: every micro-batch joins the CURRENT
    StateStore dimensions — a dimension upsert between triggers is
    visible to the next trigger (pinned by
    test_stream_static_enrichment_sees_dim_updates)."""

    def _epoch(batch_df: DataFrame, epoch_id: int) -> None:
        enrich_epoch(batch_df, epoch_id, store, out_dir, join_key)

    return _start_foreach_batch(
        stream, _epoch, checkpoint_dir,
        "state_enriched", available_now, trigger_interval,
    )


def read_shard_assignment(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final shard assignment of an ingest-shard pipeline run: the union
    of every epoch's (doc_id, band, shard_id, pos_in_shard) plus the
    ``epoch`` partition column."""
    return spark.read.parquet(f"{out_dir}/shards").select(
        "doc_id",
        "band",
        "shard_id",
        "pos_in_shard",
        F.col("epoch").cast("int").alias("epoch"),
    )


def start_scd2_sync(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    store_dir: str,
    checkpoint_dir: str,
    catalog: dict[str, TargetTable] | None = None,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Continuous SCD2 history maintenance for one target table — the
    streaming face of ``operators.scd2.Scd2Store``: every micro-batch's
    change records are upserted into the per-entity raw log, then the
    history is refreshed from the raw version diff. Exactly-once without
    epoch stamps: the history commits the raw version it reflects, so a
    crash between the two writes heals on the next batch, replayed or not
    (scd2.py's module docstring; late records are spliced exactly, which
    append-style SCD2 sinks cannot do). A record whose ID does not cast to
    the key type is dropped (``bad_key``).

    ``source`` carries the raw (value[, seq]) change lines, same as
    start_cdc_sync."""
    from ..catalog import default_catalog
    from ..operators.ogg import normalize, parse_ogg, split_valid
    from ..operators.scd2 import Scd2Store

    cat = catalog or default_catalog()
    store = Scd2Store(spark, store_dir, cat[table])

    def _sync(batch_df: DataFrame, epoch_id: int) -> None:
        seq = F.col("seq") if "seq" in batch_df.columns else None
        valid, _dead = split_valid(parse_ogg(batch_df, seq_col=seq), cat)
        changes = normalize(valid).filter(F.col("tab_name") == table)
        store.apply_batch(changes)

    return _start_foreach_batch(
        source, _sync, checkpoint_dir,
        f"scd2_sync_{table}", available_now, trigger_interval,
    )


def start_quality_monitor(
    spark: SparkSession,
    stream: DataFrame,
    checks: list,
    report_dir: str,
    checkpoint_dir: str,
    table_name: str = "stream",
    static_tables: dict[str, DataFrame] | None = None,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Continuous data-quality gating: every micro-batch runs the
    declarative constraint suite (operators/quality_checks.py) against
    the batch — plus any ``static_tables`` for referential checks — and
    lands one report-per-epoch under ``report_dir`` (epoch-keyed
    overwrite, so replays are idempotent). Downstream alerting reads the
    report parquet like any table; the stream itself is untouched (gate,
    not transform — pair with dead-lettering for quarantine).

    ``checks`` reference ``table_name`` for the streaming batch."""
    from ..operators.quality_checks import constraint_report

    def _check(batch_df: DataFrame, epoch_id: int) -> None:
        tables = {table_name: batch_df, **(static_tables or {})}
        report = constraint_report(spark, tables, checks).withColumn(
            "epoch", F.lit(epoch_id).cast("long")
        )
        report.write.mode("overwrite").parquet(f"{report_dir}/epoch={epoch_id}")

    return _start_foreach_batch(
        stream, _check, checkpoint_dir,
        "quality_monitor", available_now, trigger_interval,
    )


def stream_topk_per_key(
    events: DataFrame, k: int = 3, key_col: str = "event_type"
) -> DataFrame:
    """Stateful streaming top-k per key via ``applyInPandasWithState``:
    each group's state is its current top-``k`` (value, event_id) heap —
    the continuous-leaderboard shape (biggest transactions per type,
    worst latencies per endpoint) that no built-in windowed agg expresses
    because the RANKING must survive across micro-batches.

    Ties break on the lower event_id (deterministic, replay-stable).
    Emits the full current top-k per group per batch (append mode) — the
    LAST emission per group equals the batch top-k over everything seen,
    which is what the equality test pins.

    Scale: state is k tuples per key, partitioned by the groupBy hash;
    per batch each group folds its new rows into the k-heap — O(k) state
    regardless of stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        f"{key_col} string, rank int, value double, event_id bigint"
    )
    state_schema = "vals array<double>, ids array<bigint>"

    def fn(key: tuple, pdfs, state: GroupState):
        top: list[tuple[float, int]] = []
        if state.exists:
            vals, ids = state.get
            top = list(zip(vals, ids))
        for pdf in pdfs:
            # pre-reduce the batch to its own top-k in pandas (vectorized
            # sort) so the Python merge below handles O(k) tuples per
            # batch, not O(events)
            head = pdf.sort_values(
                ["value", "event_id"], ascending=[False, True]
            ).head(k)
            top.extend(
                zip(head["value"].astype(float), head["event_id"].astype(int))
            )
        # descending value, ascending event_id tie-break; keep k
        top.sort(key=lambda t: (-t[0], t[1]))
        top = top[:k]
        state.update(([v for v, _ in top], [i for _, i in top]))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(top),
                "rank": list(range(1, len(top) + 1)),
                "value": [v for v, _ in top],
                "event_id": [i for _, i in top],
            }
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def decimal_cents(v: float) -> int:
    """A double as integer cents with Spark's cast-to-DECIMAL(12,2)
    rounding: BigDecimal.valueOf goes through Double.toString (shortest
    round-trip repr, same as Python's repr) then setScale(2, HALF_UP) —
    ties round away from zero.  Python's round() is half-even, which
    silently breaks batch/stream parity on values exactly representable
    at a half-cent in binary (0.125 → 12 cents vs batch's 13)."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(repr(float(v)))
        .quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        .scaleb(2)
    )


def stream_zscore_anomalies(
    events: DataFrame,
    lookback: int = 20,
    min_window: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Streaming twin of the batch rolling z-score monitor
    (operators/quality_checks.py::rolling_zscore_anomalies): per-user
    state is the last ``lookback`` values; each arriving event is scored
    against the state BEFORE being folded in (the batch operator's
    strictly-preceding frame), and anomalies stream out continuously —
    the alerting feed a metrics pipeline actually runs, vs the batch
    operator's retrospective sweep.

    VALUE-EXACT parity with the batch operator (pinned by test): the
    batch side computes moments in DECIMAL(12,2)/(18,4); here values are
    held as integer cents (scale 2) and squared cents (scale 4), so
    num/varnum are the same exact integers, the /100 and /10000 descales
    are the same correctly-rounded double conversions, and the final
    round-half-up(6) replays Spark's BigDecimal rounding. Parity holds
    whenever arrival order respects event time per user (in-order
    micro-batches); late data degrades gracefully (scored against the
    state as-of arrival — the streaming-vs-batch difference that
    watermarking, not this operator, addresses).

    Scale: O(lookback) state per user, hash-partitioned by the groupBy;
    each micro-batch folds its rows in (ts, event_id) order. The
    within-batch fold is vectorized (rolling sums as int64 cumsum
    differences — r8: 101x on a 500k-event batch, folds bit-identical):
    Python work is O(anomaly candidates), not O(events); batches whose
    len·max_cents² would overflow int64 fall back to the exact
    Python-int scalar fold (parity-tested at $1.5M values).
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "event_id bigint, user_id bigint, value double, "
        "n_window bigint, zscore double"
    )
    state_schema = "cents array<bigint>"

    def _round6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    _cents = decimal_cents

    def _fold_scalar(pdf, hist, key, out_rows):
        """Reference fold — exact Python-int arithmetic, O(events) Python.
        Kept as the overflow fallback for the vectorized path below."""
        for _, row in pdf.iterrows():
            cents = _cents(row["value"])
            n = len(hist)
            if n >= min_window:
                s1 = sum(hist)                      # scale-2 integer
                s2 = sum(c * c for c in hist)       # scale-4 integer
                num = n * cents - s1
                varnum = n * s2 - s1 * s1
                if varnum > 0:
                    num_d = num / 100.0
                    var_d = varnum / 10000.0
                    z = _round6(
                        num_d * math.sqrt((n - 1.0) / (n * var_d))
                    )
                    if abs(z) >= threshold:
                        out_rows.append(
                            (
                                int(row["event_id"]),
                                int(key[0]),
                                cents / 100.0,
                                n,
                                z,
                            )
                        )
            hist.append(cents)
            if len(hist) > lookback:
                hist = hist[-lookback:]
        return hist

    def fn(key: tuple, pdfs, state: GroupState):
        import numpy as np

        hist: list[int] = list(state.get[0]) if state.exists else []
        out_rows = []
        frames = [p for p in pdfs]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            # Vectorized cents: np.rint (half-even) is correct whenever the
            # decimal value is > 1e-6 cents away from a half-cent boundary
            # (binary error of v*100 is ~1e-8 there); the rare near-half
            # rows go through the exact Decimal HALF_UP path.
            vals = pdf["value"].to_numpy(dtype=np.float64)
            r = vals * 100.0
            cents_b = np.rint(r).astype(np.int64)
            for i in np.flatnonzero(np.abs(r - np.floor(r) - 0.5) < 1e-6):
                cents_b[i] = _cents(vals[i])
            carry = np.asarray(hist, dtype=np.int64)
            all_c = np.concatenate([carry, cents_b])
            m = max(int(np.max(np.abs(all_c))) if len(all_c) else 1, 1)
            # Headroom must cover BOTH the cumsum totals (len * m^2) and
            # the windowed terms n*s2 / s1*s1 (each <= window^2 * m^2 for
            # window = min(len, lookback)) — a short batch of huge values
            # can wrap s1*s1 while the cumsum bound passes.
            win = min(len(all_c), lookback)
            if max(len(all_c), win * win) * m * m >= (1 << 62):
                # int64 rolling-sum headroom exceeded — exact scalar fold
                hist = _fold_scalar(pdf, hist, key, out_rows)
            else:
                # rolling window sums as cumsum differences — the same
                # scale-2/scale-4 integers the scalar fold computes
                cs1 = np.concatenate([[0], np.cumsum(all_c)])
                cs2 = np.concatenate([[0], np.cumsum(all_c * all_c)])
                idx = np.arange(len(carry), len(all_c))
                n = np.minimum(lookback, idx)
                lo = idx - n
                s1 = cs1[idx] - cs1[lo]
                s2 = cs2[idx] - cs2[lo]
                num = n * all_c[idx] - s1
                varnum = n * s2 - s1 * s1
                elig = (n >= min_window) & (varnum > 0)
                e = np.flatnonzero(elig)
                if len(e):
                    # identical float op sequence to the scalar fold:
                    # (num/100) * sqrt((n-1) / (n * (varnum/10000)))
                    nf = n[e].astype(np.float64)
                    z_raw = (num[e] / 100.0) * np.sqrt(
                        (nf - 1.0) / (nf * (varnum[e] / 10000.0))
                    )
                    # pre-filter with a margin, then replay the scalar
                    # path's round-THEN-compare exactly per candidate
                    cand = np.flatnonzero(np.abs(z_raw) >= threshold - 1e-6)
                    eids = pdf["event_id"].to_numpy()
                    for j in cand:
                        z = _round6(float(z_raw[j]))
                        if abs(z) >= threshold:
                            gi = int(e[j])
                            out_rows.append(
                                (
                                    int(eids[gi]),
                                    int(key[0]),
                                    int(all_c[len(carry) + gi]) / 100.0,
                                    int(n[e[j]]),
                                    z,
                                )
                            )
                hist = [int(x) for x in all_c[-lookback:]]
        state.update((hist,))
        yield pd.DataFrame(
            out_rows,
            columns=["event_id", "user_id", "value", "n_window", "zscore"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming funnel tracker — the live twin of the batch strict-order
    funnel (plans/queries.py::q80_event_funnel): per-user state is the
    first completion time of each step; a stage-advancement row
    ``(user_id, stage, ts)`` streams out the moment a user first reaches
    each stage, with step N only reachable STRICTLY AFTER step N-1
    (q80's ``ts > t_prev`` rule).

    Parity with the batch funnel (pinned by test): processing each
    micro-batch in (ts, event_id) order makes greedy first-match
    identical to batch's min-over-qualifying — ``min(ts of step-N
    events with ts > t_{N-1})`` is exactly the first qualifying event
    in time order. Parity holds when arrival order respects event time
    per user (the stream_zscore_anomalies caveat); late data advances
    stages as-of arrival.

    Scale: O(len(steps)) bigint state per user — the smallest possible
    funnel state — hash-partitioned by the groupBy; emissions are
    append-only and at most len(steps) rows per user ever.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_steps = len(steps)
    if n_steps < 2:
        raise ValueError("funnel needs at least 2 steps")
    step_idx = {s: i for i, s in enumerate(steps)}
    out_schema = "user_id bigint, stage int, ts timestamp"
    state_schema = "t array<bigint>"  # -1 = stage not reached

    def fn(key: tuple, pdfs, state: GroupState):
        import numpy as np

        t = list(state.get[0]) if state.exists else [-1] * n_steps
        out_rows = []
        frames = [p for p in pdfs]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            types = pdf["event_type"].to_numpy()
            # One vectorized pass per STEP (not per event): stage i's first
            # qualifying event is the first masked row in (ts, event_id)
            # order — `us > t[i-1]` is strict, so equal-timestamp ordering
            # inside the batch cannot change which event qualifies, and a
            # stage that fails to advance gates all later stages exactly
            # like the scalar fold did.
            for i, step in enumerate(steps):
                if t[i] >= 0:
                    continue
                if i > 0 and t[i - 1] < 0:
                    break
                mask = types == step
                if i > 0:
                    mask &= us > t[i - 1]
                hits = np.flatnonzero(mask)
                if not len(hits):
                    break
                t[i] = int(us[hits[0]])
                out_rows.append(
                    (int(key[0]), i + 1, pd.Timestamp(t[i] * 1000))
                )
        state.update((t,))
        yield pd.DataFrame(out_rows, columns=["user_id", "stage", "ts"])

    return _event_time(events, "ts").groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
) -> DataFrame:
    """Streaming sessionization — the live twin of the batch gap
    sessionizer (plans/queries.py::q17_sessionize, lag + running sum):
    per-user state is the OPEN session (index, start, last-event time,
    count); an event arriving more than ``gap_minutes`` after the
    previous one CLOSES the open session — which streams out as one
    ``(user_id, session_idx, n_events, session_start, session_end)``
    row — and opens the next. The still-open tail session never emits
    (that is the defining streaming/batch difference: batch sees the
    corpus end, a stream never does; an event-time timeout would close
    it operationally, at the cost of reopening on a late event).

    Parity with q17 (pinned by test): processing each micro-batch in
    (ts, event_id) order reproduces the batch window's lag chain, so
    after any sequence of checkpointed runs the emission set equals the
    batch result MINUS each user's last (open) session. The gap rule is
    strictly-greater (batch: ``ts > prev + INTERVAL``), microsecond
    exact via integer-µs state.

    Scale: O(1) state per user (4 bigints) — sessionization as cheap as
    state gets; hash-partitioned by the groupBy, append-only output.
    Within a batch the gap chain is vectorized (the cross-batch state
    fold is inherently sequential, but per-batch boundaries are just a
    shifted-diff comparison over the sorted timestamps), so Python-level
    work is O(sessions) per batch, not O(events).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000
    out_schema = (
        "user_id bigint, session_idx bigint, n_events bigint, "
        "session_start timestamp, session_end timestamp"
    )
    state_schema = "idx bigint, start bigint, last bigint, n bigint"

    def fn(key: tuple, pdfs, state: GroupState):
        if state.exists:
            idx, start, last, n = state.get
        else:
            idx, start, last, n = 0, -1, -1, 0
        out_rows = []
        frames = [p for p in pdfs]
        if frames:
            pdf = pd.concat(frames).sort_values(["ts", "event_id"])
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
            # Boundary test of the scalar fold: event i opens a new session
            # iff us[i] - runmax(prev events, carry) > gap.  Sorted input
            # makes the running max just the previous element, clamped from
            # below by the carried open-session `last` (late data: an event
            # older than the state compares against the state, not itself).
            if start >= 0:
                prev = np.maximum(
                    np.concatenate(([last], us[:-1])), last
                )
            else:
                prev = np.concatenate(([us[0] - gap_us - 1], us[:-1]))
            new = (us - prev) > gap_us
            seg = np.cumsum(new)            # 0 = continuation of open state
            n_new = int(seg[-1])
            firsts = np.flatnonzero(new)    # first event idx of segs 1..n_new
            cnt = np.bincount(seg, minlength=n_new + 1)

            def _emit(s_idx, s_start, s_end, s_n):
                out_rows.append(
                    (
                        int(key[0]),
                        int(s_idx),
                        int(s_n),
                        pd.Timestamp(int(s_start) * 1000),
                        pd.Timestamp(int(s_end) * 1000),
                    )
                )

            if start >= 0 and n_new >= 1:
                # the carried open session closes at the first boundary
                end0 = max(last, int(us[cnt[0] - 1])) if cnt[0] else last
                _emit(idx, start, end0, n + cnt[0])
            for s in range(1, n_new):       # fully-closed in-batch sessions
                _emit(
                    idx + s,
                    us[firsts[s - 1]],
                    us[firsts[s] - 1],
                    cnt[s],
                )
            if n_new >= 1:                  # a new session is now open
                idx, start = idx + n_new, int(us[firsts[-1]])
                last, n = int(us[-1]), int(cnt[n_new])
            else:                           # batch continues the open one
                last, n = max(last, int(us[-1])), n + int(cnt[0])
                if start < 0:               # unreachable (empty state ⇒
                    start = int(us[0])      # new[0] is forced True)
        state.update((idx, start, last, n))
        yield pd.DataFrame(
            out_rows,
            columns=[
                "user_id",
                "session_idx",
                "n_events",
                "session_start",
                "session_end",
            ],
        )

    return _event_time(events, "ts").groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_ohlc(
    events: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming OHLC candles — the live twin of the batch hourly candle
    aggregation (plans/queries.py::q95_ohlc_candles): per (event_type,
    tumbling event-time hour), open/close as min/max over a
    (ts, event_id, value) struct plus high/low/count/sum, emitted
    append-only once the watermark passes the window end. The same ONE
    map-side-combined hash aggregation as batch — Spark's windowed
    streaming agg keeps O(open windows) state per key and finalizes
    windows exactly once.

    Parity with q95 (pinned by test): identical DECIMAL(12,2) value
    arithmetic and identical struct tie-break (equal-ts opens resolved
    by event_id), so every FINALIZED window is bit-equal to the batch
    row; the streaming/batch difference is only WHICH windows have
    finalized (end <= watermark) — the q17/stream_sessionize open-tail
    argument applied to windows.
    """
    e = _event_time(events, "ts")
    v = F.col("value").cast("decimal(12,2)")
    base = e.withWatermark("ts", watermark).select(
        "event_type",
        F.window("ts", "1 hour").alias("w"),
        F.struct(
            F.col("ts").alias("ts"),
            F.col("event_id").alias("event_id"),
            v.alias("v"),
        ).alias("s"),
        v.alias("v"),
    )
    return (
        base.groupBy("event_type", "w")
        .agg(
            F.min("s").getField("v").cast("double").alias("open_v"),
            F.max("v").cast("double").alias("high_v"),
            F.min("v").cast("double").alias("low_v"),
            F.max("s").getField("v").cast("double").alias("close_v"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("v").cast("double").alias("v_sum"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bucket_ts"),
            "open_v",
            "high_v",
            "low_v",
            "close_v",
            "n_events",
            "v_sum",
        )
    )


def start_bm25_index_sync(
    spark: SparkSession,
    docs_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Keep a materialized BM25 postings index fresh FROM A STREAM — the
    streaming face of ``operators.text.append_bm25_index`` (r13): each
    micro-batch of documents tokenizes itself and lands as its own
    committed epoch; the serving tier's probes (``bm25_index_topk``)
    see every drained document with zero rebuild work.

    Exactly-once shape, layered on the batch operators' own contracts:
    the first batch (no sidecar yet) runs ``build_bm25_index``; every
    later batch appends under ``epoch = streaming epoch id``. A replayed
    epoch either (a) never committed — the dynamic partition overwrite
    rewrites its own files and the sidecar commit lands once — or
    (b) already committed — the append is an idempotent no-op. A crash
    before the first sidecar re-runs the build (mode=overwrite of an
    index only that batch populated). Streaming epoch ids are
    monotonically increasing, so compaction's fresh-epoch rule (max+1)
    can collide with a FUTURE streaming epoch — run
    ``compact_bm25_index`` only while the sync is stopped (documented,
    same as every store-rewrite op in this repo).

    ``docs_stream`` must carry (doc_id, text); doc_ids must be new
    across batches (the append-only contract). ``index_path`` and
    ``checkpoint_dir`` live and die TOGETHER (the standard contract of
    every epoch-id-idempotent foreachBatch sink here): starting a FRESH
    checkpoint against an existing index restarts epoch ids at 0, whose
    appends would no-op against the old commits."""
    from ..operators.text import (
        _read_bm25_meta,
        append_bm25_index,
        build_bm25_index,
    )

    def _sync(batch_df: DataFrame, epoch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        try:
            _read_bm25_meta(spark, index_path)
        except FileNotFoundError:
            # Bind the built index to THIS micro-batch's epoch id via the
            # sidecar's folded-epoch memory (one atomic write): if the
            # building batch had epoch_id > 0 (e.g. earlier batches were
            # empty) and the driver dies after the sidecar commit but
            # before the checkpoint commit, the replay of this batch
            # finds its id folded and no-ops instead of double-inserting
            # every document as a fresh append epoch.
            build_bm25_index(
                docs,
                index_path,
                n_buckets=n_buckets,
                folded_epochs=(int(epoch_id),) if int(epoch_id) > 0 else (),
            )
            return
        append_bm25_index(docs, index_path, epoch=int(epoch_id))

    return _start_foreach_batch(
        docs_stream, _sync, checkpoint_dir,
        "bm25_index_sync", available_now, trigger_interval,
    )


def start_ivf_index_sync(
    spark: SparkSession,
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    n_cells: int = 16,
    iters: int = 5,
    partition_cols: tuple[str, ...] = ("cell",),
    available_now: bool = False,
    trigger_interval: str = "5 seconds",
) -> StreamingQuery:
    """Keep a materialized IVF index fresh FROM A STREAM — the dense
    twin of ``start_bm25_index_sync`` (r13), completing the serving-index
    lifecycle symmetry: both index families now have build / append-or-
    upsert / compact / stream-sync. Each micro-batch of embeddings lands
    as its own committed epoch via ``upsert_ivf_index``; serving probes
    (``ivf_index_topk``) see every drained vector with zero rebuild work.

    Exactly-once shape (identical to the BM25 twin, layered on the batch
    operators' contracts): the first batch (no sidecar yet) runs
    ``build_ivf_index`` — TRAINING THE CENTROIDS ON THAT BATCH; all
    later batches assign into the frozen geometry (``upsert_ivf_index``
    under ``epoch = streaming epoch id``). Centroid drift as the corpus
    grows is handled by periodic rebuild while the sync is stopped —
    probe RECALL degrades gracefully with drift, and full-probe reads
    (the verification shape) are unaffected entirely, because cell
    assignment only chooses each row's file, never its value. A replayed
    epoch either never committed (dynamic partition overwrite rewrites
    its own files; sidecar commit lands once) or already committed /
    was folded by a compaction (idempotent no-op). The building batch's
    epoch id is bound through ``folded_epochs`` in the same atomic
    sidecar write, so a crash between sidecar and checkpoint commits
    cannot double-insert the first batch. Run ``compact_ivf_index``
    only while the sync is stopped (streaming epoch ids grow
    monotonically; the store-rewrite rule shared by every epoch store
    here). ``index_path`` and ``checkpoint_dir`` live and die together.

    ``emb_stream`` must carry ``embedding`` plus whatever id/payload
    columns the index serves (``vec_id``, ``label``, ...); vec_ids must
    be new across batches (the append-only ingest regime)."""
    from ..operators.similarity import (
        _read_ivf_meta,
        build_ivf_index,
        upsert_ivf_index,
    )

    def _sync(batch_df: DataFrame, epoch_id: int) -> None:
        try:
            _read_ivf_meta(spark, index_path)
        except FileNotFoundError:
            build_ivf_index(
                batch_df,
                index_path,
                n_cells=n_cells,
                iters=iters,
                partition_cols=partition_cols,
                folded_epochs=(int(epoch_id),) if int(epoch_id) > 0 else (),
            )
            return
        upsert_ivf_index(batch_df, index_path, epoch=int(epoch_id))

    return _start_foreach_batch(
        emb_stream, _sync, checkpoint_dir,
        "ivf_index_sync", available_now, trigger_interval,
    )
