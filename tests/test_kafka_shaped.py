"""The kafka-shaped Python streaming source (sources/kafka_shaped.py):
the Kafka ingestion semantics the image's missing spark-sql-kafka jar
kept untestable — offset-ranged batches through Spark's real streaming
Source contract, partition-parallel reads, maxOffsetsPerTrigger-style
rate limiting, and resume-at-checkpointed-offsets — exercised live, and
the full CDC pipeline run unmodified on top of it."""

from __future__ import annotations

import time
from pathlib import Path

from kafkatosparktokudu_spark.cdc import apply_changes, read_fixture
from kafkatosparktokudu_spark.config import PipelineConfig
from kafkatosparktokudu_spark.sources.kafka_shaped import (
    append_records,
    kafka_shaped_source,
)
from kafkatosparktokudu_spark.streaming.pipeline import start_cdc_sync

FIXTURE = Path(__file__).resolve().parent.parent / "fixtures" / "ogg_changes.jsonl"


def _cfg(tmp_path: Path) -> PipelineConfig:
    return PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        metrics_dir=str(tmp_path / "metrics"),
    )


def _emp_state(spark, cfg):
    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators.merge import StateStore

    cat = default_catalog()
    store = StateStore(
        spark, f"{cfg.warehouse_dir}/emp", ["id"], cat["emp"].full_schema, 64
    )
    return {
        r["id"]: (r["name"], r["salary"], r["delete_state"])
        for r in store.read().collect()
    }


def test_kafkalog_record_shape_and_offsets(spark, tmp_path):
    """The source yields Kafka's record shape with per-partition monotone
    offsets and one task slice per partition."""
    log = str(tmp_path / "log")
    append_records(log, 0, [f"a{i}" for i in range(5)])
    append_records(log, 1, [f"b{i}" for i in range(3)])
    from kafkatosparktokudu_spark.sources.kafka_shaped import KafkaLogDataSource

    spark.dataSource.register(KafkaLogDataSource)
    rows = []
    q = (
        spark.readStream.format("kafkalog")
        .option("path", log)
        .load()
        .writeStream.foreachBatch(lambda df, e: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(rows) == 8
    assert {r["topic"] for r in rows} == {"cdc"}
    by_part = {}
    for r in rows:
        by_part.setdefault(r["partition"], []).append((r["offset"], r["value"]))
    assert sorted(o for o, _ in by_part[0]) == list(range(5))
    assert sorted(o for o, _ in by_part[1]) == list(range(3))
    assert dict(by_part[1])[2] == "b2"


def test_kafkalog_rate_limit_splits_backlog(spark, tmp_path):
    """S31: maxRecordsPerTrigger splits a 20-record backlog into bounded
    micro-batches (cap 6 over 2 partitions -> 3/partition/trigger)."""
    log = str(tmp_path / "log")
    for p in (0, 1):
        append_records(log, p, [f"x{p}-{i}" for i in range(10)])
    src = kafka_shaped_source(spark, log, max_records_per_trigger=6)
    sizes: list[int] = []
    q = (
        src.writeStream.foreachBatch(lambda df, e: sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    t0 = time.time()
    while time.time() - t0 < 90 and sum(sizes) < 20:
        time.sleep(0.4)
    q.stop()
    assert sum(sizes) == 20
    nonempty = [s for s in sizes if s]
    assert len(nonempty) >= 4 and max(nonempty) <= 6, sizes


def test_kafkalog_cdc_equals_file_source(spark, tmp_path):
    """The FULL CDC pipeline (parse -> normalize -> fold -> MERGE) over
    the kafka-shaped source == the batch replay of the same fixture; the
    records arrive partitioned round-robin like a keyed Kafka topic."""
    lines = FIXTURE.read_text().splitlines()
    log = str(tmp_path / "log")
    for p in (0, 1, 2):
        append_records(log, p, lines[p::3])
    cfg = _cfg(tmp_path)
    q = start_cdc_sync(
        spark, kafka_shaped_source(spark, log), cfg, available_now=True
    )
    q.awaitTermination(180)
    got = _emp_state(spark, cfg)
    want_df = apply_changes(spark, read_fixture(spark))["emp"]
    want = {
        r["id"]: (r["name"], r["salary"], r["delete_state"])
        for r in want_df.collect()
    }
    assert got == want and got


def test_kafkalog_checkpoint_resume_no_loss_no_dup(spark, tmp_path):
    """S2/S3 through real source offsets: drain, stop, APPEND to the
    partition logs, restart on the same checkpoint — the resumed run
    reads exactly the appended suffix (offset ranges, not file names)."""
    log = str(tmp_path / "log")
    append_records(log, 0, [f"r{i}" for i in range(6)])
    seen: list[tuple] = []

    def run():
        src = kafka_shaped_source(spark, log)
        q = src.writeStream.foreachBatch(
            lambda df, e: seen.extend(
                (r["seq"], r["value"]) for r in df.collect()
            )
        ).option("checkpointLocation", str(tmp_path / "ck")).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)

    run()
    assert sorted(v for _, v in seen) == [f"r{i}" for i in range(6)]
    append_records(log, 0, [f"r{i}" for i in range(6, 10)])
    run()
    vals = sorted(v for _, v in seen)
    assert vals == sorted(f"r{i}" for i in range(10))  # no loss
    assert len(vals) == len(set(vals)) == 10           # no dup
    seqs = [s for s, _ in seen]
    assert len(set(seqs)) == 10                        # offsets unique


def test_kafkalog_explicit_starting_offsets_replay(spark, tmp_path):
    """S3 through the source: a fresh query with explicit per-partition
    startingOffsets (the replay CLI's JSON shape) reads ONLY from the
    pinned offsets — ReadByAssignOffset semantics without a broker."""
    import json as _json

    log = str(tmp_path / "log")
    append_records(log, 0, [f"p0-{i}" for i in range(8)])
    append_records(log, 1, [f"p1-{i}" for i in range(4)])
    src = kafka_shaped_source(
        spark, log, starting_offsets=_json.dumps({"0": 5, "1": 2})
    )
    got = []
    q = src.writeStream.foreachBatch(
        lambda df, e: got.extend(r["value"] for r in df.collect())
    ).option("checkpointLocation", str(tmp_path / "ck")).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert sorted(got) == ["p0-5", "p0-6", "p0-7", "p1-2", "p1-3"]

def test_kafkalog_concurrent_appends_chaos(spark, tmp_path):
    """Chaos (VERDICT r9 #4): a producer thread appends to the log WHILE
    availableNow epochs plan and drain — the exact interleaving a real
    broker swap inherits (ConsumerMain.scala:91-151). Records may land
    between latestOffset and partitions() of a running drain; whatever a
    drain misses, the next drain's offset ranges must pick up EXACTLY
    once. Asserts: zero loss, zero duplicates, and per-partition offsets
    strictly monotone in delivery order across every batch of every
    drain."""
    import threading
    import time as _t

    log = str(tmp_path / "log")
    n_parts, per_part = 2, 100
    # partition dirs must exist before the first drain plans
    for p in range(n_parts):
        append_records(log, p, [f"p{p}-0"])

    stop_flag = threading.Event()

    def producer():
        for i in range(1, per_part):
            for p in range(n_parts):
                append_records(log, p, [f"p{p}-{i}"])
            _t.sleep(0.005)  # land appends mid-plan/mid-read

    t = threading.Thread(target=producer)
    t.start()
    delivered: list[tuple[int, int, int, str]] = []  # (drain, part, off, val)
    batches: list[int] = []

    def drain(di: int) -> None:
        from kafkatosparktokudu_spark.sources.kafka_shaped import (
            KafkaLogDataSource,
        )

        spark.dataSource.register(KafkaLogDataSource)
        q = (
            spark.readStream.format("kafkalog")
            .option("path", log)
            .option("maxRecordsPerTrigger", 40)
            .load()
            .writeStream.foreachBatch(
                lambda df, e: (
                    batches.append(e),
                    delivered.extend(
                        (di, r["partition"], r["offset"], r["value"])
                        for r in df.collect()
                    ),
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    total = n_parts * per_part
    deadline = _t.time() + 300
    di = 0
    while len(delivered) < total and _t.time() < deadline:
        drain(di)
        di += 1
    t.join()
    if len(delivered) < total:
        drain(di)  # producer done: one final drain catches the tail

    assert len(delivered) == total, (len(delivered), total)
    vals = [v for _, _, _, v in delivered]
    assert len(set(vals)) == total                       # no dup
    assert set(vals) == {                                # no loss
        f"p{p}-{i}" for p in range(n_parts) for i in range(per_part)
    }
    # offsets strictly monotone per partition in delivery order, and the
    # record at offset i is the i-th produced record of that partition
    by_part: dict[int, list[tuple[int, str]]] = {}
    for _, p, off, v in delivered:
        by_part.setdefault(p, []).append((off, v))
    for p, recs in by_part.items():
        offs = [o for o, _ in recs]
        assert offs == sorted(offs) and offs == list(range(per_part)), p
        assert all(v == f"p{p}-{o}" for o, v in recs), p


def test_rate_cursor_filenames_injective(tmp_path):
    """ADVICE r10: groupId sanitization alone is not injective ('a/b' and
    'a_b' both sanitize to 'a_b'), which would let two distinct consumer
    groups clobber each other's pacing cursor — the exact hazard the
    per-groupId namespacing was added to prevent. The raw-groupId hash
    suffix makes the mapping one-to-one."""
    from kafkatosparktokudu_spark.sources.kafka_shaped import KafkaLogStreamReader

    def cursor(gid: str) -> str:
        r = KafkaLogStreamReader({"path": str(tmp_path), "groupid": gid})
        return r._cursor_file()

    ids = ["a/b", "a_b", "a.b", "a b", "a:b", "default", "DEFAULT"]
    files = [cursor(g) for g in ids]
    assert len(set(files)) == len(ids), files
    # same groupId -> same file (the cursor must still be shared across
    # fresh reader instances of one query)
    assert cursor("a/b") == cursor("a/b")
