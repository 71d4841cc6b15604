"""The workloads. Each returns a ``Result`` holding every end-to-end metric,
the operation counts and the correctness verdict; with a tracer it also
fills the per-layer metrics. Why each workload exists is in README.md.

Both run one ``start_cdc_sync`` query whose first micro-batches are the
bootstrap: they pay the JVM's cold start (class loading, JIT, code
generation; 20-30 s on 4 cores) and are counted in ``setup_s``, not in the
measured window.

- ``drain_hot``: a pre-written backlog over a small skewed key space,
  drained with a 0 s processing-time trigger and the reference's 50k
  records-per-trigger cap. The bootstrap is the first two capped batches
  (the batch after the cold one still runs 10-30% slow while the JIT
  settles); the next two are the measured drain. Then a closed-loop client
  reads the drained state (point lookups and report scans), checked row
  by row.
- ``live_wide``: the bootstrap batch is a preload of one insert per key;
  then an open-loop generator appends uniform-key changes at a fixed rate
  under the reference's 5 s trigger, while reader threads send lookups
  and report scans on a fixed schedule beside the stream.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import threading
import time
from dataclasses import dataclass, field
from decimal import Decimal

import numpy as np

import gen
import replay
from harness import REPO, Env, Stream, cpu_ticks, loadavg
from spans import Tracer, jobs_started, jvm_gc_ms, p50, parse_offsets, percentile, read_progress

CAP = 50_000  # PipelineConfig default: 2000 rec/s/partition x 5 partitions x 5 s
TRIGGER_S = 5  # PipelineConfig default trigger (ConsumerMain.scala:33)
N_BUCKETS = 16  # cdc.sync_batch default
SETUP_REPS = 3
HOT_KEYS = 20_000
HOT_BOOT_BATCHES = 2
HOT_MEASURED = 2 * CAP  # drain_hot measures two full capped batches (a stated input size)
PRELOAD_KEYS = 40_000  # one preload batch under the 50k cap (~8k per partition)
LIVE_RATE = 1_000  # records/s appended by the live_wide generator
# live_wide reader schedule. Before the first data trigger one thread
# repeats two reports and a lookup, each slot long enough that a read
# does not wait for the one before; beside merges lookups and reports
# have a thread each.
LIVE_IDLE_PATTERN = "RRL"
LIVE_IDLE_SLOT_S = {"R": 0.5, "L": 0.3}
LIVE_LOOKUP_EVERY_S = 0.65  # beside merges
LIVE_REPORT_EVERY_S = 2.4
POST_READS = 6  # drain_hot closed loop on the drained state: a lookup and a report each
WARM_READS = 2  # uncounted lookup + report pairs before the counted reads
QUERY_SF = 0.1
QUERY_MIX = (
    "q01_sync_report", "q04_revenue_by_nation", "q15_json_extract",
    "cdc_emp_state", "q17_sessionize", "dd04_neardup_pairs", "ss05_knn_join",
    "tx07_keyterms",
)
FIXTURE = os.path.join(REPO, "fixtures", "ogg_changes.jsonl")

E2E = {  # name -> unit; every workload reports all of them
    "setup_s": "s",
    "drain_rec_s": "rec/s",
    "freshness_p50_s": "s",
    "freshness_p95_s": "s",
    "peak_rss_mb": "MB",
}
UNBOUNDED = {  # end-to-end figures printed in the detail, with no bound
    "report_p50_ms": "ms",
    "lookup_p50_ms": "ms",
    "lookup_p95_ms": "ms",
    "busy_lookup_p50_ms": "ms",
    "busy_report_p50_ms": "ms",
    "failed_frac": "ratio",
    "wrong_rows": "count",
    "cpu_steal_frac": "ratio",
}
PER_LAYER = {
    "kafka_shaped.read_rec_s": "rec/s",
    "kafka_shaped.rows_read_per_committed": "ratio",
    "ogg.parse_fold_rec_s": "rec/s",
    "cdc.jobs_per_batch": "count",
    "cdc.sync_batch_ms_p50": "ms",
    "cdc.sync_batch_self_ms_p50": "ms",
    "cdc.affected_buckets_ms_p50": "ms",
    "cdc.buckets_touched_per_batch": "count",
    "merge.upsert_many_ms_p50": "ms",
    "merge.write_amp_bytes": "ratio",
    "merge.lookup_plan_ms_p50": "ms",
    "merge.lookup_exec_ms_p50": "ms",
    "merge.read_ms_p50": "ms",
    "merge.state_files": "count",
    "merge.read_failures": "count",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.add_batch_self_ms_p50": "ms",
    "pipeline.latest_offset_ms_p50": "ms",
    "pipeline.checkpoint_ms_p50": "ms",
    "pipeline.queue_wait_s_p50": "s",
    "pipeline.batch_rows_max": "count",
    **{f"plans.{q}_s": "s" for q in QUERY_MIX},
    "plans.query_mix_s": "s",
    "jvm.gc_ms": "ms",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
    "trace.overhead_frac": "ratio",
}


@dataclass
class Result:
    e2e: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wrong_rows: int = 0
    _t: float = field(default_factory=time.perf_counter)

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark under ``phase``."""
        now = time.perf_counter()
        self.extra.setdefault("phase_s", {})[phase] = round(now - self._t, 3)
        self._t = now

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


# ---------------------------------------------------------------------------
# state checks against the replay
# ---------------------------------------------------------------------------
def _stores(spark, warehouse: str):
    from kafkatosparktokudu_spark import cdc
    from kafkatosparktokudu_spark.operators.merge import StateStore

    out = {
        name: StateStore(spark, f"{warehouse}/{name}", [t.key], t.full_schema, N_BUCKETS)
        for name, t in cdc.default_catalog().items()
    }
    out["pub_event"] = StateStore(
        spark, f"{warehouse}/pub_event", ["id", "name"], cdc.PUB_EVENT_SCHEMA, N_BUCKETS
    )
    return out


def _table_rows(df, table: str) -> tuple[dict[str, tuple], int]:
    """(keyed rows, number of duplicate keys) of one table's frame, in the
    replay's row layout."""
    from pyspark.sql import functions as F

    if table == "pub_event":
        cols = [F.col(c) for c in replay.PUB_EVENT_COLS]
    else:
        cols = [
            F.unix_micros(n).alias(n) if t == "timestamp" else F.col(n)
            for n, t in replay.TABLES[table]
        ] + [F.col("delete_state")]
    tbl = df.select(*cols).toArrow()
    rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
    keyed = {(f"{r[0]}\x1f{r[1]}" if table == "pub_event" else r[0]): r for r in rows}
    return keyed, len(rows) - len(keyed)


def check_state(spark, warehouse: str, expected: dict) -> int:
    """Rows of emp, dept and pub_event that differ from the replay."""
    wrong = 0
    for name, store in _stores(spark, warehouse).items():
        actual, dups = _table_rows(store.read(), name)
        wrong += dups + replay.diff_rows(expected[name], actual)
    return wrong


def selfcheck_replay(spark) -> int:
    """Replay vs ``cdc.apply_changes`` on the repo's OGG fixture: rows
    that differ (0 means the two agree)."""
    import json

    from kafkatosparktokudu_spark import cdc

    rp = replay.Replay()
    with open(FIXTURE, encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            line = line.rstrip("\n")
            try:
                pos = json.loads(line).get("pos", i)
            except (ValueError, AttributeError):
                pos = i
            rp.add(pos, line)
    expected = rp.tables()
    wrong = 0
    for name, df in cdc.apply_changes(spark, cdc.read_fixture(spark, FIXTURE)).items():
        actual, dups = _table_rows(df, name)
        wrong += dups + replay.diff_rows(expected[name], actual)
    return wrong


# ---------------------------------------------------------------------------
# reads
# ---------------------------------------------------------------------------
def expected_report(tables) -> dict:
    """Live rows and exact salary sum per dept_id, from replay tables."""
    out: dict = {}
    for row in tables["emp"].values():
        if row[-1] == "0":
            n, s = out.get(row[3], (0, Decimal(0)))
            out[row[3]] = (n + 1, s + (Decimal(repr(row[2])) if row[2] is not None else 0))
    return out


def report_scan(store) -> dict:
    """Live rows and salary sum per dept_id over the emp table."""
    from pyspark.sql import functions as F

    rows = (
        store.read()
        .filter(F.col("delete_state") == "0")
        .groupBy("dept_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("salary").cast("decimal(18,2)")).alias("s"))
        .collect()
    )
    return {r["dept_id"]: (r["n"], r["s"] if r["s"] is not None else Decimal(0)) for r in rows}


def _emp_row(r) -> tuple:
    """A collected emp Row in the replay's layout (hire_ts as UTC micros)."""
    hire = r["hire_ts"]
    if hire is not None:
        hire = (hire.replace(tzinfo=None) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    return (r["id"], r["name"], r["salary"], r["dept_id"], r["active"], hire, r["delete_state"])


class Reads:
    """Point lookups and report scans against the emp store. Every failure
    counts and nothing is retried: an exception, or an empty lookup of a
    key that always exists (deletes are soft). With ``expected`` (static
    state) each result is also checked against the replay."""

    def __init__(self, env: Env, warehouse: str, res: Result, expected=None) -> None:
        self.store = _stores(env.spark, warehouse)["emp"]
        self.res = res
        self.expected = expected
        self.exp_report = expected_report(expected) if expected else None
        self.lookup_ms: list[float] = []
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []
        self.report_ms: list[float] = []
        self.failures = 0
        self.errors: list[str] = []  # the first few failure causes
        self.wrong = 0
        self._lock = threading.Lock()  # reader threads share the counters

    def _error(self, what: str) -> None:
        with self._lock:
            if len(self.errors) < 3:
                self.errors.append(what[:240])

    def _done(self, ok: bool, ms: list[float], start: float) -> None:
        with self._lock:
            self.res.op(ok)
            if ok:
                ms.append((time.time() - start) * 1000.0)
            else:
                self.failures += 1

    def lookup(self, key: str, due: float | None = None) -> None:
        """``due``: when an open-loop schedule wanted the read sent; the
        latency is counted from then."""
        t0 = time.time()
        ok = False
        try:
            df = self.store.lookup([key])
            t1 = time.time()
            rows = df.collect()
            t2 = time.time()
            ok = len(rows) == 1
            if not ok:
                self._error(f"lookup {key!r}: {len(rows)} rows")
            if ok:
                with self._lock:
                    self.plan_ms.append((t1 - t0) * 1000.0)
                    self.exec_ms.append((t2 - t1) * 1000.0)
                    if self.expected is not None and _emp_row(rows[0]) != self.expected["emp"][key]:
                        self.wrong += 1
        except Exception as exc:  # a failed read is a counted outcome, not retried
            ok = False
            self._error(f"lookup {key!r}: {exc!r}")
        self._done(ok, self.lookup_ms, t0 if due is None else due)

    def report(self, due: float | None = None) -> None:
        t0 = time.time()
        ok = False
        try:
            got = report_scan(self.store)
            ok = True
            if self.exp_report is not None:
                bad = sum(1 for k in got.keys() | self.exp_report.keys()
                          if got.get(k) != self.exp_report.get(k))
                with self._lock:
                    self.wrong += bad
        except Exception as exc:  # a failed read is a counted outcome, not retried
            ok = False
            self._error(f"report: {exc!r}")
        self._done(ok, self.report_ms, t0 if due is None else due)

    def publish(self, res: Result) -> None:
        res.extra.update(
            report_p50_ms=p50(self.report_ms), lookup_p50_ms=p50(self.lookup_ms),
            lookups=len(self.lookup_ms), reports=len(self.report_ms),
            lookup_p95_ms=percentile(self.lookup_ms, 95), read_failures=self.failures,
            lookup_ms=[round(x) for x in self.lookup_ms], report_ms=[round(x) for x in self.report_ms],
            read_errors=self.errors,
        )
        res.layer["merge.lookup_plan_ms_p50"] = p50(self.plan_ms)
        res.layer["merge.lookup_exec_ms_p50"] = p50(self.exec_ms)
        res.layer["merge.read_failures"] = float(self.failures)
        res.wrong_rows += self.wrong


# ---------------------------------------------------------------------------
# tracing hooks
# ---------------------------------------------------------------------------
class Instrument:
    """Wraps the package's public functions for a traced run and turns
    spans, progress events and JVM counters into per-layer metrics. Only
    epochs from ``first`` on (after the bootstrap) count."""

    def __init__(self, env: Env, tracer: Tracer, first: int) -> None:
        import kafkatosparktokudu_spark.cdc as cdc
        import kafkatosparktokudu_spark.streaming.pipeline as pipeline
        from kafkatosparktokudu_spark.operators.merge import StateStore
        from kafkatosparktokudu_spark.streaming.metrics import attach_progress_logger

        self.env, self.t, self.first = env, tracer, first
        self.buckets: dict[int, int] = {}  # epoch -> buckets touched
        self.bytes_written: dict[int, int] = {}  # epoch -> state bytes written
        self.jobs: dict[int, int] = {}  # epoch -> Spark jobs inside sync_batch
        spark = env.spark

        def count_buckets(args, kwargs, result, span):
            if result is not None:
                self.buckets[span.epoch] = sum(len(v) for v in result.values())

        def count_bytes(args, kwargs, result, span):
            merges = args[1] if len(args) > 1 else kwargs["merges"]
            affected = kwargs.get("affected") or (args[2] if len(args) > 2 else None) or {}
            n = 0
            for store, _ in merges:
                for b in affected.get(os.path.basename(store.path), []):
                    d = os.path.join(store.path, f"_bucket={b}")
                    if os.path.isdir(d):
                        n += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
            self.bytes_written[span.epoch] = n

        def count_jobs(args, kwargs, result, span):
            self.jobs[span.epoch] = jobs_started(spark) - span.tag

        tracer.wrap(pipeline, "sync_batch", "cdc.sync_batch", epoch_kw="epoch_id",
                    before=lambda: jobs_started(spark), after=count_jobs)
        tracer.wrap(cdc, "affected_buckets", "cdc.affected_buckets", after=count_buckets,
                    in_batch=True)
        tracer.wrap(cdc, "upsert_many", "merge.upsert_many", after=count_bytes, in_batch=True)
        tracer.wrap(StateStore, "lookup", "merge.lookup")
        tracer.wrap(StateStore, "read", "merge.read")
        self.gc0 = jvm_gc_ms(spark)
        self.progress_dir = env.path("progress")
        self.listener = attach_progress_logger(spark, self.progress_dir)

    def _measured(self, epoch) -> bool:
        return epoch is not None and epoch >= self.first

    def stream_metrics(self, res: Result, stream: Stream, appended_at, input_bytes: int) -> None:
        """Per-layer figures of the measured epochs of one traced stream,
        from its progress log and spans."""
        want = {e for e in stream.batch_done if self._measured(e)}
        deadline = time.time() + 10
        events: list[dict] = []
        while time.time() < deadline:  # listener events arrive asynchronously
            events = [e for e in read_progress(self.progress_dir)
                      if e.get("numInputRows", 0) > 0 and self._measured(int(e["batchId"]))]
            if want <= {int(e["batchId"]) for e in events}:
                break
            time.sleep(0.1)
        self.env.spark.streams.removeListener(self.listener)
        events.sort(key=lambda e: int(e["batchId"]))

        def dur(k):
            return [float(e["durationMs"].get(k, 0)) for e in events]

        res.layer["pipeline.add_batch_ms_p50"] = p50(dur("addBatch"))
        res.layer["pipeline.latest_offset_ms_p50"] = p50(dur("latestOffset"))
        res.layer["pipeline.checkpoint_ms_p50"] = p50(
            [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
        )
        res.layer["pipeline.batch_rows_max"] = float(max((e["numInputRows"] for e in events), default=0))
        sync = {s.epoch: s.ms for s in self.t.spans if s.name == "cdc.sync_batch"}
        res.layer["pipeline.add_batch_self_ms_p50"] = p50(
            [float(e["durationMs"].get("addBatch", 0)) - sync.get(int(e["batchId"]), 0.0) for e in events]
        )
        offs = stream.epoch_offsets()
        committed = sum(offs[max(offs)].values()) - sum(offs[self.first - 1].values())
        res.layer["kafka_shaped.rows_read_per_committed"] = (
            sum(e["numInputRows"] for e in events) / committed if committed else 0.0
        )
        waits: list[float] = []
        prev = offs[self.first - 1]
        for e in events:
            start = dt.datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
            end = e["sources"][0]["endOffset"]
            for p, hi in end.items():
                waits.extend(start - appended_at(int(p), o) for o in range(prev.get(p, 0), hi))
            prev = {**prev, **end}
        res.layer["pipeline.queue_wait_s_p50"] = p50(waits)
        written = sum(v for e, v in self.bytes_written.items() if self._measured(e))
        res.layer["merge.write_amp_bytes"] = written / input_bytes if input_bytes else 0.0

    def finish(self, res: Result, wall_s: float, warehouse: str) -> None:
        t = self.t
        t.unwrap()

        def measured(name):
            return [s.ms for s in t.spans if s.name == name and self._measured(s.epoch)]

        res.layer["cdc.sync_batch_ms_p50"] = p50(measured("cdc.sync_batch"))
        res.layer["cdc.sync_batch_self_ms_p50"] = p50(
            t.self_ms("cdc.sync_batch", lambda s: self._measured(s.epoch))
        )
        res.layer["cdc.affected_buckets_ms_p50"] = p50(measured("cdc.affected_buckets"))
        res.layer["merge.upsert_many_ms_p50"] = p50(measured("merge.upsert_many"))
        res.layer["merge.read_ms_p50"] = p50(t.durations_ms("merge.read"))
        res.layer["cdc.buckets_touched_per_batch"] = p50(
            [float(v) for e, v in self.buckets.items() if self._measured(e)])
        res.layer["cdc.jobs_per_batch"] = p50(
            [float(v) for e, v in self.jobs.items() if self._measured(e)])
        res.layer["merge.state_files"] = float(sum(
            1 for _r, _d, fs in os.walk(os.path.join(warehouse, "emp"))
            for f in fs if f.endswith(".parquet")
        ))
        res.layer["jvm.gc_ms"] = jvm_gc_ms(self.env.spark) - self.gc0
        res.layer["trace.spans"] = float(len(t.spans))
        res.extra["spans"] = t.summary()
        res.layer["trace.overhead_ms"] = t.overhead_s * 1000.0
        res.layer["trace.overhead_frac"] = t.overhead_s / wall_s if wall_s > 0 else 0.0


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------
def setup(env: Env, res: Result, make_inputs) -> tuple[str, tuple]:
    """Start the session and write the input log, SETUP_REPS times (a
    fresh session and directory each time; the first also launches the
    JVM). ``make_inputs()`` returns ``(log, *rest)``; it runs on a thread
    while the JVM launches, so the benchmark's own generation and replay
    overlap a wait instead of a measurement. Returns the last repetition's
    directory and the inputs. The median goes into ``setup_s``, to which
    ``bootstrap`` adds the first batch."""
    box: dict = {}

    def target():
        try:
            box["inputs"] = make_inputs()
        except BaseException as exc:  # re-raised on the main thread
            box["error"] = exc

    th = threading.Thread(target=target, name="inputs")
    th.start()
    times, d = [], ""
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        env.start_session()
        if rep == 0:
            th.join()
            if "error" in box:
                raise box["error"]
        d = env.path(f"rep{rep}")
        box["inputs"][0].write(os.path.join(d, "log"))
        times.append(time.perf_counter() - t0)
    res.extra["setup_reps_s"] = [round(x, 3) for x in times]
    res.extra["session_and_log_s"] = statistics.median(times)
    return d, box["inputs"]


def bootstrap(res: Result, s: Stream, batches: int) -> float:
    """Start the stream and wait out its first ``batches`` batches; returns
    the time the last of them returned from on_batch."""
    s.start()
    done = s.wait_epoch(batches - 1)
    for _ in range(batches):
        res.op(True)
    res.extra["bootstrap_s"] = done - s.t_start
    res.e2e["setup_s"] = res.extra["session_and_log_s"] + res.extra["bootstrap_s"]
    return done


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
def drain_hot(env: Env, seed: int, seconds: int, tracer: Tracer | None) -> Result:
    """A fixed-size drain (work per second at a stated input size), so
    ``seconds`` does not change it; the two measured capped batches take
    ~14 s at the seed on 4 cores."""
    res = Result()

    def inputs():
        backlog = gen.hot_backlog(seed, CAP * HOT_BOOT_BATCHES + HOT_MEASURED, HOT_KEYS)
        return backlog, replay.replay_logs([backlog.parts]).tables()

    d, (backlog, expected) = setup(env, res, inputs)
    res.mark("setup")
    boot = HOT_BOOT_BATCHES
    inst = Instrument(env, tracer, boot) if tracer else None
    wh = os.path.join(d, "warehouse")
    s = Stream(env, "drain", os.path.join(d, "log"), wh, CAP, "0 seconds")
    released = bootstrap(res, s, boot)
    res.mark("bootstrap")
    s.wait_committed(backlog.n)
    offs = s.epoch_offsets()
    measured = backlog.n - sum(offs[boot - 1].values())
    wall = max(s.batch_done.values()) - released
    for _ in range(len(offs) - boot):
        res.op(True)
    res.e2e["drain_rec_s"] = measured / wall
    fresh = s.freshness(lambda p, o: released, after_epoch=boot - 1)
    res.e2e["freshness_p50_s"] = p50(fresh)
    res.e2e["freshness_p95_s"] = percentile(fresh, 95)
    res.extra.update(measured_batches=len(offs) - boot, measured_records=measured,
                     drain_wall_s=round(wall, 3), batch_end_s=_batch_ends(s, released, boot))
    if inst:
        first = offs[boot - 1]
        measured_bytes = sum(
            len(line) + 1 for p, lines in enumerate(backlog.parts) for line in lines[first.get(str(p), 0):]
        )
        inst.stream_metrics(res, s, lambda p, o: released, measured_bytes)
    res.mark("drain")

    keys = sorted(expected["emp"])
    pick = np.random.default_rng(seed + 1).choice(len(keys), WARM_READS + POST_READS).tolist()
    warm = Reads(env, wh, Result(), expected)  # first plans compile: not counted
    for k in pick[:WARM_READS]:
        warm.lookup(keys[k])
        warm.report()
    res.wrong_rows += warm.wrong
    reads = Reads(env, wh, res, expected)
    for k in pick[WARM_READS:]:
        reads.lookup(keys[k])
        reads.report()
    reads.publish(res)
    res.mark("reads")
    if inst:
        _source_and_fold_rates(env, res, os.path.join(d, "log"), backlog.n)
        res.mark("source_and_fold")
        inst.finish(res, wall, wh)
    res.wrong_rows += check_state(env.spark, wh, expected)
    res.mark("check")
    return res


def _source_and_fold_rates(env: Env, res: Result, log_dir: str, n: int) -> None:
    """The source alone (to a noop sink, same cap) and the parse/fold alone
    (``cdc.apply_changes`` to noop) over the whole backlog."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark import cdc
    from kafkatosparktokudu_spark.sources.kafka_shaped import kafka_shaped_source

    src = kafka_shaped_source(env.spark, log_dir, max_records_per_trigger=CAP, group_id="noop")
    t0 = time.perf_counter()
    q = (src.writeStream.format("noop").trigger(processingTime="0 seconds")
         .option("checkpointLocation", env.path("noop_checkpoint")).start())
    deadline = time.time() + 60
    while time.time() < deadline:
        last = q.lastProgress
        if last and last.get("sources") and sum(
            parse_offsets(last["sources"][0].get("endOffset")).values()
        ) >= n:
            break
        time.sleep(0.02)
    q.stop()
    res.layer["kafka_shaped.read_rec_s"] = n / (time.perf_counter() - t0)

    raw = env.spark.read.text(os.path.join(log_dir, "partition=*", "data.jsonl")).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    t0 = time.perf_counter()
    for df in cdc.apply_changes(env.spark, raw, now_str=None).values():
        df.write.format("noop").mode("overwrite").save()
    res.layer["ogg.parse_fold_rec_s"] = n / (time.perf_counter() - t0)


def live_wide(env: Env, seed: int, seconds: int, tracer: Tracer | None) -> Result:
    res = Result()

    def inputs():
        pre = gen.preload_log(seed, PRELOAD_KEYS)
        # the generator stops 0.4 s before the first data trigger, so with
        # seconds <= the 5 s trigger interval one batch holds the window
        changes = gen.live_changes(seed, LIVE_RATE * seconds - 400, PRELOAD_KEYS)
        return pre, changes, replay.replay_logs([pre.parts, _parts(changes)]).tables()

    d, (pre, changes, expected) = setup(env, res, inputs)
    res.mark("setup")
    inst = Instrument(env, tracer, 1) if tracer else None
    wh, log_dir = os.path.join(d, "warehouse"), os.path.join(d, "log")
    s = Stream(env, "live", log_dir, wh, CAP, f"{TRIGGER_S} seconds")
    bootstrap(res, s, 1)
    res.mark("bootstrap")

    from kafkatosparktokudu_spark.sources.kafka_shaped import append_records

    base = [len(p) for p in pre.parts]  # live records follow the preload
    keys = np.random.default_rng(seed + 2).integers(1, PRELOAD_KEYS + 1, 400).tolist()
    # start 0.2 s after a trigger boundary (triggers fall on multiples of
    # the interval), so each window's batches see whole trigger periods
    t0 = (int(time.time() + 2.5) // TRIGGER_S + 1) * TRIGGER_S + 0.2
    # warm the read path while waiting for t0 (not counted): right after
    # the preload the first reads still compile and run 3-5x slower
    warm = Reads(env, wh, Result())
    while time.time() < t0 - 0.8:
        warm.report()
        warm.lookup(str(keys.pop()))
    r0 = t0 + TRIGGER_S - 0.2  # the first data trigger
    due = [t0 + k / LIVE_RATE for k in range(len(changes))]
    sched: list[list[float]] = [[] for _ in range(gen.N_PARTITIONS)]
    for (p, _line), t in zip(changes, due):
        sched[p].append(t)
    span = len(changes) / LIVE_RATE
    # Reads before the first data trigger run beside appends only; they
    # give the printed lookup/report figures. Reads after it run beside
    # merges: Spark's FIFO scheduler queues a lookup's tasks behind the
    # merge stage, so their latency swings with where in a batch they
    # land (0.4-3.5 s). They count toward attempted/failed; their
    # latencies go to the detail line.
    idle = Reads(env, wh, res)
    busy = Reads(env, wh, res)
    idle_at, t = [], t0 + 0.1
    while True:  # every read ends before the first data trigger
        kind = LIVE_IDLE_PATTERN[len(idle_at) % len(LIVE_IDLE_PATTERN)]
        if t + LIVE_IDLE_SLOT_S[kind] > r0 - 0.2:
            break
        idle_at.append((kind, t))
        t += LIVE_IDLE_SLOT_S[kind]
    lookup_at = [r0 + i * LIVE_LOOKUP_EVERY_S for i in range(int(span / LIVE_LOOKUP_EVERY_S))]
    report_at = [r0 + LIVE_REPORT_EVERY_S / 2 + i * LIVE_REPORT_EVERY_S
                 for i in range(int(span / LIVE_REPORT_EVERY_S))]
    key_it = (str(k) for k in keys)

    def idle_then_lookups():
        for kind, when in idle_at:
            _sleep_until(when)
            if kind == "R":
                idle.report(due=when)
            else:
                idle.lookup(next(key_it), due=when)
        for when in lookup_at:
            _sleep_until(when)
            busy.lookup(next(key_it), due=when)

    def reports():
        for when in report_at:
            _sleep_until(when)
            busy.report(due=when)

    readers = [threading.Thread(target=f, name=f.__name__, daemon=True)
               for f in (idle_then_lookups, reports)]
    for rt in readers:
        rt.start()
    late: list[float] = []
    i = 0
    while i < len(changes):  # open loop: record k is due at t0 + k / rate
        now = time.time()
        j = i
        while j < len(changes) and due[j] <= now:
            j += 1
        if j > i:
            batch: list[list[str]] = [[] for _ in range(gen.N_PARTITIONS)]
            for k in range(i, j):
                batch[changes[k][0]].append(changes[k][1])
            for p, lines in enumerate(batch):
                if lines:
                    append_records(log_dir, p, lines)
            late.append(time.time() - due[i])
            i = j
        time.sleep(0.005)
    gen_end = time.time()
    for rt in readers:
        rt.join(timeout=span + 60)
    s.wait_committed(sum(base) + len(changes))
    res.mark("live")
    offs = s.epoch_offsets()
    for _ in range(len(offs) - 1):
        res.op(True)

    def appended_at(p, o):
        return sched[p][o - base[p]]

    fresh = s.freshness(appended_at, after_epoch=0)
    res.e2e["freshness_p50_s"] = p50(fresh)
    res.e2e["freshness_p95_s"] = percentile(fresh, 95)
    wall = max(s.batch_done.values()) - t0
    res.e2e["drain_rec_s"] = len(changes) / wall
    idle.publish(res)
    res.wrong_rows += busy.wrong
    res.layer["merge.read_failures"] += float(busy.failures)
    res.extra.update(
        read_failures=idle.failures + busy.failures,
        read_errors=idle.errors + busy.errors,
        busy_lookup_ms=[round(x) for x in busy.lookup_ms],
        busy_report_ms=[round(x) for x in busy.report_ms],
        busy_lookup_p50_ms=p50(busy.lookup_ms), busy_report_p50_ms=p50(busy.report_ms),
    )
    res.extra.update(
        measured_batches=len(offs) - 1, measured_records=len(changes),
        generator_s=round(gen_end - t0, 3),
        generator_late_ms_p50=round(p50(late) * 1000, 3),
        generator_late_ms_max=round(max(late, default=0.0) * 1000, 3),
        batch_end_s=_batch_ends(s, t0, 1),
    )
    if inst:
        inst.stream_metrics(res, s, appended_at, sum(len(line) + 1 for _p, line in changes))
        QueryMix(env, seed, res, tracer).publish(res)
        res.mark("query_mix")
        inst.finish(res, wall, wh)
    res.wrong_rows += check_state(env.spark, wh, expected)
    res.mark("check")
    return res


def _batch_ends(s: Stream, t0: float, first: int) -> list[float]:
    """Seconds from ``t0`` to each measured epoch's on_batch return."""
    return [round(s.batch_done[e] - t0, 3) for e in sorted(s.batch_done) if e >= first]


def _parts(changes: list[tuple[int, str]]) -> list[list[str]]:
    parts: list[list[str]] = [[] for _ in range(gen.N_PARTITIONS)]
    for p, line in changes:
        parts[p].append(line)
    return parts


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


# ---------------------------------------------------------------------------
# the analytic query mix (traced live_wide runs)
# ---------------------------------------------------------------------------
class QueryMix:
    """A cold then a warm pass over the fixed query mix on generated
    tables, each warm result checked against the DuckDB oracle SQL."""

    def __init__(self, env: Env, seed: int, res: Result, tracer: Tracer) -> None:
        self.env, self.res, self.tracer = env, res, tracer
        self.tables = env.path("tables")
        gen.analytic_tables(seed, QUERY_SF, self.tables)
        self.times: dict[str, float] = {}
        self.rows: dict[str, tuple[list, list[str]]] = {}
        self._pass(record=False)  # code generation and class loading
        self._pass(record=True)
        self.total_s = sum(self.times.values())
        res.extra["query_s"] = {q: round(v, 4) for q, v in self.times.items()}
        res.wrong_rows += self.check()

    def publish(self, res: Result) -> None:
        for q, v in self.times.items():
            res.layer[f"plans.{q}_s"] = v
        res.layer["plans.query_mix_s"] = self.total_s

    def _frame(self, name: str):
        from kafkatosparktokudu_spark import cdc
        from kafkatosparktokudu_spark.plans.queries import QUERIES

        if name == "cdc_emp_state":
            # queries.cdc_emp_state reads the fixture from a fixed absolute
            # path; this is the same fold over the checkout's copy
            return cdc.apply_changes(self.env.spark, cdc.read_fixture(self.env.spark, FIXTURE))["emp"]
        return QUERIES[name](self.env.spark, self.tables)

    def _pass(self, record: bool) -> None:
        for q in QUERY_MIX:
            t0 = time.perf_counter()
            try:
                if record:
                    df = self.tracer.call(f"plans.{q}", self._frame, q)
                    rows = self.tracer.call(f"plans.{q}.collect", df.collect)
                else:
                    df = self._frame(q)
                    rows = df.collect()
            except Exception as exc:  # counted as a failed query
                self.res.op(False)
                self.res.extra.setdefault("query_errors", {})[q] = repr(exc)[:300]
                continue
            self.res.op(True)
            if record:
                self.times[q] = time.perf_counter() - t0
                self.rows[q] = ([tuple(r) for r in rows], df.columns)

    def check(self) -> int:
        """Result rows that differ from the oracle; a query that failed
        counts as one wrong row."""
        import duckdb

        from kafkatosparktokudu_spark import cdc
        from kafkatosparktokudu_spark.plans.oracle import ORACLE_SQL

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.tables)):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.tables, f)}')")
            wrong = 0
            for q in QUERY_MIX:
                if q not in self.rows:
                    wrong += 1
                    continue
                # the oracle reads the fixture at the package's default path
                cur = con.execute(ORACLE_SQL[q].replace(cdc.DEFAULT_FIXTURE, FIXTURE))
                ocols = [c[0] for c in cur.description]
                srows, scols = self.rows[q]
                if sorted(scols) != sorted(ocols):
                    bad = max(len(srows), 1)
                else:
                    a, b = _canonical(srows, scols), _canonical(cur.fetchall(), ocols)
                    bad = sum(1 for x, y in zip(a, b) if x != y) + abs(len(a) - len(b))
                if bad:
                    self.res.extra.setdefault("query_mismatch", {})[q] = bad
                wrong += bad
            return wrong
        finally:
            con.close()


def _norm(v):
    import math

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canonical(rows, cols) -> list[tuple]:
    """Rows with columns in name order, values normalized, sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return out


WORKLOADS = {"drain_hot": drain_hot, "live_wide": live_wide}


def finish_common(env: Env, res: Result) -> None:
    res.e2e["peak_rss_mb"] = env.peak_rss_mb()
    res.extra["loadavg_start"] = env.load_start
    res.extra["loadavg_end"] = loadavg()
    total, steal = (b - a for a, b in zip(env.ticks_start, cpu_ticks()))
    res.extra["cpu_steal_frac"] = round(steal / total, 4) if total else 0.0
    res.extra["cpus"] = env.cpus
