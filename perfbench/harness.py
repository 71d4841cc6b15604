"""Process, session and stream plumbing shared by the workloads.

Every file the run creates (logs, warehouses, checkpoints, Spark local
dirs, JVM and Python temp files) lives under one temp dir inside the
working directory, which ``Env.close`` removes.
"""

from __future__ import annotations

import os
import resource
import shutil
import signal
import sys
import tempfile
import time
import uuid

from spans import parse_offsets

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def phys_mem_gb() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot. Steal is time a virtual CPU
    waited for the host: other tenants' load, which slows every timing."""
    with open("/proc/stat", encoding="ascii") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Env:
    """One benchmark process: temp dir, Spark session, cleanup."""

    def __init__(self, workload: str, cpus: int) -> None:
        base = os.path.join(os.getcwd(), ".perfbench_tmp")
        self.root = os.path.join(base, f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        self.cpus = cpus
        os.makedirs(os.path.join(self.root, "tmp"))
        os.environ["TMPDIR"] = os.path.join(self.root, "tmp")
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")
        # session.py defaults the JVM heap to 48g; stay well below RAM
        mem = max(1, min(4, int(phys_mem_gb() // 4)))
        os.environ["SPARK_DRIVER_MEMORY"] = f"{mem}g"
        # Python workers import the package the data source lives in
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        self.spark = None
        self.jvm_pid: int | None = None
        self.load_start = loadavg()
        self.ticks_start = cpu_ticks()

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def start_session(self):
        """Start (or restart) the SparkSession; returns it."""
        from kafkatosparktokudu_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        n = self.cpus
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                # a fixed heap: no resizing, so peak memory repeats
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        if self.jvm_pid is not None:
            # spark-submit execs java, but read the deepest java process
            # in case a launcher shell sits in between
            pids = [self.jvm_pid] + descendants(self.jvm_pid)
            jvm = max(vm_hwm_mb(p) for p in pids)
        return py + jvm

    def close(self) -> None:
        """Stop Spark and the JVM, wait for every child process, remove
        the temp dir."""
        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.stop()
            except Exception as exc:  # keep cleaning up; report the cause
                print(f"perfbench: spark stop failed: {exc!r}", file=sys.stderr)
            from pyspark import SparkContext

            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # the JVM may already be gone
                    pass
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the gateway exits when stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        me = os.getpid()
        deadline = time.time() + 20
        while descendants(me) and time.time() < deadline:
            time.sleep(0.1)
        for pid in descendants(me):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        shutil.rmtree(self.root, ignore_errors=True)
        base = os.path.dirname(self.root)
        try:
            os.rmdir(base)  # only if no other run is using it
        except OSError:
            pass


class Stream:
    """A ``start_cdc_sync`` query over a kafka_shaped log, recording when
    each epoch's ``on_batch`` returned."""

    def __init__(self, env: Env, name: str, log_dir: str, warehouse: str,
                 cap: int, trigger: str) -> None:
        self.env, self.name, self.log_dir = env, name, log_dir
        self.warehouse = warehouse
        self.cap, self.trigger = cap, trigger
        self.batch_done: dict[int, float] = {}
        self.q = None
        self.t_start = 0.0

    def _on_batch(self, epoch: int, m) -> None:
        self.batch_done[epoch] = time.time()

    def start(self) -> None:
        from kafkatosparktokudu_spark.config import PipelineConfig
        from kafkatosparktokudu_spark.sources.kafka_shaped import kafka_shaped_source
        from kafkatosparktokudu_spark.streaming.pipeline import start_cdc_sync

        self.t_start = time.time()
        d = self.env.path("streams", self.name)
        cfg = PipelineConfig(
            warehouse_dir=self.warehouse,
            checkpoint_dir=os.path.join(d, "checkpoint"),
            metrics_dir=os.path.join(d, "metrics"),
            max_offsets_per_trigger=self.cap,
            trigger_interval=self.trigger,
        )
        src = kafka_shaped_source(
            self.env.spark, self.log_dir, max_records_per_trigger=self.cap,
            group_id=self.name,
        )
        self.q = start_cdc_sync(self.env.spark, src, cfg, on_batch=self._on_batch)

    def epoch_offsets(self) -> dict[int, dict[str, int]]:
        """Committed end offsets per epoch, from the query's progress."""
        out = {}
        for ev in self.q.recentProgress:
            srcs = ev.get("sources") or []
            if srcs and ev.get("numInputRows", 0) > 0:
                out[int(ev["batchId"])] = parse_offsets(srcs[0].get("endOffset"))
        return out

    def committed(self) -> int:
        last = self.q.lastProgress
        if not last or not last.get("sources"):
            return 0
        return sum(parse_offsets(last["sources"][0].get("endOffset")).values())

    def _wait(self, done, what: str, timeout: float) -> None:
        deadline = time.time() + timeout
        while not done():
            if self.q.exception() is not None or not self.q.isActive:
                raise RuntimeError(f"stream {self.name} stopped: {self.q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"stream {self.name}: no {what} after {timeout} s")
            time.sleep(0.02)

    def wait_epoch(self, epoch: int, timeout: float = 120.0) -> float:
        """Block until ``epoch`` has committed; returns its on_batch time."""
        self._wait(
            lambda: epoch in self.epoch_offsets() and epoch in self.batch_done,
            f"commit of epoch {epoch}", timeout,
        )
        return self.batch_done[epoch]

    def wait_committed(self, n: int, timeout: float = 120.0) -> None:
        """Block until the committed offsets cover ``n`` records, then stop
        the query; the committed count must equal the appended count."""
        self._wait(lambda: self.committed() >= n, f"{n} records committed", timeout)
        self.q.stop()
        got = self.committed()
        if got != n:
            raise RuntimeError(f"stream {self.name}: committed {got} records, appended {n}")

    def freshness(self, appended_at, after_epoch: int) -> list[float]:
        """Seconds from each record's (scheduled) append to the on_batch
        return of the epoch whose committed end offset covers it, for the
        records committed after ``after_epoch``. ``appended_at(partition,
        offset)`` gives the append time."""
        offs = self.epoch_offsets()
        out: list[float] = []
        prev = offs[after_epoch]
        for ep in sorted(e for e in offs if e > after_epoch):
            done = self.batch_done.get(ep)
            if done is None:
                raise RuntimeError(f"epoch {ep} committed without an on_batch call")
            for p, end in offs[ep].items():
                for o in range(prev.get(p, 0), end):
                    out.append(done - appended_at(int(p), o))
            prev = {**prev, **offs[ep]}
        return out
