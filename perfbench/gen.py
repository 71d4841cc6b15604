"""Seeded input generators for the CDC benchmark.

Everything here is pure Python + numpy + pyarrow and depends only on the
seed, so the same seed always yields byte-identical inputs.

OGG change records follow the envelope the pipeline consumes
(``table``, ``op_type``, ``current_ts``, ``after``). ``current_ts`` never
decreases in append order, and every micro-batch covers a contiguous
stretch of each key's changes, so per key the arrival order and the
(current_ts, offset) order agree. That is the condition under which the
streaming merge (per-batch fold, later batch wins) and a whole-log replay
must produce the same tables. Two layouts give it:

- keyed (preload, live changes): a key's records all go to one partition,
  as with Kafka's keyed partitioning, so batches may end anywhere;
- round-robin (the drain backlog, written in full before the stream
  starts): partitions have equal length and the rate cap takes an equal
  share of each, so every batch is a contiguous range of append order.
  It also makes every capped batch hold exactly the cap.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

N_PARTITIONS = 5  # the reference topic layout (files/offset.log)
N_DEPT = 50
SPELLINGS = {
    "emp": ("SCOTT.EMP", "scott.emp", "SCOTT.Emp"),
    "dept": ("SCOTT.DEPT", "scott.dept"),
    # valid records for a table outside the catalog: they reach pub_event only
    "bonus": ("SCOTT.BONUS",),
}
NAMES = ("alice", "bob", "carol", "dan", "erin", "frank", "grace", "heidi",
         "ivan", "judy", "mallory", "niaj", "olivia", "peggy", "rupert")
DNAMES = ("eng", "ops", "sales", "legal", "hr", "finance", "research", "support")
EMP_COLS = ("NAME", "SALARY", "DEPT_ID", "ACTIVE", "HIRE_TS")
DEPT_COLS = ("DNAME", "BUDGET")
_BASE = dt.datetime(2024, 6, 1)
_HIRE_BASE = dt.datetime(2020, 1, 1)


def partition_of(table: str, key: str) -> int:
    return zlib.crc32(f"{table}\x1f{key}".encode()) % N_PARTITIONS


@dataclass
class Log:
    """An OGG change log split into partitions: ``parts[p]`` is the list of
    JSON lines of partition ``p`` in offset order."""

    parts: list[list[str]] = field(
        default_factory=lambda: [[] for _ in range(N_PARTITIONS)]
    )

    @property
    def n(self) -> int:
        return sum(len(p) for p in self.parts)

    def write(self, log_dir: str) -> None:
        """Lay the log out as the kafka_shaped source expects it:
        ``<log_dir>/partition=K/data.jsonl``, offset = line number."""
        for p, lines in enumerate(self.parts):
            d = os.path.join(log_dir, f"partition={p}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "data.jsonl"), "w", encoding="utf-8") as fh:
                if lines:
                    fh.write("\n".join(lines) + "\n")


class ChangeGen:
    """Builds change-record lines in bulk with a logical clock: record
    ``i`` gets ``current_ts = base + (i // 3) ms``, so neighbouring records
    share a timestamp and the offset tie-break matters."""

    def __init__(self, seed: int, base_us: int = 0):
        self.rng = np.random.default_rng(seed)
        self.clock = 0
        self.base_us = base_us

    def _ts(self, n: int) -> np.ndarray:
        i = np.arange(self.clock, self.clock + n)
        self.clock += n
        us = self.base_us + (i // 3) * 1000
        return np.datetime_as_string(np.datetime64(_BASE, "us") + us.astype("timedelta64[us]"), unit="us")

    def _values(self, table: str, n: int) -> dict[str, list[str]]:
        r = self.rng
        if table == "emp":
            sal = r.integers(50_000, 1_000_000, n)
            hire = (np.datetime64(_HIRE_BASE, "us")
                    + (r.integers(0, 4 * 365 * 86_400, n) * 1_000_000
                       + r.integers(0, 1_000_000, n)).astype("timedelta64[us]"))
            return {
                "NAME": [NAMES[i] for i in r.integers(0, len(NAMES), n)],
                "SALARY": [f"{v // 100}.{v % 100:02d}" for v in sal.tolist()],
                "DEPT_ID": [str(10 * v) for v in r.integers(1, N_DEPT + 1, n).tolist()],
                "ACTIVE": ["1" if v else "0" for v in (r.random(n) < 0.7).tolist()],
                "HIRE_TS": np.datetime_as_string(hire, unit="us").tolist(),
            }
        return {
            "DNAME": [DNAMES[i] for i in r.integers(0, len(DNAMES), n)],
            "BUDGET": [f"{v // 10}.{v % 10}" for v in r.integers(1_000, 100_000, n).tolist()],
        }

    def records(self, tables: list[str], keys: list[str], ops: list[str]) -> list[str]:
        """JSON lines of valid change records, in the given order. I carries
        every column; U a random non-empty subset, sometimes with an
        explicit null (a skipped column); D only the key, sometimes with
        stale payload that must be ignored."""
        r = self.rng
        n = len(tables)
        ts = self._ts(n)
        vals = {t: self._values(t, n) for t in ("emp", "dept")}
        pick = r.random((n, len(EMP_COLS))) < 0.5
        nulls = r.random((n, len(EMP_COLS))) < 0.05
        stale = r.random(n) < 0.2
        spell = r.integers(0, 6, n)
        out = []
        for i in range(n):
            table, op = tables[i], ops[i]
            cols = EMP_COLS if table == "emp" else DEPT_COLS if table == "dept" else ("NOTE",)
            if op == "I":
                chosen = range(len(cols))
            elif op == "U":
                chosen = [j for j in range(len(cols)) if pick[i, j]] or [i % len(cols)]
            else:
                chosen = [0] if stale[i] else []
            v = vals.get(table)
            parts = [f'"ID": "{keys[i]}"']
            for j in chosen:
                c = cols[j]
                if op == "U" and nulls[i, j]:
                    parts.append(f'"{c}": null')
                else:
                    parts.append(f'"{c}": "{v[c][i] if v else "x"}"')
            names = SPELLINGS[table]
            out.append(
                f'{{"table": "{names[spell[i] % len(names)]}", "op_type": "{op}", '
                f'"current_ts": "{ts[i]}", "after": {{{", ".join(parts)}}}}}'
            )
        return out

    def malformed(self) -> str:
        """A line the pipeline must drop as a dead letter."""
        kind = int(self.rng.integers(5))
        ts = str(self._ts(1)[0])
        if kind == 0:
            return '{"table": "SCOTT.EMP", "op_type": "U", "after": {"ID": '
        if kind == 1:
            return json.dumps({"table": None, "op_type": None, "current_ts": None, "after": None})
        if kind == 2:
            return json.dumps({"table": "EMP", "op_type": "U", "current_ts": ts, "after": {"ID": "1"}})
        if kind == 3:
            return json.dumps({"table": "SCOTT.EMP", "op_type": "U", "current_ts": ts, "after": None})
        return json.dumps({"table": "SCOTT.DEPT", "op_type": "I", "current_ts": ts, "after": {"DNAME": "x"}})


def _ops(u: np.ndarray, p_insert: float, p_delete: float) -> list[str]:
    return ["I" if x < p_insert else "D" if x > 1 - p_delete else "U" for x in u.tolist()]


def hot_backlog(seed: int, n_records: int, n_emp: int = 20_000) -> Log:
    """``drain_hot`` input, round-robin over the partitions: I/U/D over a
    small, Zipf-skewed emp key space plus the 50 dept keys, ~0.5% malformed
    lines, ~0.5% records of a table outside the catalog and ~1% redelivered
    duplicates (a record sent twice in a row)."""
    g = ChangeGen(seed)
    r = g.rng
    w = 1.0 / np.arange(1, n_emp + 1) ** 0.9
    emp_keys = r.permutation(n_emp) + 1
    n_dup = n_records // 100
    n = n_records - n_dup
    picks = emp_keys[r.choice(n_emp, size=n, p=w / w.sum())].tolist()
    bonus = r.integers(1, 200, n).tolist()
    dept = (10 * r.integers(1, N_DEPT + 1, n)).tolist()
    tables, keys = [], []
    for i, u in enumerate(r.random(n).tolist()):
        if u < 0.005:
            tables.append("bad"), keys.append("")
        elif u < 0.010:
            tables.append("bonus"), keys.append(str(bonus[i]))
        elif u < 0.030:
            tables.append("dept"), keys.append(str(dept[i]))
        else:
            tables.append("emp"), keys.append(str(picks[i]))
    ops = _ops(r.random(n), 0.10, 0.08)
    good = [i for i in range(n) if tables[i] != "bad"]
    lines = g.records([tables[i] for i in good], [keys[i] for i in good], [ops[i] for i in good])
    dups = set(r.choice(len(good), n_dup, replace=False).tolist())
    seq: list[str] = []
    it = iter(range(len(good)))
    for i in range(n):
        if tables[i] == "bad":
            seq.append(g.malformed())
            continue
        j = next(it)
        seq.append(lines[j])
        if j in dups:
            seq.append(lines[j])
    log = Log()
    for i, line in enumerate(seq):
        log.parts[i % N_PARTITIONS].append(line)
    return log


def preload_log(seed: int, n_emp: int) -> Log:
    """One insert per emp key and per dept key: the state the live and
    serving workloads start from."""
    g = ChangeGen(seed)
    tables = ["dept"] * N_DEPT + ["emp"] * n_emp
    keys = [str(10 * k) for k in range(1, N_DEPT + 1)] + [str(k) for k in range(1, n_emp + 1)]
    log = Log()
    for t, k, line in zip(tables, keys, g.records(tables, keys, ["I"] * len(keys))):
        log.parts[partition_of(t, k)].append(line)
    return log


def live_changes(seed: int, n_records: int, n_emp: int) -> list[tuple[int, str]]:
    """``live_wide`` input: uniform-key changes over the preloaded emp keys,
    as (partition, line) in append order. Timestamps start a day after the
    preload's."""
    g = ChangeGen(seed + 1, base_us=(n_emp // 3 + 86_400_000) * 1000)
    r = g.rng
    u = r.random(n_records)
    emp = r.integers(1, n_emp + 1, n_records).tolist()
    dept = (10 * r.integers(1, N_DEPT + 1, n_records)).tolist()
    tables = ["dept" if x < 0.03 else "emp" for x in u.tolist()]
    keys = [str(dept[i] if t == "dept" else emp[i]) for i, t in enumerate(tables)]
    lines = g.records(tables, keys, _ops(r.random(n_records), 0.05, 0.05))
    return [(partition_of(t, k), line) for t, k, line in zip(tables, keys, lines)]


# ---------------------------------------------------------------------------
# Analytic tables for the query mix (the schemas of the repo's fixture
# tables, FIXTURES.md section A), generated at a chosen scale factor.
# ---------------------------------------------------------------------------
_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "a the line sort window data column join small customer query big "
          "order filter group vector index shard stream event user").split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "view", "purchase", "error", "signup")


def analytic_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write region/nation/customer/orders/lineitem/events/documents/
    embeddings parquet files (one file each) under ``out_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    r = np.random.default_rng(seed + 7)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    us = 1_000_000
    day = 86_400 * us
    epoch_1995 = int((dt.datetime(1995, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * us
    epoch_2024 = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * us

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust = max(int(150_000 * sf), 10)
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })
    n_ord = max(int(1_500_000 * sf), 10)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": pa.array(epoch_1995 + r.integers(0, 7 * 365, n_ord) * day, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })
    n_li = n_ord * 4
    put("lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, max(int(200_000 * sf), 10), n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, max(int(10_000 * sf), 10), n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900, 105_000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
        "l_shipdate": pa.array(epoch_1995 + r.integers(0, 7 * 365, n_li) * day, pa.timestamp("us")),
    })
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(n_ev // 100, 2)
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(epoch_2024 + np.sort(r.integers(0, 60 * day, n_ev)), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(10.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    n_doc = max(int(50_000 * sf), 20)
    texts = []
    for i in range(n_doc):
        if i >= 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(i))].split()
            for j in r.integers(0, len(words), max(len(words) // 10, 1)):
                words[j] = _WORDS[int(r.integers(len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            n_w = int(r.integers(20, 80))
            texts.append(" ".join(_WORDS[j] for j in r.integers(0, len(_WORDS), n_w)))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [("en", "es", "zh")[i] for i in r.integers(0, 3, n_doc)],
        "source": [f"src{i}" for i in r.integers(0, 10, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec = max(int(20_000 * sf), 100)
    centers = r.normal(0, 1, (8, 64))
    labels = r.integers(0, 8, n_vec)
    vecs = centers[labels] + r.normal(0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
