"""Reference replay of an OGG change log in plain Python.

Written from the documented record semantics (operators/ogg.py module and
function docstrings), not from the program's code, so that the pipeline's
tables can be checked against something that shares no code with it:

- a record is valid when ``table`` is a ``SCHEMA.TAB`` string and
  ``after`` is an object carrying a non-null ``ID``; anything else is a
  dead letter;
- the target table is the lower-cased part after the first dot;
- per key, changes are ordered by (``current_ts``, offset);
- each payload column keeps its last non-null value among non-D records
  (a D carries no payload; an absent or null column leaves the prior value);
- ``delete_state`` is '1' iff the last change is a D (deletes are soft);
- ``pub_event`` keeps, per (id, table), the largest ``current_ts`` with
  the ISO 'T' replaced by a space, for every valid record of any table;
- ``time_stamp`` is processing time and is not compared.

Values are cast to the catalog types the way a SQL cast of the strings
would: double, int, boolean ('1'/'0'/'true'/'false'), float32, and
timestamps (naive, read as UTC) compared as epoch microseconds.
"""

from __future__ import annotations

import datetime as dt
import json
import struct

# catalog: table -> [(column, type)], key column "id" first (catalog.py)
TABLES = {
    "emp": [("id", "string"), ("name", "string"), ("salary", "double"),
            ("dept_id", "int"), ("active", "boolean"), ("hire_ts", "timestamp")],
    "dept": [("id", "string"), ("dname", "string"), ("budget", "float")],
}
PUB_EVENT_COLS = ["id", "name", "current_ts", "delete_state", "his_delete_state"]
_EPOCH = dt.datetime(1970, 1, 1)


def _cast(v: str | None, typ: str):
    if v is None:
        return None
    try:
        if typ == "string":
            return v
        if typ == "double":
            return float(v)
        if typ == "float":
            return struct.unpack("f", struct.pack("f", float(v)))[0]
        if typ == "int":
            return int(v.strip())
        if typ == "boolean":
            s = v.strip().lower()
            if s in ("1", "t", "true", "y", "yes"):
                return True
            if s in ("0", "f", "false", "n", "no"):
                return False
            return None
        if typ == "timestamp":
            t = dt.datetime.fromisoformat(v.strip())
            return (t - _EPOCH) // dt.timedelta(microseconds=1)
    except ValueError:
        return None
    raise ValueError(f"unknown type {typ}")


def _valid(rec) -> tuple[str, dict] | None:
    if not isinstance(rec, dict):
        return None
    table, after = rec.get("table"), rec.get("after")
    if not isinstance(table, str) or len(table.split(".")) < 2:
        return None
    if not isinstance(after, dict) or after.get("ID") is None:
        return None
    return table.split(".")[1].lower(), after


class Replay:
    """Accumulates change records, then folds them into final tables.

    ``add(order, line)`` takes the record's offset-order key (any value
    that sorts like the log offset) and its raw JSON line."""

    def __init__(self) -> None:
        self.changes: dict[tuple[str, str], list] = {}
        self.total = 0
        self.dead = 0

    def add(self, order, line: str) -> None:
        self.total += 1
        try:
            rec = json.loads(line)
        except ValueError:
            self.dead += 1
            return
        v = _valid(rec)
        if v is None:
            self.dead += 1
            return
        tab, after = v
        self.changes.setdefault((tab, after["ID"]), []).append(
            (rec.get("current_ts"), order, rec.get("op_type"), after)
        )

    def tables(self) -> dict[str, dict[str, tuple]]:
        """``{table: {key: row tuple}}`` for every catalog table plus
        ``pub_event``; row tuples follow ``TABLES`` (with ``delete_state``
        appended) and ``PUB_EVENT_COLS``."""
        out: dict[str, dict[str, tuple]] = {t: {} for t in TABLES}
        out["pub_event"] = {}
        for (tab, key), recs in self.changes.items():
            recs.sort(key=lambda r: (r[0] is not None, r[0] or "", r[1]))
            ts = [r[0] for r in recs if r[0] is not None]
            latest = max(ts).replace("T", " ") if ts else None
            out["pub_event"][f"{key}\x1f{tab}"] = (key, tab, latest, "0", "0")
            if tab not in TABLES:
                continue
            cols = TABLES[tab]
            row: dict[str, str | None] = {}
            for _ts, _o, op, after in recs:
                if op == "D":
                    continue
                for name, _typ in cols[1:]:
                    val = after.get(name.upper())
                    if val is not None:
                        row[name] = val
            deleted = "1" if recs[-1][2] == "D" else "0"
            out[tab][key] = (
                (key,)
                + tuple(_cast(row.get(n), t) for n, t in cols[1:])
                + (deleted,)
            )
        return out


def replay_logs(logs) -> Replay:
    """Replay one or more logs in order. Each log is a list of partitions,
    each a list of JSON lines in offset order; a later log's records sort
    after an earlier log's at equal timestamps."""
    rp = Replay()
    for li, parts in enumerate(logs):
        for p, lines in enumerate(parts):
            for off, line in enumerate(lines):
                rp.add((li, off, p), line)
    return rp


def diff_rows(expected: dict[str, tuple], actual: dict[str, tuple]) -> int:
    """Rows missing, extra or different between two keyed row sets."""
    wrong = sum(1 for k in expected.keys() - actual.keys())
    wrong += sum(1 for k in actual.keys() - expected.keys())
    wrong += sum(1 for k in expected.keys() & actual.keys() if expected[k] != actual[k])
    return wrong
