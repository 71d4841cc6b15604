"""CDC golden + property tests (SURVEY.md §5.2).

The oracle here is an independent pure-Python replay of the reference
semantics (apply records one by one in (current_ts, arrival) order —
upsert / partial update / soft delete / pub_event), compared against the
Spark fold+merge pipeline.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from kafkatosparktokudu_spark.cdc import apply_changes, read_fixture, sync_batch
from kafkatosparktokudu_spark.catalog import default_catalog
from kafkatosparktokudu_spark.operators.merge import StateStore, merge_upserts

FIXTURE = Path(__file__).resolve().parent.parent / "fixtures" / "ogg_changes.jsonl"
NOW = "2024-06-01 00:00:00"


# ---------------------------------------------------------------------------
# pure-Python reference replay
# ---------------------------------------------------------------------------
def _parse_lines(lines: list[str], pos_offset: int = 0):
    recs = []
    for i, line in enumerate(lines):
        try:
            obj = json.loads(line)
        except json.JSONDecodeError:
            continue
        if not isinstance(obj, dict):
            continue
        table, after = obj.get("table"), obj.get("after")
        if (
            table is None
            or "." not in table
            or not isinstance(after, dict)
            or after.get("ID") is None
        ):
            continue
        pos = obj.get("pos", pos_offset + i)
        recs.append((obj.get("current_ts"), pos, table, obj.get("op_type"), after))
    return recs


def python_replay(batches: list[list[str]]):
    """Apply batches sequentially; records within a batch in (ts, pos) order
    (the engine's LWW order). Returns ({tab: {id: row}}, pub_event)."""
    state: dict[str, dict[str, dict]] = {}
    pub: dict[tuple[str, str], str] = {}
    for batch in batches:
        recs = sorted(_parse_lines(batch), key=lambda r: (r[0], r[1]))
        for ts, pos, table, op, after in recs:
            tab = table.split(".")[1].lower()
            pk = str(after["ID"])
            prev = pub.get((pk, tab))
            norm_ts = ts.replace("T", " ")
            pub[(pk, tab)] = max(prev, norm_ts) if prev else norm_ts
            row = state.setdefault(tab, {}).setdefault(pk, {})
            if op == "D":
                row["delete_state"] = "1"
            else:
                row["delete_state"] = "0"
                for k, v in after.items():
                    if k == "ID" or v is None:
                        continue
                    row[k.lower()] = v
    return state, pub


def _typed(row: dict, tab: str):
    """Cast the python-oracle string row to catalog types."""
    def g(k):
        return row.get(k)

    if tab == "emp":
        return {
            "name": g("name"),
            "salary": float(g("salary")) if g("salary") else None,
            "dept_id": int(g("dept_id")) if g("dept_id") else None,
            "active": {"1": True, "0": False}.get(g("active")),
            "hire_ts": dt.datetime.fromisoformat(g("hire_ts")) if g("hire_ts") else None,
            "delete_state": g("delete_state"),
        }
    return {
        "dname": g("dname"),
        "budget": float(g("budget")) if g("budget") else None,
        "delete_state": g("delete_state"),
    }


def _spark_state_to_dict(df, tab: str):
    out = {}
    for r in df.collect():
        d = r.asDict()
        d.pop("time_stamp", None)
        pk = d.pop("id")
        if tab == "dept" and d.get("budget") is not None:
            # float32 → compare at float32 precision
            d["budget"] = float(d["budget"])
        out[pk] = d
    return out


def _assert_tables_match(spark_states, py_state, tabs=("emp", "dept")):
    for tab in tabs:
        got = _spark_state_to_dict(spark_states[tab], tab)
        want = {pk: _typed(row, tab) for pk, row in py_state.get(tab, {}).items()}
        assert set(got) == set(want), f"{tab}: key sets differ"
        for pk in want:
            for col, wv in want[pk].items():
                gv = got[pk][col]
                if isinstance(wv, float) and wv is not None and gv is not None:
                    assert math.isclose(gv, wv, rel_tol=1e-6), (tab, pk, col, gv, wv)
                else:
                    assert gv == wv, (tab, pk, col, gv, wv)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def fixture_lines() -> list[str]:
    return FIXTURE.read_text().splitlines()


def test_apply_changes_matches_python_oracle(spark, fixture_lines):
    states = apply_changes(spark, read_fixture(spark), now_str=NOW)
    py_state, py_pub = python_replay([fixture_lines])
    _assert_tables_match(states, py_state)
    # pub_event: latest normalized ts per (id, name), constants '0'
    got = {
        (r["id"], r["name"]): (r["current_ts"], r["delete_state"], r["his_delete_state"])
        for r in states["pub_event"].collect()
    }
    want = {k: (v, "0", "0") for k, v in py_pub.items()}
    assert got == want


def test_soft_delete_and_resurrection(spark, fixture_lines):
    """Deleted keys keep payload (logical delete); a later U resurrects."""
    states = apply_changes(spark, read_fixture(spark), now_str=NOW)
    emp = {r["id"]: r.asDict() for r in states["emp"].collect()}
    py_state, _ = python_replay([fixture_lines])
    deleted = [pk for pk, row in py_state["emp"].items() if row["delete_state"] == "1"]
    assert deleted, "fixture must contain net-deleted keys"
    for pk in deleted:
        assert emp[pk]["delete_state"] == "1"
    # ids 7 and 12 were deleted then updated → resurrected
    for pk in ("7", "12"):
        if py_state["emp"][pk]["delete_state"] == "0":
            assert emp[pk]["delete_state"] == "0"
            assert emp[pk]["salary"] == 9999.99


def test_lww_stale_updates_lose(spark, fixture_lines):
    """Out-of-order current_ts records must not win (fixture ids 1-3)."""
    states = apply_changes(spark, read_fixture(spark), now_str=NOW)
    emp = {r["id"]: r.asDict() for r in states["emp"].collect()}
    for pk in ("1", "2", "3"):
        assert emp[pk]["name"] != "stale"
        assert emp[pk]["salary"] != 1.0


def test_incremental_sync_matches_single_batch(spark, fixture_lines, tmp_path):
    """Splitting the stream into two micro-batches and merging through the
    StateStore gives the same final state as one-shot replay (the fixture's
    cross-batch records are either disjoint or arrival-ordered)."""
    mid = len(fixture_lines) // 2
    b1, b2 = fixture_lines[:mid], fixture_lines[mid:]
    wh = str(tmp_path / "wh")
    for b in (b1, b2):
        df = spark.createDataFrame([(line,) for line in b], "value string")
        sync_batch(spark, df, wh, now_str=NOW, n_buckets=8)
    py_state, py_pub = python_replay([b1, b2])
    cat = default_catalog()
    for tab in ("emp", "dept"):
        store = StateStore(spark, f"{wh}/{tab}", ["id"], cat[tab].full_schema, 8)
        got = _spark_state_to_dict(store.read(), tab)
        want = {pk: _typed(row, tab) for pk, row in py_state.get(tab, {}).items()}
        assert set(got) == set(want)
        for pk in want:
            for col, wv in want[pk].items():
                gv = got[pk][col]
                if isinstance(wv, float) and wv is not None and gv is not None:
                    assert math.isclose(gv, wv, rel_tol=1e-6), (tab, pk, col, gv, wv)
                else:
                    assert gv == wv, (tab, pk, col, gv, wv)


def test_replay_idempotence(spark, fixture_lines, tmp_path):
    """At-least-once: re-syncing the same batch leaves state unchanged
    (reference semantics #5 — upsert absorbs duplicates)."""
    wh = str(tmp_path / "wh")
    df = spark.createDataFrame([(line,) for line in fixture_lines], "value string")
    sync_batch(spark, df, wh, now_str=NOW, n_buckets=8)
    cat = default_catalog()
    store = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8)
    before = sorted([tuple(r) for r in store.read().collect()], key=repr)
    sync_batch(spark, df, wh, now_str=NOW, n_buckets=8)  # replay
    after = sorted([tuple(r) for r in store.read().collect()], key=repr)
    assert before == after


def _acct_catalog():
    """The default catalog plus an int-keyed table ``acct``."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.catalog import TargetTable

    acct = TargetTable(
        "acct",
        "id",
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("bal", T.DoubleType(), True),
            ]
        ),
    )
    return dict(default_catalog(), acct=acct)


def test_sync_batch_folds_on_typed_key(spark, tmp_path):
    """An int-keyed table receiving '007' and then '7' holds ONE row for
    key 7: the fold groups on the catalog-typed key, not the raw string
    (grouping on the string stored two rows for PK 7, kept across
    batches)."""
    cat = _acct_catalog()
    wh = str(tmp_path / "wh")
    lines = [
        '{"table": "S.ACCT", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 1, "after": {"ID": "007", "BAL": "1"}}',
        '{"table": "S.ACCT", "op_type": "U", "current_ts": '
        '"2024-01-01T11:00:00.000000", "pos": 2, "after": {"ID": "7", "BAL": "2"}}',
    ]
    store = StateStore(spark, f"{wh}/acct", ["id"], cat["acct"].full_schema, 8)
    for batch in (lines, lines[1:]):
        df = spark.createDataFrame([(line,) for line in batch], "value string")
        sync_batch(spark, df, wh, catalog=cat, now_str=NOW, n_buckets=8)
        rows = [(r["id"], r["bal"]) for r in store.lookup([7]).collect()]
        assert rows == [(7, 2.0)]
    assert store.read().count() == 1


def test_sync_batch_after_rebucket(spark, fixture_lines, tmp_path):
    """A store rebucketed between batches keeps syncing: affected_buckets
    hashes with the store's adopted geometry, so the stale n_buckets=8
    argument is harmless (before, the batch's rows were hashed mod 8 and
    the staged-bucket guard refused the write)."""
    def ts(line: str) -> str:
        try:
            return json.loads(line).get("current_ts") or ""
        except (ValueError, AttributeError):
            return ""

    # split by event time, so two sequential merges equal one fold of the
    # whole fixture (a positional split lets the fixture's stale
    # out-of-order records win in the later batch)
    stamps = sorted({ts(l) for l in fixture_lines if ts(l)})
    cut = stamps[len(stamps) // 2]
    halves = (
        [l for l in fixture_lines if ts(l) < cut],
        [l for l in fixture_lines if ts(l) >= cut],
    )
    wh = str(tmp_path / "wh")
    cat = default_catalog()
    df = spark.createDataFrame([(l,) for l in halves[0]], "value string")
    sync_batch(spark, df, wh, now_str=NOW, n_buckets=8)
    StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8).rebucket(16)
    df = spark.createDataFrame([(l,) for l in halves[1]], "value string")
    sync_batch(spark, df, wh, now_str=NOW, n_buckets=8)

    store = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8)
    assert store.n_buckets == 16
    whole = apply_changes(spark, read_fixture(spark), now_str=NOW)["emp"]
    got = sorted((tuple(r) for r in store.read().collect()), key=repr)
    want = sorted((tuple(r) for r in whole.collect()), key=repr)
    assert got == want


def test_dead_letters_counted(spark, fixture_lines, tmp_path):
    """Bad input dropped, not fatal (S10): null-table, missing ID, bad JSON."""
    df = spark.createDataFrame([(line,) for line in fixture_lines], "value string")
    m = sync_batch(spark, df, str(tmp_path / "wh"), now_str=NOW, n_buckets=8)
    assert m.dead == 4  # null-table, empty-after, 2 malformed lines
    assert m.total == len(fixture_lines)  # every consumed record, like the reference
    assert m.valid == len(fixture_lines) - 4
    assert m.tables == ["dept", "emp"]


def test_merge_upserts_partial_update(spark):
    """Column-wise coalesce: null batch columns keep prior state."""
    state = spark.createDataFrame(
        [("1", "alice", 100.0, "0", "t0")],
        "id string, name string, salary double, delete_state string, time_stamp string",
    )
    batch = spark.createDataFrame(
        [("1", None, 200.0, "0", "t1"), ("2", "bob", 50.0, "0", "t1")],
        "id string, name string, salary double, delete_state string, time_stamp string",
    )
    got = {r["id"]: r.asDict() for r in merge_upserts(state, batch, ["id"]).collect()}
    assert got["1"] == {"id": "1", "name": "alice", "salary": 200.0,
                        "delete_state": "0", "time_stamp": "t1"}
    assert got["2"]["name"] == "bob"


def test_dead_letter_capture(spark, tmp_path):
    """With dead_letter_dir set, bad records land in parquet with a reason
    and the count matches; good records are unaffected."""
    good = [
        '{"table": "SCOTT.EMP", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 1, "after": {"ID": "1", "NAME": "a"}}',
        '{"table": "SCOTT.EMP", "op_type": "U", "current_ts": '
        '"2024-01-01T11:00:00.000000", "pos": 2, "after": {"ID": "1", "NAME": "b"}}',
    ]
    bad = [
        "not json at all",
        '{"op_type": "I", "after": {"ID": "9"}}',        # null table
        '{"table": "NODOTS", "op_type": "I", "after": {"ID": "9"}}',  # no qualifier
        '{"table": "S.T", "op_type": "I"}',               # missing after
        '{"table": "S.T", "op_type": "I", "after": {}}',  # missing pk
    ]
    raw = spark.createDataFrame([(l,) for l in good + bad], "value string")
    dl = str(tmp_path / "dead")
    m = sync_batch(spark, raw, str(tmp_path / "wh"), dead_letter_dir=dl)
    assert m.dead == len(bad)
    captured = spark.read.parquet(dl)
    assert captured.count() == len(bad)
    reasons = {r["raw"]: r["reason"] for r in captured.collect()}
    assert reasons["not json at all"] == "null_table_or_unparseable"
    assert (
        reasons['{"table": "NODOTS", "op_type": "I", "after": {"ID": "9"}}']
        == "malformed_table_name"
    )
    assert reasons['{"table": "S.T", "op_type": "I"}'] == "missing_after"
    assert reasons['{"table": "S.T", "op_type": "I", "after": {}}'] == "missing_pk"


def test_bad_key_is_a_dead_letter_not_a_failed_batch(spark, tmp_path):
    """A record whose ID does not cast to its table's key type (an
    int-keyed table receiving 'x7') is a dead letter with reason
    ``bad_key``, and the batch's other records still merge. typed_key's
    ANSI cast used to fail the whole batch with CAST_INVALID_INPUT, on
    every retry. apply_changes drops the record the same way."""
    cat = _acct_catalog()
    lines = [
        '{"table": "S.ACCT", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 1, "after": {"ID": "7", "BAL": "1"}}',
        '{"table": "S.ACCT", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 2, "after": {"ID": "x7", "BAL": "2"}}',
        '{"table": "SCOTT.EMP", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 3, "after": {"ID": "x7", "NAME": "a"}}',
    ]
    raw = spark.createDataFrame([(line,) for line in lines], "value string")
    wh, dl = str(tmp_path / "wh"), str(tmp_path / "dead")
    m = sync_batch(
        spark, raw, wh, catalog=cat, now_str=NOW, n_buckets=8, dead_letter_dir=dl
    )
    assert (m.total, m.dead, m.tables) == (3, 1, ["acct", "emp"])
    reasons = {r["raw"]: r["reason"] for r in spark.read.parquet(dl).collect()}
    assert reasons == {lines[1]: "bad_key"}
    acct = StateStore(spark, f"{wh}/acct", ["id"], cat["acct"].full_schema, 8)
    assert [(r["id"], r["bal"]) for r in acct.read().collect()] == [(7, 1.0)]
    emp = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8)
    assert [r["id"] for r in emp.read().collect()] == ["x7"]
    replayed = apply_changes(spark, raw, catalog=cat, now_str=NOW)
    assert [(r["id"], r["bal"]) for r in replayed["acct"].collect()] == [(7, 1.0)]


def test_dead_letters_appended_only_for_batches_that_have_them(spark, tmp_path):
    """With ``dead_letter_dir`` set, a batch without dead letters appends
    nothing (it used to write an empty parquet file, in one extra job);
    a later batch with dead letters still appends its rows and reasons."""
    from pathlib import Path

    def rec(pk, ts):
        return (
            '{"table": "SCOTT.EMP", "op_type": "I", "current_ts": '
            f'"2024-01-01T{ts}:00:00.000000", "after": {{"ID": "{pk}", "NAME": "a"}}}}'
        )

    dl = str(tmp_path / "dead")
    wh = str(tmp_path / "wh")
    for pk, ts in (("1", "10"), ("2", "11")):
        raw = spark.createDataFrame([(rec(pk, ts),)], "value string")
        assert sync_batch(spark, raw, wh, dead_letter_dir=dl).dead == 0
    assert not list(Path(tmp_path).glob("dead/**/*.parquet"))
    bad = ["not json at all", '{"table": "S.T", "op_type": "I"}']
    raw = spark.createDataFrame([(line,) for line in [rec("3", "12"), *bad]], "value string")
    assert sync_batch(spark, raw, wh, dead_letter_dir=dl).dead == 2
    reasons = {r["raw"]: r["reason"] for r in spark.read.parquet(dl).collect()}
    assert reasons == {
        "not json at all": "null_table_or_unparseable",
        '{"table": "S.T", "op_type": "I"}': "missing_after",
    }


def test_affected_buckets_match_store(spark, fixture_lines):
    """affected_buckets hashes the PRE-fold keys (no fold job) with each
    store's own StateStore._bucket_col, so its sets must equal the buckets
    that same hash assigns to the TYPED folded batch — an
    under-approximation would make upsert_many refuse the batch."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.catalog import PUB_EVENT_SCHEMA, TargetTable
    from kafkatosparktokudu_spark.cdc import affected_buckets
    from kafkatosparktokudu_spark.operators.ogg import (
        cast_payload,
        derive_pub_event,
        fold_table_changes,
        normalize,
        parse_ogg,
        split_valid,
        with_time_stamp,
    )

    # int-typed key with leading zeros: '007' and '7' must hash to ONE
    # bucket (the fold groups on the typed key; affected_buckets must
    # project the same typed key or it would predict two buckets for one
    # key — an over-approximation is safe, but the key-set equality below
    # is strict so the test pins exact agreement)
    acct_lines = [
        '{"table": "S.ACCT", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 900, "after": {"ID": "007", "BAL": "1"}}',
        '{"table": "S.ACCT", "op_type": "U", "current_ts": '
        '"2024-01-01T11:00:00.000000", "pos": 901, "after": {"ID": "7", "BAL": "2"}}',
    ]
    acct = TargetTable(
        "acct",
        "id",
        T.StructType(
            [
                T.StructField("id", T.IntegerType(), False),
                T.StructField("bal", T.DoubleType(), True),
            ]
        ),
    )
    catalog = dict(default_catalog(), acct=acct)
    raw = spark.createDataFrame(
        [(l,) for l in fixture_lines + acct_lines], "value string"
    )
    valid, _ = split_valid(parse_ogg(raw))
    norm = normalize(valid)
    n_buckets = 7
    stores = {
        name: StateStore(
            spark, f"/tmp/unused/{name}", [target.key], target.full_schema, n_buckets
        )
        for name, target in catalog.items()
    }
    stores["pub_event"] = StateStore(
        spark, "/tmp/unused/pub_event", ["id", "name"], PUB_EVENT_SCHEMA, n_buckets
    )
    aff = affected_buckets(norm, catalog, stores)

    for name, target in catalog.items():
        typed = with_time_stamp(
            cast_payload(
                fold_table_changes(norm.filter(F.col("tab_name") == name), target),
                target,
            ),
            NOW,
        )
        store = stores[name]
        actual = {
            r[0]
            for r in typed.select(store._bucket_col().alias("b")).distinct().collect()
        }
        assert actual == set(aff.get(name, [])), name
    ev_store = stores["pub_event"]
    ev = derive_pub_event(norm, NOW)
    actual = {
        r[0] for r in ev.select(ev_store._bucket_col().alias("b")).distinct().collect()
    }
    assert actual == set(aff["pub_event"])
    assert len(aff["acct"]) == 1  # '007' and '7' folded into one int key


def test_state_store_schema_evolution(spark, tmp_path):
    """Adding a column to a target's catalog schema must be a no-op for
    existing state: old files lack the column (parquet reads it as null),
    the next merge writes it for touched rows, untouched rows keep null —
    the add-column path a live CDC target actually goes through."""
    from pyspark.sql import types as T

    v1 = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    v2 = T.StructType(list(v1.fields) + [T.StructField("extra", T.StringType(), True)])
    path = str(tmp_path / "tab")
    s1 = StateStore(spark, path, ["id"], v1, 4)
    s1.upsert_batch(spark.createDataFrame([("1", "a"), ("2", "b")], v1))

    s2 = StateStore(spark, path, ["id"], v2, 4)
    # read-before-write: old files surface the new column as null
    pre = {r["id"]: r["extra"] for r in s2.read().collect()}
    assert pre == {"1": None, "2": None}
    s2.upsert_batch(spark.createDataFrame([("2", "b2", "x"), ("3", "c", "y")], v2))
    got = {r["id"]: (r["v"], r["extra"]) for r in s2.read().collect()}
    assert got == {"1": ("a", None), "2": ("b2", "x"), "3": ("c", "y")}


def test_incremental_rollup_moves_deletes_partials(spark, tmp_path):
    """Delta maintenance must handle the three IVM subtleties: a key moving
    groups (old group loses, new group gains), a soft delete (contribution
    withdrawn), and a partial update (unchanged values keep contributing)."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.rollup import (
        rollup_schema,
        sync_with_rollup,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("dept_id", T.IntegerType(), True),
            T.StructField("salary", T.DoubleType(), True),
            T.StructField("delete_state", T.StringType(), True),
            T.StructField("time_stamp", T.StringType(), True),
        ]
    )
    state = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 4)
    rollup = StateStore(
        spark,
        str(tmp_path / "roll"),
        ["dept_id"],
        __import__(
            "kafkatosparktokudu_spark.operators.rollup", fromlist=["rollup_schema"]
        ).rollup_schema(T.StructField("dept_id", T.IntegerType(), False)),
        4,
    )
    b1 = spark.createDataFrame(
        [
            ("1", 10, 100.0, "0", "t"),
            ("2", 10, 200.0, "0", "t"),
            ("3", 20, 300.0, "0", "t"),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            ("1", 20, None, "0", "t"),   # moves dept 10 → 20, salary kept
            ("2", None, None, "1", "t"),  # soft delete
            ("4", 10, 50.0, "0", "t"),    # new hire
            ("3", None, None, "0", "t"),  # partial no-op update
        ],
        schema,
    )
    for b in (b1, b2):
        sync_with_rollup(spark, state, b, rollup, "dept_id", "salary")
    got = {
        r["dept_id"]: (r["n_alive"], float(r["sum_dec"]))
        for r in rollup.read().filter(F.col("n_alive") > 0).collect()
    }
    assert got == {10: (1, 50.0), 20: (2, 400.0)}


def test_sync_batch_maintains_rollup_view(spark, fixture_lines, tmp_path):
    """sync_batch(rollups=[...]) must keep the dept view equal to a direct
    aggregation of the final state after every batch — exercised with the
    bucket-superset delta path (pre/post snapshots are whole affected
    buckets; untouched rows cancel exactly)."""
    from kafkatosparktokudu_spark.cdc import RollupSpec

    wh = str(tmp_path / "wh")
    spec = RollupSpec(table="emp", group_col="dept_id", sum_col="salary")
    mid = len(fixture_lines) // 2
    cat = default_catalog()
    for b in (fixture_lines[:mid], fixture_lines[mid:]):
        df = spark.createDataFrame([(line,) for line in b], "value string")
        sync_batch(spark, df, wh, now_str=NOW, n_buckets=8, rollups=[spec])
        view = {
            r["dept_id"]: (r["n_alive"], float(r["sum_dec"]))
            for r in spec.store(spark, wh, 8)
            .read()
            .filter(F.col("n_alive") > 0)
            .collect()
        }
        state = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8)
        direct = {
            r["dept_id"]: (r["n"], float(r["s"]))
            for r in state.read()
            .filter((F.col("delete_state") != "1") & F.col("dept_id").isNotNull())
            .groupBy("dept_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("salary").cast("decimal(22,2)")).alias("s"),
            )
            .collect()
        }
        assert view == direct


def _emp_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("dept_id", T.IntegerType(), True),
            T.StructField("salary", T.DoubleType(), True),
            T.StructField("delete_state", T.StringType(), True),
            T.StructField("time_stamp", T.StringType(), True),
        ]
    )


def _dept_rollup_store(spark, path):
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.rollup import rollup_schema

    return StateStore(
        spark,
        path,
        ["dept_id"],
        rollup_schema(T.StructField("dept_id", T.IntegerType(), False)),
        4,
    )


def _view_vs_direct(state, rollup):
    view = {
        r["dept_id"]: (r["n_alive"], float(r["sum_dec"]))
        for r in rollup.read().filter(F.col("n_alive") > 0).collect()
    }
    direct = {
        r["dept_id"]: (r["n"], float(r["s"]))
        for r in state.read()
        .filter(
            (F.col("delete_state").isNull() | (F.col("delete_state") != "1"))
            & F.col("dept_id").isNotNull()
        )
        .groupBy("dept_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("salary").cast("decimal(22,2)")).alias("s"),
        )
        .collect()
    }
    return view, direct


def _emp(spark, rows):
    return spark.createDataFrame(rows, _emp_schema())


def _source_version(rollup):
    return rollup._manifest().get("source_version")


def _minmax_store(spark, path):
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.rollup import minmax_schema

    return StateStore(
        spark,
        path,
        ["dept_id"],
        minmax_schema(
            T.StructField("dept_id", T.IntegerType(), False), T.DoubleType()
        ),
        4,
    )


def _minmax_vs_direct(state, view):
    """The min/max view's live groups and a from-scratch min/max/count
    over ``state.read()``; a group with no live row must read null
    extremes."""
    rows = view.read().collect()
    assert all(
        r["min_val"] is None and r["max_val"] is None
        for r in rows
        if r["n_alive"] == 0
    )
    got = {
        r["dept_id"]: (r["min_val"], r["max_val"], r["n_alive"])
        for r in rows
        if r["n_alive"] > 0
    }
    direct = {
        r["dept_id"]: (r["lo"], r["hi"], r["n"])
        for r in state.read()
        .filter(
            (F.col("delete_state").isNull() | (F.col("delete_state") != "1"))
            & F.col("dept_id").isNotNull()
        )
        .groupBy("dept_id")
        .agg(
            F.min("salary").alias("lo"),
            F.max("salary").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    return got, direct


class _ViewCase:
    """A fresh emp base and a dept_id view over salary of one kind: "sum"
    (count and DECIMAL sum, maintained by deltas) or "minmax"
    (re-aggregated). Both kinds share one refresh protocol, so each
    protocol test below runs its case on both."""

    def __init__(self, spark, tmp_path, kind):
        self.spark, self.kind = spark, kind
        self.state = StateStore(
            spark, str(tmp_path / kind / "emp"), ["id"], _emp_schema(), 4
        )
        store = _dept_rollup_store if kind == "sum" else _minmax_store
        self.view = store(spark, str(tmp_path / kind / "roll"))

    def sync(self, rows):
        from kafkatosparktokudu_spark.operators import rollup

        sync = {"sum": rollup.sync_with_rollup, "minmax": rollup.sync_with_minmax}
        batch = _emp(self.spark, rows)
        sync[self.kind](self.spark, self.state, batch, self.view, "dept_id", "salary")

    def refresh(self):
        from kafkatosparktokudu_spark.operators import rollup

        refresh = {"sum": rollup.refresh_rollup, "minmax": rollup.refresh_minmax}
        refresh[self.kind](self.spark, self.state, self.view, "dept_id", "salary")

    def vs_direct(self):
        vs = _view_vs_direct if self.kind == "sum" else _minmax_vs_direct
        return vs(self.state, self.view)


def _view_cases(spark, tmp_path):
    return [_ViewCase(spark, tmp_path, kind) for kind in ("sum", "minmax")]


def test_rollup_replay_crash_between_merge_and_apply(spark, tmp_path, monkeypatch):
    """Die AFTER the base merge, at the view's manifest publish, with no
    batch id anywhere: the view still names the base version before the
    merge, so re-running the batch counts that merge (and the replayed
    re-merge, whose rows are identical, adds nothing). Key 3 moves out of
    dept 20, which no other row of the batch names: a re-run that looked
    up the batch's keys in the already-merged base would never revisit
    dept 20 and leave its old extreme, (300.0, 300.0, 1), in a min/max
    view."""
    from kafkatosparktokudu_spark.operators import merge

    b2 = [
        ("2", None, None, "1", "t"),  # delete the dept-10 max
        ("3", 10, None, "0", "t"),  # move 20 → 10, salary 300 kept
        ("4", 30, 50.0, "0", "t"),
    ]
    want = {
        "sum": {10: (2, 400.0), 30: (1, 50.0)},
        "minmax": {10: (100.0, 300.0, 2), 30: (50.0, 50.0, 1)},
    }
    real = merge._publish
    for case in _view_cases(spark, tmp_path):
        case.sync(
            [
                ("1", 10, 100.0, "0", "t"),
                ("2", 10, 900.0, "0", "t"),
                ("3", 20, 300.0, "0", "t"),
            ]
        )

        def crash_at_view_commit(store, *args, _view=case.view.path):
            if store.path == _view:
                monkeypatch.setattr(merge, "_publish", real)
                raise RuntimeError("crash at the view commit")
            return real(store, *args)

        monkeypatch.setattr(merge, "_publish", crash_at_view_commit)
        with pytest.raises(RuntimeError, match="crash at the view commit"):
            case.sync(b2)
        assert _source_version(case.view) == case.state._manifest()["version"] - 1

        case.sync(b2)
        view, direct = case.vs_direct()
        assert view == direct == want[case.kind]
        assert _source_version(case.view) == case.state._manifest()["version"]
        if case.kind == "minmax":  # the emptied group is a zero row
            assert tuple(case.view.lookup([20]).first()) == (20, None, None, 0)


def test_rollup_replay_does_not_double_apply(spark, tmp_path):
    """Replay AFTER a full commit: the base is re-merged to a new version
    with the same rows, so the version diff is zero and the view stays put.
    A refresh with no base write in between is skipped whole: it commits
    nothing."""
    want = {
        "sum": {10: (2, 150.0), 20: (1, 200.0)},
        "minmax": {10: (50.0, 100.0, 2), 20: (200.0, 200.0, 1)},
    }
    for case in _view_cases(spark, tmp_path):
        case.sync([("1", 10, 100.0, "0", "t"), ("2", 20, 200.0, "0", "t")])
        for _ in range(2):
            case.sync([("3", 10, 50.0, "0", "t")])
        view, direct = case.vs_direct()
        assert view == direct == want[case.kind]

        committed = case.view._manifest()["version"]
        case.refresh()
        assert case.view._manifest()["version"] == committed


def test_rollup_counts_base_writes_made_without_the_view(spark, tmp_path):
    """A base write made without the view between two refreshes — here an
    upsert and then a rebucket, so the diff also spans a geometry change —
    is counted by the next refresh."""
    want = {
        "sum": {10: (2, 150.0), 20: (1, 7.0)},
        "minmax": {10: (50.0, 100.0, 2), 20: (7.0, 7.0, 1)},
    }
    for case in _view_cases(spark, tmp_path):
        case.sync([("1", 10, 100.0, "0", "t")])
        case.state.upsert_batch(_emp(spark, [("2", 10, 50.0, "0", "t")]))
        case.state.rebucket(8)
        case.sync([("3", 20, 7.0, "0", "t")])
        view, direct = case.vs_direct()
        assert view == direct == want[case.kind]


def test_rollup_view_created_over_a_nonempty_base_starts_from_all_of_it(
    spark, tmp_path
):
    """A view never written reflects version 0, the empty base, so its
    first refresh counts every base row, not only the current batch's:
    dept 30, which the batch never names, is in the view too."""
    want = {
        "sum": {20: (2, 300.0), 30: (1, 7.0)},
        "minmax": {20: (100.0, 200.0, 2), 30: (7.0, 7.0, 1)},
    }
    for case in _view_cases(spark, tmp_path):
        case.state.upsert_batch(
            _emp(
                spark,
                [
                    ("1", 10, 100.0, "0", "t"),
                    ("2", 20, 200.0, "0", "t"),
                    ("3", 30, 7.0, "0", "t"),
                ],
            )
        )
        case.sync([("1", 20, None, "0", "t")])
        view, direct = case.vs_direct()
        assert view == direct == want[case.kind]


def test_rollup_commit_with_an_empty_delta_advances_the_source_version(
    spark, tmp_path
):
    """Batches whose rows have no group change no group, but the view must
    still commit the base version it now reflects — or that version would
    fall out of the base's retention."""
    for case in _view_cases(spark, tmp_path):
        for i in range(2):
            case.sync([(str(i), None, 1.0, "0", "t")])
            assert (
                _source_version(case.view)
                == case.state._manifest()["version"]
                == i + 1
            )
        assert case.view.read().count() == 0


def test_rollup_refuses_a_retired_source_version(spark, tmp_path):
    """More base commits between two refreshes than the base keeps: the
    version the view reflects is gone, and the refresh raises instead of
    committing a wrong view."""
    from kafkatosparktokudu_spark.operators.merge import _KEEP_VERSIONS

    for case in _view_cases(spark, tmp_path):
        case.sync([("1", 10, 100.0, "0", "t")])
        before = sorted(map(tuple, case.view.read().collect()), key=repr)
        # with the batch's own merge, _KEEP_VERSIONS + 1 base commits
        for i in range(_KEEP_VERSIONS):
            case.state.upsert_batch(_emp(spark, [(f"x{i}", 10, 1.0, "0", "t")]))
        with pytest.raises(ValueError, match="version 1 is no longer kept"):
            case.sync([("2", 20, 5.0, "0", "t")])
        assert sorted(map(tuple, case.view.read().collect()), key=repr) == before


def test_rollup_refuses_a_view_without_source_version(spark, tmp_path):
    """A view directory with rows but no recorded source version (the
    layout from before views recorded it) raises, naming the directory."""
    for case in _view_cases(spark, tmp_path):
        n_values = len(case.view.schema.fields) - 1
        case.view.upsert_batch(
            spark.createDataFrame([(10,) + (None,) * n_values], case.view.schema)
        )
        with pytest.raises(
            ValueError, match="roll: a rollup view without a source_version"
        ):
            case.sync([("1", 10, 100.0, "0", "t")])


def test_sync_batch_epoch_replay_converges(spark, fixture_lines, tmp_path):
    """Full fused path: replaying an epoch through sync_batch (same batch,
    same epoch_id — Structured Streaming's replay contract) must leave the
    base tables AND the maintained view exactly where one delivery would."""
    from kafkatosparktokudu_spark.cdc import RollupSpec

    wh = str(tmp_path / "wh")
    spec = RollupSpec(table="emp", group_col="dept_id", sum_col="salary")
    cat = default_catalog()
    mid = len(fixture_lines) // 2
    for epoch, b in enumerate((fixture_lines[:mid], fixture_lines[mid:])):
        df = spark.createDataFrame([(line,) for line in b], "value string")
        sync_batch(
            spark, df, wh, now_str=NOW, n_buckets=8, rollups=[spec],
            epoch_id=epoch,
        )
        if epoch == 1:  # replay the final epoch end-to-end
            sync_batch(
                spark, df, wh, now_str=NOW, n_buckets=8, rollups=[spec],
                epoch_id=epoch,
            )
    state = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 8)
    view, direct = _view_vs_direct(state, spec.store(spark, wh, 8))
    assert view == direct and view


def test_sync_batch_rollup_survives_an_epoch_restart(spark, fixture_lines, tmp_path):
    """Batch ids restart at 0 with a new checkpoint against the same
    warehouse; store versions do not. A batch delivered under a restarted
    id must still reach the view."""
    from kafkatosparktokudu_spark.cdc import RollupSpec

    wh = str(tmp_path / "wh")
    spec = RollupSpec(table="emp", group_col="dept_id", sum_col="salary")
    mid = len(fixture_lines) // 2
    for epoch, b in ((5, fixture_lines[:mid]), (0, fixture_lines[mid:])):
        df = spark.createDataFrame([(line,) for line in b], "value string")
        sync_batch(
            spark, df, wh, now_str=NOW, n_buckets=8, rollups=[spec],
            epoch_id=epoch,
        )
    state = StateStore(
        spark, f"{wh}/emp", ["id"], default_catalog()["emp"].full_schema, 8
    )
    view, direct = _view_vs_direct(state, spec.store(spark, wh, 8))
    assert view == direct and view


def test_sync_batch_crash_between_merge_and_rollup_apply(
    spark, fixture_lines, tmp_path, monkeypatch
):
    """sync_batch dies AFTER the base merge, BEFORE the view commit
    (maintain_rollup raises once on the second batch). The view still
    names the base version before that merge; replaying the batch brings
    it to the base's newest version and equal to a direct aggregation."""
    from kafkatosparktokudu_spark.cdc import RollupSpec
    from kafkatosparktokudu_spark.operators import rollup as rollup_mod

    wh = str(tmp_path / "wh")
    spec = RollupSpec(table="emp", group_col="dept_id", sum_col="salary")
    mid = len(fixture_lines) // 2
    b1, b2 = (
        spark.createDataFrame([(l,) for l in part], "value string")
        for part in (fixture_lines[:mid], fixture_lines[mid:])
    )
    sync_batch(spark, b1, wh, now_str=NOW, n_buckets=8, rollups=[spec], epoch_id=0)

    real = rollup_mod.maintain_rollup

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(rollup_mod, "maintain_rollup", real)
        raise RuntimeError("crash before the rollup apply")

    monkeypatch.setattr(rollup_mod, "maintain_rollup", crash_once)
    with pytest.raises(RuntimeError, match="crash before"):
        sync_batch(
            spark, b2, wh, now_str=NOW, n_buckets=8, rollups=[spec], epoch_id=1
        )
    view = spec.store(spark, wh, 8)
    state = StateStore(
        spark, f"{wh}/emp", ["id"], default_catalog()["emp"].full_schema, 8
    )
    assert _source_version(view) == state._manifest()["version"] - 1

    sync_batch(spark, b2, wh, now_str=NOW, n_buckets=8, rollups=[spec], epoch_id=1)
    got, direct = _view_vs_direct(state, view)
    assert got == direct and got
    assert _source_version(view) == state._manifest()["version"]


def test_sync_batch_rejects_unknown_rollup_table(spark, fixture_lines, tmp_path):
    """A RollupSpec naming a table absent from the catalog must raise a
    clear ValueError up front, not an opaque StopIteration mid-merge."""
    import pytest

    from kafkatosparktokudu_spark.cdc import RollupSpec

    df = spark.createDataFrame([(fixture_lines[0],)], "value string")
    with pytest.raises(ValueError, match="nope"):
        sync_batch(
            spark,
            df,
            str(tmp_path / "wh"),
            now_str=NOW,
            rollups=[RollupSpec(table="nope", group_col="x", sum_col="y")],
        )


def test_incremental_rollup_null_sum_does_not_clobber(spark, tmp_path):
    """A batch whose only contribution to a group carries a NULL sum column
    must produce d_sum = 0, not NULL — a NULL delta would wipe the group's
    accumulated sum on addition (regression from review)."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.rollup import (
        rollup_schema,
        sync_with_rollup,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("dept_id", T.IntegerType(), True),
            T.StructField("salary", T.DoubleType(), True),
            T.StructField("delete_state", T.StringType(), True),
            T.StructField("time_stamp", T.StringType(), True),
        ]
    )
    state = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 4)
    rollup = StateStore(
        spark,
        str(tmp_path / "roll"),
        ["dept_id"],
        __import__(
            "kafkatosparktokudu_spark.operators.rollup", fromlist=["rollup_schema"]
        ).rollup_schema(T.StructField("dept_id", T.IntegerType(), False)),
        4,
    )
    b1 = spark.createDataFrame([("1", 30, 500.0, "0", "t")], schema)
    # new hire in dept 30 with salary never set
    b2 = spark.createDataFrame([("2", 30, None, "0", "t")], schema)
    for b in (b1, b2):
        sync_with_rollup(spark, state, b, rollup, "dept_id", "salary")
    got = {
        r["dept_id"]: (r["n_alive"], float(r["sum_dec"]))
        for r in rollup.read().collect()
    }
    assert got == {30: (2, 500.0)}


def test_upsert_many_unsafe_table_name(spark, tmp_path):
    """A table name Spark would percent-escape in a partition path must
    still merge: the combined staged write tags rows by their position in
    the call, never by the name, so the staged directory lookup cannot
    miss (and silently drop) the batch."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import upsert_many

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "na:me"), ["id"], schema, 4)
    upsert_many(spark, [(store, spark.createDataFrame([("1", "a")], schema))])
    upsert_many(spark, [(store, spark.createDataFrame([("1", "b"), ("2", "c")], schema))])
    got = {r["id"]: r["v"] for r in store.read().collect()}
    assert got == {"1": "b", "2": "c"}


def test_upsert_many_same_basename_distinct_dirs(spark, tmp_path):
    """Two stores from DIFFERENT parent dirs with the SAME basename must
    keep distinct state (VERDICT r4 #5): the combined staged write tags
    rows by position in the call, so a shared basename cannot cross-merge
    them."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import upsert_many

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    s1 = StateStore(spark, str(tmp_path / "wh1" / "emp"), ["id"], schema, 4)
    s2 = StateStore(spark, str(tmp_path / "wh2" / "emp"), ["id"], schema, 4)
    upsert_many(
        spark,
        [
            (s1, spark.createDataFrame([("1", "a1"), ("2", "a2")], schema)),
            (s2, spark.createDataFrame([("1", "b1")], schema)),
        ],
    )
    upsert_many(
        spark,
        [
            (s1, spark.createDataFrame([("2", "a2x")], schema)),
            (s2, spark.createDataFrame([("3", "b3")], schema)),
        ],
    )
    got1 = {r["id"]: r["v"] for r in s1.read().collect()}
    got2 = {r["id"]: r["v"] for r in s2.read().collect()}
    assert got1 == {"1": "a1", "2": "a2x"}
    assert got2 == {"1": "b1", "3": "b3"}


def test_upsert_many_refuses_missed_bucket(spark, tmp_path):
    """An ``affected`` set that omits a bucket the batch touches must raise
    before any swap and leave the store unchanged: that bucket's state was
    never read, so swapping in its staged copy would replace the bucket's
    history with batch-only rows."""
    import os

    import pytest
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import upsert_many

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 8)
    store.upsert_batch(
        spark.createDataFrame([(str(i), f"a{i}") for i in range(40)], schema)
    )
    before = sorted(tuple(r) for r in store.read().collect())
    batch = spark.createDataFrame(
        [(str(i), f"b{i}") for i in range(0, 40, 3)], schema
    )
    touched = sorted(
        {r["b"] for r in batch.select(store._bucket_col().alias("b")).collect()}
    )
    assert len(touched) > 1
    with pytest.raises(ValueError, match="refusing to drop"):
        upsert_many(spark, [(store, batch)], affected={"emp": touched[1:]})
    assert sorted(tuple(r) for r in store.read().collect()) == before
    assert sorted(os.listdir(tmp_path)) == ["emp"]


def test_store_writes_leave_no_staging_dir(spark, tmp_path):
    """Every write path stages beside the store and removes the staging
    dir after the swap: creating upsert, an ``affected`` superset (whose
    untouched buckets keep their rows), rewrite_buckets and purge."""
    import os

    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import upsert_many

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("delete_state", T.StringType(), True),
            T.StructField("time_stamp", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 4)
    old = "2023-01-01 00:00:00"
    store.upsert_batch(
        spark.createDataFrame(
            [(str(i), "a", "1" if i % 2 else "0", old) for i in range(20)], schema
        )
    )
    assert sorted(os.listdir(tmp_path)) == ["emp"]
    upsert_many(
        spark,
        [(store, spark.createDataFrame([("1", "b", "0", old)], schema))],
        affected={"emp": list(range(4))},
    )
    assert sorted(os.listdir(tmp_path)) == ["emp"]
    assert store.read().count() == 20
    store.rewrite_buckets(list(range(4)), store.read())
    assert sorted(os.listdir(tmp_path)) == ["emp"]
    assert store.read().count() == 20
    # odd ids are soft-deleted, except id 1, resurrected above
    assert store.purge_soft_deleted("2024-01-01 00:00:00") == 9
    assert sorted(os.listdir(tmp_path)) == ["emp"]
    assert sorted(r["id"] for r in store.read().collect()) == sorted(
        str(i) for i in range(20) if i % 2 == 0 or i == 1
    )


def test_minmax_rollup_moves_deletes_partials(spark, tmp_path):
    """Min/max is non-invertible, so the view must be refreshed by
    re-aggregating TOUCHED groups — deleting the current max, moving a key
    out of its group, and partial updates must all land exactly."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.rollup import (
        minmax_schema,
        sync_with_minmax,
    )

    schema = _emp_schema()
    state = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 4)
    view = StateStore(
        spark,
        str(tmp_path / "mm"),
        ["dept_id"],
        minmax_schema(
            T.StructField("dept_id", T.IntegerType(), False), T.DoubleType()
        ),
        4,
    )
    b1 = spark.createDataFrame(
        [
            ("1", 10, 100.0, "0", "t"),
            ("2", 10, 900.0, "0", "t"),  # dept 10 max
            ("3", 20, 300.0, "0", "t"),
        ],
        schema,
    )
    sync_with_minmax(spark, state, b1, view, "dept_id", "salary")
    got = {
        r["dept_id"]: (r["min_val"], r["max_val"], r["n_alive"])
        for r in view.read().collect()
    }
    assert got == {10: (100.0, 900.0, 2), 20: (300.0, 300.0, 1)}

    b2 = spark.createDataFrame(
        [
            ("2", None, None, "1", "t"),   # delete the dept-10 max
            ("3", 10, None, "0", "t"),     # move 20 → 10, salary 300 kept
            ("4", 30, 50.0, "0", "t"),     # new dept
        ],
        schema,
    )
    sync_with_minmax(spark, state, b2, view, "dept_id", "salary")
    got = {
        r["dept_id"]: (r["min_val"], r["max_val"], r["n_alive"])
        for r in view.read().collect()
    }
    # dept 10: max 900 retired by the delete; 300 arrived with key 3
    # dept 20: emptied by the move — explicit zero row, not a stale extreme
    assert got == {
        10: (100.0, 300.0, 2),
        20: (None, None, 0),
        30: (50.0, 50.0, 1),
    }
    # idempotent: replaying the same batch converges to the same view
    sync_with_minmax(spark, state, b2, view, "dept_id", "salary")
    again = {
        r["dept_id"]: (r["min_val"], r["max_val"], r["n_alive"])
        for r in view.read().collect()
    }
    assert again == got


def test_statestore_lookup_point_reads(spark, tmp_path):
    """lookup() must return exactly the requested keys' rows while
    scanning only their buckets (the Kudu point-read analog)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "pt"), ["id"], schema, 16)
    store.upsert_batch(
        spark.createDataFrame([(str(i), f"v{i}") for i in range(200)], schema)
    )
    got = {r["id"]: r["v"] for r in store.lookup(["7", "42", "199", "nope"]).collect()}
    assert got == {"7": "v7", "42": "v42", "199": "v199"}
    # bucket pruning is observable in the plan: the pruned scan reads a
    # strict subset of the bucket partitions
    df = store.lookup(["7"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"partition filters: \[.*?\]", plan, re.I)
    assert "_bucket" in plan.lower(), plan
    assert store.lookup([]).count() == 0


def test_statestore_rejects_remote_uri(spark, tmp_path):
    """ADVICE r10: the store's commit protocol is os.rename + os.replace
    based, so a remote URI would make exists() always-False — enrichment joins would silently see an EMPTY dimension
    side while writes kept landing. Fail fast at construction instead."""
    import pytest
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.StringType(), False)])
    for uri in ("hdfs://nn/x", "s3a://bucket/x", f"file:{tmp_path}/x"):
        with pytest.raises(ValueError, match="local-filesystem-only"):
            StateStore(spark, uri, ["id"], schema, 8)
    # plain local paths (absolute and relative) still construct
    StateStore(spark, str(tmp_path / "ok"), ["id"], schema, 8)


def _mk_kv_store(spark, path, n_buckets=8):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    return StateStore(spark, path, ["id"], schema, n_buckets), schema


def test_statestore_rebucket_equivalence(spark, tmp_path):
    """VERDICT r10 #2: rebucket migrates the store to a new hash geometry
    with identical contents, point lookups keep working, the geometry in
    the manifest makes STALE call-site n_buckets arguments harmless, a
    handle opened before the rebucket cannot write at the old geometry,
    and upserts continue at the new geometry."""
    import os

    path = str(tmp_path / "st")
    store, schema = _mk_kv_store(spark, path, n_buckets=8)
    store.upsert_batch(
        spark.createDataFrame([(str(i), f"v{i}") for i in range(300)], schema)
    )
    before = sorted(tuple(r) for r in store.read().collect())
    opened_before, _ = _mk_kv_store(spark, path, n_buckets=8)

    store.rebucket(32)
    assert store.n_buckets == 32
    # a handle opened before the rebucket would stage rows hashed modulo 8
    # into the 32-bucket store, where lookups miss them: it is refused
    with pytest.raises(ValueError, match="staged at 8 buckets"):
        opened_before.upsert_batch(spark.createDataFrame([("7", "LOST")], schema))
    # ...but it still reads: a lookup hashes at the geometry of the
    # manifest it reads, not at the handle's
    keys = [str(i) for i in range(100)]
    got = {r["id"]: r["v"] for r in opened_before.lookup(keys).collect()}
    assert got == {k: f"v{k}" for k in keys}
    manifest = store._manifest()
    assert manifest["n_buckets"] == 32
    buckets = {int(b) for b in manifest["buckets"]}
    assert buckets <= set(range(32)) and len(buckets) > 8
    assert sorted(tuple(r) for r in store.read().collect()) == before
    got = {r["id"]: r["v"] for r in store.lookup(["7", "299", "nope"]).collect()}
    assert got == {"7": "v7", "299": "v299"}
    assert sorted(os.listdir(tmp_path)) == ["st"]

    # a handle opened with the PRE-migration constructor default must
    # adopt the stored geometry (the manifest wins) — else its lookups
    # would prune with the wrong modulus and miss rows
    stale, _ = _mk_kv_store(spark, path, n_buckets=8)
    assert stale.n_buckets == 32
    got = {r["id"]: r["v"] for r in stale.lookup(["123"]).collect()}
    assert got == {"123": "v123"}

    # upserts continue at the new geometry; shrink migration also exact
    stale.upsert_batch(
        spark.createDataFrame([("7", "NEW"), ("1000", "x")], stale.schema)
    )
    stale.rebucket(4)
    want = {str(i): f"v{i}" for i in range(300)} | {"7": "NEW", "1000": "x"}
    assert {r["id"]: r["v"] for r in stale.read().collect()} == want
    assert stale.rebucket(4) is None  # no-op at current geometry


def test_purge_soft_deleted_retention(spark, tmp_path):
    """Retention purge drops only soft-deleted rows older than the cutoff,
    rewrites only their buckets, removes buckets it empties, and is
    idempotent."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("delete_state", T.StringType(), True),
            T.StructField("time_stamp", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "ret"), ["id"], schema, 4)
    rows = [
        ("1", "a", "0", "2024-01-01 00:00:00"),   # live
        ("2", "b", "1", "2023-01-01 00:00:00"),   # old delete -> purged
        ("3", "c", "1", "2024-05-01 00:00:00"),   # recent delete -> kept
        ("4", "d", "1", "2022-06-01 00:00:00"),   # old delete -> purged
    ]
    store.upsert_batch(spark.createDataFrame(rows, schema))
    n = store.purge_soft_deleted("2024-01-01 00:00:00")
    assert n == 2
    got = {r["id"]: r["delete_state"] for r in store.read().collect()}
    assert got == {"1": "0", "3": "1"}
    assert store.purge_soft_deleted("2024-01-01 00:00:00") == 0  # idempotent
    # lookups still work against the rewritten layout
    assert {r["id"] for r in store.lookup(["1", "2", "3"]).collect()} == {"1", "3"}


def test_read_planned_before_a_write_returns_the_old_version(spark, tmp_path):
    """A frame reads the store version it was planned on: ``read()`` and
    ``lookup()`` built BEFORE an upsert that rewrites every bucket and a
    rebucket return the pre-write rows when collected after both, while a
    fresh ``read()`` returns the post-write rows. With buckets replaced in
    place, both early frames failed on a deleted file."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    filler = [str(i) for i in range(10, 40)]
    store = StateStore(spark, str(tmp_path / "snap"), ["id"], schema, 4)
    store.upsert_batch(
        spark.createDataFrame([("1", "old"), ("2", "x")] + [(k, "a") for k in filler], schema)
    )
    df = store.read()
    lk = store.lookup(["1", "2"])
    batch = spark.createDataFrame(
        [("1", "new"), ("3", "y")] + [(k, "b") for k in filler], schema
    )
    assert sorted(store.buckets_of(batch)) == [0, 1, 2, 3]
    store.upsert_batch(batch)
    store.rebucket(8)
    got_old = {r["id"]: r["v"] for r in df.collect()}
    assert got_old == {"1": "old", "2": "x"} | {k: "a" for k in filler}
    assert {r["id"]: r["v"] for r in lk.collect()} == {"1": "old", "2": "x"}
    got_live = {r["id"]: r["v"] for r in store.read().collect()}
    assert got_live == {"1": "new", "2": "x", "3": "y"} | {k: "b" for k in filler}
    fresh, _ = _mk_kv_store(spark, store.path, n_buckets=4)
    assert fresh.n_buckets == 8
    assert {r["id"]: r["v"] for r in fresh.read().collect()} == got_live


class _Crash(Exception):
    """The injected crash of a store write."""


def _write_steps() -> dict:
    """One store write, step by step: the staging job, each file move into
    a bucket directory, the manifest publish, each removal of the retire
    step — as (owner, function, index of the argument holding the path it
    acts on)."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    return {
        "stage": (DataFrameWriter, "parquet", 1),
        "move": (os, "rename", 1),
        "publish": (os, "replace", 1),
        "retire": (os, "remove", 0),
    }


def _inject(monkeypatch, path: str, crash_at: tuple[str, int] | None = None):
    """Count every write step acting on the store at ``path`` (or its
    staging sibling); with ``crash_at=(step, k)`` the k-th call of that
    step raises ``_Crash`` (the staging job first writes its files).
    Returns the per-step call counts, filled in as the write runs."""
    steps = _write_steps()
    counts = dict.fromkeys(steps, 0)
    for step, (owner, fn, arg) in steps.items():
        real = getattr(owner, fn)

        def wrapped(*args, _real=real, _step=step, _arg=arg, **kw):
            if not str(args[_arg]).startswith(path):
                return _real(*args, **kw)
            k = counts[_step]
            counts[_step] += 1
            if crash_at == (_step, k):
                if _step == "stage":
                    _real(*args, **kw)
                raise _Crash(f"{_step} #{k}")
            return _real(*args, **kw)

        monkeypatch.setattr(owner, fn, wrapped)
    return counts


def _files_unnamed_or_missing(path: str) -> set[str]:
    """Data files on disk that no kept manifest names, and named files
    that are not on disk."""
    import os

    log = os.path.join(path, "_manifest")
    named = set()
    for m in os.listdir(log):
        if m.endswith(".json"):
            with open(os.path.join(log, m), encoding="utf-8") as fh:
                named |= {f for fs in json.load(fh)["buckets"].values() for f in fs}
    on_disk = {
        f"{d}/{f}"
        for d in os.listdir(path) if d.startswith("_bucket=")
        for f in os.listdir(os.path.join(path, d))
    }
    return on_disk ^ named


@pytest.fixture(scope="module")
def crash_template(spark, tmp_path_factory):
    """A 2-bucket key-value store holding ids 0..39 ('a<i>'), written in
    as many versions as the store retains, so the next write's retire step
    deletes files."""
    from kafkatosparktokudu_spark.operators import merge as merge_mod

    path = str(tmp_path_factory.mktemp("crash") / "st")
    store, schema = _mk_kv_store(spark, path, n_buckets=2)
    n = merge_mod._KEEP_VERSIONS + 1
    for c in range(n):
        store.upsert_batch(spark.createDataFrame(
            [(str(i), f"a{i}") for i in range(40) if i % n == c], schema
        ))
    return path


@pytest.mark.parametrize("op", ["upsert_batch", "rebucket"])
def test_store_write_crash_at_every_step_converges(
    spark, tmp_path, monkeypatch, crash_template, op
):
    """A crash at every step of a store write — the staging job, each file
    move, the manifest publish, each retire removal — leaves the store
    reading as exactly the old version (before the publish) or the new one
    (after it), never a mix; replaying the write on a new handle converges
    to a plain-dict model of the rows, lookups included, and the next
    write deletes every file the crashed one left behind. ``upsert_batch``
    rewrites half the keys and adds one; ``rebucket`` moves the store from
    2 to 4 buckets with its contents unchanged."""
    import shutil

    old = {str(i): f"a{i}" for i in range(40)}
    if op == "upsert_batch":
        b2 = [(str(i), f"b{i}") for i in range(0, 40, 2)] + [("100", "new")]
        new = old | dict(b2)
        geometry = (2, 2)
    else:
        new = old
        geometry = (2, 4)

    def write(store):
        if op == "upsert_batch":
            store.upsert_batch(spark.createDataFrame(b2, store.schema))
        else:
            store.rebucket(4)

    def rows(store):
        return {r["id"]: r["v"] for r in store.read().collect()}

    path = str(tmp_path / "clean")
    shutil.copytree(crash_template, path)
    store, _ = _mk_kv_store(spark, path, n_buckets=2)
    counts = _inject(monkeypatch, path)
    write(store)
    monkeypatch.undo()
    assert all(counts.values()), counts  # every step ran in a clean write
    assert rows(store) == new

    for step, n in counts.items():
        for k in range(n):
            path = str(tmp_path / f"{step}{k}")
            shutil.copytree(crash_template, path)
            store, _ = _mk_kv_store(spark, path, n_buckets=2)
            _inject(monkeypatch, path, crash_at=(step, k))
            with pytest.raises(_Crash):
                write(store)
            monkeypatch.undo()

            published = step == "retire"
            restarted, schema = _mk_kv_store(spark, path, n_buckets=2)
            assert restarted.n_buckets == geometry[published], (step, k)
            assert rows(restarted) == (new if published else old), (step, k)

            write(restarted)  # the replayed epoch
            assert restarted.n_buckets == geometry[1]
            assert rows(restarted) == new, (step, k)
            got = {r["id"]: r["v"] for r in restarted.lookup(["42", "2", "100", "nope"]).collect()}
            assert got == {i: new[i] for i in ("42", "2", "100") if i in new}, (step, k)

            restarted.upsert_batch(spark.createDataFrame([("7", "c7"), ("200", "z")], schema))
            assert rows(restarted) == new | {"7": "c7", "200": "z"}, (step, k)
            assert not _files_unnamed_or_missing(path), (step, k)


def test_statestore_refuses_bucket_dirs_without_manifest(spark, tmp_path):
    """A directory holding bucket directories but no manifest log (the
    layout from before manifests) must raise a ValueError naming it, not
    read as an empty store."""
    import os
    import re

    path = tmp_path / "legacy"
    os.makedirs(path / "_bucket=0")
    (path / "_bucket=0" / "part-00000.parquet").write_bytes(b"")
    with pytest.raises(ValueError, match=re.escape(str(path))):
        _mk_kv_store(spark, str(path))


def test_statestore_schema_evolution_across_restart(spark, tmp_path):
    """Upstream DDL adds a column: a store reopened with the WIDER catalog
    schema reads pre-evolution bucket files with nulls in the new column,
    merges partial updates onto old rows, and keeps serving point lookups.
    Reopening with a NARROWER schema (column dropped upstream) simply
    projects the remaining columns. Pins the explicit-schema read path of
    StateStore._read_with_bucket (KuduManager.scala:70-114's alter-table
    analog)."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import StateStore

    path = str(tmp_path / "emp")
    v1 = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("a", T.StringType())]
    )
    StateStore(spark, path, ["id"], v1, n_buckets=4).upsert_batch(
        spark.createDataFrame([(1, "x"), (2, "y")], v1)
    )
    v2 = T.StructType(
        list(v1.fields) + [T.StructField("b", T.IntegerType())]
    )
    st2 = StateStore(spark, path, ["id"], v2, n_buckets=4)
    st2.upsert_batch(
        spark.createDataFrame([(2, None, 20), (3, "z", 30)], v2)
    )
    got = {r["id"]: (r["a"], r["b"]) for r in st2.read().collect()}
    assert got == {1: ("x", None), 2: ("y", 20), 3: ("z", 30)}
    # point lookup sees the evolved schema too
    assert {tuple(r) for r in st2.lookup([1, 3]).collect()} == {
        (1, "x", None),
        (3, "z", 30),
    }
    # narrowing: dropped column disappears, values survive
    st3 = StateStore(spark, path, ["id"], v1, n_buckets=4)
    assert {tuple(r) for r in st3.read().collect()} == {
        (1, "x"),
        (2, "y"),
        (3, "z"),
    }


def test_scd2_final_version_equals_folded_state(spark):
    """The current (last) SCD2 version per key must be EXACTLY the folded
    final state — delete_state, partial-update inheritance, resurrection
    and all — since history_table_changes and fold_table_changes implement
    the same LWW semantics cumulatively vs terminally."""
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"  # fixture-driven; sf dir unused by cdc_*
    hist = QUERIES["cdc_emp_history"](spark, sf)
    cur = hist.filter("is_current").select(
        "id", "name", "salary", "dept_id", "active", "hire_ts", "delete_state"
    )
    state = QUERIES["cdc_emp_state"](spark, sf).select(
        "id", "name", "salary", "dept_id", "active", "hire_ts", "delete_state"
    )
    a = sorted(map(tuple, cur.collect()))
    b = sorted(map(tuple, state.collect()))
    assert a == b and len(a) > 0
    # versions are dense and intervals chain: valid_to of version v equals
    # valid_from of version v+1
    rows = sorted(
        hist.select("id", "version", "valid_from", "valid_to").collect(),
        key=lambda r: (r["id"], r["version"]),
    )
    from itertools import groupby

    for _, grp in groupby(rows, key=lambda r: r["id"]):
        g = list(grp)
        assert [r["version"] for r in g] == list(range(1, len(g) + 1))
        for prev, nxt in zip(g, g[1:]):
            assert prev["valid_to"] == nxt["valid_from"]
        assert g[-1]["valid_to"] is None


def _emp_norm(spark):
    from kafkatosparktokudu_spark.cdc import read_fixture
    from kafkatosparktokudu_spark.operators.ogg import (
        normalize,
        parse_ogg,
        split_valid,
    )
    from pyspark.sql import functions as F

    valid, _dead = split_valid(parse_ogg(read_fixture(spark)))
    return normalize(valid).filter(F.col("tab_name") == "emp")


def test_scd2_incremental_matches_batch_and_replays(spark, tmp_path):
    """Two-batch incremental SCD2 == one-shot history operator (versions,
    intervals, payload inheritance across the batch boundary), and
    replaying the last batch is a no-op (idempotent upserts)."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    ref = sorted(map(tuple, QUERIES["cdc_emp_history"](spark, sf).collect()), key=repr)
    norm = _emp_norm(spark)
    cut = norm.agg(F.expr("percentile_approx(seq, 0.5)")).first()[0]
    store = Scd2Store(
        spark, str(tmp_path / "h"), default_catalog()["emp"], n_buckets=8
    )
    store.apply_batch(norm.filter(F.col("seq") < cut))
    store.apply_batch(norm.filter(F.col("seq") >= cut))
    cols = [f.name for f in QUERIES["cdc_emp_history"](spark, sf).schema.fields]
    got = sorted(map(tuple, store.history().select(*cols).collect()), key=repr)
    assert got == ref
    # replay the last epoch: identical history afterwards
    store.apply_batch(norm.filter(F.col("seq") >= cut))
    again = sorted(map(tuple, store.history().select(*cols).collect()), key=repr)
    assert again == ref


def test_scd2_crash_between_writes_replays_to_convergence(
    spark, tmp_path, monkeypatch
):
    """Die AFTER the raw-log upsert, at the history's manifest publish;
    replaying the batch must converge (raw upsert idempotent, history a
    pure function of raw)."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators import merge
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store
    from kafkatosparktokudu_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    ref = sorted(map(tuple, QUERIES["cdc_emp_history"](spark, sf).collect()), key=repr)
    norm = _emp_norm(spark)
    cut = norm.agg(F.expr("percentile_approx(seq, 0.5)")).first()[0]
    store = Scd2Store(
        spark, str(tmp_path / "h"), default_catalog()["emp"], n_buckets=8
    )
    store.apply_batch(norm.filter(F.col("seq") < cut))

    class Boom(RuntimeError):
        pass

    real = merge._publish
    calls = {"n": 0}

    def dying(target, *args):
        if target.path != store.hist.path:
            return real(target, *args)
        calls["n"] += 1
        raise Boom()

    # crash window: raw written, hist not
    monkeypatch.setattr(merge, "_publish", dying)
    try:
        store.apply_batch(norm.filter(F.col("seq") >= cut))
    except Boom:
        pass
    assert calls["n"] == 1
    monkeypatch.setattr(merge, "_publish", real)
    store.apply_batch(norm.filter(F.col("seq") >= cut))  # replay
    cols = [f.name for f in QUERIES["cdc_emp_history"](spark, sf).schema.fields]
    got = sorted(map(tuple, store.history().select(*cols).collect()), key=repr)
    assert got == ref


def test_scd2_rebucket_mid_stream_equivalence(spark, tmp_path):
    """Scd2Store.rebucket migrates BOTH underlying stores online: apply
    half the change log at 8 buckets, rebucket to 32 MID-STREAM, apply
    the rest — the history must equal the one-shot derivation exactly
    (including the fixture's planted late-arriving record), and a handle
    reopened with a stale n_buckets argument adopts the stored geometry."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.cdc import read_fixture
    from kafkatosparktokudu_spark.operators.ogg import (
        history_table_changes,
        normalize,
        parse_ogg,
        split_valid,
    )
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    valid, _ = split_valid(parse_ogg(read_fixture(spark)))
    emp = normalize(valid).filter(F.col("tab_name") == "emp")
    cut = emp.agg(F.expr("percentile_approx(seq, 0.5)")).first()[0]
    target = default_catalog()["emp"]
    store = Scd2Store(spark, str(tmp_path / "emp"), target, n_buckets=8)
    store.apply_batch(emp.filter(F.col("seq") < cut))
    store.rebucket(32)
    assert store.raw.n_buckets == 32 and store.hist.n_buckets == 32
    store.apply_batch(emp.filter(F.col("seq") >= cut))

    stale = Scd2Store(spark, str(tmp_path / "emp"), target, n_buckets=8)
    assert stale.raw.n_buckets == 32 and stale.hist.n_buckets == 32
    got = sorted(map(tuple, stale.history().collect()), key=repr)
    want = sorted(map(tuple, history_table_changes(emp, target).collect()), key=repr)
    assert got == want and len(got) > 0


@pytest.mark.parametrize("split", [False, True], ids=["one_batch", "two_batches"])
def test_scd2_chains_versions_on_typed_key(spark, tmp_path, split):
    """An int-keyed table receiving '007' (bal 1.0) and then '7' (bal 2.0)
    holds ONE version chain for key 7 — two versions — whether the two
    records arrive in one batch or two. Keyed on the raw string, one batch
    gave two current version-1 rows, and two batches overwrote version 1
    with bal 2.0."""
    from kafkatosparktokudu_spark.operators.ogg import (
        history_table_changes,
        normalize,
        parse_ogg,
        split_valid,
    )
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    target = _acct_catalog()["acct"]
    lines = [
        '{"table": "S.ACCT", "op_type": "I", "current_ts": '
        '"2024-01-01T10:00:00.000000", "pos": 1, "after": {"ID": "007", "BAL": "1"}}',
        '{"table": "S.ACCT", "op_type": "U", "current_ts": '
        '"2024-01-01T11:00:00.000000", "pos": 2, "after": {"ID": "7", "BAL": "2"}}',
    ]
    valid, _ = split_valid(
        parse_ogg(spark.createDataFrame([(line,) for line in lines], "value string"))
    )
    norm = normalize(valid)
    want = [(7, 1, 1.0, False), (7, 2, 2.0, True)]

    def chain(df):
        return sorted(
            (r["id"], r["version"], r["bal"], r["is_current"]) for r in df.collect()
        )

    assert chain(history_table_changes(norm, target)) == want
    store = Scd2Store(spark, str(tmp_path / "acct"), target, n_buckets=8)
    batches = [norm.filter(F.col("seq") == s) for s in (1, 2)] if split else [norm]
    for batch in batches:
        store.apply_batch(batch)
    assert chain(store.history()) == want


def _crash_at_hist_publish(monkeypatch, hist_path):
    """Make the next manifest publish of the store at ``hist_path`` raise,
    once; publishes to other stores go through."""
    from kafkatosparktokudu_spark.operators import merge

    real = merge._publish

    def crash(store, *args):
        if store.path == hist_path:
            monkeypatch.setattr(merge, "_publish", real)
            raise RuntimeError("crash at the hist commit")
        return real(store, *args)

    monkeypatch.setattr(merge, "_publish", crash)


def test_scd2_crash_at_hist_commit_heals_without_replay(
    spark, tmp_path, monkeypatch
):
    """Batch 1 dies at the history's manifest publish, after its raw
    commit, and is never replayed; batch 2 touches other keys. The
    history still records the raw version before batch 1, so batch 2's
    refresh re-derives batch 1's buckets too, and the history equals the
    one-shot derivation over both batches. Healing used to need the same
    batch to come back."""
    from kafkatosparktokudu_spark.operators.ogg import history_table_changes
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    norm = _emp_norm(spark)
    ids = sorted(r["id"] for r in norm.select("id").distinct().collect())
    b1 = norm.filter(F.col("id").isin(ids[: len(ids) // 2]))
    b2 = norm.filter(~F.col("id").isin(ids[: len(ids) // 2]))
    target = default_catalog()["emp"]
    store = Scd2Store(spark, str(tmp_path / "h"), target, n_buckets=8)
    _crash_at_hist_publish(monkeypatch, store.hist.path)
    with pytest.raises(RuntimeError, match="crash at the hist commit"):
        store.apply_batch(b1)
    store.apply_batch(b2)
    got = sorted(map(tuple, store.history().collect()), key=repr)
    want = sorted(
        map(tuple, history_table_changes(b1.unionByName(b2), target).collect()),
        key=repr,
    )
    assert got == want and len(got) > 0


def test_scd2_purge_crash_at_hist_commit_converges_on_rerun(
    spark, tmp_path, monkeypatch
):
    """purge_closed_before dies at the history's manifest publish, after
    raw is compacted. Re-running it compacts nothing more (returns 0) and
    brings the history to the one-shot derivation over the compacted
    raw log."""
    from kafkatosparktokudu_spark.operators.ogg import history_table_changes
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    target = default_catalog()["emp"]
    store = Scd2Store(spark, str(tmp_path / "h"), target, n_buckets=8)
    store.apply_batch(_emp_norm(spark))
    cutoff = "2024-01-02 00:00:00"
    _crash_at_hist_publish(monkeypatch, store.hist.path)
    with pytest.raises(RuntimeError, match="crash at the hist commit"):
        store.purge_closed_before(cutoff)
    assert store.purge_closed_before(cutoff) == 0
    got = sorted(map(tuple, store.history().collect()), key=repr)
    want = sorted(
        map(tuple, history_table_changes(store.raw.read(), target).collect()),
        key=repr,
    )
    assert got == want and len(got) > 0


_KEY_TYPES = {
    "string": ("string", ["a", "007", "x y"]),
    "int": ("int", ["7", "-3", "2147483647"]),
    "bigint": ("bigint", ["7", "-3", "9007199254740993"]),
    "double": ("double", ["1.5", "-0.0", "1e300"]),
    "float": ("float", ["1.5", "3.25", "-7"]),
    "decimal": ("decimal(12,3)", ["1.5", "-0.001", "123456789.123"]),
    "timestamp": (
        "timestamp",
        ["2024-01-01 10:00:00", "2024-06-30 23:59:59.123456", "1999-12-31 00:00:00"],
    ),
}


@pytest.mark.parametrize("ktype", sorted(_KEY_TYPES))
def test_scd2_raw_and_hist_co_bucket(spark, tmp_path, ktype):
    """The SCD2 refresh rewrites the hist buckets of the changed raw
    buckets, so a key must land in the same bucket number in both stores:
    raw hashes the string ``id`` (the typed key cast to string), hist the
    typed key itself. Pinned row by row for every key type the catalog
    bridges."""
    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.catalog import TargetTable
    from kafkatosparktokudu_spark.operators.ogg import typed_key
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    ddl, values = _KEY_TYPES[ktype]
    dtype = T._parse_datatype_string(ddl)
    target = TargetTable(
        "t", "id", T.StructType([T.StructField("id", dtype, False)])
    )
    store = Scd2Store(spark, str(tmp_path / ktype), target, n_buckets=64)
    ids = spark.createDataFrame([(v,) for v in values], "id string").select(
        typed_key(target).alias("typed")
    )
    # raw's id column is the typed key's string form; hist's is the key
    rows = (
        ids.select("typed", F.col("typed").cast("string").alias("id"))
        .select("typed", store.raw._bucket_col().alias("raw_b"))
        .select("typed", "raw_b", F.col("typed").alias("id"))
        .select("typed", "raw_b", store.hist._bucket_col().alias("hist_b"))
    )
    got = rows.collect()
    assert len(got) == len(values)
    assert all(r["typed"] is not None for r in got)
    assert [r["raw_b"] for r in got] == [r["hist_b"] for r in got]


def test_upsert_many_staged_write_runs_on_every_core(spark, tmp_path):
    """A batch touching all 16 buckets of a store is staged by
    min(16, defaultParallelism) write tasks, each bucket still one file.
    A column-only repartition let AQE coalesce the small shuffle to one
    task that wrote every bucket directory in turn."""
    import uuid

    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import upsert_many

    schema = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    store = StateStore(spark, str(tmp_path / "emp"), ["id"], schema, 16)
    store.upsert_batch(
        spark.createDataFrame([(str(i), "a") for i in range(200)], schema)
    )
    batch = spark.createDataFrame([(str(i), "b") for i in range(0, 400, 2)], schema)
    assert sorted(store.buckets_of(batch)) == list(range(16))
    sc = spark.sparkContext
    group = f"staged-write-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "staged write parallelism")
    try:
        upsert_many(spark, [(store, batch)], affected={"emp": list(range(16))})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup(group)))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks == min(16, sc.defaultParallelism)
    manifest = store._manifest()
    assert sorted(int(b) for b in manifest["buckets"]) == list(range(16))
    assert all(len(files) == 1 for files in manifest["buckets"].values())
    got = {r["id"]: r["v"] for r in store.read().collect()}
    assert got == {
        **{str(i): "a" for i in range(200)},
        **{str(i): "b" for i in range(0, 400, 2)},
    }


def _job_description(spark, job_id: int, timeout_s: float = 10.0):
    """A finished job's description from the status store (the listener
    bus delivers job events asynchronously, so wait for it)."""
    import time

    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.time() + timeout_s
    while True:
        try:
            d = store.job(job_id).description()
            return d.get() if d.isDefined() else None
        except Exception:
            if time.time() > deadline:
                raise
            time.sleep(0.05)


def test_sync_batch_reports_phases_and_names_its_jobs(spark, tmp_path):
    """sync_batch reports wall seconds per phase and describes every Spark
    job it starts as ``cdc.<phase> epoch=<id>`` (the dead-letter append as
    ``cdc.dead_letters``). A batch of 0 records runs only its fill job and
    opens no store."""
    import os

    from kafkatosparktokudu_spark.cdc import PHASES

    def next_job_id():
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    wh = str(tmp_path / "wh")
    j0 = next_job_id()
    m = sync_batch(
        spark, read_fixture(spark), wh, now_str=NOW, n_buckets=8,
        dead_letter_dir=str(tmp_path / "dead"), epoch_id=41,
    )
    j1 = next_job_id()
    assert m.total > 0 and m.dead > 0
    assert set(m.phases) == set(PHASES)
    assert all(m.phases[p] > 0 for p in ("fill", "buckets", "merge"))
    assert m.phases["rollups"] < 0.05  # no rollup views: nothing runs
    descs = [_job_description(spark, j) for j in range(j0, j1)]
    assert all(
        d is not None and d.startswith("cdc.") and d.endswith(" epoch=41")
        for d in descs
    ), descs
    named = {d.split()[0] for d in descs}
    assert named == {"cdc.fill", "cdc.buckets", "cdc.merge", "cdc.dead_letters"}
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None

    empty_wh = str(tmp_path / "empty_wh")
    j0 = next_job_id()
    m = sync_batch(
        spark, spark.createDataFrame([], "value string"), empty_wh,
        dead_letter_dir=str(tmp_path / "dead_empty"), epoch_id=42,
    )
    j1 = next_job_id()
    assert (m.total, m.dead, m.tables) == (0, 0, [])
    assert {_job_description(spark, j) for j in range(j0, j1)} == {"cdc.fill epoch=42"}
    assert not os.path.exists(empty_wh)
    assert not os.path.exists(str(tmp_path / "dead_empty"))
