"""Hypothesis property tests: the CDC fold and the as-of join against
independent oracles over GENERATED inputs (the golden tests pin known cases;
these search the input space — op reorderings, ts collisions, null payloads,
empty sides)."""

from __future__ import annotations

import json

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafkatosparktokudu_spark.cdc import apply_changes
from kafkatosparktokudu_spark.operators.joins import asof_join

from .test_cdc import _assert_tables_match, python_replay

SETTINGS = settings(
    max_examples=8,
    deadline=None,  # Spark job latency is not a property failure
    suppress_health_check=[HealthCheck.too_slow],
)

# -- CDC fold ----------------------------------------------------------------
# Small domains on purpose: few keys and few timestamps force the collisions
# (same key updated twice at the same ts, delete-then-resurrect, null
# payload members) where LWW fold bugs live.
_change = st.fixed_dictionaries(
    {
        "op": st.sampled_from(["I", "U", "U", "D"]),
        "id": st.integers(0, 4),
        "h": st.integers(0, 3),
        "name": st.one_of(st.none(), st.sampled_from(["ann", "bob", "chen"])),
        "salary": st.one_of(st.none(), st.integers(100, 105)),
    }
)


def _to_line(c: dict, pos: int) -> str:
    after = {"ID": str(c["id"])}
    if c["op"] != "D":
        if c["name"] is not None:
            after["NAME"] = c["name"]
        if c["salary"] is not None:
            after["SALARY"] = f"{c['salary']}.50"
    return json.dumps(
        {
            "table": "SCOTT.EMP",
            "op_type": c["op"],
            "current_ts": f"2024-01-01T0{c['h']}:00:00.000000",
            "pos": pos,
            "after": after,
        }
    )


@SETTINGS
@given(changes=st.lists(_change, min_size=1, max_size=25))
def test_cdc_fold_matches_python_replay(spark, changes):
    lines = [_to_line(c, i) for i, c in enumerate(changes)]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    states = apply_changes(spark, raw)
    py_state, _ = python_replay([lines])
    _assert_tables_match(states, py_state, tabs=("emp",))


# -- as-of join --------------------------------------------------------------
_row = st.tuples(st.integers(0, 2), st.integers(0, 50))  # (key, ts-seconds)


@SETTINGS
@given(
    left=st.lists(_row, min_size=1, max_size=15),
    right=st.lists(_row, max_size=15, unique=True),  # unique (key, ts): the
    # operator's documented right-side contract
)
def test_asof_join_matches_pandas(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    rdf = spark.createDataFrame(
        [(k, t, float(k * 1000 + t)) for k, t in right] or [],
        "k int, ts int, rval double",
    ).withColumn("ts", F.timestamp_seconds("ts"))

    got = {
        r["lid"]: r["rval"]
        for r in asof_join(
            ldf, rdf, on=["k"], ts_col="ts", right_value_cols=["rval"]
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), i) for i, (k, t) in enumerate(left)],
        columns=["k", "ts", "lid"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), float(k * 1000 + t)) for k, t in right],
        columns=["k", "ts", "rval"],
    ).sort_values("ts", kind="stable")
    if len(rp):
        m = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        want = {
            int(r.lid): (None if pd.isna(r.rval) else float(r.rval))
            for r in m.itertuples()
        }
    else:
        want = {int(r.lid): None for r in lp.itertuples()}
    assert got == want


# -- incremental StateStore merge --------------------------------------------
@SETTINGS
@given(
    changes=st.lists(_change, min_size=2, max_size=20),
    data=st.data(),
)
def test_incremental_merge_matches_sequential_replay(spark, tmp_path_factory, changes, data):
    """Splitting a change sequence at ANY point and merging through the
    persistent StateStore equals the pure-Python sequential replay — the
    cross-batch upsert semantics (arrival order between batches, LWW within
    a batch) hold for arbitrary splits, not just the golden fixture's."""
    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.cdc import sync_batch
    from kafkatosparktokudu_spark.operators.merge import StateStore

    from .test_cdc import _spark_state_to_dict, _typed

    split = data.draw(st.integers(1, len(changes) - 1), label="split")
    lines = [_to_line(c, i) for i, c in enumerate(changes)]
    b1, b2 = lines[:split], lines[split:]
    wh = str(tmp_path_factory.mktemp("prop_wh"))
    for b in (b1, b2):
        df = spark.createDataFrame([(l,) for l in b], "value string")
        sync_batch(spark, df, wh, now_str="2024-06-01 00:00:00", n_buckets=4)

    py_state, _ = python_replay([b1, b2])
    cat = default_catalog()
    store = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 4)
    got = _spark_state_to_dict(store.read(), "emp")
    want = {pk: _typed(row, "emp") for pk, row in py_state.get("emp", {}).items()}
    assert set(got) == set(want)
    for pk in want:
        for col, wv in want[pk].items():
            assert got[pk][col] == wv, (pk, col, got[pk][col], wv)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1, max_size=50,
    )
)
def test_zorder_key_matches_python_interleave(spark, pairs):
    """zorder_key must equal a reference Python bit-interleave for arbitrary
    16-bit (x, y) pairs — the layout contract row-group skipping rests on."""
    from kafkatosparktokudu_spark.sources.sink import zorder_key

    def interleave(x, y):
        key = 0
        for b in range(16):
            key |= ((x >> b) & 1) << (2 * b)
            key |= ((y >> b) & 1) << (2 * b + 1)
        return key

    df = spark.createDataFrame(pairs, "x bigint, y bigint")
    got = [
        r["k"]
        for r in df.select(zorder_key("x", "y").alias("k"))
        .orderBy("k").collect()
    ]
    want = sorted(interleave(x, y) for x, y in pairs)
    assert got == want


# -- combined multi-table upsert --------------------------------------------
# upsert_many with every table in one call and upsert_batch with one table
# per call must both equal a pure-Python model of the merge (per key and
# column, a non-null new value replaces the old one) across any batch
# sequence — including empty per-table batches, partial updates (null
# columns keep prior values) and keys colliding into the same bucket.
_urow = st.fixed_dictionaries(
    {
        "tab": st.sampled_from(["ta", "tb"]),
        "id": st.integers(0, 4),
        "v": st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
        "w": st.one_of(st.none(), st.sampled_from(["p", "q"])),
    }
)


@SETTINGS
@given(batches=st.lists(st.lists(_urow, max_size=12), min_size=1, max_size=3))
def test_upsert_many_equals_sequential(spark, batches):
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from kafkatosparktokudu_spark.operators.merge import (
        StateStore,
        upsert_many,
    )

    schema_a = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
            T.StructField("w", T.StringType(), True),
        ]
    )
    schema_b = T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("v", T.StringType(), True),
        ]
    )
    cols = {"ta": ("v", "w"), "tb": ("v",)}
    # the model: table -> id -> column -> value
    model: dict[str, dict[str, dict[str, str | None]]] = {"ta": {}, "tb": {}}
    wh_many = tempfile.mkdtemp(prefix="prop_many_")
    wh_seq = tempfile.mkdtemp(prefix="prop_seq_")
    try:
        for batch in batches:
            # fold to one row per (tab, id): last write in list order wins
            folded: dict[tuple[str, int], dict] = {}
            for r in batch:
                folded[(r["tab"], r["id"])] = r
            per_tab: dict[str, list] = {"ta": [], "tb": []}
            for (tab, rid), r in sorted(folded.items()):
                per_tab[tab].append(r)
                old = model[tab].setdefault(str(rid), dict.fromkeys(cols[tab]))
                for c in cols[tab]:
                    if r[c] is not None:
                        old[c] = r[c]
            for wh, combined in ((wh_many, True), (wh_seq, False)):
                merges = []
                for tab, schema in (("ta", schema_a), ("tb", schema_b)):
                    rows = per_tab[tab]
                    if not rows:
                        continue
                    data = [
                        tuple(
                            [str(r["id"]), r["v"]]
                            + ([r["w"]] if tab == "ta" else [])
                        )
                        for r in rows
                    ]
                    df = spark.createDataFrame(data, schema)
                    store = StateStore(spark, f"{wh}/{tab}", ["id"], schema, 4)
                    merges.append((store, df))
                if combined:
                    upsert_many(spark, merges)
                else:
                    for store, df in merges:
                        store.upsert_batch(df)
        for tab, schema in (("ta", schema_a), ("tb", schema_b)):
            a = StateStore(spark, f"{wh_many}/{tab}", ["id"], schema, 4).read()
            b = StateStore(spark, f"{wh_seq}/{tab}", ["id"], schema, 4).read()
            rows_a = sorted(tuple(r) for r in a.collect())
            rows_b = sorted(tuple(r) for r in b.collect())
            assert rows_a == rows_b, (tab, rows_a, rows_b)
            want = sorted(
                (k, *(row[c] for c in cols[tab])) for k, row in model[tab].items()
            )
            assert rows_a == want, (tab, rows_a, want)
    finally:
        shutil.rmtree(wh_many, ignore_errors=True)
        shutil.rmtree(wh_seq, ignore_errors=True)


@SETTINGS
@given(
    left=st.lists(_row, min_size=1, max_size=15),
    right=st.lists(_row, max_size=15, unique=True),
)
def test_asof_join_forward_matches_pandas(spark, left, right):
    """direction='forward' (earliest right at-or-after each left ts) must
    agree with pandas merge_asof(direction='forward') on generated inputs."""
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k int, ts int, lid int"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    rdf = spark.createDataFrame(
        [(k, t, float(k * 1000 + t)) for k, t in right] or [],
        "k int, ts int, rval double",
    ).withColumn("ts", F.timestamp_seconds("ts"))

    got = {
        r["lid"]: r["rval"]
        for r in asof_join(
            ldf, rdf, on=["k"], ts_col="ts", right_value_cols=["rval"],
            direction="forward",
        ).collect()
    }

    lp = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), i) for i, (k, t) in enumerate(left)],
        columns=["k", "ts", "lid"],
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, pd.Timestamp(t, unit="s"), float(k * 1000 + t)) for k, t in right],
        columns=["k", "ts", "rval"],
    ).sort_values("ts", kind="stable")
    if len(rp):
        m = pd.merge_asof(lp, rp, on="ts", by="k", direction="forward")
        want = {
            int(r.lid): (None if pd.isna(r.rval) else float(r.rval))
            for r in m.itertuples()
        }
    else:
        want = {int(r.lid): None for r in lp.itertuples()}
    assert got == want


# -- fused sync path (upsert_many + precomputed affected buckets) ------------
# Random change sequences split into two micro-batches through the REAL
# sync_batch (fold + affected-bucket precompute + single staged write) must
# equal the pure-Python sequential replay. Catches bucket-prediction or
# merge-fusion bugs the fixture's fixed shape can't reach.
@SETTINGS
@given(
    changes=st.lists(_change, min_size=1, max_size=20),
    split=st.integers(0, 20),
)
def test_sync_batch_matches_python_replay(spark, changes, split):
    import shutil
    import tempfile

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.cdc import sync_batch
    from kafkatosparktokudu_spark.operators.merge import StateStore

    from .test_cdc import _spark_state_to_dict, _typed, python_replay

    # keep cross-batch arrival order consistent with event time (the
    # engine's documented in-order delivery contract): sort by (ts, pos)
    # before splitting
    ordered = sorted(enumerate(changes), key=lambda ip: (ip[1]["h"], ip[0]))
    lines = [_to_line(c, i) for i, c in ordered]
    cut = min(split, len(lines))
    batches = [b for b in (lines[:cut], lines[cut:]) if b]
    wh = tempfile.mkdtemp(prefix="prop_sync_")
    try:
        for b in batches:
            df = spark.createDataFrame([(l,) for l in b], "value string")
            sync_batch(spark, df, wh, now_str="2024-06-01 00:00:00", n_buckets=4)
        py_state, _ = python_replay(batches)
        cat = default_catalog()
        store = StateStore(spark, f"{wh}/emp", ["id"], cat["emp"].full_schema, 4)
        got = _spark_state_to_dict(store.read(), "emp")
        want = {pk: _typed(row, "emp") for pk, row in py_state.get("emp", {}).items()}
        assert set(got) == set(want)
        for pk in want:
            for col, wv in want[pk].items():
                assert got[pk][col] == wv or (
                    isinstance(wv, float)
                    and got[pk][col] is not None
                    and abs(got[pk][col] - wv) < 1e-6
                ), (pk, col, got[pk][col], wv)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# -- webdataset shard export: declarative offsets == real tar bytes ----------
@SETTINGS
@given(
    sizes=st.lists(
        st.integers(min_value=0, max_value=2000), min_size=1, max_size=12
    )
)
def test_shard_manifest_matches_tarfile(spark, sizes, tmp_path_factory):
    """For arbitrary payload sizes (zero-byte members, exact 512 multiples,
    512k±1 boundary cases), the declarative USTAR offset math must equal
    stdlib tarfile's actual member offsets byte-for-byte."""
    import os
    import tarfile

    from kafkatosparktokudu_spark.operators.multimodal import (
        shard_manifest,
        write_webdataset,
    )

    out = str(tmp_path_factory.mktemp("wds"))
    rows = [(i, bytes([i % 251]) * n) for i, n in enumerate(sizes)]
    media = spark.createDataFrame(
        [(i, p, len(p)) for i, p in rows],
        "doc_id bigint, payload binary, n_bytes bigint",
    )
    predicted = {
        r["doc_id"]: (r["shard_id"], r["n_bytes"], r["data_offset"])
        for r in shard_manifest(media, n_shards=3).collect()
    }
    written = {
        r["doc_id"]: (r["shard_id"], r["n_bytes"], r["data_offset"])
        for r in write_webdataset(media, out, n_shards=3).collect()
    }
    assert written == predicted
    payloads = dict(rows)
    for fn in os.listdir(out):
        with tarfile.open(os.path.join(out, fn)) as tf:
            for m in tf.getmembers():
                doc_id = int(m.name.split(".")[0])
                assert tf.extractfile(m).read() == payloads[doc_id]
                assert predicted[doc_id][2] == m.offset_data, (doc_id, fn)


# -- repeated-chunk boilerplate removal (dd12) -------------------------------
# Small vocabulary on purpose: cross-doc chunk collisions need repeated
# 4-token sequences, which a 4-word alphabet produces constantly.
@SETTINGS
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=13
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repeated_chunks_match_python_oracle(spark, docs):
    import hashlib

    from kafkatosparktokudu_spark.operators.dedup import remove_repeated_chunks

    k, min_docs = 4, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    # pure-Python oracle
    chunks: dict[int, list[str]] = {}
    for i, toks in enumerate(docs):
        # engine convention: split('') yields one EMPTY token, so an empty
        # doc has exactly one 1-word chunk "" (never removable: 1 != k)
        eff = toks if toks else [""]
        chunks[i] = [" ".join(eff[j : j + k]) for j in range(0, len(eff), k)]
    owners: dict[str, set[int]] = {}
    for i, cs in chunks.items():
        for c in cs:
            if len(c.split(" ")) == k:
                owners.setdefault(c, set()).add(i)
    repeated = {c for c, o in owners.items() if len(o) >= min_docs}
    want = {}
    for i, cs in chunks.items():
        kept = [c for c in cs if c not in repeated]
        want[i] = (
            len(cs),
            len(cs) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_removed"], r["clean_md5"])
        for r in remove_repeated_chunks(
            spark.createDataFrame(rows, "doc_id int, text string"),
            chunk_tokens=k,
            min_docs=min_docs,
        ).collect()
    }
    assert out == want


# -- OGG parse robustness ----------------------------------------------------
# Arbitrary byte-salad lines plus near-miss JSON (missing ID / unqualified
# table / wrong types) must ALWAYS partition cleanly into valid + dead with
# nothing lost and nothing fatal — the reference swallows its JSONException;
# we additionally guarantee the whole downstream fold never sees a null key.
_junk_line = st.one_of(
    st.text(max_size=60),  # arbitrary text incl. unicode, braces, quotes
    st.builds(
        lambda t, i, op: (
            '{"table": %s, "op_type": "%s", "current_ts": "2024-01-01T00:00:01", '
            '"after": %s, "pos": 1}'
        )
        % (t, op, i),
        st.sampled_from(['"S.T"', '"noqualifier"', "null", '""', '"a.b.c"']),
        st.sampled_from(
            ['{"ID": "1", "NAME": "x"}', '{"NAME": "x"}', "null", '{"ID": null}']
        ),
        st.sampled_from(["I", "U", "D", "X", ""]),
    ),
)


@SETTINGS
@given(lines=st.lists(_junk_line, min_size=1, max_size=30))
def test_parse_ogg_partitions_any_input(spark, lines):
    from kafkatosparktokudu_spark.operators.ogg import (
        normalize,
        parse_ogg,
        split_valid,
    )

    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    parsed = parse_ogg(raw)
    valid, dead = split_valid(parsed)
    nv, nd = valid.count(), dead.count()
    assert nv + nd == len(lines)  # clean partition, nothing dropped
    # every valid row normalizes to non-null key and qualified table name
    norm = normalize(valid)
    assert norm.filter(
        F.col("id").isNull() | F.col("tab_name").isNull()
    ).count() == 0
    # dead rows keep their raw payload for replay
    assert dead.filter(F.col("_raw").isNull()).count() == 0


# -- distribution drift vs Python oracle -------------------------------------
@SETTINGS
@given(
    a=st.lists(st.sampled_from(["x", "y", "z", None]), min_size=1, max_size=30),
    b=st.lists(st.sampled_from(["x", "y", "w", None]), min_size=1, max_size=30),
)
def test_distribution_drift_matches_python(spark, a, b):
    from kafkatosparktokudu_spark.operators.quality_checks import (
        distribution_drift,
    )

    da = spark.createDataFrame([(v,) for v in a], "c string")
    db = spark.createDataFrame([(v,) for v in b], "c string")
    got = distribution_drift(da, db, ["c"]).head()

    def counts(vals):
        out: dict[str, int] = {}
        for v in vals:
            k = "<null>" if v is None else v
            out[k] = out.get(k, 0) + 1
        return out

    ca, cb = counts(a), counts(b)
    vals = sorted(set(ca) | set(cb))
    ta, tb = sum(ca.values()), sum(cb.values())
    diffs = {
        v: abs(
            ca.get(v, 0) * 1_000_000 // ta - cb.get(v, 0) * 1_000_000 // tb
        )
        for v in vals
    }
    assert got["n_baseline"] == ta and got["n_current"] == tb
    assert got["n_values"] == len(vals)
    assert got["tvd_ppm"] == sum(diffs.values()) // 2
    best = max(vals, key=lambda v: (diffs[v], v))  # d DESC, val DESC
    assert (got["top_value"], got["top_diff_ppm"]) == (best, diffs[best])


# -- interval-overlap join vs brute force ------------------------------------
@SETTINGS
@given(
    left=st.lists(
        st.tuples(st.integers(0, 40_000), st.integers(0, 10_000)),
        min_size=1, max_size=12,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 40_000), st.integers(0, 10_000)),
        min_size=1, max_size=12,
    ),
)
def test_interval_overlap_join_matches_bruteforce(spark, left, right):
    """(start, duration) second pairs spanning multiple hour chunks: the
    blocked join emits EXACTLY the closed-interval intersecting pairs,
    each once."""
    from kafkatosparktokudu_spark.operators.joins import interval_overlap_join

    ldf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(left)], "lid int, a long, b long"
    ).select(
        "lid",
        F.timestamp_seconds("a").alias("s"),
        F.timestamp_seconds("b").alias("e"),
    )
    rdf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(right)], "rid int, a long, b long"
    ).select(
        "rid",
        F.timestamp_seconds("a").alias("s"),
        F.timestamp_seconds("b").alias("e"),
    )
    rows = interval_overlap_join(ldf, rdf, "s", "e", 3600).collect()
    got = sorted((r["l_lid"], r["r_rid"]) for r in rows)
    want = sorted(
        (i, j)
        for i, (ls, ld) in enumerate(left)
        for j, (rs, rd) in enumerate(right)
        if ls <= rs + rd and rs <= ls + ld
    )
    assert got == want
    assert len(rows) == len(set(got))  # exactly once per pair


# -- SCD2 incremental vs one-shot over GENERATED change streams --------------
# The golden fixture pins one late-record case; this searches arbitrary
# interleavings: out-of-order timestamps ACROSS the batch split, same-ts
# seq collisions, delete-then-resurrect, partial updates.
@SETTINGS
@given(
    changes=st.lists(_change, min_size=2, max_size=18),
    data=st.data(),
)
def test_scd2_incremental_matches_oneshot_any_split(
    spark, tmp_path_factory, changes, data
):
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators.ogg import (
        history_table_changes,
        normalize,
        parse_ogg,
        split_valid,
    )
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    split = data.draw(st.integers(1, len(changes) - 1), label="split")
    lines = [_to_line(c, i) for i, c in enumerate(changes)]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    valid, _ = split_valid(parse_ogg(raw))
    norm = normalize(valid).filter(F.col("tab_name") == "emp")
    target = default_catalog()["emp"]
    ref = history_table_changes(norm, target)
    cols = ref.columns
    want = sorted(map(tuple, ref.collect()), key=repr)

    store = Scd2Store(
        spark, str(tmp_path_factory.mktemp("scd2p") / "emp"), target, n_buckets=4
    )
    store.apply_batch(norm.filter(F.col("seq") < split))
    store.apply_batch(norm.filter(F.col("seq") >= split))
    got = sorted(map(tuple, store.history().select(cols).collect()), key=repr)
    assert got == want


# -- SCD2 retention purge: compaction preserves the retained window ----------
# purge_closed_before compacts each key's closed-before-cutoff version
# prefix into one synthetic baseline raw record. Properties searched here:
# (1) hist stays a pure function of raw (== one-shot over the compacted
# log); (2) every pre-purge version alive at/after the cutoff survives
# verbatim modulo the uniform version renumbering; (3) a SECOND batch
# applied after the purge converges with the one-shot derivation over
# (retained log + batch) — the judge's retained-window contract; (4) the
# purge is idempotent.
@SETTINGS
@given(
    changes=st.lists(_change, min_size=3, max_size=18),
    data=st.data(),
)
def test_scd2_purge_preserves_retained_window(
    spark, tmp_path_factory, changes, data
):
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.catalog import default_catalog
    from kafkatosparktokudu_spark.operators.ogg import (
        history_table_changes,
        normalize,
        parse_ogg,
        split_valid,
    )
    from kafkatosparktokudu_spark.operators.scd2 import Scd2Store

    split = data.draw(st.integers(1, len(changes) - 1), label="split")
    cutoff_h = data.draw(st.integers(0, 4), label="cutoff_h")
    cutoff = f"2024-01-01 0{cutoff_h}:00:00.000000"

    lines = [_to_line(c, i) for i, c in enumerate(changes)]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    valid, _ = split_valid(parse_ogg(raw))
    norm = normalize(valid).filter(F.col("tab_name") == "emp")
    target = default_catalog()["emp"]
    cols = history_table_changes(norm.limit(0), target).columns
    no_ver = [c for c in cols if c != "version"]

    store = Scd2Store(
        spark, str(tmp_path_factory.mktemp("scd2purge") / "emp"), target,
        n_buckets=4,
    )
    store.apply_batch(norm.filter(F.col("seq") < split))
    pre = [tuple(r) for r in store.history().select(cols).collect()]

    n1 = store.purge_closed_before(cutoff)
    # (4) idempotent: nothing left to purge at the same cutoff
    assert store.purge_closed_before(cutoff) == 0

    # (1) hist == one-shot over the compacted log
    post = sorted(
        (tuple(r) for r in store.history().select(cols).collect()), key=repr
    )
    oneshot = sorted(
        (
            tuple(r)
            for r in history_table_changes(store.raw.read(), target)
            .select(cols)
            .collect()
        ),
        key=repr,
    )
    assert post == oneshot

    # (2) versions alive at/after the cutoff survive verbatim (sans the
    # renumbered version column)
    vt = cols.index("valid_to")
    keep = {
        tuple(v for c, v in zip(cols, row) if c != "version")
        for row in pre
        if row[vt] is None or row[vt] >= cutoff
    }
    post_nv = {
        tuple(v for c, v in zip(cols, row) if c != "version") for row in post
    }
    assert keep <= post_nv, (n1, keep - post_nv)

    # (3) a later batch over the purged store == one-shot over
    # (retained log + batch)
    retained = store.raw.read().collect()
    store.apply_batch(norm.filter(F.col("seq") >= split))
    got = sorted(
        (tuple(r) for r in store.history().select(cols).collect()), key=repr
    )
    batch2 = norm.filter(F.col("seq") >= split)
    ref_log = spark.createDataFrame(
        retained, store.raw.schema
    ).unionByName(
        batch2.select(
            "id", "seq", "op_type", "current_ts", "current_ts_norm", "after"
        )
    ).dropDuplicates(["id", "seq"])
    want = sorted(
        (
            tuple(r)
            for r in history_table_changes(ref_log, target)
            .select(cols)
            .collect()
        ),
        key=repr,
    )
    assert got == want


# -- round-6 operators vs pure-Python oracles over GENERATED inputs ----------
_word = st.sampled_from(["aa", "ab", "ba", "x", "yz", "longword"])


@SETTINGS
@given(docs=st.lists(st.lists(_word, min_size=0, max_size=30), max_size=8))
def test_rag_chunks_match_python(spark, docs):
    import hashlib

    from kafkatosparktokudu_spark.operators.text import rag_chunks

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["n_chunk_tokens"], r["chunk_md5"])
        for r in rag_chunks(df, chunk_tokens=5, stride=3).collect()
    )
    want = []
    for i, ws in enumerate(docs):
        # tokens('') == [''] — the split-of-empty contract
        toks = " ".join(ws).strip().split() or [""]
        if " ".join(ws).strip() == "":
            toks = [""]
        for cid, start in enumerate(range(0, max(len(toks), 1), 3)):
            chunk = toks[start : start + 5]
            want.append(
                (
                    i,
                    cid,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )
            )
    assert got == sorted(want)


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abc x", min_size=0, max_size=20), min_size=2, max_size=10
    )
)
def test_editdist_pairs_match_python(spark, texts):
    from kafkatosparktokudu_spark.operators.dedup import editdist_neardup_pairs

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["doc_a"], r["doc_b"], r["edit_dist"])
        for r in editdist_neardup_pairs(
            df, head_len=10, block_len=2, max_dist=4
        ).collect()
    )
    heads = {i: t[:10].lower() for i, t in enumerate(texts)}
    want = sorted(
        (i, j, lev(heads[i], heads[j]))
        for i in heads
        for j in heads
        if i < j
        and heads[i][:2] == heads[j][:2]
        and lev(heads[i], heads[j]) <= 4
    )
    assert got == want


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=15,
        unique=True,
    )
)
def test_pagerank_fixed_point_matches_python(spark, edges):
    from kafkatosparktokudu_spark.operators.graph import pagerank_fixed_point

    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank_fixed_point(df, n_iter=3).collect()
    }

    nodes = sorted({a for a, _ in sym} | {b for _, b in sym})
    n = len(nodes)
    out_deg = {v: sum(1 for a, _ in sym if a == v) for v in nodes}
    scale = 10**12
    r = {v: scale // n for v in nodes}
    base = (15 * scale) // (100 * n)
    for _ in range(3):
        contrib = {v: 0 for v in nodes}
        for a, b in sym:
            contrib[b] += r[a] // out_deg[a]
        r = {v: base + (85 * contrib[v]) // 100 for v in nodes}
    assert got == r


# --- asof_join_nearest vs the REAL pandas merge_asof ---

_asof_left = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=30
)
_asof_right = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=30
)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_asof_left, right=_asof_right, tol_s=st.sampled_from([5, 30, 1000]))
def test_asof_nearest_matches_pandas_merge_asof(spark, left, right, tol_s):
    """Differential test against pandas itself: merge_asof(by=key,
    direction="nearest", tolerance=...) — including the backward
    equidistant-tie rule, which pandas empirically shares."""
    import pandas as pd

    from kafkatosparktokudu_spark.operators.joins import asof_join_nearest

    # right must be unique per (key, ts) — the operator's contract
    rdedup = {}
    for i, (k, t) in enumerate(right):
        rdedup[(k, t)] = float(i)
    rrows = [(k, t, v) for (k, t), v in sorted(rdedup.items())]

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid int, k int, tsec long"
    ).select("lid", "k", F.timestamp_seconds("tsec").alias("ts"))
    rdf = spark.createDataFrame(
        rrows, "k int, tsec long, rval double"
    ).select("k", F.timestamp_seconds("tsec").alias("ts"), "rval")

    got = {
        r["lid"]: r["rval"]
        for r in asof_join_nearest(
            ldf, rdf, on=["k"], ts_col="ts", right_value_cols=["rval"],
            tolerance_us=tol_s * 1_000_000,
        ).collect()
    }

    lp = pd.DataFrame(
        {"lid": range(len(left)),
         "k": [k for k, _ in left],
         "ts": pd.to_datetime([t for _, t in left], unit="s")}
    ).sort_values(["ts", "lid"], kind="mergesort")
    rp = pd.DataFrame(
        {"k": [k for k, _, _ in rrows],
         "ts": pd.to_datetime([t for _, t, _ in rrows], unit="s"),
         "rval": [v for _, _, v in rrows]}
    ).sort_values("ts", kind="mergesort")
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="nearest",
        tolerance=pd.Timedelta(seconds=tol_s),
    )
    want = {
        int(r.lid): (None if pd.isna(r.rval) else float(r.rval))
        for r in want_df.itertuples()
    }
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(sizes=st.lists(st.integers(1, 5000), min_size=1, max_size=120),
       target=st.sampled_from([1000, 4096, 100000]))
def test_compaction_bins_match_sequential_oracle(spark, sizes, target):
    """q91's two-stage distributed prefix sum must assign every file to
    exactly the bin a sequential size-descending scan would."""
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "doc_id bigint, n_chars bigint"
    )
    # engine path: the q91 shape, parameterized
    rng = (F.col("n_chars") / F.lit(1024)).cast("bigint")
    d2 = df.withColumn("_rng", rng)
    sums = sorted(
        ((r["_rng"], r["s"]) for r in
         d2.groupBy("_rng").agg(F.sum("n_chars").alias("s")).collect()),
        key=lambda t: -t[0],
    )
    offsets, acc = [], 0
    for g, s in sums:
        offsets.append((g, acc))
        acc += s
    off = spark.createDataFrame(offsets, "_rng bigint, _offset bigint")
    from pyspark.sql import Window as W

    w = (W.partitionBy("_rng").orderBy(F.col("n_chars").desc(), "doc_id")
         .rowsBetween(W.unboundedPreceding, -1))
    got = {
        r["doc_id"]: r["bin"]
        for r in d2.join(F.broadcast(off), "_rng").select(
            "doc_id",
            ((F.coalesce(F.sum("n_chars").over(w), F.lit(0)) + F.col("_offset"))
             / F.lit(target)).cast("bigint").alias("bin"),
        ).collect()
    }
    # oracle: one sequential sorted scan
    cum, want = 0, {}
    for i, s in sorted(enumerate(sizes), key=lambda t: (-t[1], t[0])):
        want[i] = cum // target
        cum += s
    assert got == want


# -- px20 leakage-safe split vs a Python union-find ---------------------------
# Small id domain forces chained/transitive clusters and self-loop-ish
# degenerate pairs where cluster labeling bugs live.
_pair = st.tuples(st.integers(0, 14), st.integers(0, 14))


@SETTINGS
@given(pairs=st.lists(_pair, max_size=20), eval_ppm=st.sampled_from([0, 250_000, 1_000_000]))
def test_leakage_safe_split_matches_union_find(spark, pairs, eval_ppm):
    from hashlib import md5

    from kafkatosparktokudu_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(15)], "doc_id bigint, text string"
    )
    clean = [(a, b) for a, b in pairs if a != b]
    pf = spark.createDataFrame(clean, "doc_a bigint, doc_b bigint") if clean else (
        spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in leakage_safe_split(docs, pf, eval_ppm=eval_ppm).collect()
    }
    # Python reference: union-find with min-id labels + the same md5 split
    parent = list(range(15))
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in clean:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in range(15):
        cid = find(i)
        h = int(md5(str(cid).encode()).hexdigest()[:8], 16) % 1_000_000
        want[i] = (cid, "eval" if h < eval_ppm else "train")
    assert got == want


# -- px21 budget selection vs a Python greedy ---------------------------------
_doc = st.tuples(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False, width=32),
    st.integers(0, 50),
)


@SETTINGS
@given(docs=st.lists(_doc, min_size=1, max_size=30), budget=st.integers(0, 400))
def test_budget_selection_matches_python_greedy(spark, docs, budget):
    from kafkatosparktokudu_spark.operators.layout import budget_selection

    rows = [(i, float(s), int(t)) for i, (s, t) in enumerate(docs)]
    scored = spark.createDataFrame(
        rows, "doc_id bigint, p_keep double, n_tokens bigint"
    )
    got = {
        r["doc_id"]: (r["cum_tokens"], r["selected"])
        for r in budget_selection(scored, token_budget=budget).collect()
    }
    cum = 0
    want = {}
    for i, s, t in sorted(rows, key=lambda r: (-r[1], r[0])):
        cum += t
        want[i] = (cum, cum <= budget)
    assert got == want


# -- gr06 label propagation vs a Python round simulation ----------------------
_edge = st.tuples(st.integers(0, 24), st.integers(0, 24))


@SETTINGS
@given(edges=st.lists(_edge, min_size=1, max_size=30))
def test_label_propagation_matches_python_rounds(spark, edges):
    from collections import Counter

    from kafkatosparktokudu_spark.operators.graph import label_propagation

    clean = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not clean:
        return
    ef = spark.createDataFrame(clean, "a bigint, b bigint")
    got = {
        r["node"]: (r["label"], r["labeled_round"])
        for r in label_propagation(ef, rounds=6).collect()
    }
    adj: dict[int, set] = {}
    for a, b in clean:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {n: (n % 7, 0) for n in adj if n % 10 == 0}
    for r in range(1, 7):
        newly = {}
        for n in adj:
            if n in lab:
                continue
            votes = Counter(lab[m][0] for m in adj[n] if m in lab)
            if votes:
                best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
                newly[n] = (best[0], r)
        if not newly:
            break
        lab.update(newly)
    assert got == lab


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            # full int64 range INCLUDING None: a None in an int column used
            # to send the whole column through pandas float64, silently
            # rounding values >= 2^53 (ADVICE r10) — the widened strategy
            # would catch a regression of that fix
            st.one_of(
                st.none(),
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
            ),
            st.one_of(st.none(), st.text(max_size=8)),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
        ),
        max_size=20,
    )
)
def test_local_frame_equals_plain_createdataframe(spark, rows):
    """functions/localframe.py::local_frame is a drop-in for plain
    spark.createDataFrame on bounded tuple sets (it now backs the
    two-stage-offset broadcasts, epoch snapshots, union-find labels,
    point-lookup keys): same schema, same rows, for ints/strings/doubles
    incl. None — the types every production call site uses."""
    from kafkatosparktokudu_spark.functions.localframe import local_frame

    ddl = "a bigint, b string, c double"
    fast = local_frame(spark, rows, ddl)
    plain = spark.createDataFrame(rows, ddl)
    assert fast.schema == plain.schema
    key = lambda t: repr(t)  # noqa: E731
    assert sorted((tuple(r) for r in fast.collect()), key=key) == sorted(
        (tuple(r) for r in plain.collect()), key=key
    )


def test_local_frame_bigint_none_exact(spark):
    """The ADVICE r10 pathology verbatim: a bigint column holding BOTH a
    None and values >= 2^53 must round-trip bit-exactly (pandas would
    upcast the column to float64 and round 2^53+1 to 2^53 without any
    error, so the fallback never engaged). StateStore.lookup keys ride on
    this path with arbitrary caller ids."""
    from kafkatosparktokudu_spark.functions.localframe import local_frame

    rows = [
        (2**53 + 1, "a"),
        (None, "b"),
        (-(2**62) - 3, "c"),
        (2**63 - 1, "d"),
    ]
    got = sorted(
        (tuple(r) for r in local_frame(spark, rows, "k bigint, v string").collect()),
        key=repr,
    )
    assert got == sorted(rows, key=repr)


@settings(max_examples=20, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                min_codepoint=0, max_codepoint=0xFFFD,
                blacklist_categories=("Cs",),  # no lone surrogates
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_sanitize_unicode_idempotent_and_bounded(spark, texts):
    """tx25 property on ARBITRARY unicode (full BMP, any category): the
    sanitize pass is idempotent — sanitize(sanitize(x)) == sanitize(x),
    i.e. one pass reaches the fixed point (a second translate finds no
    mapped chars, collapse finds no runs, trim nothing to trim) — and
    never grows the text (every rule deletes, collapses, or maps 1:1)."""
    from kafkatosparktokudu_spark.operators.text import sanitize_unicode

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    once = {
        r["doc_id"]: (r["text_clean"], r["n_chars_before"], r["n_chars_after"])
        for r in sanitize_unicode(df).collect()
    }
    again_input = spark.createDataFrame(
        [(i, v[0]) for i, v in once.items()], "doc_id bigint, text string"
    )
    twice = {
        r["doc_id"]: r["text_clean"] for r in sanitize_unicode(again_input).collect()
    }
    for i, (clean, n_before, n_after) in once.items():
        assert twice[i] == clean, (texts[i], clean, twice[i])
        assert n_after <= n_before


# -- the ingest gate against a pure-Python model -----------------------------
_TOKENS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
_doc_text = st.lists(
    st.sampled_from(_TOKENS), min_size=5, max_size=10
).map(" ".join)


def _gate_signatures(spark, docs):
    """doc_id -> (set of shingle hashes, band hashes) of ``docs`` (a list
    of (doc_id, text)), from the gate's own per-row Spark functions."""
    from kafkatosparktokudu_spark.operators.dedup import (
        N_BANDS,
        _bands_from_hashed,
        hashed_shingles,
    )

    hs = hashed_shingles(spark.createDataFrame(docs, "doc_id bigint, text string"))
    return {
        r["doc_id"]: (set(r["hs"]), [r[f"band{b}"] for b in range(N_BANDS)])
        for r in _bands_from_hashed(hs).join(hs, "doc_id").collect()
    }


class _GateModel:
    """The ingest gate in pure Python. Two docs match when they share a
    band hash at the same band index and their shingle-hash Jaccard is
    at least the threshold. A batch's docs form connected components of
    matches, each keeping its min id; a keeper is screened against the
    accepted docs other than itself and flagged with the min matching
    one; unflagged keepers are accepted. A revocation forgets ids."""

    def __init__(self, sigs, threshold=0.2):
        self.sigs, self.threshold, self.accepted = sigs, threshold, set()

    def _match(self, a, b):
        (hs_a, bands_a), (hs_b, bands_b) = self.sigs[a], self.sigs[b]
        return any(x == y for x, y in zip(bands_a, bands_b)) and (
            len(hs_a & hs_b) / len(hs_a | hs_b) >= self.threshold
        )

    def ingest(self, ids):
        label = {i: i for i in ids}

        def root(i):
            while label[i] != i:
                i = label[i]
            return i

        for a in ids:
            for b in ids:
                if a < b and self._match(a, b):
                    ra, rb = root(a), root(b)
                    label[max(ra, rb)] = min(ra, rb)
        flags = {}
        for i in ids:
            if root(i) != i:
                flags[i] = (True, root(i))
                continue
            hits = [s for s in self.accepted if s != i and self._match(i, s)]
            flags[i] = (True, min(hits)) if hits else (False, None)
        self.accepted |= {i for i, (dup, _) in flags.items() if not dup}
        return flags


def _gate_flags(spark, rows, store):
    from kafkatosparktokudu_spark.operators.dedup import (
        incremental_neardup_ingest,
    )

    batch = spark.createDataFrame(rows, "doc_id bigint, text string")
    return {
        r["doc_id"]: (r["is_dup"], r["matched_id"])
        for r in incremental_neardup_ingest(batch, store).collect()
    }


def _gate_stored(spark, store):
    """The accepted ids each of the gate's two stores holds."""
    from kafkatosparktokudu_spark.operators.dedup import _gate_stores

    return [
        {r["doc_id"] for r in s.read().select("doc_id").collect()}
        for s in _gate_stores(spark, store, "doc_id")
    ]


def _gate_revoke(spark, store, ids):
    from kafkatosparktokudu_spark.operators.dedup import revoke_from_gate_store

    revoke_from_gate_store(
        spark, store, spark.createDataFrame([(i,) for i in sorted(ids)], "doc_id bigint")
    )


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    batches=st.lists(
        st.lists(_doc_text, min_size=1, max_size=4), min_size=2, max_size=3
    ),
    data=st.data(),
)
def test_gate_flags_and_store_equal_model(spark, tmp_path_factory, batches, data):
    """Over an arbitrary epoch sequence — each batch optionally delivered
    twice, as a replay after a crash would, and followed by an optional
    revocation of any accepted ids — every batch's (is_dup, matched_id)
    flags equal the pure-Python model's, and both gate stores hold exactly
    the model's accepted ids. Doc texts draw from a tiny token pool so
    near-dups (in-batch clusters AND history matches) occur constantly."""
    rows, next_id = [], 0
    for texts in batches:
        rows.append([(next_id + j, t) for j, t in enumerate(texts)])
        next_id += len(texts)
    model = _GateModel(_gate_signatures(spark, [d for b in rows for d in b]))
    store = str(tmp_path_factory.mktemp("gate_prop") / "sigs")
    for i, batch in enumerate(rows):
        ids = [d for d, _ in batch]
        want = model.ingest(ids)
        assert _gate_flags(spark, batch, store) == want, (i, want)
        if data.draw(st.booleans(), label=f"replay {i}"):
            assert _gate_flags(spark, batch, store) == model.ingest(ids), i
        revoked = data.draw(
            st.sets(st.sampled_from(sorted(model.accepted | {-1}))),
            label=f"revoke after {i}",
        )
        if revoked:
            _gate_revoke(spark, store, revoked)
            model.accepted -= revoked
        assert _gate_stored(spark, store) == [model.accepted] * 2, i


def _document_halves(spark):
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = sorted(
        tuple(r)
        for r in load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .collect()
    )
    return docs[: len(docs) // 2], docs[len(docs) // 2:]


def _crash_at_payload_publish(monkeypatch):
    """Make the next manifest publish of a gate's payload store raise,
    once; publishes to other stores go through."""
    from kafkatosparktokudu_spark.operators import merge

    real = merge._publish

    def crash(store, *args):
        if store.path.endswith("/payload"):
            monkeypatch.setattr(merge, "_publish", real)
            raise RuntimeError("crash at the payload commit")
        return real(store, *args)

    monkeypatch.setattr(merge, "_publish", crash)


def test_gate_ingest_crash_at_payload_commit_converges_to_model(
    spark, tmp_path, monkeypatch
):
    """Die during the second batch's commit, after the bands store
    published and before the payload store did: its accepted docs have
    band rows but no shingle set. Re-running the batch returns the model's
    flags (a doc never matches its own band rows, and a band row without
    a payload row verifies nothing), and both stores end at the model's
    accepted ids."""
    import pytest

    b1, b2 = _document_halves(spark)
    model = _GateModel(_gate_signatures(spark, b1 + b2))
    store = str(tmp_path / "sigs")
    assert _gate_flags(spark, b1, store) == model.ingest([d for d, _ in b1])
    before = set(model.accepted)
    want = model.ingest([d for d, _ in b2])
    assert model.accepted > before

    _crash_at_payload_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="crash at the payload commit"):
        _gate_flags(spark, b2, store)
    assert _gate_stored(spark, store) == [model.accepted, before]

    assert _gate_flags(spark, b2, store) == want
    assert _gate_stored(spark, store) == [model.accepted] * 2


def test_gate_revoke_crash_between_rewrites_converges(spark, tmp_path, monkeypatch):
    """Die in a revocation after the bands rewrite committed and before
    the payload rewrite did: the revoked docs have a shingle set but no
    band rows, so no probe finds them, and re-running the revocation
    recomputes their band buckets from that shingle set and finishes.
    Then revoking every remaining doc empties both stores (every bucket
    drops out), and the next batch is screened as the model screens it,
    against an empty history."""
    import pytest

    b1, b2 = _document_halves(spark)
    model = _GateModel(_gate_signatures(spark, b1 + b2))
    store = str(tmp_path / "sigs")
    assert _gate_flags(spark, b1, store) == model.ingest([d for d, _ in b1])
    revoked = {d for d in model.accepted if d % 2 == 0}
    kept = model.accepted - revoked
    assert revoked and kept

    _crash_at_payload_publish(monkeypatch)
    with pytest.raises(RuntimeError, match="crash at the payload commit"):
        _gate_revoke(spark, store, revoked)
    assert _gate_stored(spark, store) == [kept, model.accepted]

    _gate_revoke(spark, store, revoked)
    assert _gate_stored(spark, store) == [kept, kept]
    _gate_revoke(spark, store, kept)
    assert _gate_stored(spark, store) == [set(), set()]
    model.accepted = set()
    assert _gate_flags(spark, b2, store) == model.ingest([d for d, _ in b2])
    assert _gate_stored(spark, store) == [model.accepted] * 2
