"""Every query with an oracle must match DuckDB exactly (driver mimic).

The parity sweep runs at sf0.001 by default (fast in-repo smoke); set
``SPARK_GRAFT_SF=sf0.01`` (any sf name under /root/testdata) to run the
SAME 239-oracle sweep at the driver's correctness scale in one command
(VERDICT r12 #3):

    SPARK_GRAFT_SF=sf0.01 python -m pytest tests/test_queries_oracle.py \
        -q -k "oracle_parity or all_queries_run"

Only the full-surface sweeps honor the knob — the hand-computed fixture
tests below pin sf0.001-specific expected values and stay there.
"""

from __future__ import annotations

import os

import pytest

from kafkatosparktokudu_spark.plans.oracle import ORACLE_SQL
from kafkatosparktokudu_spark.plans.queries import QUERIES

from .oracle_harness import compare
from .conftest import SF_SMOKE

_SF_NAME = os.environ.get("SPARK_GRAFT_SF", "")
SF_PARITY = f"/root/testdata/{_SF_NAME}" if _SF_NAME else SF_SMOKE


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_oracle_parity(spark, name):
    assert name in QUERIES, f"oracle {name} has no query"
    ok, msg = compare(spark, QUERIES[name], ORACLE_SQL[name], SF_PARITY)
    assert ok, f"{name}: {msg}"


# The queries without a DuckDB oracle. Every other query is collected in
# full and compared with DuckDB by test_oracle_parity.
NO_ORACLE = (
    "gr01_pagerank_neardup",
    "mm02_byte_features",
    "mm03_decode_resize",
    "q33_approx_distinct",
    "q59_approx_percentiles",
    "sk01_cms_heavy_hitters",
    "ss10_ivf_deploy_topk",
)


def test_all_queries_run(spark):
    """Every query runs under an assertion: the oracle parity sweep runs
    all but ``NO_ORACLE``, and this runs those."""
    assert set(ORACLE_SQL) | set(NO_ORACLE) == set(QUERIES)
    for name in NO_ORACLE:
        df = QUERIES[name](spark, SF_PARITY)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_video_frame_sample_real_contract(spark):
    """mm14's decode face on hand-built inputs: a valid 3-frame video
    yields 2 sampled rows (src frames 0 and 1 = (j*3)//2), each frame's
    channel sums match the pure-Python pixel rule; corrupted magic and a
    body not divisible by the frame count are SKIPPED, not task
    failures."""
    from kafkatosparktokudu_spark.operators.multimodal import (
        attach_real_video,
        video_frame_sample_real,
    )

    docs = spark.createDataFrame(
        [(1, "abcdef", 6)], "doc_id long, text string, n_chars long"
    )
    media = attach_real_video(docs)
    payload = bytes(media.head()["payload"])
    rows = video_frame_sample_real(media).collect()
    # n_chars=6 -> K = 2+6%5 = 3 frames, w = 3+1 = 4, h = 2+0 = 2
    assert [(r["sample_idx"], r["src_frame"], r["n_frames"]) for r in rows] == [
        (0, 0, 3), (1, 1, 3),
    ]
    tb = b"abcdef"
    for r in rows:
        f = r["src_frame"]
        px = [tb[(k + f) % 6] for k in range(8)]
        assert r["sum_r"] == sum(px)
        assert r["sum_g"] == sum(255 - b for b in px)
        assert r["sum_b"] == sum((b * 7) % 256 for b in px)

    bad = spark.createDataFrame(
        [(2, b"XXXX" + payload[4:]), (3, payload[:-3])],
        "doc_id long, payload binary",
    )
    assert video_frame_sample_real(bad).count() == 0


def test_gopher_rules_each_rule_fires(spark):
    """Hand-built docs exercise every Gopher rule in isolation (the
    fixture corpus only splits on word_count/stopword): bullets,
    ellipsis lines, symbol spam, non-alpha words, short docs, long-word
    salad — each fails exactly its own rule."""
    from kafkatosparktokudu_spark.operators.text import gopher_rules

    good = "the quick brown fox jumps over that lazy dog with " * 6  # 60 words
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "tiny doc the with"),  # word_count fails
            (3, ("supercalifragilisticexpialidocious " * 60) + "the with"),  # mean_len
            (4, good + " " + "# " * 10),  # symbols: 10 hashes / 70 words > 0.1
            (5, good + " " + "123 456 789 000 111 222 333 444 555 666 "
                "777 888 999 101 202 303".replace(",", "")),  # alpha < 80%
            (6, "\n".join(["- bullet the with point"] * 10)),  # bullets >= 90%
            (7, "\n".join(["the line with trails..."] * 10)),  # ellipsis >= 30%
            (8, "word salad without stop list items " * 10),  # stopwords
        ],
        "doc_id long, text string",
    )
    r = {x["doc_id"]: x for x in gopher_rules(docs, min_stops=2).collect()}
    assert r[1]["passed"]
    assert not r[2]["word_count_ok"] and r[2]["mean_len_ok"]
    assert not r[3]["mean_len_ok"] and r[3]["word_count_ok"]
    assert not r[4]["symbol_ok"] and r[4]["word_count_ok"]
    assert not r[5]["alpha_ok"]
    assert not r[6]["bullet_ok"]
    assert not r[7]["ellipsis_ok"]
    assert not r[8]["stopword_ok"]


def test_propagate_deletes_scrubbed_frames(spark):
    """px23's audit is the oracled face; this pins the SCRUBBED frames:
    no forgotten key survives, the FK cascade leaves no orphan-by-doom
    lineitem, rows not hit are untouched, and counts reconcile with the
    audit."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.merge import propagate_deletes
    from kafkatosparktokudu_spark.sources.batch import load_table

    cust = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    forget = cust.filter(F.col("c_custkey") % 20 == 3).select("c_custkey")
    scrubbed, audit = propagate_deletes(
        forget,
        direct={"customer": (cust, "c_custkey"), "orders": (orders, "o_custkey")},
        cascade={"lineitem": (li, "l_orderkey", "orders", "o_orderkey")},
    )
    fkeys = {r[0] for r in forget.collect()}
    assert scrubbed["customer"].filter(
        F.col("c_custkey").isin(fkeys)
    ).count() == 0
    assert scrubbed["orders"].filter(F.col("o_custkey").isin(fkeys)).count() == 0
    doomed_ok = {
        r[0]
        for r in orders.filter(F.col("o_custkey").isin(fkeys))
        .select("o_orderkey")
        .collect()
    }
    assert scrubbed["lineitem"].filter(
        F.col("l_orderkey").isin(doomed_ok)
    ).count() == 0
    rows = {r["table_name"]: r for r in audit.collect()}
    for name, df in scrubbed.items():
        assert df.count() == rows[name]["n_retained"], name
    # untouched rows survive verbatim: retained set == anti-join of source
    assert scrubbed["orders"].count() == orders.count() - len(doomed_ok)


def test_ams_f2_error_bound_and_skew_signal(spark):
    """AMS count-sketch F2: unbiased with relative error ~sqrt(2/width)
    — assert within a 6-sigma-ish band on the near-unique key (the
    regime a plain CMS self-dot overestimated 12.7x), AND that a
    planted hot key blows F2 up by the expected quadratic mass with the
    estimate tracking it — the skew signal actually firing."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.sketch import ams_f2_estimate
    from kafkatosparktokudu_spark.sources.batch import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    row = ams_f2_estimate(li, "l_orderkey", width=1024).head()
    band = 6 * (2.0 / 1024) ** 0.5  # ~26%
    assert abs(row["est_f2"] - row["true_f2"]) <= band * row["true_f2"]

    # planted hot key: 3000 extra rows on ONE key adds ~3000^2 to F2
    hot = li.select(F.lit(1).alias("k")).limit(3000)
    skewed = li.select(F.col("l_orderkey").alias("k")).unionAll(hot)
    srow = ams_f2_estimate(skewed, "k", width=1024).head()
    assert srow["true_f2"] > row["true_f2"] + 3000 * 3000 // 2
    assert abs(srow["est_f2"] - srow["true_f2"]) <= band * srow["true_f2"]


def test_cms_join_size_error_bound(spark):
    """CMS inner-product join-size estimate: est >= truth ALWAYS
    (collisions only add mass), and the overshoot stays within a few
    multiples of the expected additive error N_a*N_b/width (Markov on
    the per-row collision mass, min over depth rows tightens it)."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.sketch import cms_join_size
    from kafkatosparktokudu_spark.sources.batch import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purch = ev.filter(F.col("event_type") == "purchase")
    row = cms_join_size(clicks, "user_id", purch, "user_id", width=1024).head()
    assert row["est_join_size"] >= row["true_join_size"]
    na, nb = clicks.count(), purch.count()
    assert row["est_join_size"] - row["true_join_size"] <= 4 * na * nb / 1024


def test_approx_distinct_error_bound(spark):
    """HLL++ estimate within 2% rsd (≈3x sigma margin) of exact distinct."""
    from kafkatosparktokudu_spark.plans.queries import (
        q13_distinct_users,
        q33_approx_distinct,
    )

    exact = {
        r["event_type"]: r["n_users"]
        for r in q13_distinct_users(spark, SF_SMOKE).collect()
    }
    approx = {
        r["event_type"]: r["approx_users"]
        for r in q33_approx_distinct(spark, SF_SMOKE).collect()
    }
    assert set(exact) == set(approx)
    for et, n in exact.items():
        assert abs(approx[et] - n) / n <= 0.06, (et, approx[et], n)


def test_approx_percentiles_error_bound(spark):
    """q59 stays rows-only (Spark's KLL-style approx_percentile is not
    bit-compatible with DuckDB's approx_quantile), so pin it against the
    EXACT percentiles instead: with accuracy=10000 the rank error is
    <= n/10000, comfortably within a 1% value-rank tolerance here."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.plans.queries import q59_approx_percentiles
    from kafkatosparktokudu_spark.sources.batch import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    got = q59_approx_percentiles(spark, SF_SMOKE).collect()
    assert len(got) == 9  # 3 flags x 3 percentiles
    by_flag = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        by_flag.setdefault(r["l_returnflag"], []).append(float(r["l_extendedprice"]))
    for vals in by_flag.values():
        vals.sort()
    for r in got:
        vals = by_flag[r["l_returnflag"]]
        n = len(vals)
        assert r["n"] == n
        # approx value must sit within ±(n/10000 + 1) ranks of the
        # exact percentile rank — the documented accuracy contract
        import bisect

        target = r["pct"] * (n - 1)
        approx = float(r["approx_value"])
        lo = bisect.bisect_left(vals, approx)
        hi = bisect.bisect_right(vals, approx)
        tol = n / 10000 + 1
        assert lo - tol <= target <= hi + tol, (
            r["l_returnflag"], r["pct"], approx, lo, hi, target,
        )


def test_sampled_quantiles_error_bound(spark):
    """q85's 1-in-16 deterministic-sample quantile estimates, judged the
    statistically meaningful way: each estimate's PERCENTILE RANK within
    its group's exact value list must sit within 0.25 of the target
    fraction (the sample is ~14-29 rows per group at sf0.001, so the
    rank std error is ~0.10; the sample is hash-fixed, not random, and
    the fixture's worst observed deviation is 0.19). A value-relative
    bound would conflate sampling error with the distribution's spread."""
    import bisect

    from kafkatosparktokudu_spark.plans.queries import q85_sampled_quantiles
    from kafkatosparktokudu_spark.sources.batch import load_table

    orders = load_table(spark, SF_SMOKE, "orders")
    vals: dict = {}
    for r in orders.select("o_orderpriority", "o_totalprice").collect():
        vals.setdefault(r[0], []).append(float(r[1]))
    for v in vals.values():
        v.sort()
    got = q85_sampled_quantiles(spark, SF_SMOKE).collect()
    assert len(got) == 15  # 5 priorities x 3 percentiles
    for r in got:
        g = vals[r["o_orderpriority"]]
        rank = bisect.bisect_left(g, float(r["est_value"])) / len(g)
        assert abs(rank - float(r["pct"])) <= 0.25, (
            r["o_orderpriority"], r["pct"], r["est_value"], rank,
        )
