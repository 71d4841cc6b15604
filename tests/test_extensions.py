"""Operator-level tests for the LLM-pipeline extensions (rows-only paths:
ANN recall, byte features vs a pure-Python oracle, multimodal plumbing)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from kafkatosparktokudu_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    neardup_pairs_jaccard,
)
from kafkatosparktokudu_spark.operators.multimodal import (
    attach_binary,
    byte_features,
    decode_media,
    resize_stub,
)
from kafkatosparktokudu_spark.operators.similarity import ann_topk, brute_force_topk
from kafkatosparktokudu_spark.sources.batch import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def _emb(spark):
    return load_table(spark, SF, "embeddings")


def test_exact_dedup_identity(spark):
    """On a dup-free corpus every doc survives; on a doubled corpus exactly
    the originals survive."""
    docs = _docs(spark).select("doc_id", "text")
    _, survivors = exact_dedup(docs)
    assert survivors.count() == docs.count()
    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    groups, survivors2 = exact_dedup(doubled)
    assert survivors2.count() == docs.count()
    assert groups.filter(F.col("n_docs") != 2).count() == 0


def test_lsh_finds_planted_neardups(spark):
    """The fixture plants same-prefix near-dup docs; LSH + Jaccard must
    surface high-jaccard pairs without a full cross join."""
    pairs = neardup_pairs_jaccard(_docs(spark), threshold=0.2)
    top = pairs.orderBy(F.col("jaccard").desc()).head(5)
    assert len(top) >= 3
    assert top[0]["jaccard"] > 0.8  # planted prefix dups are ~0.9


def test_bare_pair_calls_release_what_they_persist(spark):
    """neardup_pairs_jaccard and containment_pairs called without an
    hs/bands frame persist their own and must release them: no persisted
    RDD the call made outlives it, and the returned pairs still read."""
    from kafkatosparktokudu_spark.operators.dedup import containment_pairs

    docs = _docs(spark).select("doc_id", "text")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    for pair_fn in (neardup_pairs_jaccard, containment_pairs):
        before = persisted()
        pairs = pair_fn(docs)
        assert persisted() - before == set(), pair_fn.__name__
        assert pairs.count() > 0


def test_lsh_candidates_subquadratic(spark):
    docs = _docs(spark)
    n = docs.count()
    cands = lsh_candidate_pairs(docs).count()
    assert cands < n * (n - 1) / 20, "candidate set should be ≪ n²/2"


def test_ann_recall_vs_brute(spark):
    """Multi-probe hyperplane LSH must recover a meaningful share of the
    exact top-10 while scanning only probe buckets."""
    emb = _emb(spark)
    row = emb.filter(F.col("vec_id") == 0).head()
    qv = [float(x) for x in row["embedding"]]
    brute = {r["vec_id"] for r in brute_force_topk(emb, qv, 10, exclude_id=0).collect()}
    ann = {r["vec_id"] for r in ann_topk(emb, qv, 10, exclude_id=0).collect()}
    recall = len(brute & ann) / 10
    assert recall >= 0.1, f"ANN recall collapsed: {recall}"


def test_byte_features_match_python(spark):
    feats = {
        r["doc_id"]: r
        for r in byte_features(attach_binary(_docs(spark))).collect()
    }
    for row in _docs(spark).limit(10).collect():
        data = row["text"].encode("utf-8")
        counts: dict[int, int] = {}
        for b in data:
            counts[b] = counts.get(b, 0) + 1
        ent = -sum(
            (c / len(data)) * math.log2(c / len(data)) for c in counts.values()
        )
        got = feats[row["doc_id"]]
        assert got["n_bytes"] == len(data)
        assert math.isclose(got["entropy"], ent, rel_tol=1e-9)
        assert got["top_byte"] == max(counts, key=lambda b: (counts[b], -b))


def test_fixture_documents_nonempty_ascii(spark):
    """GUARD for the mm09/mm10 oracle contract (ADVICE r9): those oracles
    index CHARACTERS (ord/substr) while the encoders index UTF-8 BYTES —
    equal iff every fixture document is non-empty ASCII. This pins both
    properties at every SF the driver touches, so a fixture change that
    would silently desync the twins turns THIS red first."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf, "documents").select(
            F.length("text").alias("n_char"),
            F.length(F.encode(F.col("text"), "utf-8")).alias("n_byte"),
        )
        bad = docs.filter(
            (F.col("n_char") < 1) | (F.col("n_char") != F.col("n_byte"))
        ).count()
        assert bad == 0, f"{sf}: {bad} empty/non-ASCII documents"


def test_decode_resize_plumbing(spark):
    decoded = decode_media(attach_binary(_docs(spark)))
    assert decoded.columns == ["doc_id", "fmt", "width", "height", "channels", "ok"]
    rows = decoded.collect()
    assert all(r["ok"] for r in rows)
    assert {r["channels"] for r in rows} == {1, 3}  # wav mono vs rgb
    out = resize_stub(decoded, max_side=32).collect()
    assert all(1 <= r["out_w"] <= 32 and 1 <= r["out_h"] <= 32 for r in out)
    # determinism: same input → same fake dims
    again = decode_media(attach_binary(_docs(spark))).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_ivf_recall_vs_brute(spark):
    """IVF with nprobe=4/16 cells must keep most of the exact top-10 while
    scanning ~1/4 of the table; nprobe=n_cells degenerates to exact."""
    from kafkatosparktokudu_spark.operators.similarity import (
        ivf_topk,
        train_ivf_centroids,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    row = emb.filter("vec_id = 0").select("embedding").head()
    qv = [float(x) for x in row[0]]
    cents = train_ivf_centroids(emb, n_cells=16)
    assert len(cents) == 16 and len(cents[0]) == len(qv)

    brute = {r["vec_id"] for r in brute_force_topk(emb, qv, 10, exclude_id=0).collect()}
    ivf = {
        r["vec_id"]
        for r in ivf_topk(emb, qv, 10, nprobe=4, exclude_id=0, centroids=cents).collect()
    }
    assert len(brute & ivf) / 10 >= 0.5, f"IVF recall collapsed: {brute & ivf}"

    # probing every cell == exact brute force
    full = {
        r["vec_id"]
        for r in ivf_topk(emb, qv, 10, nprobe=16, exclude_id=0, centroids=cents).collect()
    }
    assert full == brute


def test_ivf_index_prunes_partitions(spark, tmp_path):
    """Materialized IVF index: cell is a physical partition column, so a
    probe query is pruned at the file level (scan lists only probed cells'
    files); adaptive nprobe gathers ≥ candidate_factor×k candidates and the
    result matches the index-free ivf_topk over the same centroids."""
    from kafkatosparktokudu_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    row = emb.filter("vec_id = 0").select("embedding").head()
    qv = [float(x) for x in row[0]]
    idx = str(tmp_path / "ivf_index")
    cents = build_ivf_index(emb, idx, n_cells=16)

    sel = ivf_index_topk(spark, idx, qv, k=10, nprobe=4, exclude_id=0)
    # file-level pruning: the probed scan READS only the 4 probed cells'
    # files (16 partition dirs exist), and the filter lands in the scan's
    # PartitionFilters, not a post-scan Filter
    from kafkatosparktokudu_spark.operators.similarity import probe_cells

    cells = probe_cells(idx, qv, k=10, nprobe=4)
    scan = spark.read.parquet(idx).filter(F.col("cell").isin(cells))
    files_read = {r[0] for r in scan.select(F.input_file_name()).distinct().collect()}
    all_files = spark.read.parquet(idx).inputFiles()
    assert len(files_read) < len(all_files), (len(files_read), len(all_files))
    assert all(any(f"cell={c}/" in f for c in cells) for f in files_read)
    plan = sel._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    got = [(r["vec_id"], r["cos_sim"]) for r in sel.collect()]
    want = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(
            emb, qv, 10, nprobe=4, exclude_id=0, centroids=cents
        ).collect()
    ]
    assert got == want

    # adaptive probing: cumulative candidates from sidecar stats ≥ 8×k
    import json
    import os

    with open(os.path.join(idx, "_ivf_meta.json")) as f:
        meta = json.load(f)
    adaptive = ivf_index_topk(spark, idx, qv, k=10, exclude_id=0)
    rows = adaptive.collect()
    assert len(rows) == 10
    total = sum(meta["cell_counts"].values())
    assert total == emb.count()


def test_frame_sample_shape_and_bytes(spark):
    """Frame sampling: ≤4 frames per doc, offsets evenly spaced, bytes are
    the actual payload slices (checked against a pure-Python oracle)."""
    from kafkatosparktokudu_spark.operators.multimodal import (
        attach_binary,
        frame_sample,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    media = attach_binary(docs)
    frames = frame_sample(media, n_frames=4, frame_size=16).collect()
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert frames
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        p = payloads[doc_id]
        k = min(4, len(p))
        assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == list(range(k))
        for r in rows:
            off = (r["frame_idx"] * len(p)) // k
            assert r["frame_offset"] == off
            assert bytes(r["frame_bytes"]) == p[off : off + 16]


def test_duplicate_clusters_vs_union_find(spark):
    """Min-label propagation CC vs a pure-Python union-find on a graph with
    a chain (transitive near-dups), a triangle, an isolated pair, and a
    star — including multi-round convergence (chain diameter > 1)."""
    from kafkatosparktokudu_spark.operators.dedup import duplicate_clusters

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5),          # chain: all → 1
        (10, 11), (11, 12), (10, 12),            # triangle → 10
        (20, 21),                                # pair → 20
        (30, 31), (30, 32), (30, 33), (30, 34),  # star → 30
        (40, 5),                                 # joins the chain late → 1
    ]
    pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    # the distributed iterative path must agree with the small-graph
    # driver-side fast path (small_graph_edges=0 forces iteration)
    got_iter = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, small_graph_edges=0).collect()
    }
    assert got == got_iter

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize: min member per component
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(members) for root, members in comp.items() for n in members}
    assert got == want


def test_cms_heavy_hitters_error_bound(spark):
    from kafkatosparktokudu_spark.operators.sketch import (
        cms_estimates,
        count_min_sketch_bytes,
        heavy_hitters,
    )

    ev = load_table(spark, SF, "events").select("user_id")
    n = ev.count()
    eps = 0.001
    sketch = count_min_sketch_bytes(ev, "user_id", eps=eps)
    true = {r["user_id"]: r["cnt"] for r in
            ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    est = cms_estimates(spark, sketch, list(true))
    for uid, t in true.items():
        assert est[uid] >= t  # CMS never under-counts
        assert est[uid] <= t + eps * n  # w.h.p. bound; deterministic seed

    hh = heavy_hitters(spark, ev, "user_id", k=5).collect()
    assert len(hh) == 5
    top_true = sorted(true.values(), reverse=True)[:5]
    assert [r["true_count"] for r in hh] == top_true
    assert all(r["est_count"] >= r["true_count"] for r in hh)


def test_cms_sketches_merge_associatively(spark):
    """Sketch mergeability — the property that makes the CMS scale out:
    sketches built independently on disjoint halves, merged, must estimate
    identically to one sketch built over the whole (same depth/width/seed
    arrays, merge = element-wise add)."""
    from kafkatosparktokudu_spark.operators.sketch import count_min_sketch_bytes

    ev = load_table(spark, SF, "events").select("user_id")
    half_a = ev.filter(F.col("user_id") % 2 == 0)
    half_b = ev.filter(F.col("user_id") % 2 == 1)
    jvm = spark.sparkContext._jvm
    read = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom
    sa = read(count_min_sketch_bytes(half_a, "user_id"))
    sb = read(count_min_sketch_bytes(half_b, "user_id"))
    full = read(count_min_sketch_bytes(ev, "user_id"))
    sa.mergeInPlace(sb)
    assert sa.totalCount() == full.totalCount()
    for r in ev.select("user_id").distinct().collect():
        uid = r["user_id"]
        assert sa.estimateCount(uid) == full.estimateCount(uid)


def test_pagerank_matches_python_power_iteration(spark):
    """Distributed PageRank vs a dense pure-Python power iteration on a
    graph with a hub, a chain, a dangling node, and a 2-cycle."""
    from kafkatosparktokudu_spark.operators.graph import pagerank

    edges = [
        (1, 2), (1, 3), (1, 4),   # hub 1 → 2,3,4
        (2, 1), (3, 1),           # back-links
        (4, 5), (5, 6),           # chain into dangling 6
        (7, 8), (8, 7),           # isolated 2-cycle
    ]
    d, it = 0.85, 10
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(edges, "src bigint, dst bigint"),
            damping=d, n_iter=it,
        ).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(it):
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1 - d) / n + d * dangling / n
        new = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            for t in ts:
                new[t] += rank[s] / len(ts)
        rank = {v: base + d * new[v] for v in nodes}

    assert set(got) == set(rank)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert math.isclose(got[v], rank[v], rel_tol=1e-9), (v, got[v], rank[v])
    # structure: the 2-cycle is a spider trap (equal, highest ranks);
    # hub 1 out-ranks the leaves it links to
    assert math.isclose(got[7], got[8], rel_tol=1e-12)
    assert got[1] > got[2] and got[1] > got[3] and got[1] > got[4]


def test_approx_percentiles_rank_error_bound(spark):
    """percentile_approx(accuracy=A) guarantees rank error <= n/A: every
    approximate percentile value must lie between the exact values at
    ranks floor(p*n) - n/A and ceil(p*n) + n/A."""
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    acc = 10000
    approx = {
        r["l_returnflag"]: (r["approx_pcts"], r["n"])
        for r in li.groupBy("l_returnflag").agg(
            F.percentile_approx(
                "l_extendedprice",
                F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
                acc,
            ).alias("approx_pcts"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    for flag, (pcts, n) in approx.items():
        vals = sorted(
            r["l_extendedprice"]
            for r in li.filter(F.col("l_returnflag") == flag)
            .select("l_extendedprice").collect()
        )
        eps = 1.0 / acc
        for p, got in zip([0.25, 0.5, 0.75], pcts):
            lo = vals[max(0, math.floor((p - eps) * n) - 1)]
            hi = vals[min(n - 1, math.ceil((p + eps) * n))]
            assert lo <= got <= hi, (flag, p, got, lo, hi)


def test_centroid_blocked_neardup_recall(spark):
    """blocking='centroids' (trained k-means anchors, the real-scale path)
    must recover nearly all true pairs at the dd05 threshold, and at least
    as many as the oracle-friendly seed blocking at the same (n_cells,
    nprobe) budget. Precision is exact by construction (candidates are
    verified with exact cosine), so only recall needs pinning."""
    import numpy as np

    from kafkatosparktokudu_spark.operators.dedup import embedding_neardup_pairs

    emb = _emb(spark)
    threshold = 0.3
    rows = emb.select("vec_id", "embedding").collect()
    x = np.array([[float(v) for v in r["embedding"]] for r in rows])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    ids = np.array([r["vec_id"] for r in rows])
    sims = x @ x.T
    iu = np.triu_indices(len(ids), k=1)
    mask = np.round(sims[iu], 6) >= threshold
    truth = {
        (int(min(a, b)), int(max(a, b)))
        for a, b in zip(ids[iu[0]][mask], ids[iu[1]][mask])
    }
    assert truth, "fixture should contain near-dup pairs at this threshold"

    def pairs_of(blocking, nprobe):
        return {
            (int(r["vec_a"]), int(r["vec_b"]))
            for r in embedding_neardup_pairs(
                # n_cells pinned: the recall envelope below was measured at
                # 32 cells (the default is auto ~sqrt(n) since r11)
                emb, threshold=threshold, n_cells=32, nprobe=nprobe,
                blocking=blocking,
            ).collect()
        }

    # measured envelope on the sf0.001 fixture (920 true pairs): recall at
    # nprobe=4 is seeds 0.749 / centroids 0.785; at nprobe=6 both clear
    # 0.95 — probe count, not anchor quality, is the recall knob here
    cent6 = pairs_of("centroids", 6)
    assert not cent6 - truth, "verified pairs must all be true pairs"
    recall6 = len(cent6 & truth) / len(truth)
    assert recall6 >= 0.9, f"centroid-blocked recall@nprobe=6 {recall6:.3f}"
    # at the tighter budget the trained anchors must not LOSE to the
    # arbitrary seed anchors (they follow the data's density)
    recall_cent4 = len(pairs_of("centroids", 4) & truth) / len(truth)
    recall_seed4 = len(pairs_of("seeds", 4) & truth) / len(truth)
    assert recall_cent4 >= recall_seed4 - 1e-9, (recall_cent4, recall_seed4)


def test_embeddings_have_positive_norm(spark):
    """Pins the no-zero-vector fixture assumption the dd05 oracle's cell
    ranking relies on (ADVICE r3): a zero-norm embedding would make the
    cosine NaN, which DuckDB sorts greatest while Spark's negated
    array_sort ranks last — silent oracle divergence. Fail loudly here
    instead if a future datagen change introduces one."""
    import math

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = load_table(spark, sf, "embeddings")
        min_norm = emb.select(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col("embedding"), lambda x: x.cast("double") * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("n")
        ).agg(F.min("n")).head()[0]
        assert min_norm is not None and min_norm > 0.5, (sf, min_norm)
        assert math.isfinite(min_norm)


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every true match must pass the bloom (no false negatives — exactness
    of the downstream join depends on it), and the pruned set must be a
    small superset of the matches (the filter actually filters)."""
    from kafkatosparktokudu_spark.operators.sketch import bloom_build, bloom_prune

    cust = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    keys = cust.filter(F.col("c_acctbal") > 8000).select("c_custkey")
    bm = bloom_build(keys, "c_custkey")
    pruned = bloom_prune(orders, "o_custkey", bm).select("o_orderkey")
    exact = orders.join(
        keys.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    ).select("o_orderkey")
    missed = exact.join(pruned, "o_orderkey", "left_anti").count()
    assert missed == 0  # superset: no false negatives ever
    n_orders, n_pruned, n_exact = orders.count(), pruned.count(), exact.count()
    assert n_exact <= n_pruned < n_orders
    # fpr bound sanity: with m=4096/k=3 and this few keys the candidate set
    # should stay well under half the fact table
    assert n_pruned < n_orders / 2


def test_bloom_prune_happens_before_shuffle(spark):
    """The bloom probe must evaluate in the scan stage: the plan's Filter
    sits under the Exchange, so only candidates shuffle."""
    from kafkatosparktokudu_spark.operators.sketch import bloom_build, bloom_prune

    cust = load_table(spark, SF, "customer")
    orders = load_table(spark, SF, "orders")
    keys = cust.filter(F.col("c_acctbal") > 9900).select("c_custkey")
    pruned = bloom_prune(orders, "o_custkey", bloom_build(keys, "c_custkey"))
    agg = pruned.groupBy("o_orderpriority").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    # BroadcastNestedLoopJoin (the 1-row bitmap attach) must appear below
    # the exchange feeding the aggregate, not above it
    ex = plan.find("Exchange hashpartitioning")
    bj = plan.find("BroadcastNestedLoopJoin")
    assert ex != -1 and bj != -1 and bj > ex, plan


def test_duplicated_spans_maximal_merge(spark):
    """A planted long duplicated span must come back as ONE maximal span
    with exact boundaries, not a run of window-sized fragments."""
    from kafkatosparktokudu_spark.operators.dedup import duplicated_spans

    common = " ".join(f"w{i}" for i in range(30))  # 30 shared tokens
    rows = [
        (1, "a b c " + common + " x y z"),        # span at tokens 4..33
        (2, common + " p q"),                     # span at tokens 1..30
        (3, "totally different words only here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(docs, l_tokens=15).collect()
    }
    assert got == {1: (4, 33, 30), 2: (1, 30, 30)}


def test_shard_export_offsets_match_tarfile(spark, tmp_path):
    """write_webdataset's tars must be readable by stdlib tarfile with
    byte-identical member payloads, and the DECLARATIVE manifest
    (shard_manifest) must predict tarfile's actual data offsets exactly."""
    import tarfile

    from kafkatosparktokudu_spark.operators.multimodal import (
        attach_binary,
        shard_manifest,
        write_webdataset,
    )

    media = attach_binary(_docs(spark))
    out = str(tmp_path / "wds")
    written = {
        (r["doc_id"]): (r["shard_id"], r["member_idx"], r["n_bytes"], r["data_offset"])
        for r in write_webdataset(media, out, n_shards=4).collect()
    }
    predicted = {
        (r["doc_id"]): (r["shard_id"], r["member_idx"], r["n_bytes"], r["data_offset"])
        for r in shard_manifest(media, n_shards=4).collect()
    }
    assert written == predicted and written
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in media.select("doc_id", "payload").collect()
    }
    seen = 0
    import os

    for fn in sorted(os.listdir(out)):
        shard = int(fn.split("-")[1].split(".")[0])
        with tarfile.open(os.path.join(out, fn)) as tf:
            for m in tf.getmembers():
                doc_id = int(m.name.split(".")[0])
                data = tf.extractfile(m).read()
                assert data == payloads[doc_id]
                assert written[doc_id][0] == shard
                assert written[doc_id][3] == m.offset_data, (doc_id, m.name)
                seen += 1
    assert seen == len(payloads)


def _gate_ids_stored(spark, store):
    """The ids a gate store has accepted, read from both of its stores
    (they must agree)."""
    from kafkatosparktokudu_spark.operators.dedup import _gate_stores

    bands, payload = _gate_stores(spark, store, "doc_id")
    ids = {r["doc_id"] for r in payload.read().collect()}
    assert {r["doc_id"] for r in bands.read().collect()} == ids
    return ids


def test_incremental_ingest_flags_and_store(spark, tmp_path):
    """Ingest-time near-dup gate semantics: in-batch clusters keep the min
    id; keepers are checked against previously-ACCEPTED signatures only;
    only novel keepers enter the store."""
    from kafkatosparktokudu_spark.operators.dedup import (
        incremental_neardup_ingest,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    uniq1 = "one two three four five six seven eight nine ten " \
            "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
    uniq2 = "red orange yellow green blue indigo violet black white gray " \
            "pink brown cyan magenta olive navy teal maroon silver gold"
    store = str(tmp_path / "sigs")
    b1 = spark.createDataFrame(
        [(1, base), (2, base + " extra tail"), (3, uniq1)],
        "doc_id bigint, text string",
    )
    f1 = {r["doc_id"]: (r["is_dup"], r["matched_id"])
          for r in incremental_neardup_ingest(b1, store).collect()}
    assert f1 == {1: (False, None), 2: (True, 1), 3: (False, None)}

    b2 = spark.createDataFrame(
        [(4, base + " tiny change"),   # near-dup of stored 1
         (5, uniq2),                    # novel
         (6, uniq2 + " small tweak")],  # in-batch dup of 5
        "doc_id bigint, text string",
    )
    f2 = {r["doc_id"]: (r["is_dup"], r["matched_id"])
          for r in incremental_neardup_ingest(b2, store).collect()}
    assert f2 == {4: (True, 1), 5: (False, None), 6: (True, 5)}

    assert _gate_ids_stored(spark, store) == {1, 3, 5}

    # re-ingesting an accepted doc's twin still dedups against the store
    b3 = spark.createDataFrame(
        [(7, uniq2 + " later copy")], "doc_id bigint, text string"
    )
    f3 = {r["doc_id"]: (r["is_dup"], r["matched_id"])
          for r in incremental_neardup_ingest(b3, store).collect()}
    assert f3 == {7: (True, 5)}


def test_knn_join_recall_vs_brute(spark):
    """Cell-blocked batch kNN must recover most of the exact top-k: recall@5
    against brute force averaged over the 20 query vectors."""
    from kafkatosparktokudu_spark.operators.similarity import knn_join
    from kafkatosparktokudu_spark.functions.vectors import as_double, dot, norm

    emb = _emb(spark)
    got = knn_join(
        # n_cells pinned to the envelope this test measured (auto since r11)
        emb, emb.filter(F.col("vec_id") < 20), k=5, n_cells=32,
        queries_are_subset=True,
    )
    approx = {}
    for r in got.collect():
        approx.setdefault(r["q_id"], set()).add(r["n_id"])
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    sim = dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
    from pyspark.sql import Window as W

    w = W.partitionBy("q_id").orderBy(F.round(sim, 6).desc(), F.col("vec_id"))
    exact = (
        q.crossJoin(e)
        .filter(F.col("q_id") != F.col("vec_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
    )
    truth = {}
    for r in exact.select("q_id", "vec_id").collect():
        truth.setdefault(r["q_id"], set()).add(r["vec_id"])
    recalls = [
        len(approx.get(qid, set()) & t) / len(t) for qid, t in truth.items()
    ]
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_remove_repeated_chunks_edges(spark):
    """Partial-tail chunks are never removed (even when their text equals
    a repeated full chunk's prefix), a doc made entirely of repeated
    chunks reconstructs to the empty string, and kept-chunk reconstruction
    md5 matches a Python rebuild."""
    import hashlib

    from kafkatosparktokudu_spark.operators.dedup import remove_repeated_chunks

    boiler = "subscribe to our newsletter"  # 4 tokens, shared
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta tail bit"),
            (3, boiler),  # exactly one full repeated chunk -> empty doc
            (4, "subscribe to our"),  # 3-token PARTIAL: must survive
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r for r in remove_repeated_chunks(docs, chunk_tokens=4).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[1]["n_chunks"] == 2 and out[1]["n_removed"] == 1
    assert out[1]["clean_md5"] == md5("alpha beta gamma delta")
    assert out[2]["n_removed"] == 1
    assert out[2]["clean_md5"] == md5("epsilon zeta eta theta tail bit")
    assert out[3]["n_chunks"] == 1 and out[3]["n_removed"] == 1
    assert out[3]["clean_md5"] == md5("")
    assert out[4]["n_removed"] == 0 and out[4]["clean_md5"] == md5("subscribe to our")


def test_kmeans_recovers_planted_clusters(spark):
    """k=3 k-means on vectors planted around three orthogonal anchors
    recovers the planted partition exactly (cosine separation is large),
    and every member's cosine to its centroid beats any cross-cluster
    cosine."""
    import random

    from kafkatosparktokudu_spark.operators.similarity import kmeans_clusters

    rng = random.Random(11)
    dim, per = 12, 20
    anchors = []
    for a in range(3):
        v = [0.0] * dim
        v[a * 4 : a * 4 + 4] = [1.0, 1.0, 1.0, 1.0]
        anchors.append(v)
    rows = []
    for a, anchor in enumerate(anchors):
        for i in range(per):
            vec = [x + rng.uniform(-0.05, 0.05) for x in anchor]
            # vec_id interleaves clusters so seeds span all three anchors
            rows.append((i * 3 + a, vec, a))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = kmeans_clusters(emb, k=3, n_iters=2, n_dims=dim).collect()
    # exactly 3 surviving clusters covering all 60 vectors
    assert len(out) == 3
    assert sum(r["n_members"] for r in out) == 3 * per
    assert sorted(r["n_members"] for r in out) == [per, per, per]
    # high cohesion: planted noise keeps members within ~0.01 of cos=1
    assert all(r["avg_cos"] > 0.99 for r in out)


def test_bigram_surprisal_flags_word_salad(spark):
    """Docs that reuse the corpus' frequent transitions score low
    surprisal; a doc pairing the SAME common words in novel orders
    scores highest and lands in the tail bucket."""
    from kafkatosparktokudu_spark.operators.text import bigram_surprisal_scores

    # fluent corpus: transitions are deterministic (a->b->c->d->a)
    fluent = "a b c d a b c d a b c d"
    rows = [(i, fluent) for i in range(8)]
    # word salad: SAME common words, but none of the fluent transitions
    rows.append((99, "a c a d b a c b d c"))
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in bigram_surprisal_scores(docs).collect()}
    assert len(out) == 9
    salad, others = out[99], [out[i] for i in range(8)]
    assert all(salad["avg_surprisal"] > o["avg_surprisal"] for o in others)
    # 9 docs -> tertiles of 3; the salad doc is the single highest scorer
    assert salad["ppl_bucket"] == "tail"


def test_bigram_surprisal_reference_model(spark):
    """Training the LM on a reference corpus scores OOV-free eval docs
    identically to self-training on the reference, and skips bigrams the
    model never saw."""
    from kafkatosparktokudu_spark.operators.text import bigram_surprisal_scores

    ref = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta delta") for i in range(4)],
        "doc_id int, text string",
    )
    eval_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta zeta unseen pair")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in bigram_surprisal_scores(eval_docs, model_docs=ref).collect()
    }
    # doc 1: both bigrams in-model; doc 2: only "alpha beta" survives OOV-skip
    assert out[1]["n_bigrams"] == 2
    assert out[2]["n_bigrams"] == 1
    # "alpha beta": CL(alpha)=8, C2=8 -> s=0; "beta gamma": CL(beta)=8, C2=4 -> s=1
    assert abs(out[1]["avg_surprisal"] - 0.5) < 1e-9
    assert abs(out[2]["avg_surprisal"] - 0.0) < 1e-9


def test_semdedup_prunes_planted_twins(spark):
    """Near-identical vector pairs collapse to the lower id; distinct
    vectors survive; matched_id always points at a lower id in the same
    cluster."""
    import random

    from kafkatosparktokudu_spark.operators.similarity import semantic_dedup_prune

    rng = random.Random(5)
    dim = 12
    rows = []
    base = []
    for i in range(12):
        v = [rng.uniform(-1, 1) for _ in range(dim)]
        base.append(v)
        rows.append((i * 10, v, 0))
    # plant a near-twin (tiny perturbation) for every even base vector
    for i in range(0, 12, 2):
        twin = [x + rng.uniform(-1e-4, 1e-4) for x in base[i]]
        rows.append((i * 10 + 1, twin, 0))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_prune(emb, k=4, n_dims=dim, threshold=0.99).collect()
    }
    assert len(out) == 18
    for i in range(0, 12, 2):
        tw = out[i * 10 + 1]
        assert tw["is_dup"] and tw["matched_id"] == i * 10
    # originals all survive (their twins have HIGHER ids)
    assert all(not out[i * 10]["is_dup"] for i in range(12))


def test_semdedup_uses_only_the_first_n_dims(spark):
    """Vectors longer than ``n_dims`` (the k-means seed, vec 1, has exactly
    ``n_dims``) are compared on their first ``n_dims`` components, the
    prefix k-means and the norms use: vectors equal on that prefix are
    twins whatever their tails."""
    from kafkatosparktokudu_spark.operators.similarity import semantic_dedup_prune

    head = [0.5, -0.25, 1.0, 0.75]
    emb = spark.createDataFrame(
        [
            (1, head, 0),
            (2, head + [5.0, 5.0, 5.0], 0),
            (3, head + [-5.0, -5.0, -5.0], 0),
            (4, [-x for x in head] + [0.0, 0.0, 0.0], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {
        r["vec_id"]: (r["is_dup"], r["matched_id"])
        for r in semantic_dedup_prune(emb, k=1, n_dims=4, threshold=0.99).collect()
    }
    assert out == {1: (False, None), 2: (True, 1), 3: (True, 1), 4: (False, None)}


def test_constraint_report_planted_violations(spark):
    """Each check class counts exactly its planted violations: nulls,
    out-of-range, off-domain, duplicate keys, FK orphans — and null FKs
    are NOT orphans."""
    from kafkatosparktokudu_spark.operators.quality_checks import (
        AcceptedValues,
        ForeignKey,
        InRange,
        NotNull,
        Unique,
        constraint_report,
    )

    child = spark.createDataFrame(
        [
            (1, "a", 5.0, "X"),
            (2, None, -3.0, "Y"),   # null name; range violation
            (2, "c", 200.0, "Z"),   # dup id; range violation; bad status
            (4, "d", 50.0, None),   # null status is NOT an accepted-violation
            (5, "e", 7.0, "X"),
        ],
        "id int, name string, bal double, status string",
    )
    parent = spark.createDataFrame([(1,), (2,), (4,)], "pid int")
    link = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 99), (4, None)], "row_id int, ref int"
    )
    out = {
        r["check_id"]: r
        for r in constraint_report(
            spark,
            {"child": child, "parent": parent, "link": link},
            [
                NotNull("child", "name"),
                InRange("child", "bal", 0.0, 100.0),
                AcceptedValues("child", "status", ("X", "Y", "Z")),
                Unique("child", ("id",)),
                ForeignKey("link", "ref", "parent", "pid"),
            ],
        ).collect()
    }
    assert len(out) == 5
    nn = out["not_null:child.name"]
    assert nn["n_violations"] == 1 and not nn["passed"] and nn["n_rows"] == 5
    assert out["in_range:child.bal"]["n_violations"] == 2
    assert out["accepted:child.status"]["n_violations"] == 0
    uq = out["unique:child.id"]
    assert uq["n_violations"] == 2 and uq["n_rows"] == 5
    fk = out["fk:link.ref->parent.pid"]
    assert fk["n_violations"] == 1 and fk["n_rows"] == 4 and not fk["passed"]


def test_triangle_stats_known_graphs(spark):
    """K4 (complete): 6 edges, 12 wedges, 4 triangles, coeff 1.0.
    Appending a pendant vertex adds 1 edge, 3 wedges, 0 triangles."""
    from kafkatosparktokudu_spark.operators.graph import triangle_stats

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4, "doc_a long, doc_b long")
    r = triangle_stats(df).head()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        4, 6, 12, 4,
    )
    assert abs(r["clustering_coeff"] - 1.0) < 1e-12

    withp = spark.createDataFrame(k4 + [(3, 9)], "doc_a long, doc_b long")
    r2 = triangle_stats(withp).head()
    assert (r2["n_nodes"], r2["n_edges"], r2["n_wedges"], r2["n_triangles"]) == (
        5, 7, 15, 4,
    )
    assert abs(r2["clustering_coeff"] - round(12 / 15, 6)) < 1e-12


def test_personalized_pagerank_proximity_ordering(spark):
    """PPR on a symmetrized path 0-1-2-3-4 seeded at node 0: rank mass
    must decay with hop distance from the seed (the proximity semantics
    that distinguish PPR from global PageRank, where the middle of a
    path outranks the ends); the seed itself ranks first. Also: explicit
    seed overrides the lowest-id default, and a dangling (directed)
    graph is rejected."""
    import pytest as _pt

    from kafkatosparktokudu_spark.operators.graph import (
        personalized_pagerank_fixed_point,
    )

    path = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    # n_iter=24: the path is bipartite, so low iteration counts carry a
    # parity pulse (mass alternates between odd/even distances); by 24
    # rounds the 0.85^k oscillation has settled. Converged facts (exact
    # integer sim mirrored in this test's derivation): non-seed ranks
    # decay with hop distance, and the seed outranks everything from
    # 2 hops out — but NOT necessarily its own neighbor (degree-1 seed
    # pushes all mass to node 1 each step; node 1 also collects from
    # node 2 — converged node-1 rank legitimately exceeds the seed's).
    rows = personalized_pagerank_fixed_point(edges, n_iter=24).collect()
    ranks = {r["node"]: r["rank_fp"] for r in rows}
    assert ranks[1] > ranks[2] > ranks[3] > ranks[4]
    assert ranks[0] > ranks[2]

    # mirror symmetry: seeding the other end reflects the whole vector
    seeded = personalized_pagerank_fixed_point(edges, n_iter=24, seed=4).collect()
    mirror = {r["node"]: r["rank_fp"] for r in seeded}
    assert mirror == {4 - v: rk for v, rk in ranks.items()}

    directed = spark.createDataFrame(path, "src long, dst long")
    with _pt.raises(ValueError, match="dangling"):
        personalized_pagerank_fixed_point(directed, n_iter=2)


def test_link_prediction_known_graphs(spark):
    """Path graph 0-1-2: the only candidate is (0,2) via center 1 —
    cn=1, deg 1/1, jaccard = 1e6 // (1+1-1) = 1_000_000 ppm, Adamic-Adar
    = 1/log2(2) = 1.0. A clique (the LSH-cluster shape) has NO open
    wedges, so link prediction is empty — the reason gr07 runs on the
    co-purchase graph, not the near-dup graph. A hub star (center 0,
    leaves 1..4): every leaf pair is a candidate with cn=1 and
    aa = round(1/log2(4), 6) = 0.5; max_degree=3 removes the hub as a
    wedge center and empties the result (the scale knob)."""
    from kafkatosparktokudu_spark.operators.graph import link_prediction

    path = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
    r = link_prediction(path).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["node_a"], row["node_b"], row["cn"]) == (0, 2, 1)
    assert (row["deg_a"], row["deg_b"]) == (1, 1)
    assert row["jaccard_ppm"] == 1_000_000
    assert abs(row["adamic_adar"] - 1.0) < 1e-12

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    clique = spark.createDataFrame(k4, "doc_a long, doc_b long")
    assert link_prediction(clique).count() == 0

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "doc_a long, doc_b long"
    )
    rows = link_prediction(star).collect()
    assert len(rows) == 6  # C(4,2) leaf pairs
    for row in rows:
        assert row["cn"] == 1 and row["jaccard_ppm"] == 1_000_000
        assert abs(row["adamic_adar"] - 0.5) < 1e-12
    assert link_prediction(star, max_degree=3).count() == 0


def test_triangle_orientation_bounds_hub_fanout(spark):
    """Planted hub graph: node 0 (lowest id) connected to 200 leaves, plus
    triangles among a few leaf pairs. Id-ordered orientation would give the
    hub out-degree 200 (quadratic join fan-out); degree-ordering points
    every star edge AT the hub, so max out-degree stays O(sqrt(|E|)) — and
    the triangle count is unchanged."""
    import math

    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.graph import (
        orient_by_degree,
        triangle_stats,
    )

    star = [(0, i) for i in range(1, 201)]
    closers = [(1, 2), (3, 4), (5, 6)]  # 3 triangles through the hub
    df = spark.createDataFrame(star + closers, "doc_a long, doc_b long")

    r = triangle_stats(df).head()
    assert r["n_triangles"] == 3
    assert r["n_edges"] == 203

    e = df.select(F.col("doc_a").alias("ea"), F.col("doc_b").alias("eb"))
    deg = (
        e.select(F.col("ea").alias("node"))
        .unionAll(e.select(F.col("eb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    fanout = (
        orient_by_degree(e, deg)
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("out"))
        .agg(F.max("out").alias("m"))
        .head()["m"]
    )
    # id-ordering would give 200; sqrt(2|E|) ~ 20
    assert fanout <= int(math.sqrt(2 * 203)) + 1, fanout


def test_column_profile_null_handling(spark):
    """All-null column: mean/avg_len NULL, n_distinct 0, n_nulls = n_rows;
    mixed column divides by NON-NULL count."""
    from kafkatosparktokudu_spark.operators.quality_checks import column_profile

    t = spark.createDataFrame(
        [(1.0, None), (3.0, None), (None, None)],
        "x double, s string",
    )
    out = {
        (r["column_name"], r["metric"]): r["value"]
        for r in column_profile(
            {"t": t}, {"t": {"x": "numeric", "s": "string"}}
        ).collect()
    }
    assert out[("x", "n_rows")] == 3.0 and out[("x", "n_nulls")] == 1.0
    assert out[("x", "n_distinct")] == 2.0
    assert out[("x", "mean")] == 2.0  # (1+3)/2 non-null
    assert out[("s", "n_nulls")] == 3.0 and out[("s", "n_distinct")] == 0.0
    assert out[("s", "avg_len")] is None and out[("s", "min_len")] is None


def test_distribution_drift_extremes(spark):
    """Identical slices drift 0; disjoint value sets drift 1e6; nulls are
    compared as a value."""
    from kafkatosparktokudu_spark.operators.quality_checks import (
        distribution_drift,
    )

    a = spark.createDataFrame([("x",), ("x",), ("y",), (None,)], "c string")
    same = {
        r["column_name"]: r for r in distribution_drift(a, a, ["c"]).collect()
    }
    assert same["c"]["tvd_ppm"] == 0 and same["c"]["n_values"] == 3
    b = spark.createDataFrame([("z",), ("w",)], "c string")
    diff = distribution_drift(a, b, ["c"]).head()
    assert diff["tvd_ppm"] == 1000000
    assert diff["n_baseline"] == 4 and diff["n_current"] == 2


def test_pq_seed_vectors_encode_exactly(spark):
    """A codebook seed's own subvectors ARE centroids, so its codes point
    at itself and its quantization error is exactly 0.0; every error is
    non-negative."""
    from kafkatosparktokudu_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    emb = _emb(spark)
    cb = pq_codebooks(emb, k=4)
    enc = {r["vec_id"]: r for r in pq_encode(emb, cb).collect()}
    seeds = sorted(enc)[:4]
    for i, s in enumerate(seeds):
        assert enc[s]["recon_err"] == 0.0
        assert all(enc[s][f"code{j}"] == i for j in range(8))
    assert all(r["recon_err"] >= 0.0 for r in enc.values())


def test_pq_adc_recall_and_codebook_scaling(spark):
    """ADC over 16-bit codes recovers part of the exact L2 top-10, and a
    richer codebook (k=16) recovers strictly more on this fixture."""
    from kafkatosparktokudu_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
    )

    emb = _emb(spark)
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    qv = rows[0]
    exact = {
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), i)
            for i, v in rows.items()
            if i != 0
        )[:10]
    }

    def recall(k_cb):
        cb = pq_codebooks(emb, k=k_cb)
        got = {
            r["vec_id"]
            for r in pq_adc_topk(emb, qv, cb, k=10, exclude_id=0).collect()
        }
        return len(exact & got)

    assert recall(4) >= 1
    assert recall(16) >= 3


def test_quality_ops_reject_bad_specs(spark):
    """Unknown tables / empty specs raise clear ValueErrors instead of
    opaque KeyErrors mid-plan; an empty edge graph profiles to zeros."""
    import pytest

    from kafkatosparktokudu_spark.operators.graph import triangle_stats
    from kafkatosparktokudu_spark.operators.quality_checks import (
        ForeignKey,
        NotNull,
        column_profile,
        constraint_report,
        distribution_drift,
    )

    t = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="unknown table 'nope'"):
        constraint_report(spark, {"t": t}, [NotNull("nope", "x")])
    with pytest.raises(ValueError, match="unknown table 'gone'"):
        constraint_report(spark, {"t": t}, [ForeignKey("t", "x", "gone", "y")])
    with pytest.raises(ValueError, match="at least one"):
        column_profile({"t": t}, {})
    with pytest.raises(ValueError, match="at least one column"):
        distribution_drift(t, t, [])
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    r = triangle_stats(empty).head()
    assert (r["n_nodes"], r["n_edges"], r["n_wedges"], r["n_triangles"]) == (
        0, 0, 0, 0,
    )
    assert r["clustering_coeff"] is None


def test_freshness_check(spark):
    """Freshness: fresh table passes, stale fails, empty table is
    maximally stale — all against an explicit deterministic as_of."""
    from kafkatosparktokudu_spark.operators.quality_checks import (
        Freshness,
        constraint_report,
    )

    fresh = spark.createDataFrame(
        [("2024-01-01 11:59:00",)], "ts string"
    )
    stale = spark.createDataFrame(
        [("2024-01-01 09:00:00",)], "ts string"
    )
    empty = spark.createDataFrame([], "ts string")
    out = {
        r["check_id"]: r
        for r in constraint_report(
            spark,
            {"f": fresh, "s": stale, "e": empty},
            [
                Freshness("f", "ts", 3600, "2024-01-01 12:00:00"),
                Freshness("s", "ts", 3600, "2024-01-01 12:00:00"),
                Freshness("e", "ts", 3600, "2024-01-01 12:00:00"),
            ],
        ).collect()
    }
    assert out["fresh:f.ts"]["passed"]
    assert not out["fresh:s.ts"]["passed"]
    assert not out["fresh:e.ts"]["passed"] and out["fresh:e.ts"]["n_rows"] == 0


def test_pq_trained_codebooks_reduce_distortion_and_recall(spark):
    """Lloyd-refined codebooks (deploy path) must not lose to the seeded
    init they start from: total quantization error strictly dominates,
    and ADC recall vs the exact L2 top-10 (ss01-style ground truth)
    keeps a floor. The driver oracle stays on the seeded variant."""
    from kafkatosparktokudu_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_codebooks_trained,
        pq_encode,
    )

    emb = _emb(spark)
    seeded = pq_codebooks(emb, k=4)
    trained = pq_codebooks_trained(emb, k=4)
    assert len(trained) == len(seeded) == 8
    assert all(len(cb) == 4 for cb in trained)
    err_s = sum(r["recon_err"] for r in pq_encode(emb, seeded).collect())
    err_t = sum(r["recon_err"] for r in pq_encode(emb, trained).collect())
    assert err_t <= err_s, (err_t, err_s)

    rows = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    qv = rows[0]
    exact = {
        i
        for _, i in sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), i)
            for i, v in rows.items()
            if i != 0
        )[:10]
    }
    got = {
        r["vec_id"]
        for r in pq_adc_topk(emb, qv, trained, k=10, exclude_id=0).collect()
    }
    assert len(exact & got) >= 1, (exact, got)


def test_ivf_seeded_matches_bruteforce_in_probed_cells(spark):
    """ss04's seeded IVF: every returned hit is genuinely ranked by exact
    rounded cosine, results are a subset of the brute-force ordering
    restricted to probed cells, and recall vs full brute force has a
    floor on the fixture."""
    from kafkatosparktokudu_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_seeded,
    )

    emb = _emb(spark)
    qrow = emb.filter("vec_id = 0").head()
    qv = [float(x) for x in qrow["embedding"]]
    got = ivf_topk_seeded(emb, qv, k=10, exclude_id=0).collect()
    assert len(got) == 10
    sims = [r["cos_sim"] for r in got]
    assert sims == sorted(sims, reverse=True)
    exact = {r["vec_id"] for r in brute_force_topk(emb, qv, k=10, exclude_id=0).collect()}
    assert len(exact & {r["vec_id"] for r in got}) >= 3


def test_ivf_deploy_matches_seeded_twin_with_injected_centroids(spark):
    """ss10's determinism pin: inject ss04's seed anchors (unit-normalized)
    as the deploy path's centroids and assert the returned neighbor id SET
    equals the seeded twin's hash-green ids. Rank-insensitive set compare
    absorbs numpy float non-associativity; any drift in the deploy path's
    candidate generation (assignment, probe, re-rank) breaks it."""
    import math

    from kafkatosparktokudu_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_seeded,
    )

    emb = _emb(spark)
    qrow = emb.filter("vec_id = 0").head()
    qv = [float(x) for x in qrow["embedding"]]
    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(16).collect()
    )
    cents = []
    for r in seeds:
        v = [float(x) for x in r["embedding"]]
        n = math.sqrt(sum(x * x for x in v)) or 1e-12
        cents.append([x / n for x in v])

    deploy = ivf_topk(emb, qv, k=10, exclude_id=0, centroids=cents).collect()
    seeded = ivf_topk_seeded(emb, qv, k=10, exclude_id=0).collect()
    assert {r["vec_id"] for r in deploy} == {r["vec_id"] for r in seeded}


def test_editdist_neardup_finds_planted_typo(spark):
    """A one-char typo variant sharing the block prefix is caught with
    its exact edit distance; heads diverging inside the block prefix are
    (by the documented blocking contract) out of scope."""
    from kafkatosparktokudu_spark.operators.dedup import editdist_neardup_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fax jumps over the lazy dog"),   # 1 edit
            (3, "the quick brown fox jumps over the hazy dogs"),  # 2 edits
            (4, "a totally different head that blocks elsewhere"),
            (5, "the QUICK brown fox jumps over the lazy dog"),   # case-normalized dup
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in editdist_neardup_pairs(docs).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 5)] == 0
    assert got[(1, 3)] == 2
    assert not any(4 in p for p in got)


def test_token_entropy_orders_repetitive_below_diverse(spark):
    """A doc repeating one token has entropy 0; a doc of n distinct
    tokens has entropy log2(n); mixed docs land in between."""
    import math

    from kafkatosparktokudu_spark.operators.text import token_entropy

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "a b c d e f g h"),
            (3, "x x y y"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert got[1]["entropy_bits"] == 0.0
    assert abs(got[2]["entropy_bits"] - 3.0) < 1e-5
    assert abs(got[3]["entropy_bits"] - 1.0) < 1e-5
    assert got[2]["n_types"] == 8 and got[2]["n_tokens"] == 8


def test_robust_outliers_resist_contamination(spark):
    """The planted extreme value is flagged and does NOT drag the
    median/MAD gate with it (the mean/stddev failure mode)."""
    from kafkatosparktokudu_spark.operators.quality_checks import (
        robust_outlier_report,
    )

    rows = [("g", float(v)) for v in [10, 11, 12, 13, 14, 15, 16, 17, 18]]
    rows.append(("g", 1000.0))
    df = spark.createDataFrame(rows, "grp string, v double")
    r = robust_outlier_report(df, "v", ["grp"]).collect()[0]
    assert r["n_rows"] == 10
    assert r["n_outliers"] == 1          # only the planted extreme
    assert abs(r["med"] - 14.5) < 1e-9   # median untouched by the outlier
    assert abs(r["mad"] - 2.5) < 1e-9


def test_pagerank_fixed_point_known_graph(spark):
    """Symmetrized star K1,3: the hub outranks the leaves, leaves tie
    exactly (integer arithmetic — EQUALITY, not approximate); a dangling
    node raises."""
    import pytest

    from kafkatosparktokudu_spark.operators.graph import pagerank_fixed_point

    star = [(0, i) for i in (1, 2, 3)] + [(i, 0) for i in (1, 2, 3)]
    edges = spark.createDataFrame(star, "src long, dst long")
    r = {x["node"]: x["rank_fp"] for x in pagerank_fixed_point(edges).collect()}
    assert r[0] > r[1]
    assert r[1] == r[2] == r[3]

    directed = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="dangling"):
        pagerank_fixed_point(directed)


def test_pq_encode_fast_equals_literal_path(spark):
    """The Arrow-batched deploy encoder must reproduce the oracle-pinned
    literal-expression encoder row for row (codes AND errors), with both
    seeded and trained codebooks."""
    from kafkatosparktokudu_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_trained,
        pq_encode,
        pq_encode_fast,
    )

    emb = _emb(spark)
    for cb in (pq_codebooks(emb, k=4), pq_codebooks_trained(emb, k=4)):
        slow = sorted(map(tuple, pq_encode(emb, cb).collect()))
        fast = sorted(map(tuple, pq_encode_fast(emb, cb).collect()))
        assert slow == fast


def test_rag_chunks_cover_and_overlap(spark):
    """Chunks start every `stride` tokens, the first has `chunk_tokens`
    tokens, the tail is short not padded, and every token position is
    covered by at least one chunk."""
    import hashlib

    from kafkatosparktokudu_spark.operators.text import rag_chunks

    words = [f"w{i}" for i in range(100)]
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    got = sorted(
        (r["chunk_id"], r["n_chunk_tokens"], r["chunk_md5"])
        for r in rag_chunks(docs, chunk_tokens=64, stride=48).collect()
    )
    assert [(c, n) for c, n, _ in got] == [(0, 64), (1, 52), (2, 4)]
    for cid, _, md5 in got:
        start = cid * 48
        want = hashlib.md5(" ".join(words[start : start + 64]).encode()).hexdigest()
        assert md5 == want


def test_int8_quantize_known_vectors(spark):
    """Known vector quantizes to the hand-computed codes; an all-zero
    vector is all-zero codes (guarded divide), not NaN."""
    import hashlib

    from kafkatosparktokudu_spark.operators.similarity import int8_quantize

    emb = spark.createDataFrame(
        [(1, [0.0, 0.5, -1.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in int8_quantize(emb).collect()}
    # round(0.5*127) = round(63.5) = 64 HALF_UP; -1.0 -> -127
    assert got[1]["codes_md5"] == hashlib.md5(b"0,64,-127").hexdigest()
    assert got[1]["sum_abs_q"] == 191 and got[1]["mx"] == 1.0
    assert got[2]["codes_md5"] == hashlib.md5(b"0,0,0").hexdigest()
    assert got[2]["sum_abs_q"] == 0 and got[2]["mx"] == 0.0


def test_cms_expr_overestimates_bounded(spark):
    """The expression-level CMS never underestimates, matches exact
    counts when width >> distinct values, and its overestimate is
    explained by bucket collisions when width is squeezed."""
    from kafkatosparktokudu_spark.operators.sketch import (
        cms_expr_heavy_hitters,
    )

    rows = [("a",)] * 50 + [("b",)] * 30 + [(f"x{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "v string")
    wide = {
        r["v"]: (r["true_count"], r["est_count"])
        for r in cms_expr_heavy_hitters(df, "v", k=5, width=4096).collect()
    }
    assert wide["a"] == (50, 50) and wide["b"] == (30, 30)
    narrow = cms_expr_heavy_hitters(df, "v", k=5, width=4).collect()
    assert all(r["est_count"] >= r["true_count"] for r in narrow)
    assert any(r["est_count"] > r["true_count"] for r in narrow)


def test_event_funnel_strict_ordering(spark):
    """Funnel steps must FOLLOW the prior step in time: a purchase that
    precedes the user's first view does not complete the funnel, and a
    click with no later purchase stops at step 2."""
    from datetime import datetime as dt

    from kafkatosparktokudu_spark.plans.queries import q80_event_funnel

    def t(m):
        return dt(2024, 1, 1, 0, m)

    rows = [
        # A: purchase BEFORE view -> only steps 1-2 count
        (1, "purchase", t(0)), (1, "view", t(1)), (1, "click", t(2)),
        # B: full ordered funnel
        (2, "view", t(0)), (2, "click", t(1)), (2, "purchase", t(2)),
        # C: view only
        (3, "view", t(0)),
        # D: click before view, none after -> stops at step 1
        (4, "click", t(0)), (4, "view", t(1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    df.createOrReplaceTempView("__funnel_ev")

    import kafkatosparktokudu_spark.plans.queries as Q

    orig = Q._t
    try:
        Q._t = lambda spark, sf_dir, name: df
        r = q80_event_funnel(spark, "unused").collect()[0]
    finally:
        Q._t = orig
    assert r["n_view"] == 4
    assert r["n_view_click"] == 2      # A and B
    assert r["n_full_funnel"] == 1     # only B


def test_dsir_prefers_target_like_docs(spark):
    """Docs made of target-slice vocabulary score positive (selected);
    docs of never-in-target vocabulary score negative."""
    from kafkatosparktokudu_spark.operators.text import dsir_importance_scores

    # corpus large enough that the Laplace mass (B=256) doesn't drown the
    # signal: T ~ 200 target tokens
    rows = (
        [(i, "en", "alpha beta gamma delta") for i in range(50)]
        + [(1000 + i, "de", "zeta eta theta iota") for i in range(50)]
        + [(2000, "de", "alpha beta alpha beta"), (2001, "en", "zeta eta zeta eta")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in dsir_importance_scores(docs).collect()}
    # target-vocab doc (even though labeled de) is selected; and a doc of
    # pure non-target vocab (even labeled en) is not
    assert got[2000]["selected"] and got[2000]["dsir_score"] > 0
    assert not got[2001]["selected"] and got[2001]["dsir_score"] < 0
    assert all(got[i]["selected"] for i in range(50))
    assert not any(got[1000 + i]["selected"] for i in range(50))


def test_event_debounce_collapses_bursts(spark):
    """Planted bursts: three events 1s apart collapse to the first (with
    n_collapsed=3), a fourth event past the gap starts burst 2; other
    keys are untouched."""
    from datetime import datetime as dt

    from kafkatosparktokudu_spark.operators.dedup import event_debounce

    rows = [
        (1, "click", dt(2024, 1, 1, 0, 0, 0), 1),
        (1, "click", dt(2024, 1, 1, 0, 0, 1), 2),
        (1, "click", dt(2024, 1, 1, 0, 0, 2), 3),
        (1, "click", dt(2024, 1, 1, 0, 10, 0), 4),   # past the 5-min gap
        (1, "view", dt(2024, 1, 1, 0, 0, 1), 5),     # other key untouched
        (2, "click", dt(2024, 1, 1, 0, 0, 0), 6),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    got = {
        r["event_id"]: (r["burst_id"], r["n_collapsed"])
        for r in event_debounce(df).collect()
    }
    assert got == {1: (1, 3), 4: (2, 1), 5: (1, 1), 6: (1, 1)}


# --- negative_pairs (contrastive training negatives) ---


def test_negative_pairs_never_self_and_k_per_anchor(spark):
    from kafkatosparktokudu_spark.operators.similarity import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(37)], "doc_id bigint")
    out = negative_pairs(df, "doc_id", k=5).collect()
    assert len(out) == 37 * 5
    per_anchor = {}
    for r in out:
        assert r["neg_id"] != r["anchor_id"]  # the whole contract
        assert 0 <= r["neg_id"] < 37
        per_anchor.setdefault(r["anchor_id"], set()).add(r["pair_j"])
    assert all(js == {1, 2, 3, 4, 5} for js in per_anchor.values())


def test_negative_pairs_deterministic_and_seed_sensitive(spark):
    from kafkatosparktokudu_spark.operators.similarity import negative_pairs

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id bigint")
    a = sorted(map(tuple, negative_pairs(df, "doc_id", k=3).collect()))
    b = sorted(map(tuple, negative_pairs(df, "doc_id", k=3).collect()))
    c = sorted(map(tuple, negative_pairs(df, "doc_id", k=3, seed="other").collect()))
    assert a == b  # same seed → bit-identical
    assert a != c  # different seed → different partners


def test_negative_pairs_two_rows_edge(spark):
    from kafkatosparktokudu_spark.operators.similarity import negative_pairs

    # N=2: the only legal negative for each anchor is the other row
    df = spark.createDataFrame([(0,), (1,)], "doc_id bigint")
    out = {(r["anchor_id"], r["neg_id"]) for r in negative_pairs(df, "doc_id", k=3).collect()}
    assert out == {(0, 1), (1, 0)}


def test_negative_pairs_rejects_degenerate_corpus(spark):
    """N<2: the ring offset would be a modulo by zero — the fused
    assert_true turns that into a loud contract error instead of NULL
    neg_ids (non-ANSI) or an opaque arithmetic error (ANSI)."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.similarity import negative_pairs

    one = spark.createDataFrame([(0,)], "doc_id bigint")
    with _pytest.raises(Exception, match="at least 2 rows"):
        negative_pairs(one, "doc_id", k=2).collect()


# --- skew_report ---


def test_skew_report_decimal_ratio_survives_hot_key_at_scale(spark):
    """The x100-vs-uniform ratio is computed in DECIMAL(38,0): a planted
    count table whose n_rows * _n_keys product exceeds int64 must yield
    the exact ratio, not an ANSI overflow abort."""
    from pyspark.sql import functions as F

    # skew_report aggregates raw rows; to exercise the overflow regime
    # without 1e8 real rows, drive the same expression over a synthetic
    # counts/totals frame mirroring quality_checks' internals.
    df = spark.createDataFrame(
        [(100_000_000, 1_000_000_000, 10_000_000_000)],
        "n_rows long, _n_keys long, _total long",
    )
    r = df.select(
        F.expr(
            "CAST(CAST(n_rows AS DECIMAL(38,0)) * _n_keys * 100"
            " div _total AS BIGINT)"
        ).alias("skew_x100")
    ).head()
    assert r["skew_x100"] == 1_000_000_000


def test_skew_report_math_and_tiebreak(spark):
    from kafkatosparktokudu_spark.operators.quality_checks import skew_report

    rows = [("hot",)] * 60 + [("a",)] * 20 + [("b",)] * 20
    df = spark.createDataFrame(rows, "k string")
    out = skew_report(df, ["k"], top_n=2).collect()
    assert [r["k"] for r in out] == ["hot", "a"]  # count desc, then key asc
    hot = out[0]
    assert hot["n_rows"] == 60
    assert hot["share_ppm"] == 600000
    assert hot["skew_x100"] == 180  # 60 * 3 keys * 100 // 100 rows


def test_skew_report_no_global_sort_of_data(spark):
    from kafkatosparktokudu_spark.operators.quality_checks import skew_report

    df = spark.createDataFrame([(i % 7,) for i in range(1000)], "k bigint")
    plan = (
        skew_report(df, ["k"], top_n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # top-N is a partial sort


# --- sk04 / px13 / q93 (round-7 additions) ---


def test_hll_estimate_error_bound(spark):
    """HLL with p=12 has theoretical RSE 1.04/sqrt(4096) ~ 1.6%; assert
    the estimate lands within 5 sigma on the fixture, and that a doubled
    corpus (same distinct set) gives the IDENTICAL estimate — the sketch
    depends on the distinct set only."""
    from kafkatosparktokudu_spark.operators.sketch import hll_expr_estimate

    orders = load_table(spark, SF, "orders")
    r = hll_expr_estimate(orders, "o_custkey").head()
    assert abs(r["rel_err"]) <= 5 * 1.04 / (4096 ** 0.5), r
    doubled = orders.unionByName(orders)
    r2 = hll_expr_estimate(doubled, "o_custkey").head()
    assert r2["hll_estimate"] == r["hll_estimate"]


def test_temperature_mixture_flattens_head(spark):
    """alpha<1 must shrink the majority stratum's weight below its raw
    share and raise every minority's above it; weights sum to ~1; alpha=1
    degenerates to raw shares."""
    from kafkatosparktokudu_spark.operators.text import temperature_mixture

    docs = load_table(spark, SF, "documents")
    out = {r["lang"]: r for r in temperature_mixture(docs, "lang").collect()}
    total = sum(r["n_docs"] for r in out.values())
    for lang, r in out.items():
        share = r["n_docs"] / total
        if share == max(x["n_docs"] for x in out.values()) / total:
            assert r["weight"] < share, (lang, r)
        else:
            assert r["weight"] > share, (lang, r)
    assert abs(sum(r["weight"] for r in out.values()) - 1.0) < 1e-4
    flat = {r["lang"]: r for r in temperature_mixture(docs, "lang", alpha=1.0).collect()}
    for lang, r in flat.items():
        assert abs(r["weight"] - r["n_docs"] / total) < 1e-6


def test_rolling_zscore_flags_planted_spike(spark):
    """A flat-ish series with one 100x spike: exactly the spike is
    flagged; the window excludes the current row, so the spike can't
    suppress its own score; rows before min_window are never scored."""
    import datetime as dt

    from kafkatosparktokudu_spark.operators.quality_checks import (
        rolling_zscore_anomalies,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(30):
        v = 100.0 + (i % 3)  # 100/101/102 cycle: nonzero variance
        if i == 25:
            v = 10000.0
        rows.append((i, base + dt.timedelta(seconds=i), 7, "t", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    got = rolling_zscore_anomalies(df).collect()
    assert [r["event_id"] for r in got] == [25], got
    assert got[0]["zscore"] > 100  # ~1e4 deviation over ~0.8 std


def test_hll_union_matches_direct_estimate_and_not_sum(spark):
    """Bucket-wise max of per-day registers IS the register table of the
    whole stream: the __union__ estimate must equal hll_expr_estimate run
    directly on the column — and sit far below the sum of per-day
    estimates (which double-counts returning users)."""
    from kafkatosparktokudu_spark.operators.sketch import (
        hll_expr_estimate,
        hll_union_by_group,
    )

    ev = load_table(spark, SF, "events")
    rows = {r["day"]: r for r in hll_union_by_group(
        ev, "user_id", "CAST(ts AS DATE)", "day").collect()}
    direct = hll_expr_estimate(ev, "user_id").head()
    union = rows.pop("__union__")
    assert union["hll_estimate"] == direct["hll_estimate"]
    assert union["n_exact"] == direct["n_exact"]
    day_sum = sum(r["hll_estimate"] for r in rows.values())
    assert day_sum > 5 * union["hll_estimate"]  # heavy overlap on fixture


def test_quality_classifier_monotone_and_splits(spark):
    """The logistic gate must be monotone in its features (higher
    diversity -> higher p_keep, more stopword saturation -> lower) and
    must actually split the fixture corpus at the default threshold."""
    from kafkatosparktokudu_spark.operators.text import quality_classifier_scores

    docs = load_table(spark, SF, "documents")
    rows = quality_classifier_scores(docs).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows)
    # monotonicity on synthetic extremes
    probe = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s", 400),
            (2, "the the the the the the", "en", "s", 400),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p = {r["doc_id"]: r["p_keep"] for r in quality_classifier_scores(probe).collect()}
    assert p[1] > p[2]


def test_ngram_novelty_planted_copy(spark):
    """A doc duplicated verbatim has ZERO unique shingles (novelty 0);
    an unrelated doc keeps novelty 1e6; short docs (<k tokens) are
    absent from the output."""
    from kafkatosparktokudu_spark.operators.text import ngram_novelty_scores

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),     # verbatim copy
            (3, "totally different words entirely here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ngram_novelty_scores(docs).collect()}
    assert 4 not in out
    assert out[1]["novelty_ppm"] == 0 and out[2]["novelty_ppm"] == 0
    assert out[3]["novelty_ppm"] == 1_000_000


def test_bpe_merges_match_reference_implementation(spark):
    """bpe_train_merges == the Sennrich reference algorithm (pure-Python
    get_stats/merge_vocab with overlapping pair counts and greedy
    left-to-right merge), on a corpus with a planted same-pair run
    ('aaaa') that distinguishes greedy non-overlap from naive replace."""
    import collections
    import re

    from kafkatosparktokudu_spark.operators.text import bpe_train_merges

    texts = [
        "the cat sat on the mat",
        "the cats sat aaaa aaa",
        "low lower lowest newest",
        "newer news the lowly aaaa",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = [
        (r.step, r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_train_merges(docs, 8).collect()
    ]

    words = collections.Counter()
    for t in texts:
        for w in re.findall(r"[A-Za-z]+", t):
            words[w.lower()] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    ref = []
    for step in range(1, 9):
        stats = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += f
        if not stats:
            break
        (l, r), c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        ref.append((step, l, r, c))
        new: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    assert got == ref
    assert len(got) == 8


def test_bpe_merges_rejects_bad_n_and_stops_when_exhausted(spark):
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id INT, text STRING")
    with _pytest.raises(ValueError):
        bpe_train_merges(docs, 0)
    # 'ab' exhausts after one merge (single symbol left) — no phantom rows.
    rows = bpe_train_merges(docs, 5).collect()
    assert [(r.step, r.left_sym, r.right_sym, r.pair_count) for r in rows] == [
        (1, "a", "b", 2)
    ]


def test_bpe_encode_matches_reference_implementation(spark):
    """bpe_encode_stats == pure-Python train-then-encode: learn 8 merges
    (Sennrich reference), greedily apply them in order to every word,
    and count tokens per document. Includes a doc with no alphabetic
    words (all-zero stats) and the planted 'aaaa' same-pair run."""
    import collections
    import re

    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.text import bpe_encode_stats

    texts = [
        "the cat sat on the mat",
        "the cats sat aaaa aaa",
        "low lower lowest newest",
        "newer news the lowly aaaa",
        "123 456 --- !!!",  # no [A-Za-z]+ words
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    with _pytest.raises(ValueError):
        bpe_encode_stats(docs, 0)
    got = sorted(
        (r.doc_id, r.n_words, r.n_tokens, r.n_chars_alpha, r.cpt_ppm)
        for r in bpe_encode_stats(docs, 8).collect()
    )

    words = collections.Counter()
    for t in texts:
        for w in re.findall(r"[A-Za-z]+", t):
            words[w.lower()] += 1
    vocab = {tuple(w): f for w, f in words.items()}
    merges = []
    for _ in range(8):
        stats = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += f
        if not stats:
            break
        (l, r), _c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((l, r))
        new: dict[tuple, int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new

    def encode_len(w):
        syms = list(w)
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    ref = []
    for d, t in enumerate(texts):
        ws = [w.lower() for w in re.findall(r"[A-Za-z]+", t)]
        n_words = len(ws)
        n_tokens = sum(encode_len(w) for w in ws)
        n_chars = sum(len(w) for w in ws)
        cpt = n_chars * 1_000_000 // n_tokens if n_tokens else 0
        ref.append((d, n_words, n_tokens, n_chars, cpt))
    assert got == sorted(ref)
    assert got[5 - 1][1:] == (0, 0, 0, 0)


def test_snapshot_diff_classes_and_null_semantics(spark):
    """added/removed/changed/unchanged classification; NULL vs NULL is
    equal, NULL vs value differs; diff_cols names exactly the differing
    columns (sorted); schema-evolved extra column is ignored."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 20.0), (3, "c", None), (4, "d", 40.0)],
        "id INT, s STRING, v DOUBLE",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, None, 21.0), (3, None, None), (5, "e", 50.0)],
        "id INT, s STRING, v DOUBLE",
    ).withColumn("extra", F.lit(1))
    out = {
        r["id"]: (r["change_type"], list(r["diff_cols"]))
        for r in snapshot_diff(old, new, ["id"]).collect()
    }
    assert out == {
        1: ("unchanged", []),  # exact match
        2: ("changed", ["v"]),  # NULL s == NULL s; v differs
        3: ("changed", ["s"]),  # 'c' vs NULL differs; NULL v == NULL v
        4: ("removed", []),
        5: ("added", []),
    }
    with _pytest.raises(ValueError):
        snapshot_diff(old, new, [])
    with _pytest.raises(ValueError):
        snapshot_diff(old, new, ["id"], compare_cols=["extra"])


def test_kmv_overlap_estimates_within_bound_and_exact_when_small(spark):
    """Planted overlap: A = ids 0..999, B = ids 500..1499 (exact overlap
    500). KMV k=128 estimates must land within the ~3/sqrt(k) relative
    envelope; with k > |A u B| the sketch path must be EXACT (theta=M)."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.sketch import kmv_overlap

    rows = [(i, "a") for i in range(1000)] + [
        (i, "b") for i in range(500, 1500)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, side STRING")
    out = kmv_overlap(
        df, "CAST(id AS STRING)", "side = 'a'", "side = 'b'", k=128
    ).collect()[0]
    assert (out.n_a_exact, out.n_b_exact, out.n_inter_exact) == (
        1000,
        1000,
        500,
    )
    # union exact = 1500, inter exact = 500; 3/sqrt(128) ~ 0.27
    assert abs(out.est_union - 1500) <= 0.30 * 1500
    assert abs(out.est_inter - 500) <= 0.30 * 1500
    # exact regime: k larger than both sides -> theta = 2^60, estimates exact
    small = kmv_overlap(
        df.filter("id < 50 OR (id >= 500 AND id < 520)"),
        "CAST(id AS STRING)",
        "side = 'a'",
        "side = 'b'",
        k=128,
    ).collect()[0]
    assert small.theta == 1 << 60
    assert small.est_union == small.n_sample
    assert small.est_inter == small.n_inter_exact
    with _pytest.raises(ValueError):
        kmv_overlap(df, "CAST(id AS STRING)", "side='a'", "side='b'", k=1)


def test_histogram_quantiles_mergeable_and_within_bin(spark):
    """sk07: (1) per-shard partial histograms folded by per-bin SUM give
    IDENTICAL estimates to the direct sketch (mergeability — the reason
    the sketch exists); (2) every estimate lands inside the covering bin
    of the true quantile, so |est - exact| < bin_w; (3) the domain guard
    raises on negative values."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.sketch import (
        histogram_bins,
        histogram_quantiles,
        histogram_quantiles_from_bins,
    )

    vals = [(i, (i * 7919) % 100000) for i in range(2000)]
    df = spark.createDataFrame(vals, "id INT, v INT")
    direct = sorted(
        tuple(r) for r in histogram_quantiles(
            df, "CAST(v AS BIGINT)", bin_w=1024
        ).collect()
    )

    # mergeability: three disjoint shards, unioned partial state
    parts = [
        histogram_bins(df.filter(f"id % 3 = {m}"), "CAST(v AS BIGINT)", bin_w=1024)
        for m in range(3)
    ]
    u = parts[0].unionByName(parts[1]).unionByName(parts[2])
    merged = sorted(
        tuple(r)
        for r in histogram_quantiles_from_bins(u, bin_w=1024).collect()
    )
    assert merged == direct

    # within-bin error bound vs the exact lower quantile
    xs = sorted(v for _, v in vals)
    n = len(xs)
    for q_ppm, target_rank, bin_id, lo, bin_n, cum_before, est in direct:
        r = (q_ppm * n + 999999) // 1000000
        assert target_rank == r
        exact = xs[r - 1]
        assert lo <= exact < lo + 1024
        assert lo <= est < lo + 1024

    # domain guard
    bad = spark.createDataFrame([(-5,)], "v INT")
    with _pytest.raises(Exception, match="histogram_bins"):
        histogram_bins(bad, "CAST(v AS BIGINT)").collect()


def test_ohlc_candles_endpoints_deterministic(spark):
    """q95 semantics on a hand-built hour: open = value at min
    (ts, event_id), close at max, equal-ts ties broken by event_id."""
    from pyspark.sql import functions as F

    rows = [
        # (event_id, ts, value) — two events share ts 10:00:05
        (1, "2024-01-01 10:00:05", 5.0),
        (2, "2024-01-01 10:00:05", 7.0),
        (3, "2024-01-01 10:30:00", 1.0),
        (4, "2024-01-01 10:59:59", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id BIGINT, ts STRING, value DOUBLE"
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit("click").alias("event_type"),
        "value",
    )
    base = df.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bucket_ts"),
        F.struct(
            F.col("ts"), F.col("event_id"),
            F.col("value").cast("decimal(12,2)").alias("v"),
        ).alias("s"),
        F.col("value").cast("decimal(12,2)").alias("v"),
    )
    out = base.groupBy("event_type", "bucket_ts").agg(
        F.min("s").getField("v").cast("double").alias("open_v"),
        F.max("v").cast("double").alias("high_v"),
        F.min("v").cast("double").alias("low_v"),
        F.max("s").getField("v").cast("double").alias("close_v"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("v").cast("double").alias("v_sum"),
    ).collect()
    assert len(out) == 1
    r = out[0]
    # event_id 1 (not 2) opens the equal-ts pair; 4 closes the hour
    assert (r.open_v, r.high_v, r.low_v, r.close_v, r.n_events, r.v_sum) == (
        5.0, 9.0, 1.0, 9.0, 4, 22.0
    )


def test_epoch_shuffle_is_balanced_reproducible_permutation(spark):
    """px15: positions are exactly 1..N (a bijection), shard sizes are
    balanced to within 1, the same epoch reproduces identically, a
    different epoch yields a different permutation, and n_shards < 1
    raises."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.layout import epoch_shuffle

    df = spark.createDataFrame(
        [(i,) for i in range(501)], "doc_id BIGINT"
    )
    with _pytest.raises(ValueError):
        epoch_shuffle(df, n_shards=0)
    a = {r.doc_id: (r.position, r.shard_id, r.pos_in_shard)
         for r in epoch_shuffle(df, epoch=1, n_shards=8).collect()}
    assert sorted(p for p, _, _ in a.values()) == list(range(1, 502))
    for d, (p, s, ps) in a.items():
        assert s == (p - 1) % 8 and ps == (p - 1) // 8
    counts = [0] * 8
    for _, s, _ in a.values():
        counts[s] += 1
    assert max(counts) - min(counts) <= 1
    b = {r.doc_id: r.position
         for r in epoch_shuffle(df, epoch=1, n_shards=8).collect()}
    assert b == {d: p for d, (p, _, _) in a.items()}
    c = {r.doc_id: r.position
         for r in epoch_shuffle(df, epoch=2, n_shards=8).collect()}
    assert c != b
    assert sorted(c.values()) == list(range(1, 502))


def test_kcore_peel_matches_exact_kcore_on_planted_graph(spark):
    """gr04: a 4-clique with a 3-node pendant chain hung off one clique
    vertex. The 2-core is exactly the clique — the chain peels one node
    per round (a multi-round cascade, so this also pins the synchronous
    round semantics); every surviving degree is the in-core degree.
    k=5 empties the graph; k < 1 raises."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.graph import kcore_peel

    clique = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + chain, "a BIGINT, b BIGINT")
    with _pytest.raises(ValueError):
        kcore_peel(edges, 0)
    got = sorted(
        (r.node, r.core_deg) for r in kcore_peel(edges, 2, rounds=12).collect()
    )
    assert got == [(0, 3), (1, 3), (2, 3), (3, 3)]
    assert kcore_peel(edges, 5, rounds=12).collect() == []
    # insufficient rounds -> the documented N-round state (chain only
    # partially peeled), still deterministic
    partial = sorted(
        r.node for r in kcore_peel(edges, 2, rounds=1).collect()
    )
    assert partial == [0, 1, 2, 3, 10, 11]


def test_ngram_novelty_k_is_threaded(spark):
    """tx18's k parameter must reach the shingler (r8 advice: it was
    silently ignored — every k returned 3-gram novelty).  A 3-token
    repeated phrase inside otherwise-unique text is corpus-common at k=3
    but each doc's 2-grams overlap differently, so the ppm MUST differ."""
    from kafkatosparktokudu_spark.operators.text import ngram_novelty_scores

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "iota kappa alpha beta gamma lambda mu nu"),
        ],
        "doc_id bigint, text string",
    )
    k3 = {r["doc_id"]: tuple(r) for r in ngram_novelty_scores(docs, k=3).collect()}
    k2 = {r["doc_id"]: tuple(r) for r in ngram_novelty_scores(docs, k=2).collect()}
    assert k2 != k3
    # doc1 at k=3: 6 shingles, one shared ("alpha beta gamma") -> 5 unique
    assert (k3[1][1], k3[1][2]) == (6, 5)
    # doc1 at k=2: 7 shingles, two shared ("alpha beta", "beta gamma")
    assert (k2[1][1], k2[1][2]) == (7, 5)


def test_char_shingles_null_text_yields_empty_array(spark):
    """NULL text contract (r8 advice): empty array, never NULL — size()
    must be 0, not -1, and explode must drop the row, not crash."""
    from kafkatosparktokudu_spark.operators.dedup import char_shingles

    df = spark.createDataFrame(
        [(1, None), (2, "abcdefghij"), (3, "short")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n"], r["isnull"])
        for r in df.select(
            "doc_id",
            F.size(char_shingles("text")).alias("n"),
            char_shingles("text").isNull().alias("isnull"),
        ).collect()
    }
    assert got[1] == (0, False)
    assert got[2] == (3, False)   # 10 chars -> 3 distinct 8-gram shingles
    assert got[3] == (0, False)   # shorter than k


def test_bpe_degenerate_corpus_engine_oracle_parity(spark):
    """A corpus of single-char words has ZERO adjacent pairs: the engine's
    merge loop breaks at step 1; the oracle's remaining s-CTEs must carry
    sym through UNCHANGED (r8 advice: the bare replace concatenated NULL
    best-pair symbols and nulled every sym, zeroing n_tokens)."""
    import duckdb
    import pandas as pd

    from kafkatosparktokudu_spark.operators.text import bpe_encode_stats
    from kafkatosparktokudu_spark.plans.oracle import _bpe_encode_sql

    rows = [(1, "a b c a b a"), (2, "x y z"), (3, "!!! ???")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(tuple(r) for r in bpe_encode_stats(docs, 8).collect())

    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(tuple(r) for r in con.execute(_bpe_encode_sql(8)).fetchall())
    assert got == want
    # every surviving word is one single-char token
    assert got[0] == (1, 6, 6, 6, 1_000_000)
    assert got[2] == (3, 0, 0, 0, 0)


def test_zipf_stats_planted_corpus(spark):
    """tx21 integer fields are exact on a hand-countable corpus and the
    fitted slope equals the same least-squares computed independently
    (numpy) on the rounded-log points."""
    import math

    import numpy as np

    from kafkatosparktokudu_spark.operators.text import zipf_stats

    # freqs: aa=8, bb=4, cc=2, dd=1 -> vocab 4, tokens 15, hapax 1
    docs = spark.createDataFrame(
        [(1, "aa " * 8 + "bb " * 4 + "cc " * 2 + "dd")],
        "doc_id bigint, text string",
    )
    r = zipf_stats(docs, top_share_n=2).collect()[0]
    assert (r["n_vocab"], r["n_tokens"], r["n_hapax"]) == (4, 15, 1)
    assert r["top_share_ppm"] == (8 + 4) * 1_000_000 // 15
    x = np.array([round(math.log(k), 6) for k in (1, 2, 3, 4)])
    y = np.array([round(math.log(f), 6) for f in (8, 4, 2, 1)])
    want = np.polyfit(x, y, 1)[0]
    assert abs(r["zipf_slope"] - want) < 1e-6
    # freqs halve per rank-double => slope ~ -log2(e)*ln2 = -1 exactly-ish
    assert -1.6 < r["zipf_slope"] < -1.4  # ranks 1..4, freqs 8..1: ~ -1.5


def test_quality_aware_survivors_pick_best_not_min_id(spark):
    """px16 semantics: within a near-dup cluster the argmax-p_keep doc
    survives (id tie-break), NOT the lowest id (px02's rule); unpaired
    docs are singleton survivors."""
    from kafkatosparktokudu_spark.operators.dedup import (
        neardup_pairs_jaccard,
        quality_aware_survivors,
    )
    from kafkatosparktokudu_spark.operators.text import quality_classifier_scores

    base = "the quick brown fox jumps over the lazy dog again and again "
    rich = (
        base
        + "while countless distinct vivid words sparkle brightly across "
        + "meadows rivers mountains valleys forests deserts oceans islands"
    )
    docs = spark.createDataFrame(
        [
            (1, base * 3, len(base * 3)),          # dup cluster, repetitive
            (2, base * 3 + "zz", len(base * 3) + 2),
            (3, base * 2 + rich, len(base * 2 + rich)),  # same cluster, best
            (9, "completely unrelated solitary text", 34),
        ],
        "doc_id bigint, text string, n_chars int",
    )
    pairs = neardup_pairs_jaccard(docs, threshold=0.2)
    assert pairs.count() >= 2  # 1-2, 1-3 (or 2-3) band together
    out = {
        r["doc_id"]: r
        for r in quality_aware_survivors(
            docs, quality_classifier_scores(docs), pairs
        ).collect()
    }
    assert out[9]["is_survivor"] and out[9]["n_members"] == 1
    cluster = {d for d in (1, 2, 3) if out[d]["cluster_id"] == 1}
    assert cluster == {1, 2, 3}
    best = max((out[d]["p_keep"], -d) for d in cluster)
    survivors = [d for d in cluster if out[d]["is_survivor"]]
    assert survivors == [-best[1]]
    assert survivors == [3] != [min(cluster)]  # quality beat min-id


def test_mmr_rerank_diversifies_clone_cluster(spark):
    """MMR semantics on a planted geometry: three near-clones of the query
    direction dominate plain top-k, but MMR must take ONE clone (rank 1 =
    argmax relevance) and then prefer the moderately-relevant DIVERSE
    direction over the remaining clones."""
    from kafkatosparktokudu_spark.operators.similarity import (
        brute_force_topk,
        mmr_rerank,
    )

    d = 8
    def vec(*pairs):
        v = [0.0] * d
        for i, x in pairs:
            v[i] = x
        return v

    rows = [
        (0, "q", vec((0, 1.0))),                      # the query itself
        (1, "clone", vec((0, 1.0), (1, 0.01))),
        (2, "clone", vec((0, 1.0), (1, 0.02))),
        (3, "clone", vec((0, 1.0), (1, 0.03))),
        (4, "diverse", vec((0, 0.5), (2, 0.9))),      # rel ~0.49, orthogonal-ish
        (5, "far", vec((3, 1.0))),                    # rel 0
    ]
    emb = spark.createDataFrame(
        [(i, l, [float(x) for x in v]) for i, l, v in rows],
        "vec_id bigint, label string, embedding array<float>",
    )
    q = vec((0, 1.0))
    plain = [r["vec_id"] for r in brute_force_topk(emb, q, k=3, exclude_id=0).collect()]
    assert plain == [1, 2, 3]  # top-k is all clones
    got = mmr_rerank(emb, q, k=3, pool_n=5, exclude_id=0).collect()
    order = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"])]
    assert order[0] in (1, 2, 3)       # best relevance first
    assert order[1] == 4               # diversity beats the second clone
    assert set(order) != set(plain)


def test_sequence_packing_gapless_spans_and_chunks(spark):
    """px17 invariants on crafted lengths: spans tile the token stream
    gaplessly in id order, chunk arithmetic handles exact-boundary and
    multi-chunk docs."""
    from kafkatosparktokudu_spark.operators.layout import sequence_packing

    docs = spark.createDataFrame(
        [
            (1, "w " * 10),       # 10 tokens: [0,10) chunk 0
            (2, "w " * 6),        # [10,16) chunk 0 -> 1 (boundary 8? no C=8)
            (3, "w " * 20),       # [16,36)
            (4, "w"),             # [36,37)
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in sequence_packing(docs, chunk_tokens=8).collect()
    }
    assert [out[i]["n_tok"] for i in (1, 2, 3, 4)] == [10, 6, 20, 1]
    # gapless: starts follow cumulative sums
    assert [out[i]["tok_start"] for i in (1, 2, 3, 4)] == [0, 10, 16, 36]
    # doc1 [0,10): chunks 0-1; doc2 [10,16): chunk 1 only; doc3 [16,36):
    # chunks 2,3,4; doc4 [36,37): chunk 4
    assert (out[1]["first_chunk"], out[1]["n_chunks_spanned"]) == (0, 2)
    assert (out[2]["first_chunk"], out[2]["n_chunks_spanned"]) == (1, 1)
    assert (out[3]["first_chunk"], out[3]["n_chunks_spanned"]) == (2, 3)
    assert (out[4]["first_chunk"], out[4]["n_chunks_spanned"]) == (4, 1)


def test_sequence_packing_no_global_sort(spark):
    """px17's prefix sum must be the two-stage pattern: a keyed window per
    id range plus broadcast offsets — never a global rangepartitioning
    sort or a corpus-sized single partition."""
    from kafkatosparktokudu_spark.operators.layout import sequence_packing
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = sequence_packing(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(_rng" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bfs_hops_planted_graph(spark):
    """gr05 semantics on a planted chain+branch: exact hop levels, the
    disconnected component absent, rounds cap truncates the frontier."""
    from kafkatosparktokudu_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, branch 2-10, island 100-101
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (100, 101)],
        "a bigint, b bigint",
    )
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, source=1).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 10: 2, 4: 3, 5: 4}
    capped = {
        r["node"]: r["hops"]
        for r in bfs_hops(edges, source=1, rounds=2).collect()
    }
    assert capped == {1: 0, 2: 1, 3: 2, 10: 2}
    # reverse-direction reachability (undirected contract)
    back = {r["node"]: r["hops"] for r in bfs_hops(edges, source=5).collect()}
    assert back[1] == 4 and back[10] == 4


def test_weighted_median_planted_values(spark):
    """q96 lower-median rule on hand-computable weights, including the
    exact-half tie (2·cum == W picks that value) and a heavy single value
    dominating the volume."""
    from kafkatosparktokudu_spark.operators.quality_checks import weighted_median

    df = spark.createDataFrame(
        # group A: values 1,2,3 weights 1,1,2 -> W=4, cum(2)=2 -> 2*2>=4 -> median 2
        # group B: heavy tail: value 10 w=9, value 1 w=1 -> median 10? cum(1)=1, 2<10; cum(10)=10 -> 10
        # group C: duplicate rows of one value aggregate first
        [("A", 1.0, 1.0), ("A", 2.0, 1.0), ("A", 3.0, 2.0),
         ("B", 1.0, 1.0), ("B", 10.0, 9.0),
         ("C", 5.0, 0.5), ("C", 5.0, 0.5), ("C", 7.0, 0.5)],
        "g string, v double, w double",
    )
    got = {
        r["g"]: (r["w_median"], r["total_weight"])
        for r in weighted_median(df, "g", "v", "w").collect()
    }
    assert got == {"A": (2.0, 4.0), "B": (10.0, 10.0), "C": (5.0, 1.5)}


def test_fk_integrity_orphans_and_nulls(spark):
    """dq06 on a planted parent/child: NULL keys counted separately from
    orphans; coverage counts distinct referenced parents."""
    from kafkatosparktokudu_spark.operators.quality_checks import (
        fk_integrity_report,
    )

    parent = spark.createDataFrame([(1,), (2,), (3,), (4,)], "pk bigint")
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk bigint"
    )
    r = fk_integrity_report([("c->p", child, "fk", parent, "pk")]).collect()[0]
    assert (r["n_child"], r["n_null_keys"], r["n_orphans"]) == (5, 1, 1)
    assert r["parent_coverage_ppm"] == 2 * 1_000_000 // 4


def test_knn_label_vote_majority_and_tiebreak(spark):
    """ss12 semantics on a planted geometry: clear majority wins; a 2-2
    split (k=4) breaks to the SMALLER label."""
    from kafkatosparktokudu_spark.operators.similarity import knn_label_vote

    d = 4
    def vec(i, x=1.0):
        v = [0.0] * d
        v[i] = x
        return v

    # query 0 at axis0; nearest four alternate labels 7,7,1,1 by cosine,
    # the fifth is another 7
    rows = [
        (0, 9, vec(0)),               # query (label irrelevant)
        (1, 7, [1.0, 0.1, 0.0, 0.0]),
        (2, 7, [1.0, 0.2, 0.0, 0.0]),
        (3, 1, [1.0, 0.3, 0.0, 0.0]),
        (4, 1, [1.0, 0.4, 0.0, 0.0]),
        (5, 7, [0.9, 0.5, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        [(i, l, [float(x) for x in v]) for i, l, v in rows],
        "vec_id bigint, label bigint, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0)
    # k=5: labels {7,7,1,1,7} -> clear 7 majority
    maj = {r["q_id"]: (r["pred_label"], r["n_votes"]) for r in
           knn_label_vote(emb, q, k=5, queries_are_subset=True).collect()}
    assert maj[0] == (7, 3)
    # k=4: labels {7,7,1,1} -> 2-2 tie breaks to the SMALLER label
    tie = {r["q_id"]: (r["pred_label"], r["n_votes"]) for r in
           knn_label_vote(emb, q, k=4, queries_are_subset=True).collect()}
    assert tie[0] == (1, 2)


def test_inference_batches_shape_homogeneous(spark):
    """mm07: batches never mix (fmt, size_bucket); slots fill in doc_id
    order; no batch exceeds batch_size."""
    from kafkatosparktokudu_spark.operators.multimodal import inference_batches

    docs = spark.createDataFrame(
        [(i, "x" * (50 + 40 * (i % 5))) for i in range(60)],
        "doc_id bigint, text string",
    )
    out = inference_batches(docs, batch_size=4, size_bucket_bytes=64).collect()
    assert len(out) == 60
    by_batch = {}
    for r in out:
        by_batch.setdefault(
            (r["fmt"], r["size_bucket"], r["batch_idx"]), []
        ).append((r["pos_in_batch"], r["doc_id"]))
    for members in by_batch.values():
        assert len(members) <= 4
        members.sort()
        # positions dense from 0, doc_ids ascending with position
        assert [p for p, _ in members] == list(range(len(members)))
        ids = [d for _, d in members]
        assert ids == sorted(ids)


def test_mixture_epoch_plan_planted(spark):
    """px18 on a two-source corpus with hand-countable tokens: exact
    integer columns and the alpha<1 flattening property (the small source
    gets MORE than its natural share; epochs > 1e6 ppm means upsampling)."""
    import math

    from kafkatosparktokudu_spark.operators.text import mixture_epoch_plan

    docs = spark.createDataFrame(
        [(1, "big", "w " * 900), (2, "big", "w " * 700), (3, "small", "w " * 400)],
        "doc_id bigint, source string, text string",
    )
    out = {
        r["source"]: r
        for r in mixture_epoch_plan(docs, token_budget=2000).collect()
    }
    assert out["big"]["n_tokens"] == 1600 and out["small"]["n_tokens"] == 400
    assert out["big"]["share_ppm"] == 1600 * 1_000_000 // 2000
    pa_b, pa_s = round(math.sqrt(0.8), 12), round(math.sqrt(0.2), 12)
    w_b = pa_b / (pa_b + pa_s)
    assert abs(out["big"]["weight"] - round(w_b, 6)) < 1e-9
    assert out["small"]["weight"] > 0.2  # flattened above natural share
    assert out["small"]["target_tokens"] == math.floor((1 - w_b) * 2000)
    # small source repeats (>1 epoch), big undersampled (<1 epoch)
    assert out["small"]["epochs_ppm"] > 1_000_000 > out["big"]["epochs_ppm"]


def test_soft_dedup_weights_planted(spark):
    """dd15: a 3-doc near-dup cluster gets weight 333333 ppm each; the
    unpaired doc keeps full weight."""
    from kafkatosparktokudu_spark.operators.dedup import (
        neardup_pairs_jaccard,
        soft_dedup_weights,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    docs = spark.createDataFrame(
        [
            (1, base * 2),
            (2, base * 2 + "lambda"),
            (3, base * 2 + "mu nu"),
            (9, "entirely different text with other words"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in soft_dedup_weights(
            docs, neardup_pairs_jaccard(docs, threshold=0.2)
        ).collect()
    }
    assert {out[d]["cluster_id"] for d in (1, 2, 3)} == {1}
    for d in (1, 2, 3):
        assert (out[d]["cluster_size"], out[d]["weight_ppm"]) == (3, 333333)
    assert (out[9]["cluster_size"], out[9]["weight_ppm"]) == (1, 1_000_000)


def test_stratified_shards_exact_balance(spark):
    """px19: per-(shard, band) counts differ by at most 1 across shards
    (exact round-robin within every band), the assignment is a bijection
    onto (shard, pos) slots, and a rerun reproduces it."""
    from kafkatosparktokudu_spark.operators.layout import stratified_shards

    df = spark.createDataFrame(
        [(i, (i % 97) / 100.0) for i in range(500)],
        "doc_id bigint, p_keep double",
    )
    out = stratified_shards(df, n_shards=4).collect()
    assert len(out) == 500
    from collections import Counter

    per = Counter((r["band"], r["shard_id"]) for r in out)
    bands = {r["band"] for r in out}
    for b in bands:
        counts = [per[(b, s)] for s in range(4)]
        assert max(counts) - min(counts) <= 1, (b, counts)
    # bijection onto slots: (band, shard, pos) unique
    slots = {(r["band"], r["shard_id"], r["pos_in_shard"]) for r in out}
    assert len(slots) == 500
    again = {
        (r["doc_id"], r["shard_id"])
        for r in stratified_shards(df, n_shards=4).collect()
    }
    assert again == {(r["doc_id"], r["shard_id"]) for r in out}


def test_stratified_shards_no_global_sort(spark):
    """px19's rank must be the grouped two-stage pattern — keyed window
    per (band, range) + broadcast offsets, never a global sort."""
    from kafkatosparktokudu_spark.operators.layout import stratified_shards
    from kafkatosparktokudu_spark.operators.text import quality_classifier_scores
    from kafkatosparktokudu_spark.sources.batch import load_table

    q = quality_classifier_scores(
        load_table(spark, "/root/testdata/sf0.001", "documents")
    ).select("doc_id", "p_keep")
    plan = stratified_shards(q)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(band" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_source_overlap_matrix_planted(spark):
    """tx22 on planted sources: a wholesale mirror pair (high Jaccard,
    both containments ~1e6), a subset scrape (asymmetric containment),
    and a disjoint source that appears in NO pair row."""
    from kafkatosparktokudu_spark.operators.text import source_overlap_matrix

    big = " ".join(f"w{i}" for i in range(40))
    half = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "mirror1", big),
            (2, "mirror2", big),
            (3, "scrape", half),
            (4, "disjoint", "x y z q r s t u v"),
        ],
        "doc_id bigint, source string, text string",
    )
    rows = {
        (r["src_a"], r["src_b"]): r
        for r in source_overlap_matrix(docs).collect()
    }
    m = rows[("mirror1", "mirror2")]
    assert m["jaccard_ppm"] == 1_000_000
    assert m["containment_a_ppm"] == m["containment_b_ppm"] == 1_000_000
    s = rows[("mirror1", "scrape")]
    # scrape's 18 shingles (20 tokens) are all inside mirror1's 38
    assert s["containment_b_ppm"] == 1_000_000
    assert s["containment_a_ppm"] == 18 * 1_000_000 // 38
    assert not any("disjoint" in k for k in rows)


def test_fk_integrity_empty_relations_raises(spark):
    """dq06 guard: an empty relations list is a caller error, not an
    IndexError from result assembly."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.quality_checks import (
        fk_integrity_report,
    )

    with _pytest.raises(ValueError, match="non-empty"):
        fk_integrity_report([])


def test_inference_batches_non_power_of_two_size(spark):
    """mm07 batch_idx uses exact integer division (`div`), so a
    non-power-of-two batch_size still yields dense, bounded batches —
    the float-division + bigint-cast construction this replaces is a
    rounding hazard exactly here."""
    from kafkatosparktokudu_spark.operators.multimodal import inference_batches

    docs = spark.createDataFrame(
        [(i, "y" * 80) for i in range(100)], "doc_id bigint, text string"
    )
    out = inference_batches(docs, batch_size=7, size_bucket_bytes=10_000).collect()
    assert len(out) == 100
    groups = {}
    for r in out:
        groups.setdefault((r["fmt"], r["size_bucket"]), []).append(
            (r["doc_id"], r["batch_idx"], r["pos_in_batch"])
        )
    assert len(groups) == 3  # fmt = doc_id % 3, one size bucket
    for members in groups.values():
        members.sort()
        for slot, (_, bi, pos) in enumerate(members):
            assert bi == slot // 7 and pos == slot % 7


def test_leakage_safe_split_cluster_atomicity(spark):
    """px20: every member of a planted near-dup cluster lands in the SAME
    split (split key = cluster id hash), singletons split independently,
    eval_ppm=0 sends everything to train, bad ppm raises."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.dedup import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id bigint, text string"
    )
    # planted clusters: {0,1,2}, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in leakage_safe_split(docs, pairs, eval_ppm=500_000).collect()
    }
    assert len(out) == 40
    assert out[0] == out[1] == out[2]          # whole cluster, one split
    assert out[10] == out[11]
    assert out[0][0] == 0 and out[10][0] == 10  # min-id cluster labels
    splits = {s for _, s in out.values()}
    assert splits == {"train", "eval"}          # 50% ppm: both present
    all_train = leakage_safe_split(docs, pairs, eval_ppm=0).collect()
    assert {r["split"] for r in all_train} == {"train"}
    with _pytest.raises(ValueError, match="eval_ppm"):
        leakage_safe_split(docs, pairs, eval_ppm=2_000_000)


def test_budget_selection_prefix_greedy(spark):
    """px21 semantics on a planted frame: selection order is
    (p_keep DESC, id ASC); the first overflow doc AND everything after
    it are excluded even when a later small doc would still fit (the
    no-backfill prefix rule); budget 0 selects nothing."""
    import pytest as _pytest

    from kafkatosparktokudu_spark.operators.layout import budget_selection

    rows = [
        # (doc_id, p_keep, n_tokens)
        (1, 0.9, 50),
        (2, 0.9, 30),    # tie with doc 1 -> doc 1 first (id ASC)
        (3, 0.8, 100),   # cum 180
        (4, 0.7, 200),   # cum 380 > 200 -> overflow, excluded
        (5, 0.6, 5),     # would fit (85 left) but comes after overflow
    ]
    scored = spark.createDataFrame(
        rows, "doc_id bigint, p_keep double, n_tokens bigint"
    )
    out = {
        r["doc_id"]: (r["cum_tokens"], r["selected"])
        for r in budget_selection(scored, token_budget=200).collect()
    }
    assert out == {
        1: (50, True),
        2: (80, True),
        3: (180, True),
        4: (380, False),
        5: (385, False),
    }
    none = budget_selection(scored, token_budget=0).collect()
    assert all(not r["selected"] for r in none)
    with _pytest.raises(ValueError, match="token_budget"):
        budget_selection(scored, token_budget=-1)


def test_budget_selection_no_global_sort(spark):
    """px21's running sum must be the two-stage pattern over score
    ranges — never a global rangepartitioning sort or a corpus-sized
    single partition."""
    from kafkatosparktokudu_spark.operators.layout import budget_selection
    from kafkatosparktokudu_spark.operators.text import (
        quality_classifier_scores,
        token_stats,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = (
        quality_classifier_scores(docs)
        .select("doc_id", "p_keep")
        .join(token_stats(docs).select("doc_id", "n_tokens"), "doc_id")
    )
    plan = (
        budget_selection(scored, token_budget=12_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(_rng" in plan, plan


def test_radius_density_planted_clump(spark):
    """ss14: a planted clump of 3 near-identical vectors each count the
    other two at cos >= tau; orthogonal singletons report 0 neighbors
    with NULL max_sim; every input vector gets exactly one row."""
    from kafkatosparktokudu_spark.operators.similarity import radius_density

    d = 8
    def axis(i, eps=0.0):
        v = [0.0] * d
        v[i] = 1.0
        v[(i + 1) % d] = eps
        return v

    rows = [
        (0, 0, axis(0)),
        (1, 0, axis(0, 0.05)),   # clump around axis 0
        (2, 0, axis(0, -0.05)),
        (3, 1, axis(2)),          # isolated orthogonals
        (4, 1, axis(4)),
        (5, 1, axis(6)),
    ]
    emb = spark.createDataFrame(
        [(i, l, [float(x) for x in v]) for i, l, v in rows],
        "vec_id bigint, label bigint, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["n_neighbors"], r["max_sim"])
        for r in radius_density(emb, tau=0.9, n_cells=6, nprobe=2).collect()
    }
    assert len(out) == 6
    for i in (0, 1, 2):
        assert out[i][0] == 2 and out[i][1] is not None and out[i][1] >= 0.9
    for i in (3, 4, 5):
        assert out[i] == (0, None)


def test_label_propagation_planted_graph(spark):
    """gr06 semantics on a planted graph: chain spreads one hop per
    round; a 1-1-1 vote ties to the SMALLEST label; a 2-1 vote takes the
    majority; a seedless island never labels; seeds are round 0."""
    from kafkatosparktokudu_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [
            (0, 1), (1, 2),             # chain from seed 0 (label 0)
            (10, 5), (20, 5), (30, 5),  # tie: labels {3,6,2} -> 2
            (10, 6), (80, 6), (20, 6),  # majority: {3,3,6} -> 3
            (101, 102),                 # seedless island
        ],
        "a bigint, b bigint",
    )
    out = {
        r["node"]: (r["label"], r["labeled_round"])
        for r in label_propagation(edges, rounds=6).collect()
    }
    # seeds: 0,10,20,30,80 with node % 7
    assert out[0] == (0, 0) and out[10] == (3, 0) and out[20] == (6, 0)
    assert out[30] == (2, 0) and out[80] == (3, 0)
    assert out[1] == (0, 1) and out[2] == (0, 2)   # chain, one hop/round
    assert out[5] == (2, 1)                        # tie -> smallest label
    assert out[6] == (3, 1)                        # 2-1 majority
    assert 101 not in out and 102 not in out       # island stays unlabeled
    assert len(out) == 9


def test_real_codec_wav_validates_with_stdlib_wave():
    """The WAV encoder's bytes parse with Python's stdlib `wave` module —
    an INDEPENDENT decoder, so encoder and parser can't be wrong
    together."""
    import io
    import wave

    from kafkatosparktokudu_spark.operators.multimodal import _wav_bytes

    samples = [(k - 64) * 128 for k in range(50)]
    payload = _wav_bytes(samples, 12000)
    with wave.open(io.BytesIO(payload)) as w:
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        assert w.getframerate() == 12000
        assert w.getnframes() == 50
        frames = w.readframes(50)
    import struct
    decoded = struct.unpack("<50h", frames)
    assert list(decoded) == samples


def test_real_codec_bmp_known_bytes():
    """A 1x1 red BMP encodes to the exact known byte layout (54-byte
    headers + one 4-byte padded BGR row)."""
    from kafkatosparktokudu_spark.operators.multimodal import _bmp_bytes

    b = _bmp_bytes(1, 1, [(255, 0, 0)])
    assert len(b) == 58
    assert b[:2] == b"BM"
    assert b[54:58] == bytes((0, 0, 255, 0))  # BGR + pad
    import struct
    size = struct.unpack("<I", b[2:6])[0]
    w, h = struct.unpack("<ii", b[18:26])
    bpp = struct.unpack("<H", b[28:30])[0]
    assert (size, w, h, bpp) == (58, 1, 1, 24)


def test_decode_media_real_rejects_corrupt_payloads(spark):
    """A truncated/garbled blob yields ok=false with NULL metadata instead
    of failing the task (the S10 malformed-record rule applied to media)."""
    from kafkatosparktokudu_spark.operators.multimodal import (
        attach_real_binary,
        decode_media_real,
    )

    docs = spark.createDataFrame(
        [(i, f"some text body {i}", 20) for i in range(6)],
        "doc_id bigint, text string, n_chars bigint",
    )
    media = attach_real_binary(docs)
    # corrupt half the payloads: drop the last 5 bytes
    from pyspark.sql import functions as F

    corrupted = media.select(
        "doc_id",
        "fmt",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.expr("substring(payload, 1, length(payload) - 5)"),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    out = {r["doc_id"]: r for r in decode_media_real(corrupted).collect()}
    assert len(out) == 6
    for i, r in out.items():
        if i % 3 == 0:
            assert r["ok"] is False
            assert r["width"] is None and r["sample_rate"] is None
        else:
            assert r["ok"] is True
            if r["fmt"] == "bmp":
                assert r["width"] >= 4 and r["channels"] == 3
            else:
                assert r["n_samples"] >= 32 and r["channels"] == 1


def test_grouped_budget_selection_independent_budgets(spark):
    """px22 semantics: each group fills its OWN budget in (p_keep DESC,
    id) order with the no-backfill prefix rule; groups never share
    budget; ties break by id."""
    from kafkatosparktokudu_spark.operators.layout import (
        grouped_budget_selection,
    )

    rows = [
        # (doc_id, source, p_keep, n_tokens)
        (1, "a", 0.9, 60),
        (2, "a", 0.8, 50),   # cum 110 > 100 -> out
        (3, "a", 0.7, 10),   # after overflow -> out (no backfill)
        (4, "b", 0.9, 40),
        (5, "b", 0.9, 40),   # tie -> id ASC; cum 80 <= 100
        (6, "b", 0.5, 30),   # cum 110 -> out
    ]
    scored = spark.createDataFrame(
        rows, "doc_id bigint, source string, p_keep double, n_tokens bigint"
    )
    out = {
        r["doc_id"]: (r["cum_tokens"], r["selected"])
        for r in grouped_budget_selection(
            scored, token_budget_per_group=100
        ).collect()
    }
    assert out == {
        1: (60, True), 2: (110, False), 3: (120, False),
        4: (40, True), 5: (80, True), 6: (110, False),
    }


def test_grouped_budget_selection_no_global_sort(spark):
    """px22's running sum must be the GROUPED two-stage pattern — a
    keyed window per (group, score range) + broadcast offsets, never a
    global rangepartitioning sort or a corpus-sized single partition."""
    from kafkatosparktokudu_spark.operators.layout import (
        grouped_budget_selection,
    )
    from kafkatosparktokudu_spark.operators.text import (
        quality_classifier_scores,
        token_stats,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = (
        quality_classifier_scores(docs)
        .select("doc_id", "p_keep")
        .join(token_stats(docs).select("doc_id", "n_tokens"), "doc_id")
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    plan = (
        grouped_budget_selection(scored, token_budget_per_group=3_000)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange hashpartitioning(source" in plan, plan


def test_resize_real_matches_python_contract(spark):
    """mm11's integer nearest-neighbor contract, checked independently of
    the DuckDB oracle: decode + resize through the Spark path must equal
    a pure-Python implementation of the documented rule over the SAME
    encode plan."""
    from kafkatosparktokudu_spark.operators.multimodal import (
        _real_media_plan,
        attach_real_binary,
        resize_real,
    )

    docs = spark.createDataFrame(
        [(i * 2, "x" + "abcdefg hij" * (i + 1), 11 * (i + 1) + 1)
         for i in range(8)],
        "doc_id bigint, text string, n_chars bigint",
    )
    got = {r["doc_id"]: r for r in resize_real(attach_real_binary(docs)).collect()}
    for row in docs.collect():
        plan = _real_media_plan(row["doc_id"], row["n_chars"])
        w, h = plan["w"], plan["h"]
        tb = row["text"].encode()
        mx = max(w, h)
        ow = w if mx <= 8 else max(1, w * 8 // mx)
        oh = h if mx <= 8 else max(1, h * 8 // mx)
        sum_r = sum_g = sum_b = 0
        for i in range(oh):
            for j in range(ow):
                k = ((i * h) // oh) * w + (j * w) // ow
                b = tb[k % len(tb)]
                sum_r += b
                sum_g += 255 - b
                sum_b += (b * 7) % 256
        g = got[row["doc_id"]]
        assert (g["out_w"], g["out_h"]) == (ow, oh)
        assert (g["sum_r"], g["sum_g"], g["sum_b"]) == (sum_r, sum_g, sum_b)
        assert g["n_px"] == ow * oh


def test_byte_stats_exact_sanitize_handles_nonascii_and_empty(spark):
    """mm12 must agree with a pure-Python oracle INCLUDING the inputs the
    mm09/mm10 fixture guard merely forbids: non-ASCII chars (stripped on
    both engines) and empty/all-stripped text (one space)."""
    from collections import Counter

    from kafkatosparktokudu_spark.operators.multimodal import byte_stats_exact

    docs = spark.createDataFrame(
        [
            (0, "hello world"),
            (1, "héllo wörld✓"),   # non-ASCII stripped -> "hllo wrld"
            (2, ""),                # empty -> " "
            (3, "日本語"),           # all stripped -> " "
            (4, "aa bb aa\tcc"),    # tab stripped (0x09 < 0x20)
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in byte_stats_exact(docs).collect()}
    for doc_id, text in [(r["doc_id"], r["text"]) for r in docs.collect()]:
        clean = "".join(c for c in text if 0x20 <= ord(c) <= 0x7E) or " "
        data = clean.encode()
        counts = Counter(data)
        top = min(counts, key=lambda b: (-counts[b], b))
        g = got[doc_id]
        assert g["n_bytes"] == len(data)
        assert g["sum_bytes"] == sum(data)
        assert g["distinct_bytes"] == len(counts)
        assert (g["top_byte"], g["top_count"]) == (top, counts[top])


def test_auto_n_cells_default_sqrt(spark):
    """VERDICT r10 #6: every cell-blocked operator's docstring promises
    "n_cells grows ~sqrt(n)" — since r11 that IS the default (None ->
    ceil(sqrt(n))), not an operator knob to remember. Oracled queries pin
    explicit values, so the contract there is unchanged."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.similarity import (
        auto_n_cells,
        seed_cell_assign,
    )

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7 + 1).cast("float"), (F.col("id") % 3 + 1).cast("float")
        ).alias("embedding"),
    )
    assert auto_n_cells(emb) == 10  # ceil(sqrt(100))
    assert auto_n_cells(emb.limit(5)) == 3  # ceil(sqrt(5))
    cells = seed_cell_assign(emb, nprobe=2)  # n_cells=None -> 10 cells
    got = cells.agg(F.countDistinct("cell")).first()[0]
    assert 2 <= got <= 10
    # every vector gets exactly nprobe probe cells
    per_vec = cells.groupBy("vec_id").count().agg(F.min("count"), F.max("count")).first()
    assert per_vec[0] == 2 and per_vec[1] == 2


def test_lsh_band_plan_properties(spark, sf_dir):
    """dd16 (operators/dedup.py::lsh_band_plan): one row per (b, r)
    factorization of the signature width; exactly one chosen plan =
    argmin (total err, bands); and the S-curve's shape shows up in the
    error masses — the many-bands/short-rows extreme admits nearly
    everything (max false-positive mass), the one-band/long-rows extreme
    admits nearly nothing (max false-negative mass)."""
    from kafkatosparktokudu_spark.operators.dedup import lsh_band_plan
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = {(r["bands"], r["rows_per_band"]): r
            for r in lsh_band_plan(docs, tau=0.95).collect()}
    assert set(rows) == {(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)}
    n_pairs = {r["n_pairs"] for r in rows.values()}
    assert len(n_pairs) == 1  # same candidate sample scored by every plan
    chosen = [k for k, r in rows.items() if r["is_chosen"]]
    best = min(rows.values(), key=lambda r: (r["exp_err_ppm"], r["bands"]))
    assert chosen == [(best["bands"], best["rows_per_band"])]
    for r in rows.values():
        assert r["exp_err_ppm"] == r["exp_fp_ppm"] + r["exp_fn_ppm"]
        assert 0 <= r["exp_fp_ppm"] <= r["n_pairs"] * 1_000_000
        assert 0 <= r["exp_fn_ppm"] <= r["n_pairs"] * 1_000_000
    fp = {k: r["exp_fp_ppm"] for k, r in rows.items()}
    fn = {k: r["exp_fn_ppm"] for k, r in rows.items()}
    assert fp[(16, 1)] == max(fp.values())  # admit-everything extreme
    assert fn[(1, 16)] == max(fn.values())  # admit-nothing extreme


def test_sanitize_unicode_known_strings(spark):
    """tx25's operator on hand-written dirty strings: fullwidth -> ASCII,
    curly punctuation -> straight, NBSP -> space, zero-width/C0 controls
    deleted, whitespace collapsed, trimmed; clean ASCII passes through
    changed=False."""
    from kafkatosparktokudu_spark.operators.text import sanitize_unicode

    rows = [
        (1, "Ｈｅｌｌｏ"),          # fullwidth Hello
        (2, "a b　c"),                          # NBSP + ideographic
        (3, "“quoted” ‘x’ — y…"),
        (4, "z​‌‍﻿z"),               # zero-width family
        (5, "a\x00b\x07c\td\ne"),                        # C0 controls; \t \n kept
        (6, "  lots   of\t\tspace  "),
        (7, "already clean"),
    ]
    got = {
        r["doc_id"]: (r["text_clean"], r["changed"])
        for r in sanitize_unicode(
            spark.createDataFrame(rows, "doc_id bigint, text string")
        ).collect()
    }
    assert got[1] == ("Hello", True)
    assert got[2] == ("a b c", True)
    assert got[3] == ('"quoted" \'x\' - y.', True)  # translate is 1:1 — em dash -> '-'
    assert got[4] == ("zz", True)
    assert got[5] == ("abc d e", True)   # \x00/\x07 deleted, \t \n collapsed
    assert got[6] == ("lots of space", True)
    assert got[7] == ("already clean", False)


def test_pq_trained_exact_reduces_distortion(spark):
    """ss17's distributed trainer (pq_codebooks_trained_exact) must (a)
    actually move the codebooks off their seeds, (b) keep the C[m][k][d]
    shape the PQ family consumes, and (c) not increase total
    reconstruction error vs the seeded books — Lloyd's both steps
    (re-assign, then mean update) are non-increasing in total squared
    distortion, up to the rounded-6 assignment contract."""
    from pyspark.sql import functions as F

    from kafkatosparktokudu_spark.operators.similarity import (
        pq_codebooks,
        pq_codebooks_trained_exact,
        pq_encode,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    seeded = pq_codebooks(emb, k=4)
    trained = pq_codebooks_trained_exact(emb, m=8, k=4, n_dims=64, n_iters=2)
    assert len(trained) == 8 and all(
        len(cb) == 4 and all(len(c) == 8 for c in cb) for cb in trained
    )
    assert trained != seeded  # the update step really ran
    err_seed = pq_encode(emb, seeded).agg(F.sum("recon_err")).first()[0]
    err_train = pq_encode(emb, trained).agg(F.sum("recon_err")).first()[0]
    assert err_train <= err_seed + 1e-6, (err_train, err_seed)


def test_bm25_postings_index_matches_inline_and_prunes(spark, tmp_path):
    """tx29 contract (VERDICT r11 #4): the materialized postings index
    reproduces the inline tx26 ranking EXACTLY (same tf/dl/df integers,
    same shared contribution expression), and the probe scan lists only
    the buckets the query terms hash to — PartitionFilters on `bucket`
    in the plan, i.e. file-level pruning, not a post-scan filter."""
    from kafkatosparktokudu_spark.operators.text import (
        bm25_index_topk,
        bm25_rank,
        build_bm25_index,
        term_bucket,
    )

    docs = load_table(spark, SF, "documents")
    path = str(tmp_path / "bm25_idx")
    meta = build_bm25_index(docs, path, n_buckets=64)
    terms = ["merge", "vector", "stream"]

    inline = bm25_rank(docs, terms, top_n=20).collect()
    probe = bm25_index_topk(spark, path, terms, top_n=20)
    assert [tuple(r) for r in probe.collect()] == [tuple(r) for r in inline]

    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan and any("bucket" in ln for ln in scan), plan
    # the probe never lists more buckets than query terms
    want = sorted({term_bucket(t, meta["n_buckets"]) for t in terms})
    assert len(want) <= len(terms)


def test_hybrid_index_serving_reads_no_raw_table(spark, tmp_path):
    """ss22 contract (VERDICT r12 #5): the index-only hybrid probe's
    physical plan scans ONLY the two materialized index directories —
    no FileScan over the raw documents/embeddings parquet — and its
    fused top-20 equals the inline ss21 pipeline row-for-row (the
    shared-oracle claim, asserted engine-side here)."""
    from kafkatosparktokudu_spark.functions.topk import ranked_top_n
    from kafkatosparktokudu_spark.functions.vectors import (
        as_double,
        cosine_literal,
    )
    from kafkatosparktokudu_spark.operators.similarity import (
        build_seeded_filtered_index,
        rrf_fuse,
    )
    from kafkatosparktokudu_spark.operators.text import (
        bm25_index_topk,
        bm25_rank,
        build_bm25_index,
    )

    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    lex_dir, dense_dir = str(tmp_path / "lex"), str(tmp_path / "dense")
    build_bm25_index(docs, lex_dir)
    build_seeded_filtered_index(emb, dense_dir, n_cells=16)

    def dense_top50(src):
        scored = src.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_literal(as_double(F.col("embedding")), qv), 6
            ).alias("cos_sim"),
        )
        return ranked_top_n(
            scored, [F.col("cos_sim").desc(), F.col("doc_id")], 50
        )

    terms = ["merge", "vector", "stream"]
    probe = rrf_fuse(
        bm25_index_topk(spark, lex_dir, terms, top_n=50),
        dense_top50(spark.read.parquet(dense_dir)),
        top_n=20,
    )
    inline = rrf_fuse(
        bm25_rank(docs, terms, top_n=50), dense_top50(emb), top_n=20
    )
    assert [tuple(r) for r in probe.collect()] == [
        tuple(r) for r in inline.collect()
    ]
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "Location" in ln]
    assert scans, plan
    for ln in scans:
        assert ("lex" in ln or "dense" in ln), ln
        assert "testdata" not in ln, ln


def test_gate_pins_bigint_ids(spark, tmp_path):
    """The gate stores ids as bigint whatever integer type a batch
    carries: a bigint batch and then an int batch share one store (the
    int batch's near-dup of a stored doc is found), and an id column that
    is not an integer raises ValueError naming it, writing nothing."""
    import pytest

    from kafkatosparktokudu_spark.operators.dedup import (
        incremental_neardup_ingest,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    store = str(tmp_path / "sigs")
    f1 = incremental_neardup_ingest(
        spark.createDataFrame([(1, base)], "doc_id bigint, text string"), store
    )
    assert [tuple(r) for r in f1.collect()] == [(1, False, None)]
    f2 = incremental_neardup_ingest(
        spark.createDataFrame(
            [(2, base + " tiny change")], "doc_id int, text string"
        ),
        store,
    )
    assert [tuple(r) for r in f2.collect()] == [(2, True, 1)]
    with pytest.raises(ValueError, match="'doc_id' is string"):
        incremental_neardup_ingest(
            spark.createDataFrame([("3", base)], "doc_id string, text string"),
            store,
        )
    assert _gate_ids_stored(spark, store) == {1}


def test_gate_refuses_old_layout_and_remote_paths(spark, tmp_path):
    """A directory in the gate's old layouts — parquet files at its root
    (flat) or a _STORE_META.json (bucketed) — raises ValueError naming
    it, for an ingest and a revocation alike, instead of being read as an
    empty or partial history. A URI raises too: the gate's StateStores
    are local-filesystem-only."""
    import re

    import pytest

    from kafkatosparktokudu_spark.operators.dedup import (
        incremental_neardup_ingest,
        revoke_from_gate_store,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    flat = tmp_path / "flat"
    docs.write.parquet(str(flat))
    bucketed = tmp_path / "bucketed"
    bucketed.mkdir()
    (bucketed / "_STORE_META.json").write_text(
        '{"layout": "bucketed", "n_buckets": 8}'
    )
    for old in (str(flat), str(bucketed)):
        with pytest.raises(ValueError, match=re.escape(old) + ".*rebuild"):
            incremental_neardup_ingest(docs, old)
        with pytest.raises(ValueError, match=re.escape(old) + ".*rebuild"):
            revoke_from_gate_store(spark, old, docs.select("doc_id"))
    with pytest.raises(ValueError, match="local-filesystem-only"):
        incremental_neardup_ingest(docs, f"file://{tmp_path}/remote")


def test_two_level_blocking_planted_dup_recall(spark):
    """VERDICT r11 #6: two-level (cell, sub) blocking must keep FULL
    recall on genuine near-duplicates (the production tau band) while
    cutting candidate mass — 100 planted twins (v' = v + 0.1*rot(v),
    cos ~0.995) must all survive every sub-cell setting. The low-tau
    topical regime trades recall (measured 0.75 at (16,2) / 0.92 at
    (8,2) vs single-level at tau=0.3) — that trade lives in the
    docstring, not in dedup claims."""
    from kafkatosparktokudu_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").select(
        "vec_id", "embedding"
    )
    twins = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.expr(
            "zip_with(embedding, concat(slice(embedding,2,63), "
            "slice(embedding,1,1)), (a,b) -> a + CAST(0.1 AS FLOAT)*b)"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    planted = {(i, i + 10000) for i in range(100)}
    for kw in (dict(n_subcells=16, nprobe_sub=2),
               dict(n_subcells=16, nprobe_sub=1)):
        got = {
            (r["vec_a"], r["vec_b"])
            for r in embedding_neardup_pairs(
                corpus, 0.9, nprobe=4, **kw
            ).collect()
        }
        assert got >= planted, (kw, len(got & planted))
    # tau+density auto-routing (VERDICT r12 #7, refined r13): in the
    # production band the DEFAULT engages the measured-best (16, 1) only
    # when coarse cells are denser than TWO_LEVEL_DENSITY_FLOOR — the
    # insurance regime where two-level measured 10x. n_cells=2 puts this
    # 700-row corpus at 350 rows/cell (>= the 256 floor): pair-for-pair
    # equal to passing (16, 1) explicitly. Recall here is pinned on EXACT
    # duplicates (identical vectors score bit-identical rounded cosines
    # to every anchor, so no blocking level can ever separate them); the
    # perturbed-twin recall claims live in the explicit loop above at
    # realistic sqrt-n celling.
    exact = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 20000).alias("vec_id"), "embedding"
    )
    dense_corpus = corpus.unionByName(exact)
    planted_exact = {(i, i + 20000) for i in range(100)}
    auto = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            dense_corpus, 0.9, nprobe=2, n_cells=2
        ).collect()
    }
    explicit = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            dense_corpus, 0.9, nprobe=2, n_cells=2, n_subcells=16,
            nprobe_sub=1,
        ).collect()
    }
    assert auto == explicit and auto >= planted_exact
    # ...while at sqrt-n auto-celling density (600 rows / 25 cells = 24
    # rows/cell, far under the floor) the same tau routes SINGLE-level —
    # the regime map's "wash" operating point pays no sub-cell overhead
    sparse_auto = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(corpus, 0.9, nprobe=4).collect()
    }
    sparse_single = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            corpus, 0.9, nprobe=4, n_subcells=None
        ).collect()
    }
    assert sparse_auto == sparse_single and sparse_auto >= planted


def test_two_level_auto_routing_low_tau_single_level(spark):
    """VERDICT r12 #7 flip-side: below PRODUCTION_TAU_BAND the auto
    default must stay SINGLE-LEVEL — identical pairs to an explicit
    n_subcells=None run (the oracled dd05 low-tau contract), where
    two-level at the same tau provably drops topical pairs."""
    from kafkatosparktokudu_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    auto = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(emb, 0.3, n_cells=32).collect()
    }
    single = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_neardup_pairs(
            emb, 0.3, n_cells=32, n_subcells=None
        ).collect()
    }
    assert auto == single and len(auto) > 0


def test_filtered_nprobe_edges():
    """The integer probe rule's edges: empty qualifying set -> full probe
    (the answer is empty either way; full probe keeps the contract
    total), unselective predicate -> the base width, and the ceil is
    exact (never undershoots 1/s)."""
    from kafkatosparktokudu_spark.operators.similarity import filtered_nprobe

    assert filtered_nprobe(2, 1000, 0, 16) == 16          # nothing qualifies
    assert filtered_nprobe(2, 1000, 1000, 16) == 2        # s = 1
    assert filtered_nprobe(1, 500, 47, 16) == 11          # ceil(500/47)
    assert filtered_nprobe(4, 500, 47, 16) == 16          # capped at n_cells
    # ceil property: nprobe_eff * qual >= base * total OR capped
    for base, total, qual, n in ((1, 997, 31, 64), (3, 1234, 200, 32)):
        eff = filtered_nprobe(base, total, qual, n)
        assert eff == n or eff * qual >= base * total


def test_ranked_top_n_matches_global_window(spark):
    """ranked_top_n (TakeOrdered + bounded rank window) must equal the
    naive global row_number window on a total ordering — same survivors,
    same ranks — while planning TakeOrderedAndProject instead of an
    unbounded Exchange SinglePartition."""
    from pyspark.sql import Window

    from kafkatosparktokudu_spark.functions.topk import ranked_top_n

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 37 % 101).alias("score")
    )
    order = [F.col("score").desc(), F.col("id")]
    got = [
        tuple(r)
        for r in ranked_top_n(df, order, 15)
        .select("rank", "id", "score")
        .collect()
    ]
    w = Window.orderBy(*order)
    want = [
        tuple(r)
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 15)
        .select("rank", "id", "score")
        .collect()
    ]
    assert sorted(got) == sorted(want)
    plan = (
        ranked_top_n(df, order, 15)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan


def test_bm25_append_equals_full_build(spark, tmp_path):
    """Incremental postings maintenance (r13): BM25's corpus statistics
    are pure sums, so build(A) + append(B) must be BIT-identical to
    build(A ∪ B) — probe results and postings multiset both. Plus the
    exactly-once contract: a crashed append (files written, sidecar not)
    is invisible to probes, and replaying the same epoch converges."""
    import copy

    from kafkatosparktokudu_spark.operators.text import (
        _read_bm25_meta,
        _write_bm25_meta,
        append_bm25_index,
        bm25_index_topk,
        build_bm25_index,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = docs.filter(F.col("doc_id") < 250)
    b = docs.filter(F.col("doc_id") >= 250)
    terms = ["merge", "vector", "stream"]
    full_path, inc_path = str(tmp_path / "full"), str(tmp_path / "inc")

    def probe(path):
        return [
            tuple(r)
            for r in bm25_index_topk(spark, path, terms, top_n=20).collect()
        ]

    build_bm25_index(docs, full_path)
    build_bm25_index(a, inc_path)
    pre_meta = copy.deepcopy(_read_bm25_meta(spark, inc_path))
    base_probe = probe(inc_path)

    append_bm25_index(b, inc_path, epoch=1)
    want = probe(full_path)
    assert probe(inc_path) == want
    # postings multiset identical to the one-shot build
    cols = ["term", "doc_id", "tf", "dl"]
    fp = sorted(
        tuple(r) for r in spark.read.parquet(full_path).select(*cols).collect()
    )
    ip = sorted(
        tuple(r) for r in spark.read.parquet(inc_path).select(*cols).collect()
    )
    assert fp == ip
    # cumulative sidecar == one-shot sidecar stats
    m_full = _read_bm25_meta(spark, full_path)
    m_inc = _read_bm25_meta(spark, inc_path)
    assert (m_inc["n_docs"], m_inc["total_dl"]) == (
        m_full["n_docs"],
        m_full["total_dl"],
    )
    assert m_inc["committed_epochs"] == [0, 1]

    # crash window: roll the sidecar back to the pre-append state — the
    # epoch-1 files still exist on disk but the probe must not see them
    _write_bm25_meta(spark, inc_path, copy.deepcopy(pre_meta))
    assert probe(inc_path) == base_probe
    # replay of the (now-uncommitted) epoch overwrites its own files and
    # re-commits: converges to the full-build answer
    append_bm25_index(b, inc_path, epoch=1)
    assert probe(inc_path) == want
    # replay of a COMMITTED epoch is an idempotent no-op
    m = append_bm25_index(b, inc_path, epoch=1)
    assert m["committed_epochs"] == [0, 1]
    assert probe(inc_path) == want


def test_ivf_upsert_equals_frozen_assignment(spark, tmp_path):
    """Incremental IVF maintenance (r13): upsert assigns new vectors with
    the index's FROZEN centroids, so index contents must equal a frozen-
    centroid assignment of the union; probes (plain, adaptive-count, and
    selectivity-scaled filtered) must see the new rows through the
    updated sidecar; a crashed upsert is invisible; replay converges."""
    import copy

    from kafkatosparktokudu_spark.functions.vectors import (
        as_double,
        cosine_literal,
    )
    from kafkatosparktokudu_spark.operators.similarity import (
        _read_ivf_meta,
        _write_ivf_meta,
        build_ivf_index,
        filtered_ivf_index_topk,
        ivf_assign,
        ivf_index_topk,
        ivf_topk,
        upsert_ivf_index,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivf")
    cents = build_ivf_index(
        base, path, n_cells=16, partition_cols=("cell", "label")
    )
    pre_meta = copy.deepcopy(_read_ivf_meta(spark, path))
    qv = [
        float(x)
        for x in emb.filter("vec_id = 0").select("embedding").head()[0]
    ]

    def topk():
        return [
            (r["vec_id"], r["cos_sim"])
            for r in ivf_index_topk(
                spark, path, qv, k=10, nprobe=16, exclude_id=0
            ).collect()
        ]

    base_topk = topk()
    upsert_ivf_index(batch, path, epoch=1)

    # contents == frozen-centroid assignment of the union
    got = sorted(
        (r["vec_id"], r["cell"])
        for r in spark.read.parquet(path).select("vec_id", "cell").collect()
    )
    want = sorted(
        (r["vec_id"], r["cell"])
        for r in ivf_assign(emb, cents).select("vec_id", "cell").collect()
    )
    assert got == want
    meta = _read_ivf_meta(spark, path)
    assert sum(meta["cell_counts"].values()) == emb.count()
    assert meta["committed_epochs"] == [0, 1]

    # full-probe search over the upserted index == index-free search over
    # the union with the same frozen centroids (bit-exact: parquet
    # round-trips float arrays)
    union_topk = [
        (r["vec_id"], r["cos_sim"])
        for r in ivf_topk(
            emb, qv, 10, nprobe=16, exclude_id=0, centroids=cents
        ).collect()
    ]
    assert topk() == union_topk

    # filtered probe at full width == exact filtered brute force over the
    # union (group_counts grew with the upsert; base_nprobe=16 caps at
    # n_cells so the probe is exhaustive within the label)
    res = [
        (r["vec_id"], r["cos_sim"])
        for r in filtered_ivf_index_topk(
            spark, path, qv, k=5, base_nprobe=16, label_value=2, exclude_id=0
        ).collect()
    ]
    brute = [
        (r["vec_id"], r["cos_sim"])
        for r in emb.filter((F.col("label") == 2) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.round(
                cosine_literal(as_double(F.col("embedding")), qv), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(5)
        .collect()
    ]
    assert res == brute

    # crash window: sidecar rolled back — epoch-1 rows invisible
    _write_ivf_meta(spark, path, copy.deepcopy(pre_meta))
    assert topk() == base_topk
    # replay converges, committed replay is a no-op
    upsert_ivf_index(batch, path, epoch=1)
    assert topk() == union_topk
    m = upsert_ivf_index(batch, path, epoch=1)
    assert m["committed_epochs"] == [0, 1]


def test_record_linkage_multipass_blocking(spark):
    """record_linkage_pairs (dd18): multi-pass token blocking must
    propose a pair when EITHER name token matches (first-token pass
    catches last-token edits and vice versa), the ±1 pigeonhole band
    must exclude |Δband| >= 2, pairs differing in BOTH tokens are the
    documented miss, and each pair appears once (key_a < key_b) even
    when several passes propose it."""
    from kafkatosparktokudu_spark.operators.dedup import (
        record_linkage_pairs,
    )

    rows = [
        # (key, name, cat, size)
        (1, "red widget", "A", 10),
        (2, "red widgets", "A", 10),   # last-token edit: tok1 pass
        (3, "ted widget", "A", 11),    # first-token edit: tok2 pass, band +1
        (4, "red widget", "A", 12),    # vs 1: band gap 2 → out; vs 3: in
        (5, "blu gadget", "A", 10),    # both tokens differ from 1: no pair
        (6, "red widget", "B", 10),    # other block: out
    ]
    recs = spark.createDataFrame(
        rows, "key bigint, name string, cat string, size int"
    )
    got = {
        (r["key_a"], r["key_b"]): r["edit_dist"]
        for r in record_linkage_pairs(
            recs,
            key_col="key",
            name_col="name",
            block_cols=("cat",),
            band_col="size",
            max_edit=4,
        ).collect()
    }
    # (2,3) differs in BOTH tokens (red/ted, widgets/widget) — the
    # documented multi-pass miss even though lev("red widgets",
    # "ted widget") = 2; (3,4) shares tok2 "widget" at band +1.
    assert set(got) == {(1, 2), (1, 3), (3, 4)}, got
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(3, 4)] == 1
    # (1,2) shares BOTH tokens' passes and both band slots — still one row


def test_index_compaction_preserves_probes(spark, tmp_path):
    """Compaction (r13 lifecycle step 3: build → append* → compact):
    probe results BIT-unchanged for both indexes, epoch set folds to
    one, folded dirs are gone, a crashed-append orphan dir is janitored,
    appends continue after compaction (epoch ids keep growing), and a
    re-run is a no-op."""
    import copy

    from kafkatosparktokudu_spark.operators.similarity import (
        _read_ivf_meta,
        build_ivf_index,
        compact_ivf_index,
        ivf_index_topk,
        upsert_ivf_index,
    )
    from kafkatosparktokudu_spark.operators.text import (
        _read_bm25_meta,
        _write_bm25_meta,
        append_bm25_index,
        bm25_index_topk,
        build_bm25_index,
        compact_bm25_index,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table
    from kafkatosparktokudu_spark.streaming.fsio import list_epochs

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    lex = str(tmp_path / "lex")
    build_bm25_index(docs.filter(F.col("doc_id") < 200), lex)
    append_bm25_index(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)),
        lex,
        epoch=1,
    )
    append_bm25_index(docs.filter(F.col("doc_id") >= 350), lex, epoch=2)
    # plant a crashed-append orphan: run a real append (proper epoch=5/
    # bucket=N layout), then roll the sidecar back — files exist on disk
    # but the epoch was never committed
    committed_meta = copy.deepcopy(_read_bm25_meta(spark, lex))
    append_bm25_index(
        docs.filter(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 8000000).alias("doc_id"), "text"
        ),
        lex,
        epoch=5,
    )
    _write_bm25_meta(spark, lex, committed_meta)
    terms = ["merge", "vector", "stream"]

    def probe(path):
        return [
            tuple(r)
            for r in bm25_index_topk(spark, path, terms, top_n=20).collect()
        ]

    before = probe(lex)
    m = compact_bm25_index(spark, lex)
    assert probe(lex) == before
    # compacted epochs live in the NEGATIVE namespace so they can never
    # collide with an appender's (>= 0) epoch id
    assert m["committed_epochs"] == [-1]
    assert list_epochs(spark, lex) == [-1]  # folded dirs AND orphan gone
    assert m["folded_epochs"] == [0, 1, 2]
    # replay of an epoch the fold ABSORBED must no-op, not double-insert
    append_bm25_index(
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)),
        lex,
        epoch=1,
    )
    assert probe(lex) == before
    assert _read_bm25_meta(spark, lex)["committed_epochs"] == [-1]
    # appends with FRESH ids continue after compaction
    extra = docs.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 9000000).alias("doc_id"), "text"
    )
    append_bm25_index(extra, lex, epoch=4)
    assert _read_bm25_meta(spark, lex)["committed_epochs"] == [-1, 4]
    assert len(probe(lex)) == 20
    # appender ids are the non-negative namespace — enforce it
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compaction namespace"):
        append_bm25_index(extra, lex, epoch=-7)
    # re-compaction of a multi-epoch store folds again; compacting a
    # single-epoch store is a cleanup-only no-op
    compact_bm25_index(spark, lex)
    m2 = compact_bm25_index(spark, lex)
    assert len(m2["committed_epochs"]) == 1
    assert probe(lex) == probe(lex)  # stable reads after the fold

    # --- IVF side ---
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    ivf = str(tmp_path / "ivf")
    build_ivf_index(
        emb.filter(F.col("vec_id") < 300), ivf, n_cells=16,
        partition_cols=("cell", "label"),
    )
    upsert_ivf_index(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        ivf,
        epoch=1,
    )
    upsert_ivf_index(emb.filter(F.col("vec_id") >= 400), ivf, epoch=2)
    qv = [
        float(x)
        for x in emb.filter("vec_id = 0").select("embedding").head()[0]
    ]

    def itopk():
        return [
            (r["vec_id"], r["cos_sim"])
            for r in ivf_index_topk(
                spark, ivf, qv, k=10, nprobe=16, exclude_id=0
            ).collect()
        ]

    ibefore = itopk()
    im = compact_ivf_index(spark, ivf)
    assert itopk() == ibefore
    assert im["committed_epochs"] == [-1]
    assert im["folded_epochs"] == [0, 1, 2]
    assert list_epochs(spark, ivf) == [-1]
    # replay of a folded upsert epoch: idempotent no-op
    upsert_ivf_index(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        ivf,
        epoch=1,
    )
    assert itopk() == ibefore
    imeta = _read_ivf_meta(spark, ivf)
    assert sum(imeta["cell_counts"].values()) == emb.count()
    # the (cell,label) selectivity stats survive the fold
    assert "group_counts" in imeta and sum(
        imeta["group_counts"].values()
    ) == emb.count()


def test_rrf_fuse_integer_weights(spark):
    """Weighted RRF (r13): integer side weights scale each reciprocal
    AFTER the integer division, so (1,1) is bit-identical to the
    historical unweighted fusion and any weighting keeps the no-float
    exactness contract; a planted disagreement flips with the weights."""
    from kafkatosparktokudu_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 101), (2, 102), (3, 103)], "rank int, doc_id bigint"
    ).select("doc_id", "rank")
    dense = spark.createDataFrame(
        [(1, 103), (2, 102), (3, 101)], "rank int, doc_id bigint"
    ).select("doc_id", "rank")

    def fused(**kw):
        return [
            (r["rank"], r["doc_id"], r["rrf_ppb"])
            for r in rrf_fuse(lex, dense, top_n=3, **kw).collect()
        ]

    assert fused() == fused(weights=(1, 1))  # default == explicit unit
    # symmetric rankings: (1,1) ties 101/103 (both rank 1+3), id breaks
    assert [d for _, d, _ in fused()][0] == 101
    # lexical-heavy: 101 (lex rank 1) must lead; dense-heavy: 103
    assert [d for _, d, _ in fused(weights=(3, 1))][0] == 101
    assert [d for _, d, _ in fused(weights=(1, 3))][0] == 103
    # exactness shape: every score is w_l*(1e9 div (60+r_l)) +
    # w_d*(1e9 div (60+r_d)) — check one row arithmetically
    top = fused(weights=(2, 5))[0]
    by_doc = {101: (1, 3), 102: (2, 2), 103: (3, 1)}
    rl, rd = by_doc[top[1]]
    assert top[2] == 2 * (10**9 // (60 + rl)) + 5 * (10**9 // (60 + rd))


def test_embedding_drift_detects_planted_shift(spark):
    """dq08's operator: shifting ONE label's vectors by a constant in
    the current slice must surface as drift concentrated on that label
    (every dim, ~the planted delta), while unshifted labels stay at
    their sampling-noise floor; identical slices report exactly 0.0
    drift (bit-equal centroids — the no-rounding contract)."""
    import pyspark.sql.functions as F

    from kafkatosparktokudu_spark.operators.quality_checks import (
        embedding_drift,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    target = base.select(F.min("label")).collect()[0][0]

    # identical slices → exactly zero drift on every row
    same = embedding_drift(base, base).collect()
    assert same and all(r["drift"] == 0.0 for r in same)

    shifted = cur.withColumn(
        "embedding",
        F.when(
            F.col("label") == target,
            F.transform("embedding", lambda x: x + F.lit(0.5)),
        ).otherwise(F.col("embedding")),
    )
    rows = embedding_drift(base, shifted).collect()
    hit = [r for r in rows if r["label"] == target]
    rest = [r for r in rows if r["label"] != target]
    assert hit and all(r["drift"] > 0.3 for r in hit)
    # unshifted labels: sampling noise between even/odd halves, well
    # below the planted 0.5 shift
    assert rest and all(r["drift"] < 0.3 for r in rest)


def test_bm25_index_delete_lifecycle(spark, tmp_path):
    """delete_from_bm25_index (r13): tombstone-delete ≡ rebuild on the
    surviving corpus — probe ranking AND net sidecar stats; a double
    delete subtracts nothing twice; a replayed delete epoch no-ops;
    compaction physically drops tombstoned rows, keeps the probe
    bit-stable and remembers the absorbed delete epoch; an append AFTER
    a delete composes (stats stay net + new docs rank)."""
    import pyspark.sql.functions as F

    from kafkatosparktokudu_spark.operators.text import (
        _read_bm25_meta,
        append_bm25_index,
        bm25_index_topk,
        build_bm25_index,
        compact_bm25_index,
        delete_from_bm25_index,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx, rebuilt = str(tmp_path / "idx"), str(tmp_path / "rebuilt")
    terms = ["merge", "vector", "stream"]
    build_bm25_index(docs, idx)
    ids = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    m1 = delete_from_bm25_index(spark, idx, ids, epoch=1)

    build_bm25_index(docs.filter(F.col("doc_id") % 7 != 3), rebuilt)
    mr = _read_bm25_meta(spark, rebuilt)
    assert (m1["n_docs"], m1["total_dl"]) == (mr["n_docs"], mr["total_dl"])
    got = [tuple(r) for r in bm25_index_topk(spark, idx, terms, 20).collect()]
    want = [
        tuple(r) for r in bm25_index_topk(spark, rebuilt, terms, 20).collect()
    ]
    assert got == want and len(got) == 20

    # double delete (overlapping ids, new epoch): subtracts nothing twice
    m2 = delete_from_bm25_index(spark, idx, ids, epoch=2)
    assert (m2["n_docs"], m2["total_dl"]) == (m1["n_docs"], m1["total_dl"])
    # replay of a committed delete epoch: no-op
    assert delete_from_bm25_index(spark, idx, ids, epoch=1)["n_docs"] == m1[
        "n_docs"
    ]

    # compaction: physical drop + bit-stable probe + folded memory
    m3 = compact_bm25_index(spark, idx)
    assert not m3.get("tombstones")
    assert m3["folded_tombstone_epochs"] == [1, 2]
    assert (
        spark.read.parquet(idx).join(ids, "doc_id", "left_semi").count() == 0
    )
    assert [
        tuple(r) for r in bm25_index_topk(spark, idx, terms, 20).collect()
    ] == want
    # replayed delete of a folded epoch: no-op
    assert not delete_from_bm25_index(spark, idx, ids, epoch=1).get(
        "tombstones"
    )

    # delete then append composes: stats stay net, the new doc ranks
    m4 = delete_from_bm25_index(
        spark, idx, docs.filter(F.col("doc_id") % 7 == 5).select("doc_id"), 3
    )
    new = docs.limit(1).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    m5 = append_bm25_index(new, idx, epoch=4)
    assert m5["n_docs"] == m4["n_docs"] + 1


def test_ivf_index_delete_lifecycle(spark, tmp_path):
    """delete_from_ivf_index (r13, the dense twin): full-width probe
    after a tombstone delete ≡ brute force over survivors; net sidecar
    counts equal a rebuild's; replay/double-delete no-ops; compaction
    physically drops tombstoned rows with the probe bit-stable."""
    import pyspark.sql.functions as F

    from kafkatosparktokudu_spark.operators.similarity import (
        _read_ivf_meta,
        brute_force_topk,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_topk,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    idx = str(tmp_path / "idx")
    build_ivf_index(emb, idx, n_cells=16)
    ids = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    m1 = delete_from_ivf_index(spark, idx, ids, epoch=1)
    surv = emb.filter(F.col("vec_id") % 7 != 3)
    assert sum(m1["cell_counts"].values()) == surv.count()

    got = [
        tuple(r)
        for r in ivf_index_topk(
            spark, idx, qv, k=10, nprobe=16, exclude_id=0
        ).collect()
    ]
    want = [
        tuple(r) for r in brute_force_topk(surv, qv, k=10, exclude_id=0).collect()
    ]
    assert got == want and len(got) == 10

    assert delete_from_ivf_index(spark, idx, ids, epoch=1)[
        "cell_counts"
    ] == m1["cell_counts"]  # replay no-op
    m2 = delete_from_ivf_index(spark, idx, ids, epoch=2)  # double delete
    assert m2["cell_counts"] == m1["cell_counts"]

    m3 = compact_ivf_index(spark, idx)
    assert not m3.get("tombstones")
    assert m3["folded_tombstone_epochs"] == [1, 2]
    assert (
        spark.read.parquet(idx).join(ids, "vec_id", "left_semi").count() == 0
    )
    assert [
        tuple(r)
        for r in ivf_index_topk(
            spark, idx, qv, k=10, nprobe=16, exclude_id=0
        ).collect()
    ] == want


def test_index_delete_crash_window_invisible(spark, tmp_path):
    """The delete's commit point is the sidecar: tombstone FILES written
    without the sidecar update (driver died mid-delete) must leave every
    probe bit-unchanged, and the replayed delete completes normally."""
    import pyspark.sql.functions as F

    from kafkatosparktokudu_spark.operators.text import (
        bm25_index_topk,
        build_bm25_index,
        delete_from_bm25_index,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "idx")
    terms = ["merge", "vector", "stream"]
    build_bm25_index(docs, idx)
    before = [
        tuple(r) for r in bm25_index_topk(spark, idx, terms, 20).collect()
    ]
    ids = docs.filter(F.col("doc_id") % 7 == 3).select("doc_id")
    # simulate the crash: files land, sidecar never rewritten
    ids.repartition(1).write.mode("overwrite").parquet(
        f"{idx}/_tombstones/epoch=1"
    )
    assert [
        tuple(r) for r in bm25_index_topk(spark, idx, terms, 20).collect()
    ] == before
    # replay completes and the deletion takes effect
    m = delete_from_bm25_index(spark, idx, ids, epoch=1)
    assert m["tombstone_epochs"] == [1]
    after = [
        tuple(r) for r in bm25_index_topk(spark, idx, terms, 20).collect()
    ]
    assert after != before


def test_gate_revoke_readmission_and_layout_parity(spark, tmp_path):
    """revoke_from_gate_store: after revoking batch-1's accepted docs with
    doc_id % 5 == 0, both gate stores hold exactly the rows of the same
    ingest minus the revoked ids' rows — their band rows and payload are
    gone and every other row is untouched (layout parity with
    never-stored) — and a second revocation of the same ids changes no
    row. Batch 3, re-keyed copies of batch 1, then re-admits copies whose
    stored match was revoked, and nothing moves the other way
    (re-admission is strictly FROM dup TO admitted)."""
    import pyspark.sql.functions as F

    from kafkatosparktokudu_spark.operators.dedup import (
        _gate_stores,
        incremental_neardup_ingest,
        revoke_from_gate_store,
    )
    from kafkatosparktokudu_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    b1 = docs.filter(F.col("doc_id") < lo + (hi - lo) // 2)
    # batch 3 = re-keyed copies of batch 1: every doc an exact dup of its
    # batch-1 twin, so its fate depends purely on the store's history
    b3 = b1.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")

    def stored_rows(store):
        bands, payload = _gate_stores(spark, store, "doc_id")
        return (
            sorted(tuple(r) for r in bands.read().collect()),
            sorted((r["doc_id"], tuple(r["hs"])) for r in payload.read().collect()),
        )

    kept, rev = str(tmp_path / "kept"), str(tmp_path / "rev")
    f1 = incremental_neardup_ingest(b1, kept)
    incremental_neardup_ingest(b1, rev).count()
    revoked = {
        r["doc_id"] for r in f1.collect()
        if not r["is_dup"] and r["doc_id"] % 5 == 0
    }
    assert revoked
    bands_all, payload_all = stored_rows(kept)
    want = (
        [r for r in bands_all if r[2] not in revoked],
        [r for r in payload_all if r[0] not in revoked],
    )
    ids = spark.createDataFrame([(i,) for i in sorted(revoked)], "doc_id bigint")
    for _ in range(2):
        revoke_from_gate_store(spark, rev, ids)
        assert stored_rows(rev) == want

    f3_kept = incremental_neardup_ingest(b3, kept).collect()
    f3_rev = incremental_neardup_ingest(b3, rev).collect()
    kept_dups = {r["doc_id"] for r in f3_kept if r["is_dup"]}
    rev_dups = {r["doc_id"] for r in f3_rev if r["is_dup"]}
    assert rev_dups < kept_dups
