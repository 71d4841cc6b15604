"""Similarity search over the embeddings table (array<float>, 64-d).

- brute-force cosine top-k: the exact baseline — one scan, JVM-side
  zip_with/aggregate math, top-k via sort-limit (Spark's TakeOrdered).
- LSH-bucketed ANN: random-hyperplane signs → bucket id; candidates come
  from the query's bucket (plus optional multi-probe neighbors), so the
  scan cost drops from O(N) to O(N / 2^planes) expected. The hyperplanes
  are derived deterministically from md5 bits — no RNG state to ship to
  executors, reproducible across runs and engines.

At 100 TB the same plan holds: the bucket id becomes the table's partition
key, partition pruning turns a top-k query into a handful-of-buckets scan,
and the brute-force path stays as the exact re-ranker over candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash32
from ..functions.topk import ranked_top_n
from ..functions.vectors import as_double, cosine_literal

N_PLANES = 8


def _sql_arr(xs: list[float]) -> str:
    """Double-array SQL literal — repr() round-trips Python floats exactly,
    so the engine sees the same bits the driver computed."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in xs) + ")"


def _sql_vecs(vecs: list[list[float]]) -> str:
    """Array-of-double-arrays SQL literal (the seed/centroid matrix)."""
    return "array(" + ", ".join(_sql_arr(q) for q in vecs) + ")"


def _scored_cells_sql(
    seeds_lit: str,
    qns_lit: str,
    v_expr: str,
    nv_expr: str,
    id_expr: str = "c",
    field: str = "cell",
) -> str:
    """(ns, <field>) structs for every anchor: ns = -rounded(6) cosine, so
    ``array_sort``'s lexicographic ascending order == (sim DESC, id ASC) —
    the total order the oracles' ``row_number() OVER (ORDER BY sim DESC,
    cell)`` produces.

    ONE generated SQL string (the r7 ss04 pattern): zero Py4J expression
    fan-out on the driver, and the HOF ``aggregate``/``zip_with`` lambdas
    evaluate interpreted instead of compiling an n_anchors×n_dims-term
    Janino method. The fold order (0D + t1 + t2 + ...) is IEEE-identical to
    the old per-anchor ``dot_literal`` left-assoc reduce (0.0 + x == x), so
    rounded scores — and the oracle hashes — are unchanged.
    """
    return (
        f"transform({seeds_lit}, (q, c) -> named_struct("
        f"'ns', -round(aggregate(zip_with({v_expr}, q, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x) / ({nv_expr} * element_at({qns_lit}, c + 1)), 6), "
        f"'{field}', {id_expr}))"
    )


def _anchor_norms(vecs: list[list[float]]) -> list[float]:
    import math

    return [
        math.sqrt(sum(float(x) * float(x) for x in q)) or 1e-12 for q in vecs
    ]


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1): derived
    from md5 of (plane, dim) — computed driver-side once, shipped as
    literals."""
    import hashlib

    h = int(hashlib.md5(f"p{plane}d{dim}".encode()).hexdigest()[:8], 16)
    return (h / float(1 << 31)) - 1.0


def plane_literals(n_dims: int = 64, n_planes: int = N_PLANES) -> list[list[float]]:
    return [
        [_plane_component(p, d) for d in range(n_dims)] for p in range(n_planes)
    ]


def bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id: bit p set iff dot(vec, plane_p) > 0."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        d = F.aggregate(
            F.zip_with(
                vec, F.array(*[F.lit(c) for c in plane]), lambda x, y: x * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, exclude_id: int | None = None
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    e = emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    if exclude_id is not None:
        e = e.filter(F.col("vec_id") != exclude_id)
    return (
        e.select(
            "vec_id",
            "label",
            F.round(cosine_literal(F.col("v"), query_vec), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def lsh_buckets(emb: DataFrame, n_dims: int = 64) -> DataFrame:
    """Attach the hyperplane-sign bucket id (the ANN partition key)."""
    planes = plane_literals(n_dims)
    return emb.withColumn(
        "bucket", bucket_expr(as_double(F.col("embedding")), planes)
    )


def ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_dims: int = 64,
    multiprobe: int = 1,
    exclude_id: int | None = None,
) -> DataFrame:
    """Approximate top-k: scan only the query's LSH bucket (+ single-bit-flip
    neighbor buckets when ``multiprobe`` ≥ 1 to recover near-boundary
    points), then exact cosine re-rank of the candidates."""
    planes = plane_literals(n_dims)
    qbucket = 0
    for p, plane in enumerate(planes):
        d = sum(x * y for x, y in zip(query_vec, plane))
        if d > 0:
            qbucket |= 1 << p
    probe = {qbucket}
    if multiprobe >= 1:
        probe |= {qbucket ^ (1 << p) for p in range(len(planes))}
    cand = lsh_buckets(emb, n_dims).filter(F.col("bucket").isin(list(probe)))
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(
                cosine_literal(as_double(F.col("embedding")), query_vec), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: partition the space into cells around trained
# centroids; a query probes only the nearest nprobe cells. The standard
# large-scale layout (FAISS IVF): at 100 TB the cell id is the table's
# partition key and training runs on a driver-side sample — exactly what
# this does.
# ---------------------------------------------------------------------------
def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 5,
    sample_mod: int = 7,
) -> list[list[float]]:
    """Lloyd's k-means on a deterministic hash-sample, driver-side numpy.

    Sampling keeps the driver transfer O(sample), independent of table
    size; seeds are the first n_cells sample rows by vec_id, so training
    is fully reproducible (no RNG)."""
    import numpy as np

    sample = (
        emb.filter(md5_hash32(F.col("vec_id").cast("string")) % sample_mod == 0)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .limit(4096)
        .collect()
    )
    if not sample:
        # tiny tables can miss the hash gate entirely — deterministic
        # unfiltered head sample instead of a shape-(0,) ndarray crash
        sample = (
            emb.orderBy("vec_id").select("vec_id", "embedding").limit(4096).collect()
        )
    if not sample:
        raise ValueError("train_ivf_centroids: embeddings table is empty")
    x = np.array([[float(v) for v in r["embedding"]] for r in sample])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = x[:n_cells].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(n_cells):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(float(np.linalg.norm(m)), 1e-12)
    return [[float(v) for v in c] for c in cents]


def ivf_assign(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Attach each vector's cell id (argmax centroid cosine).

    Vectorized pandas_udf: the assignment is a (batch × dims) @ (dims ×
    cells) matmul per Arrow batch — the Python-worker path is right here
    because 16 JVM aggregate-expressions per row lose to one BLAS call.
    """
    import numpy as np
    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids)  # rows already unit-norm

    # no type hints: PySpark would try to resolve the (stringified, locally
    # imported) pd.Series annotation; the explicit returnType is enough
    def _cell_of(col):
        x = np.array(col.tolist(), dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ cents.T).argmax(axis=1).astype("int32"))

    cell_of = pandas_udf(_cell_of, "int")

    return emb.withColumn("cell", cell_of(F.col("embedding")))


def ivf_assign_multiprobe(
    emb: DataFrame, centroids: list[list[float]], nprobe: int = 4
) -> DataFrame:
    """(vec_id, cell) for each vector's ``nprobe`` highest-cosine centroids
    — the multiprobe twin of ``ivf_assign`` (argmax only). One Arrow-batched
    matmul + argsort per batch; ties break to the lowest cell id (numpy
    argsort is stable), so assignment is deterministic. Output is n·nprobe
    rows with the cell as the blocking/partition key."""
    import numpy as np
    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids)  # rows already unit-norm
    k = min(nprobe, len(centroids))

    def _cells_of(col):
        x = np.array(col.tolist(), dtype=np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        top = np.argsort(-(x @ cents.T), kind="stable", axis=1)[:, :k]
        return pd.Series([row.astype("int32") for row in top])

    cells_of = pandas_udf(_cells_of, "array<int>")
    return emb.select(
        "vec_id", F.explode(cells_of(F.col("embedding"))).alias("cell")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    exclude_id: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF search: nearest ``nprobe`` cells by query-centroid cosine, exact
    cosine re-rank inside them. Expected scan fraction ≈ nprobe/n_cells;
    with the cell as partition key the non-probed cells are pruned at the
    file level, not just filtered."""
    import numpy as np

    cents = np.array(centroids if centroids is not None else train_ivf_centroids(emb, n_cells))
    q = np.array(query_vec, dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    probe = [int(c) for c in (cents @ q).argsort()[::-1][:nprobe]]
    cand = ivf_assign(emb, [list(c) for c in cents]).filter(
        F.col("cell").isin(probe)
    )
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(
                cosine_literal(as_double(F.col("embedding")), query_vec), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def auto_n_cells(emb: DataFrame) -> int:
    """Default IVF cell count: ``ceil(sqrt(n))`` — the standard IVF sizing
    (FAISS guideline; also what every "n_cells grows ~√n" scale note in
    this module prescribes). VERDICT r10 #6: dd05's ×16 solo wall was
    candidate-generation-bound at a FIXED n_cells=32 for 32k vectors
    (≈1000/cell); √n ≈ 181 cells cuts expected candidate mass ~n·nprobe²/
    n_cells proportionally. The count() this costs is one metadata-cheap
    job (parquet row counts come from footers); oracled queries pass
    their n_cells EXPLICITLY instead, so the SQL contract never moves."""
    import math

    return max(1, math.ceil(math.sqrt(emb.count())))


def seed_cell_assign(
    emb: DataFrame,
    n_cells: int | None = None,
    nprobe: int = 4,
    seeds_from: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, cell): oracle-reproducible IVF-style multiprobe assignment.

    Cells are anchored on FIXED seed vectors — the ``n_cells`` lowest
    ``vec_id`` rows — instead of trained k-means centroids, so a SQL engine
    can recompute the exact same assignment (deterministic seeds + rounded
    cosine + cell-id tie-break; k-means centroids would not be expressible
    in the DuckDB oracle). Each vector lands in its ``nprobe``
    highest-cosine cells (IVF multiprobe), which is what bounds near-dup
    pair recall.

    Scale shape: the seed collect is O(n_cells) rows; assignment is a
    per-row expression over broadcast literals (no shuffle, no Python);
    output is n·nprobe rows. At 100 TB, n_cells grows ~√n (SemDeDup-style
    cluster blocking) and the assignment cost stays one scan.

    ``seeds_from`` lets a second frame (e.g. a query batch in knn_join)
    share the corpus' anchors — assignments are only comparable across
    frames when their cells are.

    ``n_cells=None`` (default) auto-sizes to ``auto_n_cells`` of the
    anchor frame; pass an explicit value to pin an oracle contract.
    """
    from ..functions.vectors import norm

    if n_cells is None:
        n_cells = auto_n_cells(seeds_from if seeds_from is not None else emb)
    seeds = (
        (seeds_from if seeds_from is not None else emb)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_cells)
        .collect()
    )
    seed_vecs = [[float(x) for x in r["embedding"]] for r in seeds]
    # The per-row scoring below is n_cells×dims of interpreted HOF math; a
    # small parquet arrives in 1-2 scan partitions, so spread the rows
    # first or the whole assignment runs ~1-wide (the hashed_shingles
    # width rule, guide §2 — a no-op at real scale where the scan already
    # yields ≥ defaultParallelism partitions).
    sc = emb.sparkSession.sparkContext
    if emb.rdd.getNumPartitions() < sc.defaultParallelism:
        emb = emb.repartition(sc.defaultParallelism)
    # Row norm staged ONCE (the n_cells per-seed expressions all divide by
    # it); seed norms computed driver-side exactly as cosine_literal's qn.
    # Scoring is ONE generated SQL string over the literal seed matrix —
    # the r7 ss04 rebuild pattern (see _scored_cells_sql): rounded
    # assignments, and therefore the dd05/px03/ss05 oracle hashes, are
    # bit-unchanged vs the old per-seed dot_literal Column loop.
    staged = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).select(
        "vec_id", "v", norm(F.col("v")).alias("nv")
    )
    scored = _scored_cells_sql(
        _sql_vecs(seed_vecs), _sql_arr(_anchor_norms(seed_vecs)), "v", "nv"
    )
    return staged.select(
        "vec_id",
        F.expr(
            f"explode(transform(slice(array_sort({scored}), 1, {int(nprobe)}), "
            f"s -> s.cell))"
        ).alias("cell"),
    )


def rrf_fuse(
    lex: DataFrame,
    dense: DataFrame,
    id_col: str = "doc_id",
    k_rrf: int = 60,
    top_n: int = 20,
    weights: tuple[int, int] = (1, 1),
) -> DataFrame:
    """Reciprocal-Rank Fusion (ss21 — Cormack et al. SIGIR'09, the
    standard hybrid-retrieval combiner): fuse a lexical ranking (BM25,
    tx26 contract) with a dense ranking (cosine top-k, ss01 contract) by
    summing 1/(k+rank) per side. Rank-only fusion — no score calibration
    across incommensurable scales, which is exactly why RRF is the
    production default for BM25+vector hybrids.

    Cross-engine exactness: the reciprocal is INTEGER —
    ``10^9 div (k_rrf + rank)`` per side (0 when the side missed the
    document), summed as BIGINT, so the fused ordering is bit-identical
    in Spark and DuckDB (no float division anywhere).

    Inputs are each side's top-N frame with a ``rank`` column (both are
    TakeOrdered products — bounded), so the full-outer fusion join is a
    ≤2N-row broadcast-scale operation regardless of corpus size; the
    final top-n is the ranked_top_n house helper.

    ``weights`` (r13 — the weighted-RRF variant of Cormack et al.'s
    uniform rule) scales each side's reciprocal by an INTEGER weight
    to each side's integer reciprocal — ``w * (10^9 div (k+rank))``,
    weight applied AFTER the division so (1,1) reproduces the historical
    integers exactly — and the exactness contract survives any
    weighting (no float mixture parameter; express 0.7/0.3 as (7, 3)).
    The default (1, 1) is bit-identical to the historical unweighted
    fusion (pinned in tests)."""
    wl, wd = (int(weights[0]), int(weights[1]))
    if wl < 0 or wd < 0:
        raise ValueError(f"weights must be non-negative ints, got {weights}")
    side = f"%s * ({10**9} div ({int(k_rrf)} + %s))"
    l = lex.select(F.col(id_col), F.col("rank").alias("lex_rank"))
    d = dense.select(F.col(id_col), F.col("rank").alias("dense_rank"))
    fused = l.join(d, id_col, "full_outer").select(
        id_col,
        "lex_rank",
        "dense_rank",
        (
            F.expr(
                "CASE WHEN lex_rank IS NULL THEN CAST(0 AS BIGINT) "
                f"ELSE {side % (wl, 'lex_rank')} END"
            )
            + F.expr(
                "CASE WHEN dense_rank IS NULL THEN CAST(0 AS BIGINT) "
                f"ELSE {side % (wd, 'dense_rank')} END"
            )
        )
        .cast("bigint")
        .alias("rrf_ppb"),
    )
    return ranked_top_n(
        fused, [F.col("rrf_ppb").desc(), F.col(id_col)], top_n
    ).select("rank", id_col, "rrf_ppb", "lex_rank", "dense_rank")


def seeded_probe_cells(
    emb: DataFrame,
    query_vec: list[float],
    n_cells: int = 16,
    nprobe: int = 4,
) -> list[int]:
    """The probe set ``ivf_topk_seeded`` embeds as a constant-folded
    literal, returned to the DRIVER instead: evaluated through the SAME
    engine expression tree over a one-row frame, so the cells (and their
    order) match the in-plan probe — and therefore the DuckDB oracle —
    exactly. Needed by the MATERIALIZED-index path (ss20), where the
    probe must become a partition filter on a parquet read rather than a
    predicate inside one fused plan."""
    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_cells).collect()
    )
    seed_vecs = [[float(x) for x in r["embedding"]] for r in seeds]
    qv = [float(x) for x in query_vec]
    qv_lit = _sql_arr(qv)
    q_norm_sql = (
        f"sqrt(aggregate(zip_with({qv_lit}, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x))"
    )
    scored = _scored_cells_sql(
        _sql_vecs(seed_vecs), _sql_arr(_anchor_norms(seed_vecs)), qv_lit, q_norm_sql
    )
    probe_sql = (
        f"transform(slice(array_sort({scored}), 1, {int(nprobe)}), s -> s.cell)"
    )
    spark = emb.sparkSession
    row = spark.range(0, 1, 1, 1).select(F.expr(probe_sql).alias("p")).collect()[0]
    return [int(c) for c in row["p"]]


def build_seeded_filtered_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    label_col: str = "label",
) -> None:
    """Materialize the SEEDED-cell IVF index partitioned by
    (cell, label): the oracle-replayable sibling of ``build_ivf_index``
    — the argmax seeded assignment (the ss04/ss18/ss19 contract) becomes
    a physical partition column next to the predicate column, so a
    filtered probe (ss20) prunes files on BOTH. Embeddings round-trip
    parquet bit-exactly (float arrays), so a probe over the index
    reproduces the in-plan query's hashes.

    r13: the assignment is computed INLINE on the embedding row (the
    same staged v/nv + generated-SQL argmax seed_cell_assign evaluates,
    so the cell ids are bit-identical) instead of joining the (vec_id,
    cell) frame back on vec_id — that join cost two hash(vec_id)
    exchanges of the full vector payload for what is a per-row
    expression. The write repartitions ON the partition columns first
    (the bm25/gate-store small-files rule): without it every scan task
    emits a file into every (cell, label) directory."""
    from ..functions.vectors import as_double, norm

    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_cells).collect()
    )
    seed_vecs = [[float(x) for x in r["embedding"]] for r in seeds]
    sc = emb.sparkSession.sparkContext
    if emb.rdd.getNumPartitions() < sc.defaultParallelism:
        # spread the narrow scan before the n_cells×dims per-row scoring
        # (no-op at real scale — the seed_cell_assign width rule)
        emb = emb.repartition(sc.defaultParallelism)
    scored = _scored_cells_sql(
        _sql_vecs(seed_vecs), _sql_arr(_anchor_norms(seed_vecs)), "v", "nv"
    )
    assigned = (
        emb.withColumn("v", as_double(F.col("embedding")))
        .withColumn("nv", norm(F.col("v")))
        .withColumn("cell", F.expr(f"slice(array_sort({scored}), 1, 1)[0].cell"))
        .drop("v", "nv")
    )
    assigned.repartition("cell", label_col).write.mode("overwrite").partitionBy(
        "cell", label_col
    ).parquet(path)


def subcell_assign(
    emb: DataFrame,
    cells: DataFrame,
    n_subcells: int = 16,
    nprobe_sub: int = 1,
    id_col: str = "vec_id",
) -> DataFrame:
    """Second-level IVF assignment (VERDICT r11 #6 — the hierarchical
    step of a two-level index): given a coarse (vec_id, cell) multiprobe
    assignment, split every coarse cell into ``n_subcells`` sub-cells and
    return (vec_id, cell, sub) rows with each vector in its
    ``nprobe_sub`` best sub-cells per probed coarse cell.

    Anchors are DATA POINTS — per coarse cell, the ``n_subcells``
    lowest-id members (the seed_cell_assign determinism applied within
    the cell), joined as a BROADCAST table rather than a literal SQL
    matrix: at n_cells·n_subcells anchors (thousands), a literal
    expression string would be megabytes, while the broadcast join costs
    |assignment rows| × n_subcells scored pairs and nothing else. Two
    near-identical vectors in the same coarse cell score its anchors
    near-identically, so they share their argmax sub-cell with
    probability → 1 as similarity → 1 — the same blocking guarantee the
    coarse level gives, compounded.

    Scale shape: one window per coarse cell (bounded by cell size) to
    pick anchors, one broadcast join + one keyed top-``nprobe_sub``
    window for assignment. Candidate pair mass for a blocked self-join
    drops from ~n²·p²/n_cells to ~n²·(p·p_sub)²/(n_cells·n_subcells)."""
    from pyspark.sql import Window as W

    from ..functions.vectors import as_double, dot, norm

    e = emb.select(
        F.col(id_col), as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    members = cells.join(e, id_col)
    aw = W.partitionBy("cell").orderBy(id_col)
    anchors = (
        members.withColumn("sub", F.row_number().over(aw) - 1)
        .filter(F.col("sub") < n_subcells)
        .select(
            F.col("cell"),
            F.col("sub"),
            F.col("v").alias("av"),
            F.col("nrm").alias("anrm"),
        )
    )
    scored = members.join(F.broadcast(anchors), "cell").withColumn(
        "s",
        F.round(
            dot(F.col("v"), F.col("av")) / (F.col("nrm") * F.col("anrm")), 6
        ),
    )
    sw = W.partitionBy(id_col, "cell").orderBy(F.col("s").desc(), F.col("sub"))
    return (
        scored.withColumn("rn", F.row_number().over(sw))
        .filter(F.col("rn") <= nprobe_sub)
        .select(id_col, "cell", "sub")
    )


def ivf_topk_seeded(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    exclude_id: int | None = None,
    predicate: F.Column | None = None,
) -> DataFrame:
    """Oracle-reproducible IVF search — the ss03 graduation trick applied
    to ss04: cells are anchored on the ``n_cells`` lowest-vec_id vectors
    (the dd05/ss05 deterministic-anchor contract a SQL engine can
    recompute), NOT on trained centroids.

    - corpus side: every vector in exactly ONE cell — argmax rounded(6)
      cosine with cell-ASC tie-break; at scale this is the table's
      partition key (build_ivf_index layout), so non-probed cells prune
      at the file level;
    - query side: the ``nprobe`` best cells, computed THROUGH THE SAME
      Spark expression tree over a one-row frame — the probe set comes
      from the identical float ops the corpus assignment (and the DuckDB
      oracle) runs, so the two engines cannot disagree on which cells a
      query visits;
    - re-rank: exact rounded cosine inside the probed cells, top-k via
      orderBy+limit (TakeOrderedAndProject — partial per-partition
      top-k, never a global sort).

    ``ivf_topk`` (numpy-trained centroids, pandas_udf matmul assignment)
    remains the deploy-scale variant — trained cells buy recall per
    probe; this seeded twin trades that for cross-engine verifiability.
    Recall-vs-exact for both variants is pinned in tests.

    Round-7 rebuild — same outputs, ~3x less wall: the k*n_dims literal
    cosine used to be constructed term-by-term through the Column API
    (thousands of Py4J round-trips, ~6 s of pure driver-side build) and
    compiled as a 1024-term codegen tree in THREE separate jobs (probe,
    assign, re-rank). Now (a) every expression is one generated SQL
    string (`F.expr`) — zero Py4J fan-out, (b) the seed matrix is a
    literal array-of-arrays scored with `transform`/`zip_with`/
    `aggregate` HOFs (interpreted lambdas: no giant Janino method; the
    fold order 0D+t1+t2... is IEEE-identical to the old left-assoc
    reduce), and (c — revised r13) the query's probe set is evaluated
    ONCE on a one-row frame and embedded as literal ids: lambda-bearing
    HOFs are NOT constant-foldable, so the earlier in-plan
    `array_contains(probe_cells_sql, cell)` re-scored every seed
    against the query PER CORPUS ROW — as expensive as the assignment
    pass itself. The one-row evaluation runs the identical interpreted
    float path (the seeded_probe_cells/ss20 equivalence), so the probe
    set — and the hash — cannot change.
    """
    import math

    from ..functions.vectors import norm

    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_cells).collect()
    )
    seed_vecs = [[float(x) for x in r["embedding"]] for r in seeds]
    qv = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-12

    seeds_lit = _sql_vecs(seed_vecs)
    qns_lit = _sql_arr(_anchor_norms(seed_vecs))
    qv_lit = _sql_arr(qv)

    def _scored(v_expr: str, nv_expr: str) -> str:
        return _scored_cells_sql(seeds_lit, qns_lit, v_expr, nv_expr)

    # Query-side norm through the SAME engine ops (sqrt of the HOF dot),
    # just over literals — constant-folded by Catalyst with the identical
    # interpreted evaluation a 1-row frame would run.
    q_norm_sql = (
        f"sqrt(aggregate(zip_with({qv_lit}, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x))"
    )
    probe_cells_sql = (
        f"transform(slice(array_sort({_scored(qv_lit, q_norm_sql)}), 1, {nprobe}), "
        f"s -> s.cell)"
    )
    # r13 (guide §1.2/§4): lambda-bearing HOFs are NOT constant-foldable,
    # so an in-plan `array_contains(probe_cells_sql, cell)` re-evaluates
    # the whole n_cells×n_dims scoring+sort PER CORPUS ROW — measured as
    # expensive as the assignment pass itself. Evaluate the identical
    # expression ONCE on a 1-row frame (the seeded_probe_cells/ss20
    # equivalence: same interpreted float path → same probe set) and
    # filter with the literal ids instead.
    probe = [
        int(c)
        for c in emb.sparkSession.range(0, 1, 1, 1)
        .select(F.expr(probe_cells_sql).alias("p"))
        .collect()[0]["p"]
    ]

    staged = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "label", "v", norm(F.col("v")).alias("nv"))
    cand = staged.withColumn(
        "cell", F.expr(f"element_at(array_sort({_scored('v', 'nv')}), 1).cell")
    ).filter(F.col("cell").isin(probe))
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    if predicate is not None:
        # FILTERED search (ss18): the metadata predicate prunes candidates
        # BEFORE the re-rank (pre-filter semantics — the k results are the
        # true top-k among qualifying vectors in the probed cells, never a
        # post-filtered short list). The probe set stays geometry-only; a
        # very selective predicate therefore wants a higher nprobe, the
        # standard filtered-IVF trade (at the build_ivf_index layout the
        # predicate column can join `cell` in the partition spec, making
        # this prune file-level too).
        cand = cand.filter(predicate)
    rerank_sql = (
        f"round(aggregate(zip_with(v, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x) / (nv * {qn!r}D), 6)"
    )
    return (
        cand.select("vec_id", "label", F.expr(rerank_sql).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 5,
    partition_cols: tuple[str, ...] = ("cell",),
    folded_epochs: tuple[int, ...] = (),
) -> list[list[float]]:
    """Materialize the IVF index: train centroids, assign cells, write the
    table partitioned by ``partition_cols``, and store centroids + per-cell
    counts in a ``_ivf_meta.json`` sidecar (the leading underscore keeps it
    out of parquet file listings).

    With ``cell`` as a physical partition column, a probe query is pruned at
    the FILE level — non-probed cells are never listed into the scan, the
    100 TB layout FAISS-style IVF assumes. For FILTERED search (ss18) add
    the predicate column to the spec — ``("cell", "label")`` — and the
    metadata predicate prunes at the file level too: probing cell c for
    label v lists only the (c, v) directory, so a full-probe within-label
    scan reads exactly the qualifying rows (VERDICT r11 #3a). The per-query
    ``ivf_topk`` above is the index-free variant; this is the scale path.

    INCREMENTAL layout (r13): rows live under an ``epoch=N`` partition
    prefix so ``upsert_ivf_index`` can add vectors later without a
    rebuild; the sidecar records per-epoch counts plus the cumulative
    totals probes read, and ``committed_epochs`` is the commit record —
    probes scan only committed epochs, so a crashed upsert (files
    written, sidecar not) is invisible until its replay completes. The
    extra partition level costs nothing at probe time: cell/label
    pruning is unchanged (all partition columns prune independently).

    ``folded_epochs`` pre-seeds the sidecar's folded-epoch memory — the
    streaming-sync binding (the BM25 twin's r13 fix): when the BUILDING
    micro-batch has epoch_id > 0 and the driver dies between the sidecar
    commit and the checkpoint commit, the replayed batch finds its id
    folded and no-ops instead of re-inserting every vector as a fresh
    append epoch."""
    spark = emb.sparkSession
    cents = train_ivf_centroids(emb, n_cells, iters)
    sc = spark.sparkContext
    if emb.rdd.getNumPartitions() < sc.defaultParallelism:
        # spread a narrow scan before the per-batch matmul assignment
        # (r13 width rule; no-op at real scale)
        emb = emb.repartition(sc.defaultParallelism)
    # repartition ON the partition columns before the partitioned write
    # (r13, the bm25 small-files rule): without it every assignment task
    # emits a file into every cell directory
    ivf_assign(emb, cents).withColumn("epoch", F.lit(0)).repartition(
        *partition_cols
    ).write.mode("overwrite").partitionBy("epoch", *partition_cols).parquet(path)
    meta = {
        "centroids": cents,
        "partition_cols": list(partition_cols),
        "folded_epochs": sorted(int(e) for e in folded_epochs),
        "epochs": {"0": _ivf_epoch_counts(spark, path, 0, partition_cols)},
    }
    _write_ivf_meta(spark, path, meta)
    return cents


def _ivf_epoch_counts(
    spark, path: str, epoch: int, partition_cols
) -> dict:
    """Per-epoch sidecar stats, recomputed from what is ON DISK for that
    epoch (ground truth — replay-stable under the idempotent dynamic
    partition overwrite)."""
    idx = spark.read.parquet(path).filter(F.col("epoch") == epoch)
    if len(partition_cols) <= 1:
        return {
            "cell_counts": {
                str(int(r["cell"])): r["count"]
                for r in idx.groupBy("cell").count().collect()
            }
        }
    # ONE collect serves both stat maps (r14): counts are additive, so
    # the per-cell totals are the driver-side sum of the per-tuple
    # counts — the old second groupBy re-scanned the epoch for numbers
    # already in hand. group_counts keys are "cell|v1|v2..." in
    # partition_cols order (the selectivity input the filtered-probe
    # rule reads driver-side).
    rows = idx.groupBy(*partition_cols).count().collect()
    cell_counts: dict = {}
    for r in rows:
        key = str(int(r["cell"]))
        cell_counts[key] = cell_counts.get(key, 0) + r["count"]
    return {
        "cell_counts": cell_counts,
        "group_counts": {
            "|".join(str(r[c]) for c in partition_cols): r["count"]
            for r in rows
        },
    }


def _sum_counts(dicts) -> dict:
    tot: dict = {}
    for d in dicts:
        for k, n in d.items():
            tot[k] = tot.get(k, 0) + n
    return tot


def _sub_counts(tot: dict, minus: dict) -> dict:
    """tot − minus per key, keys with nothing left dropped (both inputs
    come from disk scans, so the difference is exact, never negative)."""
    out = dict(tot)
    for k, n in minus.items():
        left = out.get(k, 0) - n
        if left > 0:
            out[k] = left
        else:
            out.pop(k, None)
    return out


def _write_ivf_meta(spark, path: str, meta: dict) -> None:
    """Finalize cumulative totals + the commit record, then write the
    sidecar ATOMICALLY through the Hadoop FS (the ADVICE r12 gate-store
    lesson: driver-local open() silently misses remote stores). The meta
    write IS the upsert's commit point — probes read committed_epochs."""
    import json

    from ..streaming.fsio import write_text_atomic

    eps = meta["epochs"]
    meta["committed_epochs"] = sorted(int(e) for e in eps)
    meta.setdefault("folded_epochs", [])
    # tombstones (delete_from_ivf_index): cumulative counts go NET of
    # committed deletions so the adaptive/filtered probe planners see
    # the surviving population (delete-equals-rebuild, the BM25 twin's
    # contract)
    tombs = meta.setdefault("tombstones", {})
    meta["tombstone_epochs"] = sorted(int(e) for e in tombs)
    meta.setdefault("folded_tombstone_epochs", [])
    meta["cell_counts"] = _sub_counts(
        _sum_counts(e["cell_counts"] for e in eps.values()),
        _sum_counts(t.get("cell_counts", {}) for t in tombs.values()),
    )
    if any("group_counts" in e for e in eps.values()):
        meta["group_counts"] = _sub_counts(
            _sum_counts(e.get("group_counts", {}) for e in eps.values()),
            _sum_counts(t.get("group_counts", {}) for t in tombs.values()),
        )
    write_text_atomic(spark, f"{path}/_ivf_meta.json", json.dumps(meta))


def _read_ivf_meta(spark, path: str) -> dict:
    import json

    from ..streaming.fsio import read_text

    txt = read_text(spark, f"{path}/_ivf_meta.json")
    if txt is None:
        raise FileNotFoundError(f"no _ivf_meta.json under {path}")
    return json.loads(txt)


def upsert_ivf_index(new_emb: DataFrame, path: str, epoch: int) -> dict:
    """Add a batch of vectors to a materialized IVF index WITHOUT a
    rebuild — the serving-index freshness operation a 100 TB corpus
    needs (a full re-shuffle of the index per ingest batch is the thing
    this avoids; FAISS calls the same operation ``add``).

    Contract:

    - Assignment uses the index's FROZEN centroids (read from the
      sidecar) — identical cell geometry for old and new rows, so every
      probe rule (adaptive counts, filtered_nprobe selectivity) keeps
      working; centroid drift is handled by periodic rebuild, not here.
    - ``vec_id``s must be NEW (append-only, the training-corpus regime);
      updating an existing id needs delete + rebuild/compaction.
    - EXACTLY-ONCE by replay convergence: the batch lands under its own
      ``epoch=N`` partition via dynamic partition overwrite (a replayed
      epoch overwrites its own files and nothing else), per-epoch stats
      are recomputed from disk, and the sidecar — the commit point — is
      rewritten last through the atomic Hadoop-FS path. A crash between
      data and sidecar leaves the epoch uncommitted: probes filter to
      ``committed_epochs``, so readers never see half an upsert.

    Returns the updated meta."""
    spark = new_emb.sparkSession
    if int(epoch) < 0:
        raise ValueError(
            f"appender epochs must be >= 0 (negative ids are the "
            f"compaction namespace), got {epoch}"
        )
    meta = _read_ivf_meta(spark, path)
    if str(epoch) in meta["epochs"] or int(epoch) in meta.get(
        "folded_epochs", []
    ):
        # replay of a committed epoch — possibly one compaction has
        # since folded away — is an idempotent no-op either way (the
        # CDC replay contract: same batch content, already durable)
        return meta
    pcols = tuple(meta.get("partition_cols", ["cell"]))
    sc = spark.sparkContext
    if new_emb.rdd.getNumPartitions() < sc.defaultParallelism:
        new_emb = new_emb.repartition(sc.defaultParallelism)  # r13 width rule
    # repartition on the partition columns first (r13 small-files rule)
    ivf_assign(new_emb, meta["centroids"]).withColumn(
        "epoch", F.lit(int(epoch))
    ).repartition(*pcols).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch", *pcols).parquet(path)
    meta["epochs"][str(epoch)] = _ivf_epoch_counts(spark, path, epoch, pcols)
    _write_ivf_meta(spark, path, meta)
    return meta


def _read_ivf_tombstones(spark, path: str, meta: dict):
    """Committed tombstoned vec_ids as a 1-column frame, or None when
    the index has no committed deletions (probes then keep their exact
    pre-delete plan — no anti-join node at all)."""
    eps = sorted(int(e) for e in meta.get("tombstones", {}))
    if not eps:
        return None
    return (
        spark.read.parquet(f"{path}/_tombstones")
        .filter(F.col("epoch").isin(eps))
        .select("vec_id")
        .distinct()
    )


def delete_from_ivf_index(
    spark, path: str, vec_ids: DataFrame, epoch: int
) -> dict:
    """Delete vectors from a materialized IVF index WITHOUT a rebuild —
    the dense twin of ``delete_from_bm25_index``, completing the
    forget-path symmetry of the serving-index lifecycle (and the
    index-side half of right-to-be-forgotten: a table delete that
    leaves the ANN index still RETURNING the forgotten vector has not
    forgotten it). Same tombstone design:

    - net-new ids (minus already-tombstoned — double deletes subtract
      nothing twice) land under ``{path}/_tombstones/epoch=N``
      (underscore-prefixed: invisible to the index scan's listing);
    - the removed rows' per-cell (and per-partition-tuple) counts, read
      from the index itself in one semi-join scan, are recorded per
      tombstone epoch in the sidecar — the commit point — so the
      cumulative counts the adaptive/filtered probe planners read go
      NET, exactly a rebuild-on-survivors' sidecar;
    - probes anti-join committed tombstone ids (broadcast; absent
      entirely on an index with no deletes), so every search result
      equals the rebuilt index's (delete-equals-rebuild, pinned by the
      ss25 oracle);
    - ``compact_ivf_index`` reclaims the space: tombstoned rows are
      physically dropped by the fold, the list cleared, absorbed delete
      epochs remembered in ``folded_tombstone_epochs`` for replay.

    Crash-safe by replay (files-then-sidecar, the upsert discipline).
    A tombstoned vec_id must not be re-upserted before a compaction has
    cleared it (the anti-join would hide the new row too)."""
    if int(epoch) < 0:
        raise ValueError(f"delete epochs must be >= 0, got {epoch}")
    meta = _read_ivf_meta(spark, path)
    if str(epoch) in meta.get("tombstones", {}) or int(epoch) in meta.get(
        "folded_tombstone_epochs", []
    ):
        return meta  # replay of a committed (possibly folded) delete
    pcols = tuple(meta.get("partition_cols", ["cell"]))
    ids = vec_ids.select(
        F.col(vec_ids.columns[0]).cast("bigint").alias("vec_id")
    ).distinct()
    prev = _read_ivf_tombstones(spark, path, meta)
    if prev is not None:
        ids = ids.join(prev, "vec_id", "left_anti")
    gone = (
        spark.read.parquet(path)
        .filter(F.col("epoch").isin(meta["committed_epochs"]))
        .join(F.broadcast(ids), "vec_id", "left_semi")
    )
    stats = {
        "cell_counts": {
            str(int(r["cell"])): r["count"]
            for r in gone.groupBy("cell").count().collect()
        }
    }
    if len(pcols) > 1:
        stats["group_counts"] = {
            "|".join(str(r[c]) for c in pcols): r["count"]
            for r in gone.groupBy(*pcols).count().collect()
        }
    ids.repartition(1).write.mode("overwrite").parquet(
        f"{path}/_tombstones/epoch={int(epoch)}"
    )
    meta.setdefault("tombstones", {})[str(epoch)] = stats
    _write_ivf_meta(spark, path, meta)
    return meta


def filtered_nprobe(
    base_nprobe: int, total: int, qualifying: int, n_cells: int
) -> int:
    """Selectivity-scaled probe width for filtered ANN (VERDICT r11 #3b).

    Geometry-only probing under a pre-filter loses recall in proportion to
    the predicate's selectivity (r11 measured 0.35/0.45 at nprobe 2/4 vs
    0.585 unfiltered): each probed cell contributes only its QUALIFYING
    members, so at equal ``nprobe`` the filtered candidate pool is s× the
    unfiltered one. The standard filtered-IVF trade probes 1/s more cells,
    keeping the candidate-ROW budget constant:

        nprobe_eff = min(n_cells, ceil(base_nprobe / s))
                   = min(n_cells, ceil(base_nprobe * total / qualifying))

    Pure-integer ceil — ``(b*t + q - 1) // q`` — so the DuckDB oracle
    reproduces the exact probe width (no float selectivity to drift).
    Rows scanned ≈ nprobe_eff * (qualifying/n_cells) ≈ base_nprobe *
    (total/n_cells): the unfiltered budget. An empty qualifying set probes
    everything (the answer is empty either way; full probe keeps the
    contract total)."""
    if qualifying <= 0:
        return n_cells
    return min(n_cells, (base_nprobe * total + qualifying - 1) // qualifying)


def filtered_seeded_topk_scaled(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    base_nprobe: int = 1,
    label_col: str = "label",
    label_value: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """ss19: filtered IVF search with the selectivity-scaled probe rule —
    ``ivf_topk_seeded``'s pre-filter semantics, but the probe width is
    ``filtered_nprobe`` of the measured predicate selectivity instead of a
    geometry-only constant. One exact count aggregate (a metadata-cheap
    1-row job, the ``auto_n_cells`` discipline) feeds the integer formula;
    the DuckDB oracle recomputes the same counts and the same ceil, so the
    probe set — and therefore the hash — cannot drift."""
    row = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.sum(F.when(F.col(label_col) == label_value, 1).otherwise(0))
        .cast("bigint")
        .alias("qual"),
    ).collect()[0]
    np_eff = filtered_nprobe(base_nprobe, row["total"], row["qual"], n_cells)
    return ivf_topk_seeded(
        emb,
        query_vec,
        k=k,
        n_cells=n_cells,
        nprobe=np_eff,
        exclude_id=exclude_id,
        predicate=F.col(label_col) == label_value,
    )


def probe_cells(
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = None,
    candidate_factor: int = 8,
    meta: dict | None = None,
) -> list[int]:
    """Which cells a query visits — driver-side, from the sidecar only
    (no cluster work). Fixed ``nprobe`` takes the nearest n cells;
    ``nprobe=None`` probes adaptively until the cumulative candidate count
    reaches ``candidate_factor × k``. Pass an already-read ``meta`` to
    skip the sidecar read (the index-probe entry points do — one remote
    read per query, not two)."""
    import numpy as np
    from pyspark.sql import SparkSession

    if meta is None:
        meta = _read_ivf_meta(SparkSession.active(), path)
    cents = np.array(meta["centroids"])
    counts = {int(c): n for c, n in meta["cell_counts"].items()}
    q = np.array(query_vec, dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    order = [int(c) for c in (cents @ q).argsort()[::-1]]
    if nprobe is not None:
        return order[:nprobe]
    probe: list[int] = []
    seen = 0
    for c in order:
        probe.append(c)
        seen += counts.get(c, 0)
        if seen >= candidate_factor * k:
            break
    return probe


def ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int | None = None,
    candidate_factor: int = 8,
    exclude_id: int | None = None,
) -> DataFrame:
    """Search a materialized IVF index.

    ``nprobe=None`` → adaptive probing: visit cells in descending
    query-centroid similarity until the cumulative candidate count (from
    the sidecar stats) reaches ``candidate_factor × k`` — small dense cells
    near the query cost extra probes, one huge cell stops early. A fixed
    ``nprobe`` overrides.
    """
    meta = _read_ivf_meta(spark, path)
    probe = probe_cells(path, query_vec, k, nprobe, candidate_factor, meta=meta)
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin(probe)
        # committed epochs only: a crashed upsert's files are invisible
        & F.col("epoch").isin(meta["committed_epochs"])
    )
    # committed deletions: broadcast anti-join (absent on a delete-free
    # index — no extra plan node), so results equal a rebuilt index's
    tomb = _read_ivf_tombstones(spark, path, meta)
    if tomb is not None:
        cand = cand.join(F.broadcast(tomb), "vec_id", "left_anti")
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(
                cosine_literal(as_double(F.col("embedding")), query_vec), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def filtered_ivf_index_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    base_nprobe: int = 4,
    label_col: str = "label",
    label_value: int = 2,
    exclude_id: int | None = None,
) -> DataFrame:
    """Filtered search over a materialized IVF index built with
    ``partition_cols=("cell", label_col)`` (VERDICT r11 #3).

    Everything before the scan is driver-side sidecar arithmetic — no
    cluster job: the per-(cell,label) counts give the predicate's exact
    selectivity, ``filtered_nprobe`` scales the probe width to hold the
    candidate-row budget at ``base_nprobe`` unfiltered cells, and the scan
    filter is ``cell IN probe AND label = v`` — BOTH partition columns, so
    Spark lists only the probed (cell, v) directories. The plan's
    PartitionFilters carry both predicates (asserted in
    tests/test_ann_recall.py); non-qualifying files are never opened,
    which is what lets the rule probe 1/s more cells at the same bytes
    read."""
    meta = _read_ivf_meta(spark, path)
    pcols = meta.get("partition_cols", ["cell"])
    if label_col not in pcols:
        raise ValueError(
            f"index at {path} is not partitioned by {label_col!r}; "
            f"rebuild with partition_cols=('cell', {label_col!r})"
        )
    li = pcols.index(label_col)
    total = sum(meta["cell_counts"].values())
    qual = sum(
        n
        for key, n in meta["group_counts"].items()
        if key.split("|")[li] == str(label_value)
    )
    n_cells = len(meta["centroids"])
    np_eff = filtered_nprobe(base_nprobe, total, qual, n_cells)
    probe = probe_cells(path, query_vec, k, nprobe=np_eff, meta=meta)
    cand = spark.read.parquet(path).filter(
        F.col("cell").isin(probe)
        & (F.col(label_col) == label_value)
        & F.col("epoch").isin(meta["committed_epochs"])
    )
    # committed deletions (the ivf_index_topk anti-join, same contract)
    tomb = _read_ivf_tombstones(spark, path, meta)
    if tomb is not None:
        cand = cand.join(F.broadcast(tomb), "vec_id", "left_anti")
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    return (
        cand.select(
            "vec_id",
            F.col(label_col).alias("label"),
            F.round(
                cosine_literal(as_double(F.col("embedding")), query_vec), 6
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def knn_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    nprobe: int = 4,
    queries_are_subset: bool = False,
) -> DataFrame:
    """Batch kNN JOIN: top-``k`` corpus neighbors for EVERY query vector at
    once — the set-at-a-time form of ANN (one query at a time is
    ``ann_topk``; a training pipeline labeling millions of rows needs the
    join form). Both sides take IVF-style multiprobe cell assignments
    (``seed_cell_assign`` — deterministic seed anchors, so the DuckDB
    oracle reproduces the exact candidate set); candidates are pairs
    sharing a cell, verified with exact cosine, ranked per query.

    Scale shape: candidates ≈ n_q·n_c·nprobe²/n_cells instead of n_q·n_c —
    the same sub-quadratic blocking dd05 uses, and the per-query top-k is
    a window over only that query's candidates (partial TakeOrdered per
    partition, no global sort). n_cells grows ~√n at scale; swap the seed
    anchors for trained centroids (ivf_assign_multiprobe) off the oracle
    path exactly as embedding_neardup_pairs does.

    ``queries_are_subset=True`` declares queries ⊆ emb (same vec_ids): the
    query assignment is then sliced out of the corpus assignment instead
    of re-scoring against the seed literals — the seed scoring is one
    n_cells×dims-term codegen expression per row, much more expensive
    than the candidate join it feeds, so self-join style callers should
    always set it."""
    from pyspark.sql import Window as W

    from ..functions.vectors import dot, norm

    if n_cells is None:
        n_cells = auto_n_cells(emb)  # resolve ONCE: both sides share cells
    cells = seed_cell_assign(emb, n_cells=n_cells, nprobe=nprobe).persist()
    cc = cells.withColumnRenamed("vec_id", "n_id")
    if queries_are_subset:
        qc = cells.join(
            queries.select("vec_id"), "vec_id", "left_semi"
        ).withColumnRenamed("vec_id", "q_id")
    else:
        qc = seed_cell_assign(
            queries.select("vec_id", "embedding"),
            n_cells=n_cells,
            nprobe=nprobe,
            seeds_from=emb,  # anchors MUST come from the corpus side
        ).withColumnRenamed("vec_id", "q_id")
    # ONE exchange serves dedup, verify and the top-k window (r13, guide
    # §2.4): a pinned-width hash repartition on q_id (a) opts the
    # compute-dense verify out of AQE's byte-based coalescing (candidate
    # rows are 2 longs but cost a 64-dim interpreted cosine each), (b)
    # satisfies dropDuplicates' (q_id, n_id) clustering — hash(q_id) is a
    # subset — so the dedup adds NO exchange where distinct() used to
    # shuffle the full candidate set, and (c) is exactly the window's
    # partitionBy(q_id) requirement, so the rank pass adds no exchange
    # either (3 exchanges → 1 on the candidate path).
    width = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = (
        qc.join(cc, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .repartition(width, "q_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    sim = dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm"))
    scored = (
        cand.join(e.alias("x"), F.col("q_id") == F.col("x.vec_id"))
        .join(e.alias("y"), F.col("n_id") == F.col("y.vec_id"))
        .select("q_id", "n_id", F.round(sim, 6).alias("cos_sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", "cos_sim")
    )


def cross_set_decontaminate(
    emb: DataFrame,
    eval_ids: DataFrame,
    tau: float = 0.35,
    n_cells: int | None = None,
    nprobe: int = 8,
) -> DataFrame:
    """EMBEDDING-based eval-set decontamination (px24): flag every train
    vector whose cosine against ANY eval vector clears ``tau`` — the
    semantic sibling of the n-gram decontamination in
    ``text.py::decontaminated_split`` (px08), catching paraphrased or
    re-rendered eval leakage that shingle overlap misses. Completes the
    decontamination matrix: lexical n-gram (px08), split-level leakage
    (px20), within-set semantic dedup (px09) — this is the CROSS-set
    semantic check between a training corpus and a benchmark set.

    Same deterministic seed-cell blocking contract as dd05/ss05 (so the
    DuckDB oracle reproduces the exact candidate set), but with
    ``nprobe=8`` by default — decontamination optimizes RECALL (a
    missed contamination poisons an eval), and at the fixture geometry
    nprobe=8 recovers ~100% of brute-force hits where dd05's nprobe=4
    sits near 75% (measured; candidates scale nprobe²·n_t·n_e/n_cells,
    still sub-quadratic). Train side = emb minus ``eval_ids``; both
    sides are sliced from ONE corpus-wide cell assignment (the
    queries_are-subset discipline of knn_join — no second seed scoring
    pass).

    Returns one row per CONTAMINATED train vector:
    ``(vec_id, eval_id, cos_sim)`` — the closest offending eval vector
    (ties → lowest eval_id). Clean rows are absent (the flag-join form:
    a pipeline left-anti-joins this output to drop contaminated docs).

    Scale shape: one generated-SQL seed scoring over the corpus, one
    cell-keyed train×eval join (eval is the small side — at 100 TB train
    vs a benchmark suite of 10^4-10^6 rows the per-cell eval slice is
    broadcast-class), exact cosine only on candidates, one keyed
    top-1 window. n_cells grows ~√n exactly as in knn_join."""
    from pyspark.sql import Window as W

    from ..functions.vectors import dot, norm

    if n_cells is None:
        n_cells = auto_n_cells(emb)
    cells = seed_cell_assign(emb, n_cells=n_cells, nprobe=nprobe).persist()
    ev = cells.join(
        eval_ids.select("vec_id"), "vec_id", "left_semi"
    ).withColumnRenamed("vec_id", "eval_id")
    tr = cells.join(
        eval_ids.select("vec_id"), "vec_id", "left_anti"
    ).withColumnRenamed("vec_id", "t_id")
    # Same one-exchange candidate path as knn_join (r13, guide §2.4):
    # pinned-width repartition on t_id serves the dedup, keeps the
    # compute-dense cosine verify out of AQE byte-coalescing, and matches
    # the top-1 window's partitionBy(t_id).
    width = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = (
        tr.join(ev, "cell")
        .select("t_id", "eval_id")
        .repartition(width, "t_id")
        .dropDuplicates(["t_id", "eval_id"])
    )
    e = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    sim = dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm"))
    scored = (
        cand.join(e.alias("x"), F.col("t_id") == F.col("x.vec_id"))
        .join(e.alias("y"), F.col("eval_id") == F.col("y.vec_id"))
        .select("t_id", "eval_id", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(float(tau)))
    )
    w = W.partitionBy("t_id").orderBy(F.col("cos_sim").desc(), F.col("eval_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("t_id").alias("vec_id"), "eval_id", "cos_sim")
    )


def radius_density(
    emb: DataFrame,
    tau: float = 0.3,
    n_cells: int | None = None,
    nprobe: int = 4,
) -> DataFrame:
    """Embedding NEIGHBORHOOD DENSITY (ss14) — for EVERY vector, how many
    cell-blocked neighbors sit within rounded cosine ≥ ``tau``, plus the
    max similarity seen: the radius-search/outlier signal of embedding
    curation (0 neighbors = isolated/likely noise; a large count = a
    dense near-dup clump SemDeDup-style pruning should visit). The
    set-at-a-time form of FAISS range_search, with the same deterministic
    seed-cell blocking contract as dd05/ss05: the count is over BLOCKED
    candidates (shared probe cell), which the oracle reproduces exactly —
    a pair in no shared cell is out of contract, the dd05 trade.

    Returns ``(vec_id, n_neighbors, max_sim)`` — one row per vector,
    max_sim NULL when nothing clears ``tau``.

    Scale shape: one seed-cell assignment (generated-SQL scorer), one
    cell-keyed self-join producing ~n·nprobe²/n_cells candidates instead
    of n², exact cosine only on candidates, one keyed count. n_cells
    grows ~√n at scale exactly as in knn_join.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    from ..functions.vectors import dot, norm

    cells = seed_cell_assign(emb, n_cells=n_cells, nprobe=nprobe).persist()
    qc = cells.withColumnRenamed("vec_id", "q_id")
    cc = cells.withColumnRenamed("vec_id", "n_id")
    # Same one-exchange candidate path as knn_join (r13, guide §2.4):
    # pinned-width repartition on q_id serves the dedup, the verify AND
    # the per-vector neighbor aggregation (groupBy q_id).
    width = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cand = (
        qc.join(cc, "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .repartition(width, "q_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    e = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).withColumn("nrm", norm(F.col("v")))
    sim = dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm"))
    hits = (
        cand.join(e.alias("x"), F.col("q_id") == F.col("x.vec_id"))
        .join(e.alias("y"), F.col("n_id") == F.col("y.vec_id"))
        .select("q_id", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(float(tau)))
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
            F.max("cos_sim").alias("max_sim"),
        )
    )
    return (
        emb.select("vec_id")
        .join(hits.withColumnRenamed("q_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0))
            .cast("bigint")
            .alias("n_neighbors"),
            "max_sim",
        )
    )


def label_centroids(emb: DataFrame, n_dims: int = 8) -> DataFrame:
    """Per-label centroid components (first ``n_dims`` dims) via exact
    decimal mean — embedding aggregation with oracle-stable arithmetic."""
    e = emb.select(
        "label", F.posexplode(F.slice(as_double(F.col("embedding")), 1, n_dims))
    ).select("label", F.col("pos"), F.col("col").cast("decimal(18,9)").alias("val"))
    return e.groupBy("label", "pos").agg(
        (F.sum("val").cast("double") / F.count("val")).alias("centroid")
    )


def _kmeans_fit(
    emb: DataFrame,
    k: int,
    n_iters: int,
    n_dims: int,
):
    """The shared Lloyd's loop behind ``kmeans_assign`` (ss06/px03/px09)
    and ``ivf_topk_trained`` (ss15): returns ``(assign_fn, cents)`` where
    ``assign_fn(cents)`` produces the (vec_id, v, cluster, cos) frame and
    ``cents`` is the FINAL [(cluster_id, centroid_doubles)] list — the
    trained coarse quantizer ss15 probes with. Extracted mechanically
    from kmeans_assign (bit-identical outputs; the ss06 oracle contract
    covers both callers)."""
    from ..functions.vectors import norm_flat

    # Spread a narrow scan before the per-row k×n_dims scoring (the
    # seed_cell_assign width rule — every assign() pass below would
    # otherwise run ~1-wide on a single-file local corpus; no-op at scale).
    sc = emb.sparkSession.sparkContext
    if emb.rdd.getNumPartitions() < sc.defaultParallelism:
        emb = emb.repartition(sc.defaultParallelism)
    staged = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "v", norm_flat(F.col("v"), n_dims).alias("nv"))

    def assign(cents: list[tuple[int, list[float]]]) -> DataFrame:
        """(vec_id, v, cluster, cos): argmax rounded cosine over cents.

        One generated SQL string (_scored_cells_sql) instead of a per-
        centroid dot_literal Column loop; surviving cluster ids (possibly
        non-contiguous after drops) are mapped from the transform index
        through a literal id array. ``best`` is staged in its own
        projection so the k×n_dims scoring expression is evaluated once,
        not inlined per output column.
        """
        ids_lit = "array(" + ", ".join(str(int(cid)) for cid, _ in cents) + ")"
        vecs = [[float(x) for x in q] for _, q in cents]
        scored = _scored_cells_sql(
            _sql_vecs(vecs),
            _sql_arr(_anchor_norms(vecs)),
            "v",
            "nv",
            id_expr=f"element_at({ids_lit}, c + 1)",
            field="cluster",
        )
        return staged.withColumn(
            "best", F.expr(f"element_at(array_sort({scored}), 1)")
        ).select(
            "vec_id",
            "v",
            F.col("best.cluster").alias("cluster"),
            (-F.col("best.ns")).alias("cos"),
        )

    seed_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    # Validate the dimension UP FRONT against a sampled embedding (the
    # seeds are already on the driver): with n_iters=1 the centroid-update
    # loop never runs, and a silent dim mismatch there would otherwise
    # surface as null element_at terms / null cosines, not an error.
    for r in seed_rows:
        if len(r["embedding"]) != n_dims:
            raise ValueError(
                f"embedding dim {len(r['embedding'])} != n_dims {n_dims}; "
                f"pass n_dims={len(r['embedding'])} (vec_id {r['vec_id']})"
            )
    cents: list[tuple[int, list[float]]] = [
        (c, [float(x) for x in r["embedding"]]) for c, r in enumerate(seed_rows)
    ]
    for _ in range(n_iters - 1):
        a = assign(cents)
        comp = (
            a.select(
                "cluster", F.posexplode(F.slice(F.col("v"), 1, n_dims))
            )
            .select(
                "cluster", "pos", F.col("col").cast("decimal(18,9)").alias("val")
            )
            .groupBy("cluster", "pos")
            .agg(
                (F.sum("val").cast("double") / F.count("val")).alias("c")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in comp:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["c"]
        for cid, d in by_cluster.items():
            if len(d) != n_dims:
                raise ValueError(
                    f"embedding dim {len(d)} != n_dims {n_dims}; pass n_dims="
                    f"{len(d)} (cluster {cid})"
                )
        cents = [
            (cid, [d[p] for p in range(n_dims)])
            for cid, d in sorted(by_cluster.items())
        ]
    return assign, cents


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    n_dims: int = 64,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column — the
    clustering step of semantic curation (SemDeDup-style cluster-then-
    prune pipelines). Deterministic and ORACLE-REPRODUCIBLE end to end:
    seeds are the ``k`` lowest-vec_id vectors, assignment is argmax of
    ROUNDED(6) cosine with cluster-id ASC tie-break (the ss03/ss04
    ordering contract), and the centroid update is an exact DECIMAL(18,9)
    component sum cast to double then divided by the member count — both
    engines produce bit-identical centroid doubles (the scaled integer
    sum stays far below 2^53, so DuckDB's decimal->double cast rounds
    once). Clusters that lose all members in an iteration are dropped
    (both engines see the same drop; the remaining cluster ids keep their
    original seed numbering).

    Returns the final per-vector assignment ``(vec_id, v, cluster, cos)``
    — v is the double-cast embedding, cos the rounded cosine to the
    vector's final centroid. ``kmeans_clusters`` aggregates this to
    cluster summaries; px09's SemDeDup prune consumes it directly.

    Scale shape: per iteration — one scan with k literal-cosine
    expressions per row (row norm staged ONCE, the seed_cell_assign
    lesson) and one (cluster, pos)-keyed partial-agg shuffle of k*n_dims
    groups; the driver only ever holds k*n_dims centroid doubles. At real
    scale k grows ~sqrt(n) and iterations are a constant — never a pair
    join, never per-row Python.
    """
    assign, cents = _kmeans_fit(emb, k, n_iters, n_dims)
    return assign(cents)


def ivf_topk_trained(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 8,
    n_iters: int = 2,
    nprobe: int = 3,
    exclude_id: int | None = None,
    n_dims: int = 64,
) -> DataFrame:
    """TRAINED-centroid IVF search with a FULL hash oracle (ss15 — the
    graduation ss10's deploy path was missing): the coarse quantizer is
    genuinely Lloyd's-trained (not seed-anchored like ss04's
    ``ivf_topk_seeded``), via the ss06 oracle contract — deterministic
    lowest-vec_id seeds, argmax rounded(6)-cosine assignment with
    cluster-ASC tie-break, exact DECIMAL(18,9) centroid means — so a SQL
    engine recomputes the SAME trained centroids bit-for-bit and replays
    the search end-to-end. Search = the ss04 recipe on those centroids:

    - corpus side: ``_kmeans_fit``'s final assignment (each vector in
      its argmax trained cell — at scale this cluster id is the table's
      partition key, the build_ivf_index layout);
    - query side: the ``nprobe`` best cells by rounded cosine to the
      trained centroids, computed THROUGH THE SAME Spark expression
      tree over literals, so both engines agree on the probe set;
    - re-rank: exact rounded cosine inside the probed cells, top-k via
      orderBy+limit (TakeOrderedAndProject partial top-k).

    vs ``ivf_topk`` (numpy-trained, pandas_udf matmul): same algorithm,
    different training arithmetic — numpy's pairwise summation is not
    bit-replayable in SQL, the decimal-exact distributed update is.
    ``ivf_topk`` stays the raw-throughput deploy variant; ss15 is the
    trained path a correctness gate can pin (recall parity between the
    two is asserted in tests/test_ann_recall.py).

    Scale shape: training is n_iters scans + one (cluster, pos)-keyed
    partial-agg shuffle of k·n_dims groups per iteration; search is one
    scan filtered to nprobe/n_cells of the data (file-pruned when the
    table is written cluster-partitioned) — never a pair join, never
    per-row Python."""
    import math

    from ..functions.vectors import norm

    assign, cents = _kmeans_fit(emb, n_cells, n_iters, n_dims)
    ids_lit = "array(" + ", ".join(str(int(cid)) for cid, _ in cents) + ")"
    vecs = [[float(x) for x in q] for _, q in cents]
    qv = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-12
    qv_lit = _sql_arr(qv)
    # Query-side norm through the SAME engine ops as ivf_topk_seeded —
    # constant-folded literals evaluating the identical interpreted HOF
    # float path the oracle's list_cosine_similarity reproduces at
    # rounded(6).
    q_norm_sql = (
        f"sqrt(aggregate(zip_with({qv_lit}, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x))"
    )
    scored = _scored_cells_sql(
        _sql_vecs(vecs),
        _sql_arr(_anchor_norms(vecs)),
        qv_lit,
        q_norm_sql,
        id_expr=f"element_at({ids_lit}, c + 1)",
        field="cluster",
    )
    probe_sql = (
        f"transform(slice(array_sort({scored}), 1, {int(nprobe)}), "
        f"s -> s.cluster)"
    )
    # r13: same one-row-frame probe evaluation as ivf_topk_seeded (lambda
    # HOFs don't constant-fold; the in-plan filter re-scored all trained
    # centroids per corpus row). Identical engine arithmetic → identical
    # probe set → identical rows.
    probe = [
        int(c)
        for c in emb.sparkSession.range(0, 1, 1, 1)
        .select(F.expr(probe_sql).alias("p"))
        .collect()[0]["p"]
    ]
    cand = assign(cents).filter(F.col("cluster").isin(probe))
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    staged = cand.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        "v",
        norm(F.col("v")).alias("nv"),
    )
    rerank_sql = (
        f"round(aggregate(zip_with(v, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x) / (nv * {qn!r}D), 6)"
    )
    return (
        staged.select("vec_id", "cluster", F.expr(rerank_sql).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


def kmeans_clusters(
    emb: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    n_dims: int = 64,
) -> DataFrame:
    """Cluster summaries over ``kmeans_assign``: one row per surviving
    cluster — ``(cluster_id, n_members, min_vec_id, avg_cos)`` where
    avg_cos is the exact-decimal mean of the members' rounded cosine to
    their final centroid."""
    final = kmeans_assign(emb, k, n_iters, n_dims)
    return final.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("int").alias("n_members"),
        F.min("vec_id").alias("min_vec_id"),
        (
            F.sum(F.col("cos").cast("decimal(10,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_cos"),
    ).select(
        F.col("cluster").alias("cluster_id"), "n_members", "min_vec_id", "avg_cos"
    )


def semantic_dedup_prune(
    emb: DataFrame,
    k: int = 8,
    n_iters: int = 2,
    n_dims: int = 64,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embeddings, then WITHIN
    each cluster drop every vector that has a lower-id near-twin — i.e.
    vec x is removed iff some same-cluster y with ``vec_id < x.vec_id``
    has ``round(cos(x, y), 6) >= threshold``. The greedy keep-first rule
    gives one representative per epsilon-ball without a transitive
    closure, so the whole pipeline stays SQL-expressible (px09's oracle
    recomputes it exactly, recursion-free).

    Returns per vector: ``(vec_id, cluster, is_dup, matched_id)`` with
    matched_id = the smallest qualifying lower-id twin (NULL for
    keepers).

    Scale shape: clustering bounds the quadratic term — the pair join is
    keyed on the cluster id (one shuffle, each task sees one cluster's
    members), the textbook SemDeDup trade: k grows ~sqrt(n) so expected
    per-cluster membership grows ~sqrt(n) and pairwise work stays
    ~n^1.5, not n^2. The cosine here is vector-vs-vector (both sides are
    columns), so it uses the HOF dot — no literals to fold.
    """
    from ..functions.vectors import dot, norm_flat

    a = kmeans_assign(emb, k, n_iters, n_dims)
    # v cut to its first n_dims components, the prefix norm_flat and the
    # k-means assignment use, so the pair dot covers the same prefix; nv
    # staged once per row; PIN before the self-join — otherwise both join
    # sides recompute the full k-means lineage (two assignment scans each,
    # the dd04 persist-before-self-join lesson)
    m = a.select(
        "vec_id",
        "cluster",
        F.slice("v", 1, n_dims).alias("v"),
        norm_flat(F.col("v"), n_dims).alias("nv"),
    ).persist()
    m.count()
    x = m.alias("x")
    y = m.alias("y")
    # HOF dot for the PER-PAIR cosine (r14; the docstring's rule, now in
    # the code): the 64-term flat expression next to the join blows the
    # codegen method budget and the whole verify stage runs interpreted —
    # measured 4-5x slower than the compact HOF loop at 1M pairs
    # (mismatches: 0; same left-assoc order, bit-equal). norm_flat stays
    # for the per-ROW norm, where the straight line is one eval per
    # vector and compiles fine in its own project.
    pair_cos = F.round(
        dot(F.col("x.v"), F.col("y.v"))
        / (F.col("x.nv") * F.col("y.nv")),
        6,
    )
    twins = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("y.vec_id") < F.col("x.vec_id")),
        )
        .filter(pair_cos >= threshold)
        .groupBy(F.col("x.vec_id").alias("vec_id"))
        .agg(F.min(F.col("y.vec_id")).alias("matched_id"))
    )
    return m.select("vec_id", "cluster").join(twins, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.col("matched_id").isNotNull().alias("is_dup"),
        "matched_id",
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): compress each vector into m
# subspace codes (64 floats → m small ints) and search with asymmetric
# distance (ADC) over a per-query lookup table — the memory-side scale
# path for billion-vector ANN, next to the IVF partition-side path.
# ---------------------------------------------------------------------------


def pq_codebooks(
    emb: DataFrame, m: int = 8, k: int = 4, n_dims: int = 64
) -> list[list[list[float]]]:
    """Seed-initialized codebooks: C[s][c] = subvector s of the c-th
    lowest-vec_id embedding — deterministic, so the SQL oracle rebuilds
    them exactly (the ss06 seeding rule applied per subspace). At deploy
    scale swap in per-subspace Lloyd refinement over a bounded sample
    (train_ivf_centroids machinery); the encode/search plumbing below is
    codebook-agnostic."""
    d = n_dims // m
    seeds = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    return [
        [[float(x) for x in r["embedding"][s * d : (s + 1) * d]] for r in seeds]
        for s in range(m)
    ]


def pq_codebooks_trained(
    emb: DataFrame,
    m: int = 8,
    k: int = 4,
    n_dims: int = 64,
    iters: int = 5,
    sample_mod: int = 7,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd refinement over a bounded deterministic
    hash-sample — the train_ivf_centroids machinery with squared-L2
    instead of cosine (PQ quantizes raw subvectors). Seeds are the
    seeded codebooks' own entries (first-k-by-vec_id subvectors), so
    refinement starts from the oracle-checked init and monotonically
    reduces sample distortion; no RNG anywhere. Returns the same
    ``C[m][k][d]`` shape as ``pq_codebooks`` — encode/ADC are
    codebook-agnostic, so this slots into the same API.

    The DRIVER ORACLE stays pinned on the seeded variant (trained float
    state isn't SQL-recomputable — the dd05 lesson); this is the
    deploy-recall path, its recall-vs-exact bound pinned in
    tests/test_extensions.py. Driver transfer is O(sample), independent
    of table size."""
    import numpy as np

    d = n_dims // m
    sample = (
        emb.filter(md5_hash32(F.col("vec_id").cast("string")) % sample_mod == 0)
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .limit(4096)
        .collect()
    )
    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    if not sample:
        # a tiny table can miss the 1-in-sample_mod hash gate entirely —
        # fall back to the (deterministic) seed rows rather than crash
        # on a 1-D empty ndarray slice
        sample = seeds
    if not sample:
        raise ValueError("pq_codebooks_trained: embeddings table is empty")
    x = np.array([[float(v) for v in r["embedding"]] for r in sample])
    out: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * d : (s + 1) * d]
        cents = np.array(
            [[float(v) for v in r["embedding"][s * d : (s + 1) * d]] for r in seeds]
        )
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        out.append([[float(v) for v in c] for c in cents])
    return out


def pq_encode(
    emb: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Per vector: the argmin-centroid code of every subspace (rounded-6
    squared distance, code-ASC tie-break — the ss03/ss04 ordering
    contract) plus the total quantization error. One scan, per-row
    expressions only — no shuffle, no Python; codes are the compressed
    representation (m·log2(k) bits per vector).

    Output: (vec_id, code0..code{m-1}, recon_err).

    Round-7 rebuild (the ss04 lesson, same outputs bit-for-bit): the
    m·k·d-term distance expressions used to be built term-by-term through
    the Column API — thousands of Py4J round-trips on the driver plus a
    single giant codegen tree. Each subspace is now ONE generated SQL
    string over a staged `v` column; the per-subspace best struct is a
    named column referenced twice (code + err), which both bounds each
    stage's codegen and blocks CollapseProject from inlining the
    array_sort twice. Identical literals, fold order, rounding, and
    array_sort total order — the ss07 oracle is untouched."""
    m = len(codebooks)
    d = len(codebooks[0][0])

    staged = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    ).select(
        "vec_id",
        *[F.expr(_pq_best_sql(codebooks, s, d)).alias(f"_b{s}") for s in range(m)],
    )
    err_sql = "CAST(" + " + ".join(
        f"CAST(_b{s}.d AS DECIMAL(12,6))" for s in range(m)
    ) + " AS DOUBLE)"
    return staged.select(
        "vec_id",
        *[F.expr(f"CAST(_b{s}.code AS INT)").alias(f"code{s}") for s in range(m)],
        F.expr(err_sql).alias("recon_err"),
    )


def pq_encode_fast(
    emb: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Arrow-batched deploy twin of ``pq_encode``: per subspace one
    vectorized numpy (batch × k × d) distance computation instead of
    k×d-term literal expressions. ``pq_encode``'s literal codegen is
    bit-pinned to the DuckDB oracle but pays a COMPILE wall that grows
    with k (NOTES: ~11 s at sf0.1, compile-not-data); this path compiles
    nothing and scales to k=256 codebooks — the shape real PQ deployments
    use. Same output contract: rounded-6 squared distances, code-ASC
    tie-break (argmin takes the first minimum), error = re-rounded sum of
    the per-subspace rounded distances (recovers the decimal-exact sum —
    8 six-dp terms in double err << 0.5e-6). Still one shuffle-free scan.
    Fixture equivalence with pq_encode is pinned by test; the oracle
    stays on pq_encode."""
    import numpy as np
    import pandas as pd  # noqa: F811

    m = len(codebooks)
    d = len(codebooks[0][0])
    cbs = [np.array(cb, dtype=np.float64) for cb in codebooks]
    schema = (
        "vec_id long, "
        + ", ".join(f"code{s} int" for s in range(m))
        + ", recon_err double"
    )

    def _enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            out = {"vec_id": pdf["vec_id"]}
            err = np.zeros(len(pdf))
            for s in range(m):
                xs = x[:, s * d : (s + 1) * d]
                d2 = np.round(
                    ((xs[:, None, :] - cbs[s][None, :, :]) ** 2).sum(axis=2), 6
                )
                codes = d2.argmin(axis=1)
                out[f"code{s}"] = codes.astype("int32")
                err += d2[np.arange(len(pdf)), codes]
            out["recon_err"] = np.round(err, 6)
            yield pd.DataFrame(out)

    return emb.select("vec_id", "embedding").mapInPandas(_enc, schema)


def _adc_distance_col(
    qv: list[float], codebooks: list[list[list[float]]]
) -> Column:
    """The shared ADC expression (pq_adc_topk / ivfadc_topk): per
    subspace a k-entry lookup table of exact squared distances from the
    query subvector to each centroid, computed driver-side with a
    LEFT-ASSOC Python sum (the fold order the ss08 oracle's _pq_dist
    embeds — bit-identical before rounding); the row's distance is the
    sum of m table lookups on its code columns, rounded(6)."""
    from functools import reduce

    m = len(codebooks)
    d = len(codebooks[0][0])
    luts: list[list[float]] = []
    for s in range(m):
        sub = qv[s * d : (s + 1) * d]
        luts.append(
            [
                sum(
                    (float(a) - float(b)) * (float(a) - float(b))
                    for a, b in zip(sub, c)
                )
                for c in codebooks[s]
            ]
        )
    adc_terms = [
        F.element_at(
            F.array(*[F.lit(x) for x in luts[s]]), F.col(f"code{s}") + 1
        )
        for s in range(m)
    ]
    return F.round(reduce(lambda a, b: a + b, adc_terms), 6)


def _pq_best_sql(codebooks: list[list[list[float]]], s: int, d: int) -> str:
    """The per-subspace argmin struct expression shared by pq_encode and
    pq_codebooks_trained_exact (extracted mechanically in r11 —
    byte-identical string, so the ss07/ss08 oracle contract is
    untouched): rounded-6 flat squared distance to every centroid
    literal, code-ASC tie-break via array_sort's total struct order."""

    def _sq_sql(q: list[float]) -> str:
        terms = [
            f"(element_at(v, {s * d + i + 1}) - {float(x)!r}D)"
            f" * (element_at(v, {s * d + i + 1}) - {float(x)!r}D)"
            for i, x in enumerate(q)
        ]
        return "(" + " + ".join(terms) + ")"

    structs = ", ".join(
        f"named_struct('d', round({_sq_sql(q)}, 6), 'code', {c})"
        for c, q in enumerate(codebooks[s])
    )
    return f"element_at(array_sort(array({structs})), 1)"


def pq_codebooks_trained_exact(
    emb: DataFrame,
    m: int = 8,
    k: int = 4,
    n_dims: int = 64,
    n_iters: int = 2,
) -> list[list[list[float]]]:
    """DISTRIBUTED, SQL-replayable per-subspace Lloyd's for PQ codebooks
    (ss17) — the PQ analogue of ss15's trained coarse quantizer, and the
    graduation of ``pq_codebooks_trained``'s rows-only claim: every step
    follows the ss06 decimal-exact contract, so the DuckDB oracle
    RETRAINS the codebooks bit-for-bit:

    - seeds: subspace slices of the ``k`` lowest-vec_id vectors (the
      ss07 seeded codebooks — iteration 1's assignment IS ss07's enc);
    - assignment: per subspace argmin of ROUNDED(6) flat squared L2
      with code-ASC tie-break (`_pq_best_sql`, the exact expression
      pq_encode compiles);
    - update: component means as DECIMAL(18,9) sums cast to double then
      divided by the member count — bit-identical in both engines; a
      code that loses every member keeps its previous centroid (the
      numpy deploy path's rule).

    Unlike the deploy path (numpy over a bounded hash-sample), training
    runs over the FULL table: one scan + ONE (s, code, i)-keyed shuffle
    per iteration; the driver transfer is the m·k·d codebook itself.

    Returns the ``C[m][k][d]`` shape ``pq_encode``/``pq_adc_topk``
    consume — the trained codebooks slot into the whole PQ family."""
    d = n_dims // m
    staged = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    seed_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need >= {k} vectors to seed {k} codes")
    cb: list[list[list[float]]] = [
        [
            [float(r["embedding"][s * d + i]) for i in range(d)]
            for r in seed_rows
        ]
        for s in range(m)
    ]
    for _ in range(n_iters - 1):
        codes_arr = "array(" + ", ".join(f"_b{s}.code" for s in range(m)) + ")"
        a = staged.select(
            "v",
            *[F.expr(_pq_best_sql(cb, s, d)).alias(f"_b{s}") for s in range(m)],
        ).select("v", F.expr(codes_arr).alias("codes"))
        comp = (
            a.select(
                F.posexplode(F.slice(F.col("v"), 1, n_dims)).alias("pos", "val"),
                "codes",
            )
            .select(
                F.expr(f"pos div {d}").cast("int").alias("s"),
                F.expr(f"element_at(codes, CAST(pos div {d} AS INT) + 1)")
                .cast("int")
                .alias("code"),
                F.expr(f"pos % {d}").cast("int").alias("i"),
                F.col("val").cast("decimal(18,9)").alias("val"),
            )
            .groupBy("s", "code", "i")
            .agg((F.sum("val").cast("double") / F.count("val")).alias("c"))
            .collect()
        )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for r in comp:
            means.setdefault((r["s"], r["code"]), {})[r["i"]] = r["c"]
        cb = [
            [
                [means[(s, c)][i] for i in range(d)]
                if (s, c) in means
                else cb[s][c]  # empty code keeps its previous centroid
                for c in range(k)
            ]
            for s in range(m)
        ]
    return cb


def pq_adc_topk(
    emb: DataFrame,
    qv: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k: the query is NOT quantized — per
    subspace a k-entry lookup table of exact squared distances from the
    query subvector to each centroid is computed driver-side, and every
    stored vector's approximate distance is the sum of m table lookups on
    its codes. The scan touches only the (vec_id, codes) table — at
    billion-vector scale that is m bytes per vector instead of 4·n_dims,
    the whole point of PQ.

    Output: (rank, vec_id, adc_dist), rank by (rounded dist, vec_id)."""
    from pyspark.sql import Window as W

    codes = pq_encode(emb, codebooks)
    scored = codes.select(
        "vec_id", _adc_distance_col(qv, codebooks).alias("adc_dist")
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    # Partial top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition top-k, then a k-row merge on the driver side of the
    # exchange) — the full corpus is never sorted on one partition. The
    # rank window then runs over only the k survivors, so its
    # single-partition sort is O(k), not O(n).
    topk = scored.orderBy(F.col("adc_dist"), F.col("vec_id")).limit(k)
    w = W.orderBy(F.col("adc_dist"), F.col("vec_id"))  # bounded-ok: <=k rows post-limit
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "adc_dist"
    )


def pq_adc_rerank_topk(
    emb: DataFrame,
    qv: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 100,
    exclude_id: int | None = None,
) -> DataFrame:
    """PQ serving pattern (ss13): ADC over the codes table produces a
    ``shortlist``-sized candidate set, then the TRUE squared distance
    re-ranks only those candidates from the full-vector table — the
    standard IVF-PQ/FAISS two-stage search. Recall@k is governed by
    ``shortlist`` (see tests/test_ann_recall.py for the measured curve);
    ADC quantization error affects WHICH candidates enter the shortlist
    but not their final ordering.

    Output: (rank, vec_id, l2_dist) — exact rounded(6) squared L2.

    Scale shape: the corpus-wide work reads ONLY the m-byte codes
    (TakeOrdered partial top-``shortlist``, never a global sort); full
    vectors are fetched for just the shortlist via a broadcast semi-join
    (the scan prunes on the broadcast at parquet row-group level under
    DPP/AQE). The exact distance is ONE generated flat SQL expression —
    same term order and grouping as the oracle, zero Py4J fan-out.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])
    if len(qv) != m * d:
        raise ValueError(f"query dim {len(qv)} != m*d = {m * d}")
    short = pq_adc_topk(
        emb, qv, codebooks, k=shortlist, exclude_id=exclude_id
    ).select("vec_id")
    # exact squared L2 as one flat generated expression, grouped per
    # subspace exactly like the oracle's _pq_dist concatenation
    sub_sums = []
    for s in range(m):
        terms = " + ".join(
            f"(element_at(v, {s * d + i + 1}) - {float(qv[s * d + i])!r}D)"
            f" * (element_at(v, {s * d + i + 1}) - {float(qv[s * d + i])!r}D)"
            for i in range(d)
        )
        sub_sums.append(f"({terms})")
    l2_sql = f"round({' + '.join(sub_sums)}, 6)"
    cand = (
        emb.join(F.broadcast(short), "vec_id")
        .select(
            "vec_id", as_double(F.col("embedding")).alias("v")
        )
        .select("vec_id", F.expr(l2_sql).alias("l2_dist"))
    )
    from pyspark.sql import Window as W

    topk = cand.orderBy(F.col("l2_dist"), F.col("vec_id")).limit(k)
    w = W.orderBy(F.col("l2_dist"), F.col("vec_id"))  # bounded-ok: <=k rows post-limit
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "l2_dist"
    )


def ivfadc_topk(
    emb: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]] | None = None,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-ADC — the composed billion-vector ANN architecture of Jégou
    et al. 2011 (and FAISS's IndexIVFPQ): an IVF coarse quantizer prunes
    the corpus to ``nprobe``/``n_cells`` of its cells, and inside the
    probed cells the scan reads only each vector's m PQ codes, scored by
    asymmetric distance against a per-query lookup table. ss04 (IVF) and
    ss08 (ADC) each verify one half; this query verifies their
    COMPOSITION — the partition-side and memory-side scale paths working
    together, fully hash-oracled (seed-anchored cells + seed-sliced
    codebooks, both SQL-recomputable).

    Output: ``(rank, vec_id, adc_dist)`` — rank by (rounded dist,
    vec_id) within the probed cells.

    Scale shape: at deploy scale the codes table is PRECOMPUTED and
    partitioned by cell (build_ivf_index layout), so the probe reads
    nprobe/n_cells of an m-bytes-per-vector table — both pruning axes at
    once; here assignment + encode run in the same single scan after the
    cell filter (filter-then-encode: the PQ expressions only evaluate on
    survivors). No joins, no Python, one TakeOrdered."""
    from ..functions.vectors import norm

    seeds = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(n_cells).collect()
    )
    seed_vecs = [[float(x) for x in r["embedding"]] for r in seeds]
    qv = [float(x) for x in query_vec]
    qv_lit = _sql_arr(qv)
    q_norm_sql = (
        f"sqrt(aggregate(zip_with({qv_lit}, {qv_lit}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x))"
    )

    def _scored(v_expr: str, nv_expr: str) -> str:
        return _scored_cells_sql(
            _sql_vecs(seed_vecs), _sql_arr(_anchor_norms(seed_vecs)),
            v_expr, nv_expr,
        )

    probe_cells_sql = (
        f"transform(slice(array_sort({_scored(qv_lit, q_norm_sql)}), 1, "
        f"{int(nprobe)}), s -> s.cell)"
    )
    # r13: one-row-frame probe evaluation (see ivf_topk_seeded) — the
    # in-plan array_contains re-scored all seeds per corpus row.
    probe = [
        int(c)
        for c in emb.sparkSession.range(0, 1, 1, 1)
        .select(F.expr(probe_cells_sql).alias("p"))
        .collect()[0]["p"]
    ]
    staged = emb.select(
        "vec_id", "embedding", as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "embedding", "v", norm(F.col("v")).alias("nv"))
    cand = staged.withColumn(
        "cell", F.expr(f"element_at(array_sort({_scored('v', 'nv')}), 1).cell")
    ).filter(F.col("cell").isin(probe))
    if exclude_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_id)
    cb = codebooks if codebooks is not None else pq_codebooks(emb)
    codes = pq_encode(cand, cb)
    scored = codes.select(
        "vec_id", _adc_distance_col(qv, cb).alias("adc_dist")
    )
    from pyspark.sql import Window as W

    topk = scored.orderBy(F.col("adc_dist"), F.col("vec_id")).limit(k)
    w = W.orderBy(F.col("adc_dist"), F.col("vec_id"))  # bounded-ok: <=k rows post-limit
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", "adc_dist"
    )


def int8_quantize(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Symmetric per-vector int8 quantization — the embedding-storage
    shape (FAISS SQ8 / vector-DB int8 columns): q_i = round(v_i·127 /
    max|v|), stored with the per-vector max as the dequant scale. 4×
    smaller than float32, 8× smaller than float64, and dot products stay
    rank-faithful enough for ANN pre-ranking (exact re-rank on the float
    column).

    Output: (id, mx, codes_md5, n_dims, sum_abs_q) — the md5 fingerprints
    the code array for audit/hashing; real pipelines keep the int8 array
    column itself. The one float op per element (round-0 of v·127/mx) is
    the proven F.round↔DuckDB round pair; everything after is integer.

    Scale shape: per-row expressions only (transform + aggregate) — a
    map-only pass, the property that lets the quantizer run inline in
    the same scan that wrote the embedding."""
    v = as_double(F.col("embedding"))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # all-zero vector guard: mx = 0 would make the division NaN; its
    # codes are exactly zero by definition
    q = F.transform(
        v,
        lambda x: F.when(mx == 0, F.lit(0))
        .otherwise(F.round(x * 127 / mx, 0))
        .cast("int"),
    )
    return emb.select(
        F.col(id_col),
        F.round(mx, 9).alias("mx"),
        F.md5(F.concat_ws(",", F.transform(q, lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.size(v).cast("int").alias("n_dims"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda acc, c: acc + F.abs(c)
        ).alias("sum_abs_q"),
    )


def negative_pairs(
    df: DataFrame,
    id_col: str,
    k: int = 4,
    seed: str = "neg",
) -> DataFrame:
    """Deterministic in-batch negative sampling for contrastive training
    data (the (anchor, negative) pairs a CLIP/SimCSE-style run consumes):
    every row gets ``k`` pseudo-random partner ids drawn WITHOUT ever
    hitting itself.

    Contract: ``id_col`` must be DENSE ``0..N-1`` (the standard corpus
    shape after an id-assignment pass — ``q90_distributed_rank`` is this
    repo's scale-safe way to mint such ids). For anchor ``a`` and slot
    ``j``: ``neg = (a + 1 + h(a‖seed‖j) mod (N-1)) mod N`` — the offset
    lands in ``1..N-1``, so ``neg != a`` by construction, and the md5
    base keeps both engines bit-identical.

    100 TB shape: generation is ONE tiny count (broadcast scalar) + a
    scalar projection exploded k-fold — zero shuffles; materializing
    partner features afterwards is a single equi-join on the dense id.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    a = F.col(id_col).cast("bigint")
    slots = F.explode(
        F.sequence(F.lit(1), F.lit(k))
    ).alias("pair_j")
    out = df.select(a.alias("anchor_id")).crossJoin(F.broadcast(n)).select(
        "anchor_id", "_n", slots
    )
    h = md5_hash32(
        F.concat_ws("#", F.col("anchor_id"), F.lit(seed), F.col("pair_j"))
    )
    # Degenerate-corpus guard: with N < 2 the ring offset `h % (_n - 1)`
    # is a modulo by zero, which non-ANSI Spark would silently NULL out.
    # assert_true is fused into the neg_id expression (not a separate
    # column the optimizer could prune), so a 0/1-row corpus fails loudly
    # with a contract error instead of emitting NULL pairs — and the
    # check stays lazy: no extra driver-side count action.
    guard = F.assert_true(
        F.col("_n") >= 2,
        F.lit("negative_pairs requires a corpus of at least 2 rows"),
    )
    neg = (F.col("anchor_id") + 1 + h % (F.col("_n") - 1)) % F.col("_n")
    return out.select(
        "anchor_id",
        "pair_j",
        F.when(guard.isNull(), neg).alias("neg_id"),
    )


def mmr_rerank(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool_n: int = 50,
    exclude_id: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (ss11; Carbonell & Goldstein
    1998) — DIVERSE top-k retrieval: greedily pick the candidate that
    maximizes ``0.5·rel − 0.5·max_sim_to_already_selected``, so the
    result covers the query's neighborhood instead of returning k
    near-copies of the same document. The standard rerank stage of a RAG
    retrieval pipeline (plain top-k = ss01; this is the diversity pass
    on top).

    Returns ``(rank, vec_id, label, cos_sim)`` — rank is selection
    order, cos_sim the rounded(6) query relevance.

    Exactness: rel and every pairwise penalty are ROUNDED(6) cosines
    (the dd05/ss04 contract); λ=0.5 halving is exact in binary, the
    subtraction is one IEEE op — both engines score identically, and
    ties break by vec_id ASC. The DuckDB oracle replays the same greedy
    chain with generated per-step CTEs.

    Scale shape: the corpus-sized work is ONE TakeOrdered top-``pool_n``
    relevance pass (partial per-partition top-k, never a global sort —
    at scale the pool extraction rides an ANN index instead, same
    contract). DRIVER-SEQUENTIAL CONTRACT (the BPE-loop convention):
    the greedy loop is k sequential driver round-trips — one 1-row
    ``limit(1).collect()`` per pick over the persisted ≤pool_n-row pool
    with the selected vectors embedded as literals (generated SQL, zero
    Py4J fan-out). This is inherent to greedy MMR (pick t+1 depends on
    picks 1..t); both k and pool_n are constants enforced by the
    ``k <= pool_n`` guard below, so driver work is O(k) rows total —
    the k-means-seed materialization convention, never corpus-sized.
    """
    import math

    from ..functions.vectors import norm

    if k < 1 or pool_n < k:
        raise ValueError(f"need 1 <= k <= pool_n, got k={k} pool_n={pool_n}")
    qv = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in qv)) or 1e-12
    staged = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).select("vec_id", "label", "v", norm(F.col("v")).alias("nv"))
    if exclude_id is not None:
        staged = staged.filter(F.col("vec_id") != exclude_id)
    rel_sql = (
        f"round(aggregate(zip_with(v, {_sql_arr(qv)}, (a, b) -> a * b), "
        f"0D, (acc, x) -> acc + x) / (nv * {qn!r}D), 6)"
    )
    pool = (
        staged.withColumn("rel", F.expr(rel_sql))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(pool_n)
        .persist()
    )
    try:
        picked: list = []  # collected Rows, in selection order
        for _ in range(k):
            remaining = pool.filter(
                ~F.col("vec_id").isin([int(r["vec_id"]) for r in picked])
            ) if picked else pool
            if not picked:
                best = remaining.orderBy(F.desc("rel"), "vec_id").limit(1).collect()
            else:
                sel_vecs = [[float(x) for x in r["v"]] for r in picked]
                pen_sql = (
                    f"array_max(transform({_sql_vecs(sel_vecs)}, (q, c) -> "
                    f"round(aggregate(zip_with(v, q, (a, b) -> a * b), "
                    f"0D, (acc, x) -> acc + x) / "
                    f"(nv * element_at({_sql_arr(_anchor_norms(sel_vecs))}, c + 1)), 6)))"
                )
                best = (
                    remaining.withColumn(
                        "score", F.expr(f"0.5D * rel - 0.5D * {pen_sql}")
                    )
                    .orderBy(F.desc("score"), "vec_id")
                    .limit(1)
                    .collect()
                )
            if not best:
                break
            picked.append(best[0])
        # k collected rows -> result frame (bounded driver materialization,
        # the k-means-seed convention); label keeps its SOURCE column type.
        spark = emb.sparkSession
        label_t = emb.schema["label"].dataType.simpleString()
        from ..functions.localframe import local_frame

        return local_frame(
            spark,
            [
                (t + 1, int(r["vec_id"]), r["label"], float(r["rel"]))
                for t, r in enumerate(picked)
            ],
            f"rank INT, vec_id BIGINT, label {label_t}, cos_sim DOUBLE",
        )
    finally:
        pool.unpersist()


def knn_label_vote(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    queries_are_subset: bool = True,
    n_cells: int | None = None,
) -> DataFrame:
    """kNN majority-vote labeling (ss12) — the weak-labeling /
    auto-annotation pass over ``knn_join``: each query vector takes the
    modal label of its ``k`` nearest corpus neighbors, ties broken by
    (votes DESC, label ASC). What a training pipeline runs to propagate
    labels from a seed set to unlabeled data.

    Returns ``(q_id, pred_label, n_votes)``.

    Scale shape: the neighbor set is ss05's cell-blocked sub-quadratic
    join; the vote is one (q_id, label) hash aggregation plus one keyed
    window over at most k rows per query. Nothing here scales worse
    than the kNN join itself.
    """
    from pyspark.sql import Window as W

    nn = knn_join(
        emb, queries, k=k, n_cells=n_cells, queries_are_subset=queries_are_subset
    )
    votes = (
        nn.join(
            emb.select(F.col("vec_id").alias("n_id"), "label"), "n_id"
        )
        .groupBy("q_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("n_votes"), "label")
    return (
        votes.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )


def compact_ivf_index(spark, path: str) -> dict:
    """Fold an upserted IVF index back to ONE epoch — the lifecycle step
    after many ``upsert_ivf_index`` batches. Centroids, per-cell (and
    per-(cell,label)) counts, and every row are preserved, so probes are
    BIT-UNCHANGED; the fold is one cell-partitioned scan + repartition
    write (layout.compact_epoch_partitions — no retrain). Same commit
    discipline as upsert: staging+rename, sidecar rewrite is the commit
    point, folded epoch dirs deleted last; every crash window re-runs
    clean."""
    from .layout import cleanup_foreign_epochs, compact_epoch_partitions

    from ..streaming.fsio import delete_dir

    meta = _read_ivf_meta(spark, path)
    committed = meta["committed_epochs"]
    tombs = meta.get("tombstones", {})
    if len(committed) == 1 and not tombs:
        cleanup_foreign_epochs(spark, path, committed)
        return meta
    pcols = tuple(meta.get("partition_cols", ["cell"]))
    # cumulative counts are already NET of committed deletions
    folded = {"cell_counts": dict(meta["cell_counts"])}
    if "group_counts" in meta:
        folded["group_counts"] = dict(meta["group_counts"])
    tomb_ids = _read_ivf_tombstones(spark, path, meta)
    new_epoch = compact_epoch_partitions(
        spark,
        path,
        committed,
        pcols,
        "cell",
        exclude_ids=tomb_ids,
        exclude_col="vec_id",
    )
    meta2 = {
        "centroids": meta["centroids"],
        "partition_cols": list(pcols),
        "epochs": {str(new_epoch): folded},
        # remember every appender (>= 0) epoch this fold absorbed — a
        # replayed upsert with a folded id must no-op, not double-insert
        "folded_epochs": sorted(
            set(meta.get("folded_epochs", []))
            | {e for e in committed if e >= 0}
        ),
        # tombstoned rows were physically dropped by the fold; absorbed
        # delete-epoch ids are remembered so a replayed delete no-ops
        "folded_tombstone_epochs": sorted(
            set(meta.get("folded_tombstone_epochs", []))
            | {int(e) for e in tombs}
        ),
    }
    _write_ivf_meta(spark, path, meta2)
    cleanup_foreign_epochs(spark, path, meta2["committed_epochs"])
    delete_dir(spark, f"{path}/_tombstones")  # after the sidecar commit
    return meta2
