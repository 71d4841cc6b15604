"""Deduplication operators — exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the part that matters at 100 TB):

- exact dedup: one hash-groupBy on a 32-char fingerprint (map-side partial
  agg), never a self-join.
- MinHash signatures: per-row array expressions (shingle → k permutation
  mins) — no explode, no shuffle; signature width is a constant.
- LSH banding: explode k sigs into b bands (b rows per doc, not n²) and
  shuffle on (band, band_hash) — candidate generation cost is O(docs·b +
  candidate pairs), the standard sub-quadratic path.
- SimHash: explode tokens → single groupBy(doc) with 32 partial-agg bit
  sums.
- verification joins (Jaccard / cosine) run only on LSH candidates.

All hashes are md5-derived int64 math (functions.hashing) so the DuckDB
oracle reproduces signatures bit-for-bit.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import MERSENNE31, md5_hash32, md5_hash60
from .merge import StateStore, upsert_many
from .text import tokens

# ---------------------------------------------------------------------------
# MinHash parameters — k=16 permutation hashes in 4 bands of 4. Coefficients
# are fixed (seeded) module constants so Spark and the SQL oracle share them.
# a is kept small (≤9999) so a*h (< 1e4 * 2^31) stays far from int64 overflow.
# ---------------------------------------------------------------------------
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
_rng = random.Random(7)
MINHASH_PARAMS: list[tuple[int, int]] = [
    (_rng.randint(1, 9999), _rng.randint(0, MERSENNE31 - 1)) for _ in range(N_HASHES)
]
SHINGLE_K = 3


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id"):
    """(dup_groups, survivors): groups keyed by content fingerprint with
    min-id keeper; survivors = rows whose id is the keeper."""
    fp = F.md5(F.lower(F.col(text_col)))
    groups = (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper"))
    )
    survivors = df.join(
        groups.select(F.col("keeper").alias(id_col)), id_col, "left_semi"
    )
    return groups, survivors


def shingles(text_col: Column | str, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles as an array column (no explode).

    Built from ``k`` SHIFTED SLICES zipped together, NOT from
    ``element_at(t, i+j)`` inside the transform lambda: a lambda
    referencing the raw split expression re-evaluates the whole
    tokenization per element — O(n·k·split) per document, measured 7x
    this construction's cost at sf0.1 (the tx05/tx15 staging lesson,
    applied where a Column-returning helper can't stage a named column).
    Slices evaluate the tokenizer a constant k times; identical output
    strings."""
    t = tokens(text_col)
    n_sh = F.greatest(F.size(t) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(t, j + 1, n_sh) for j in range(k)])
    parts = F.transform(
        z, lambda x: F.concat_ws(" ", *[x[str(j)] for j in range(k)])
    )
    return F.array_distinct(parts)


CHAR_SHINGLE_K = 8


def char_shingles(text_col: Column | str, k: int = CHAR_SHINGLE_K) -> Column:
    """Distinct k-CHARACTER shingles — the tokenizer-free dedup signal
    (catches near-dups word shingles miss: no-whitespace scripts, small
    in-word edits). Guarded so short texts yield an empty array — Spark's
    ``sequence(1, 0)`` would otherwise DESCEND, not return empty."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    t = F.trim(c)
    # Char-array slices zipped, not substr(t, i, k) in the lambda — the
    # lambda form re-trims the text per character position (O(len^2)/doc;
    # see shingles() for the general rule). The zip evaluates trim+split
    # a constant k times and concatenates single chars to the identical
    # substrings.
    chars = F.split(t, "")
    n_sh = F.greatest(F.length(t) - (k - 1), F.lit(0))
    z = F.arrays_zip(*[F.slice(chars, j + 1, n_sh) for j in range(k)])
    sh = F.array_distinct(
        F.transform(z, lambda x: F.concat(*[x[str(j)] for j in range(k)]))
    )
    # NULL text yields an EMPTY array, not NULL — downstream size()/explode
    # semantics rely on it (the pre-r7 when/otherwise contract; the
    # split/arrays_zip chain propagates NULL without this).
    return F.coalesce(sh, F.array().cast("array<string>"))


def hashed_shingles(
    docs: DataFrame, id_col: str = "doc_id", shingle_col: Column | None = None
) -> DataFrame:
    """(id, hs): md5-hashed shingle array, staged as its OWN projection.

    Staging matters: the 16 permutation-min expressions all reference ``hs``;
    keeping it in a separate Project stops CollapseProject from inlining the
    md5-per-shingle work into every signature column (16× recompute — 75s →
    ~4s on the 500-doc fixture, and the same factor at any scale).

    Only the HASHED array survives the projection: downstream (signatures,
    banding, Jaccard verify) works entirely on int64s, so the big shingle
    STRING arrays are never cached or shuffled — they die inside the row
    they were computed in."""
    sh = shingles("text") if shingle_col is None else shingle_col
    # the per-row shingle+hash math dominates; a small input file arrives in
    # 1-2 partitions, so spread it across the cluster first (at real scale
    # the scan already yields many partitions and this is a cheap no-op
    # round-robin)
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    return docs.select(F.col(id_col), sh.alias("sh")).select(
        F.col(id_col),
        F.transform(F.col("sh"), lambda s: md5_hash32(s) % MERSENNE31).alias("hs"),
    )


def minhash_signature_cols(hs: Column) -> list[Column]:
    """k permutation-min columns over the pre-hashed shingle array: per-row
    array math, zero shuffle."""
    return [
        F.array_min(
            F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE31)
        ).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]


def _bands_from_hashed(hs_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    sigs = hs_df.select(F.col(id_col), *minhash_signature_cols(F.col("hs")))
    band_cols = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"sig{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            )
        ).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    return sigs.select(F.col(id_col), *band_cols)


def minhash_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """doc → one row with N_BANDS band-hash columns (md5 over the band's
    signature slice)."""
    return _bands_from_hashed(hashed_shingles(docs, id_col), id_col)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    hs_df: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """Sub-quadratic candidate generation: explode band hashes, shuffle on
    (band_idx, band_hash), emit distinct (a < b) pairs per bucket.

    ``bands_df``: a pre-built (id, band0..bandN) frame — pass the PINNED
    band frame when the caller reuses it across jobs (r14: the self-join
    otherwise evaluates the 16-permutation minhash + band md5 once PER
    SIDE, even over a cached ``hs``)."""
    if bands_df is None:
        if hs_df is None:
            hs_df = hashed_shingles(docs, id_col)
        bands_df = _bands_from_hashed(hs_df, id_col)
    exploded = bands_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("h"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band_idx", "bh.h")
    a = exploded.alias("a")
    b = exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .distinct()
    )


def neardup_pairs_jaccard(
    docs: DataFrame,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    shingle_col: Column | None = None,
    hs_df: DataFrame | None = None,
    bands_df: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact n-gram Jaccard over the
    HASHED shingle sets; only candidate pairs pay the set-intersection
    cost. Hashed (int64) rather than string shingles: identical result
    absent md5 collisions — and WITH a collision both engines still agree,
    because the oracle hashes with the same md5 — while the cached/joined
    payload shrinks ~10× and string GC churn disappears. The hashed frame
    is persisted once and reused by all four consumers (both band-join
    sides, both jaccard sides); callers that already hold a persisted
    hashed frame pass it via ``hs_df`` (and a pinned band frame via
    ``bands_df`` — the gate's idiom).

    r14: the BAND frame is pinned too. The band self-join used to
    evaluate the 16-permutation minhash + band-md5 chain once per join
    SIDE (the hs cache stops at the shingle hashes); one count() on the
    persisted bands materializes hs AND bands in a single job — same
    job count as before, two fewer minhash passes per call. Frames the
    call persists itself are released before it returns (``_release``)."""
    owned = []
    if hs_df is None:
        hs_df = hashed_shingles(docs, id_col, shingle_col=shingle_col).persist()
        if bands_df is None:
            bands_df = _bands_from_hashed(hs_df, id_col).persist()
            owned.append(bands_df)
            # ONE materialization job pins BOTH caches: computing the band
            # partitions pulls the hs partitions through the cache layer
            # (the pre-r14 hs_df.count() populated hs only, and the band
            # join's two sides then re-ran minhash from the cached hs)
            bands_df.count()
        else:
            # caller-pinned bands over a caller-built hs: materialize hs
            # before the self-join (the pre-r14 race rationale)
            hs_df.count()
        owned.append(hs_df)
    elif bands_df is None:
        bands_df = _bands_from_hashed(hs_df, id_col)
    cands = lsh_candidate_pairs(docs, id_col, hs_df=hs_df, bands_df=bands_df)
    joined = (
        cands.join(hs_df.withColumnRenamed(id_col, "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
        .join(hs_df.withColumnRenamed(id_col, "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b")
    )
    jac = F.size(F.array_intersect("hs_a", "hs_b")).cast("double") / F.size(
        F.array_union("hs_a", "hs_b")
    )
    return _release(
        joined.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold),
        owned,
    )


def _release(pairs: DataFrame, owned: list[DataFrame]) -> DataFrame:
    """``pairs``, with the frames a pair function persisted itself
    (``owned``) unpersisted; as those feed ``pairs`` lazily, the verified
    pairs are first collected into a driver-local frame."""
    if not owned:
        return pairs
    from ..functions.localframe import local_frame

    rows = pairs.collect()
    for frame in owned:
        frame.unpersist()
    return local_frame(pairs.sparkSession, rows, pairs.schema)


def _explode_bands(sig: DataFrame, id_col: str) -> DataFrame:
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), F.col(f"band{b}").alias("h")
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bh"),
    ).select(id_col, "bh.band_idx", "bh.h")


# Buckets of each gate store at creation. Both stores take every batch as
# one upsert, which rewrites each bucket the batch's docs hash into as one
# file: ~4 band hashes per accepted doc reach every bucket of a small
# store. Measured warm on px06 and st04 (250-doc batches, 4 vCPUs), 8 and
# 16 buckets tie within run-to-run spread (px06 4.6-5.7 s, st04
# 6.6-7.8 s) and 32 or 64 cost 1-2 s more per query in file and task
# overhead; 8 writes the fewest files. A gate whose history outgrows it
# grows each store in place with ``StateStore.rebucket`` (a handle adopts
# the manifest's count).
GATE_BUCKETS = 8


def _gate_stores(spark, store_dir: str, id_col: str):
    """The gate's two ``StateStore``s under ``store_dir``:

    - ``bands``: one row per (band hash ``h``, ``band_idx``, id) of every
      accepted doc, bucketed on ``h`` alone, so a probe reads only the
      buckets the batch's band hashes fall in;
    - ``payload``: the accepted doc's hashed shingle set ``hs`` by id, read
      only for the ids the band probe returns.

    The id is ``bigint`` in both. Like every ``StateStore`` the gate is
    local-filesystem-only. A directory in the layout from before these
    stores (parquet files or ``_STORE_META.json`` at its root) raises
    ``ValueError``: rebuild it by re-ingesting its accepted docs."""
    root = store_dir.rstrip("/")
    if os.path.isdir(root) and any(
        e.endswith(".parquet") or e == "_STORE_META.json" for e in os.listdir(root)
    ):
        raise ValueError(
            f"gate store {root} is in the layout from before its bands/ and "
            "payload/ StateStores, which this module does not read; rebuild "
            "it by ingesting its accepted documents into a new directory"
        )
    ident = T.StructField(id_col, T.LongType())
    bands = StateStore(
        spark,
        f"{root}/bands",
        ["h", "band_idx", id_col],
        T.StructType(
            [
                T.StructField("h", T.StringType()),
                T.StructField("band_idx", T.IntegerType()),
                ident,
            ]
        ),
        n_buckets=GATE_BUCKETS,
        bucket_cols=["h"],
    )
    payload = StateStore(
        spark,
        f"{root}/payload",
        [id_col],
        T.StructType([ident, T.StructField("hs", T.ArrayType(T.LongType()))]),
        n_buckets=GATE_BUCKETS,
    )
    return bands, payload


def _gate_ids(df: DataFrame, id_col: str) -> DataFrame:
    """``df`` with its id column cast to the stores' ``bigint``; an id that
    is not an integer type raises ``ValueError`` naming the column."""
    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, T.IntegralType):
        raise ValueError(
            f"gate id column {id_col!r} is {dtype.simpleString()}; the gate "
            "stores integer ids (bigint)"
        )
    return df.withColumn(id_col, F.col(id_col).cast("bigint"))


def revoke_from_gate_store(
    spark, store_dir: str, doc_ids: DataFrame, id_col: str = "doc_id"
) -> None:
    """REVOKE previously-accepted documents from the ingest gate — the
    gate-side half of right-to-be-forgotten: after a compliance delete
    removes a document from the corpus, a gate still holding its
    signatures keeps suppressing future near-duplicates of a document that
    no longer exists (and keeps derived data of it, the shingle hashes).

    ``doc_ids``' first column holds the ids. Their ``hs`` are read from
    ``payload``, their band rows recomputed from it, and then two
    ``rewrite_buckets`` delete them: from ``bands`` first, from ``payload``
    second. A crash in between leaves a doc no probe can find (it has no
    band rows), and a re-run still finds its ``hs`` and so its band
    buckets; re-running a finished revocation deletes nothing more.

    Semantics note (the bounded-state trade extended): docs REJECTED
    earlier because they matched a now-revoked doc were never stored —
    revocation re-opens the door for FUTURE arrivals only."""
    bands, payload = _gate_stores(spark, store_dir, id_col)
    ids = _gate_ids(
        doc_ids.select(F.col(doc_ids.columns[0]).alias(id_col)), id_col
    ).distinct()
    revoked = (
        payload.read_buckets(payload.buckets_of(ids))
        .join(F.broadcast(ids), id_col, "left_semi")
        .persist()
    )
    try:
        rev_bands = _explode_bands(_bands_from_hashed(revoked, id_col), id_col)
        for store, held in (
            (bands, bands.buckets_of(rev_bands)),
            (payload, payload.buckets_of(revoked)),
        ):
            store.rewrite_buckets(
                held,
                store.read_buckets(held).join(F.broadcast(ids), id_col, "left_anti"),
            )
    finally:
        revoked.unpersist()


def incremental_neardup_ingest(
    batch: DataFrame,
    store_dir: str,
    threshold: float = 0.2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time near-dup gate over a PERSISTENT signature store — the
    continuously-fed corpus shape: each arriving batch is (1) deduplicated
    within itself (LSH pairs → connected components → min-id keeper, the
    px02 recipe), then (2) its keepers are checked against the signatures
    of every previously-ACCEPTED document; only novel keepers' signatures
    enter the store. Returns one row per batch doc:
    ``(doc_id, is_dup, matched_id)`` where matched_id is the in-batch
    cluster keeper or the smallest matching stored id. Ids must be of an
    integer type and come back as ``bigint``.

    The store is two ``StateStore``s (``_gate_stores``). The probe reads
    the ``bands`` buckets the keepers' band hashes hash into, and then the
    ``payload`` buckets of the candidate ids only, for the Jaccard verify;
    per-epoch gate I/O tracks the batch, not the history. The accepted
    docs are committed with one ``upsert_many`` over both stores.

    Replay: the probe drops a stored row with the probed doc's own id, so
    a re-delivered accepted doc is ``(False, None)`` again and its
    re-upsert changes nothing. Two keepers of one batch never match each
    other (they would share a cluster), so a re-run after a crash at
    either store's commit returns the first run's flags and converges.

    State grows with ACCEPTED docs only — the bounded-state trade every
    incremental dedup makes: a duplicate's signature is discarded, so a
    later doc matching only that discarded duplicate (not its kept
    cluster-mate) is admitted, where a global batch job (px02) would
    chain them. Documented semantics, pinned by test_incremental_ingest_*.

    Scale shape: per batch — one shingle+hash pass over the batch, one
    in-batch LSH (sub-quadratic), one band join against the touched
    buckets, a candidates-only Jaccard verify, one upsert. Nothing
    rescans the accepted corpus."""
    spark = batch.sparkSession
    bands, payload = _gate_stores(spark, store_dir, id_col)
    batch = _gate_ids(batch, id_col)
    hs_new = hashed_shingles(batch, id_col).persist()
    # Pin the BAND frame alongside hs: the in-batch LSH self-join, the
    # store probe and the upsert all read it. One count() on the persisted
    # bands materializes hs AND bands in a single job (computing a band
    # partition pulls its hs partition through the cache layer).
    bands_all = _bands_from_hashed(hs_new, id_col).persist()
    bands_all.count()
    # (1) within-batch: pairs → clusters → min-id keeper
    pairs = neardup_pairs_jaccard(
        batch, threshold, id_col, hs_df=hs_new, bands_df=bands_all
    )
    clusters = duplicate_clusters(pairs)  # (doc_id, cluster_id = min label)
    in_dup = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(
        F.col(id_col), F.col("cluster_id").alias("matched_in")
    )
    keepers = hs_new.join(in_dup.select(id_col), id_col, "left_anti")
    new_bands = _explode_bands(
        bands_all.join(in_dup.select(id_col), id_col, "left_anti"), id_col
    )
    # (2) keepers vs the accepted history
    cand = None
    if bands.exists():
        probe = new_bands.withColumnRenamed(id_col, "new_id")
        cand = (
            probe.join(
                bands.read_buckets(bands.buckets_of(probe)).withColumnRenamed(
                    id_col, "old_id"
                ),
                ["band_idx", "h"],
            )
            .filter(F.col("new_id") != F.col("old_id"))  # the replay guard
            .select("new_id", "old_id")
            .distinct()
            .persist()
        )
        stored = payload.read_buckets(
            payload.buckets_of(cand.select(F.col("old_id").alias(id_col)))
        )
        jac = F.size(F.array_intersect("hs_n", "hs_o")).cast("double") / F.size(
            F.array_union("hs_n", "hs_o")
        )
        old_matches = (
            cand.join(
                keepers.select(
                    F.col(id_col).alias("new_id"), F.col("hs").alias("hs_n")
                ),
                "new_id",
            )
            .join(
                stored.select(
                    F.col(id_col).alias("old_id"), F.col("hs").alias("hs_o")
                ),
                "old_id",
            )
            .filter(jac >= threshold)
            .groupBy("new_id")
            .agg(F.min("old_id").alias("matched_old"))
        )
    else:
        old_matches = spark.createDataFrame(
            [], "new_id bigint, matched_old bigint"
        )
    flags = (
        hs_new.select(id_col)
        .join(in_dup, id_col, "left")
        .join(
            old_matches.withColumnRenamed("new_id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            (F.col("matched_in").isNotNull() | F.col("matched_old").isNotNull())
            .alias("is_dup"),
            F.coalesce("matched_in", "matched_old").alias("matched_id"),
        )
        # localCheckpoint, not persist: it CUTS lineage, so the result can
        # neither be invalidated by the unpersists below (cache drops
        # cascade to dependents) nor re-run lazily by a caller against a
        # later store version
        .localCheckpoint()
    )
    accepted = flags.filter(~F.col("is_dup")).select(id_col)
    upsert_many(
        spark,
        [
            (bands, new_bands.join(accepted, id_col)),
            (payload, keepers.join(accepted, id_col)),
        ],
    )
    if cand is not None:
        cand.unpersist()
    hs_new.unpersist()
    bands_all.unpersist()
    return flags


# ---------------------------------------------------------------------------
# SimHash (32-bit): explode token hashes once, a single groupBy(doc) computes
# all 32 signed bit sums as partial aggregations.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 32


def simhash(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    # explode_OUTER + null guard: the inner explode's inferred size>0
    # filter re-tokenizes every doc below the width repartition (the
    # dd09 pathology); split elements are never null, so identical
    tok_hashes = (
        docs.select(
            F.col(id_col), F.explode_outer(tokens("text")).alias("tok")
        )
        .filter(F.col("tok").isNotNull())
        .select(id_col, md5_hash32(F.col("tok")).alias("h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h >> {i}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = tok_hashes.groupBy(id_col).agg(*bit_sums)
    sig = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance with byte-band blocking
    (the Google web-dedup recipe, Manku et al. WWW'07 shape): the 32-bit
    signature splits into 4 exact-match byte bands; by pigeonhole, any
    pair within ``max_hamming`` <= 3 flipped bits keeps at least one band
    intact, so the band-bucket join generates EVERY qualifying pair —
    blocking is lossless here, unlike MinHash banding's probabilistic
    recall. Verification is one integer op (bit_count of xor), far
    cheaper than dd04's set intersection; the trade is coarser similarity
    (bit distance, not Jaccard).

    Scale shape: one simhash pass (explode + 32 partial-agg bit sums),
    a 4-rows-per-doc band explode, exact-match bucket self-join, integer
    verify. At 64-bit signatures and stricter budgets, bands generalize
    to (max_hamming+1) blocks — same plan."""
    sh = simhash(docs, id_col).persist()
    sh.count()  # pin before the self-join (dd04 rationale)
    bands = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(f"CAST((simhash >> {8 * b}) & 255 AS INT)").alias(
                            "v"
                        ),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select(F.col(id_col), "simhash", F.col("bb.b").alias("b"), F.col("bb.v").alias("v"))
    a, x = bands.alias("a"), bands.alias("x")
    cand = (
        a.join(
            x,
            (F.col("a.b") == F.col("x.b"))
            & (F.col("a.v") == F.col("x.v"))
            & (F.col(f"a.{id_col}") < F.col(f"x.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col("a.simhash").alias("sa"),
            F.col(f"x.{id_col}").alias("doc_b"),
            F.col("x.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(sa ^ sb) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# Below this many (directed) edges the pair graph is collected and solved
# driver-side — the same size-based plan switch AQE makes for broadcast
# joins. 2M edges ≈ 32 MB of longs, far under driver memory.
SMALL_GRAPH_EDGES = 2_000_000


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
    small_graph_edges: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Connected components over the near-dup pair graph → one
    ``(doc_id, cluster_id)`` row per node, cluster_id = min node id in the
    component. The step after pair-finding: pick one survivor per cluster
    (``doc_id == cluster_id``) instead of per pair, so transitive
    near-duplicates (A~B, B~C, A≁C) still collapse to a single keeper.

    Min-label propagation: every node starts labeled with its own id; each
    round a node takes the min label in its neighborhood; stop when no
    label changes. Each round is ONE shuffle (join + groupBy on node id) and
    rounds ≈ graph diameter — near-dup clusters are shallow (pairs share an
    LSH bucket), so 2-4 rounds typical. ``localCheckpoint`` per round keeps
    the plan flat instead of exponentially nested. At 100 TB this is the
    standard iterative-join CC (Hash-to-Min); diameter, not data volume,
    bounds the round count.

    Graphs under ``small_graph_edges`` skip the iteration entirely: the
    edge list (already a vanishing fraction of the corpus after LSH +
    Jaccard verification) is collected and solved with driver-side
    union-find — the same runtime size-switch AQE applies to joins.

    Job shape (VERDICT r12 #6 — this is the per-epoch CC cost inside the
    ingest gate, so every driver job counts): the small-graph probe is
    ONE fully-parallel ``count()`` of the persisted verified pairs plus a
    cache-served ``collect()`` on the small arm — no symmetrize/distinct
    shuffle, no localCheckpoint write (union-find needs neither symmetric
    edges nor dedup; the accepted keepers' "cluster ids" are
    definitionally their own ids, so there is no cross-epoch CC state to
    persist — the per-epoch cost IS the LSH evaluation plus this probe).
    ``pairs`` is persisted first so both the collect and the rare
    large-graph fallback reuse the cached verify output instead of
    re-running the LSH join.
    """
    from ..functions.localframe import local_frame

    # limit is (pair rows); the historical threshold counted SYMMETRIZED
    # edges (2x unique pairs), so halve it for an equivalent size guard
    max_pairs = max(1, small_graph_edges // 2)
    pinned = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).persist()
    # Size-probe via count(), NOT limit(N+1).collect() (guide §2.6/§1):
    # CollectLimit executes the plan in sequential ramp-up waves (1
    # partition, then scaleUpFactor× more per wave), so the expensive
    # upstream pair-verification ran at 1-task parallelism in wave one and
    # only reached full width on the last wave — measured on px02 at sf0.1
    # this was the difference between a 2.9s and an 18.1s rep (the wave
    # boundaries land differently run to run). count() evaluates every
    # partition of the SAME persisted frame in one fully-parallel job and
    # populates the cache; the small-graph collect below then reads cached
    # rows only, and the large-graph arm skips the driver transfer
    # entirely (limit(N+1) always shipped max_pairs+1 rows).
    n_pairs = pinned.count()
    if n_pairs <= max_pairs:
        probe = pinned.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            ra, rb = find(row["src"]), find(row["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        node_type = pairs.schema[id_a].dataType
        schema = T.StructType(
            [
                T.StructField("doc_id", node_type, False),
                T.StructField("cluster_id", node_type, False),
            ]
        )
        nodes = {row["src"] for row in probe} | {row["dst"] for row in probe}
        pinned.unpersist()
        return local_frame(
            pairs.sparkSession, [(n, find(n)) for n in sorted(nodes)], schema
        )

    sym = pinned.unionByName(
        pinned.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    edges = sym.distinct().localCheckpoint(eager=True)
    pinned.unpersist()

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .select(F.col("src").alias("node"), "nbr_lbl")
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.select("node", F.col("lbl").alias("new_lbl"))
            .join(labels, "node")
            .filter(F.col("new_lbl") != F.col("lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


# The tau band production embedding-dedup should run (see the threshold-
# selection study in embedding_neardup_pairs' docstring + NOTES r10):
# below the low edge, output ~ n^2 and the job cost is in the ANSWER.
PRODUCTION_TAU_BAND = (0.7, 0.95)

# Rows-per-coarse-cell breakeven for engaging TWO-LEVEL blocking under
# n_subcells="auto" (r13 regime map, NOTES: at ~180 rows/cell — the
# sqrt-n auto-celling operating point — two-level is a ~1.25x wall win
# inside run variance; at ~1000 rows/cell — a fixed n_cells the corpus
# outgrew — it is 10.0x). The sub-cell assignment overhead (~n*nprobe*
# n_subcells broadcast-anchor dots + one keyed window) is density-
# independent per row, while the candidate-join saving scales with
# rows/cell, so density — not tau — decides WHETHER it pays; tau still
# gates recall safety (below the band, sub-cells drop topical pairs).
TWO_LEVEL_DENSITY_FLOOR = 256


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_cells: int | None = None,
    nprobe: int = 4,
    blocking: str = "seeds",
    n_subcells: int | None | str = "auto",
    nprobe_sub: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by IVF-style cells
    (SemDeDup's cluster-then-pairwise shape): candidates are pairs sharing
    at least one of their ``nprobe`` nearest cells, verified with exact
    cosine. Pair generation is O(n²·nprobe²/n_cells) instead of all-pairs;
    with n_cells grown ~√n the join stays sub-quadratic at any scale —
    unlike the fixed-cardinality ``label`` blocker this replaces, whose
    n²/|labels| pair join was the 100 TB scale-killer. Two genuinely
    near-identical vectors have near-identical cell cosines, so they share
    their top cell with probability → 1 as similarity → 1.

    ``blocking`` picks the cell anchors:

    - ``"seeds"`` (default): fixed seed vectors (lowest ``n_cells``
      vec_ids) — SQL-reproducible, so the DuckDB oracle recomputes the
      identical assignment. Seeds are arbitrary points, not density
      centers, so recall needs a generous nprobe.
    - ``"centroids"``: Lloyd's k-means centroids (train_ivf_centroids,
      driver-side on a bounded hash-sample) + multiprobe assignment — the
      real-scale path (anchors follow the data distribution; recall at
      the same nprobe is strictly better on clustered data). Not
      SQL-expressible, so the oracle keeps the seed variant; recall vs
      brute force is pinned by test_centroid_blocked_neardup_recall.

    TWO-LEVEL blocking (``n_subcells``, VERDICT r11 #6): each coarse
    cell splits into anchor-argmax sub-cells (similarity.subcell_assign
    — a broadcast anchor join, no literal-SQL blowup) and candidates
    must share (cell, sub) — measured on the x16 corpus: wall 319 s
    single → 168 s at (16,2) → 74 s at (16,1). Recall on GENUINE
    near-duplicates is full (100/100 planted cos~0.995 twins at every
    setting — near-identical vectors share their argmax sub, the same
    argument as level 1); the low-tau TOPICAL regime trades recall
    (0.75 at (16,2), 0.92 at (8,2) vs single at tau=0.3), so use
    sub-cells in the production tau band below, not for topical mining.

    ``n_subcells="auto"`` (the default; VERDICT r12 #7, density-refined
    r13) routes that rule itself on TWO gates: recall safety
    (``threshold >= PRODUCTION_TAU_BAND[0]`` — the regime where two-level
    recall is provably full; below the band it resolves to single-level,
    preserving the oracled low-tau contract — dd05 runs at tau=0.3 and is
    unaffected) and payoff (coarse-cell density ``n/n_cells >=
    TWO_LEVEL_DENSITY_FLOOR`` — the r13 regime map measured ~1.25x at
    sqrt-n auto-celling density vs **10.0x** when a fixed ``n_cells`` has
    been outgrown to ~1000 rows/cell, so two-level is engaged exactly
    where it is insurance, not overhead). When both gates pass it
    resolves to the measured-best (16, 1). Pass an int or None to
    override either way; ``nprobe_sub=None`` defaults to 1 under
    auto-routing and to the historical 2 when ``n_subcells`` is given
    explicitly.

    THRESHOLD SELECTION (the real 100 TB knob — measured, r10, x16
    decorrelated corpus of 32k vectors via scripts/sweep_dd05_tau.py):
    the pair OUTPUT is Theta(fraction of pairs genuinely >= tau), so tau
    — not the plan — decides whether the job is linear or quadratic. At
    tau=0.3 on weakly-clustered embeddings 0.30% of ALL pairs qualify
    (1.54M pairs from 32k vectors: the quadratic is in the ANSWER);
    at tau=0.6 the same corpus yields 23 pairs and at tau=0.8 only the
    genuinely-duplicated remainder. Production near-dup dedup should run
    ``PRODUCTION_TAU_BAND`` (cosine >= ~0.7 is where "near-duplicate"
    claims live — SemDeDup uses ~0.95+ on L2-normalized embeddings, and
    anything below ~0.5 is topical similarity, not duplication); below
    that band, budget for output ~ n^2 x qualifying-fraction regardless
    of engine.
    """
    from ..functions.vectors import as_double, dot, norm
    from .similarity import (
        ivf_assign_multiprobe,
        seed_cell_assign,
        train_ivf_centroids,
    )

    if blocking not in ("seeds", "centroids"):
        raise ValueError(f"blocking must be seeds|centroids, got {blocking!r}")
    if isinstance(n_subcells, str) and n_subcells != "auto":
        raise ValueError(f"n_subcells must be int|None|'auto', got {n_subcells!r}")
    n_rows = None
    if n_cells is None:
        import math

        # resolve ONCE here (not inside seed_cell_assign) so the docstring
        # claim "n_cells grows ~sqrt(n)" is the DEFAULT behavior, not a
        # knob the operator forgets to turn at scale (VERDICT r10 #6 —
        # measured on the x16 corpus: auto 180 cells vs fixed 32 cuts the
        # candidate join mass ~5.6x, NOTES r11). Inlined from auto_n_cells
        # so the (metadata-cheap) count is shared with density routing.
        n_rows = emb.count()
        n_cells = max(1, math.ceil(math.sqrt(n_rows)))
    if n_subcells == "auto":
        # tau- AND density-aware routing (VERDICT r12 #7, refined r13):
        # engage two-level only where it is both SAFE (threshold inside
        # the production tau band — full near-dup recall; below it
        # sub-cells drop topical pairs) and WORTH IT (coarse cells denser
        # than the measured breakeven — two-level's real role is
        # insurance for cells the corpus outgrew; at sqrt-n auto-celling
        # density it is a wash, see TWO_LEVEL_DENSITY_FLOOR).
        if threshold >= PRODUCTION_TAU_BAND[0]:
            if n_rows is None:
                n_rows = emb.count()
            if n_rows / n_cells >= TWO_LEVEL_DENSITY_FLOOR:
                n_subcells = 16
                if nprobe_sub is None:
                    nprobe_sub = 1
            else:
                n_subcells = None
        else:
            n_subcells = None
    if nprobe_sub is None:
        nprobe_sub = 2
    if blocking == "centroids":
        cents = train_ivf_centroids(emb, n_cells=n_cells)
        cells = ivf_assign_multiprobe(emb, cents, nprobe=nprobe)
    else:
        cells = seed_cell_assign(emb, n_cells=n_cells, nprobe=nprobe)
    # TWO-LEVEL blocking (VERDICT r11 #6, off the oracle path — the
    # oracled dd05 pins the single-level seeded contract): split each
    # coarse cell into n_subcells anchor-argmax sub-cells and require
    # candidates to share (cell, sub) instead of just cell — pair mass
    # drops another ~(n_subcells/nprobe_sub²)×. Recall floor vs
    # single-level pinned in test_extensions.py; ×16 wall in NOTES.
    join_keys = ["cell"]
    if n_subcells is not None:
        from .similarity import subcell_assign

        cells = subcell_assign(
            emb, cells, n_subcells=n_subcells, nprobe_sub=nprobe_sub
        )
        join_keys = ["cell", "sub"]
    # CHUNKED cell self-join (r13, guide §2.5): the naive join on bare
    # join_keys has only n_cells (x n_subcells) distinct keys — a handful
    # of values hashed into the shuffle partitions, so (a) a hot cell is
    # ONE task doing that cell's whole |cell|² candidate cartesian (the
    # straggler that made px03 reps swing 7.5s→50.6s on identical input)
    # and (b) AQE coalesces the exchange by its INPUT bytes (n·nprobe tiny
    # rows), blind to the fan-out — the pair explosion plus the 64-dim
    # cosine verify ran ~5-wide on 32 cores. Splitting each cell into
    # n_chunks id-hash chunks and joining on (cell[,sub], bi, bj) block
    # pairs raises key cardinality ~n_chunks²/2-fold and caps per-task
    # work at (|cell|/n_chunks)²; the explicit width pin (repartition to
    # the session's shuffle partitions, the scale knob AQE would
    # otherwise shrink) keeps the compute-dense stage wide. Each
    # unordered pair matches EXACTLY one block: (bi<bj) picks the
    # orientation when chunks differ, id-order inside the diagonal
    # blocks; least/greatest then restores the vec_a<vec_b contract.
    n_chunks = 8
    width = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    blk_keys = join_keys + ["bi", "bj"]
    cc = cells.withColumn(
        "chk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_chunks)).cast("int")
    )
    lhs = cc.select(
        *join_keys,
        F.col("vec_id").alias("vec_a"),
        F.col("chk").alias("bi"),
        F.explode(F.sequence(F.col("chk"), F.lit(n_chunks - 1))).alias("bj"),
    ).repartition(width, *blk_keys)
    rhs = cc.select(
        *join_keys,
        F.col("vec_id").alias("vec_b"),
        F.explode(F.sequence(F.lit(0), F.col("chk"))).alias("bi"),
        F.col("chk").alias("bj"),
    ).repartition(width, *blk_keys)
    cand = (
        lhs.join(rhs, blk_keys)
        .where(
            (F.col("bi") < F.col("bj"))
            | ((F.col("bi") == F.col("bj")) & (F.col("vec_a") < F.col("vec_b")))
        )
        .select(
            F.least("vec_a", "vec_b").alias("vec_a"),
            F.greatest("vec_a", "vec_b").alias("vec_b"),
        )
    )
    # norms precomputed once per VECTOR (n rows) instead of per PAIR —
    # same expression tree as cosine(a,b), so results stay bit-identical,
    # but 2 of the 3 per-pair array folds disappear
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v")).withColumn(
        "nrm", norm(F.col("v"))
    )
    sim = dot(F.col("x.v"), F.col("y.v")) / (F.col("x.nrm") * F.col("y.nrm"))
    # Verify BEFORE dedup (r13, guide §2.3/§2.4): candidates sharing
    # several probed cells used to be dedup'd with a distinct over the
    # FULL candidate set (a ~n·nprobe²-row exchange that AQE coalesced to
    # near-serial width) before the cosine join. Scoring duplicates is
    # cheaper than shuffling everything: cosine is deterministic per
    # pair, so filter-then-distinct emits the identical row set while the
    # exchange shrinks to the τ-survivors (~1.6× extra verify compute on
    # the measured sf0.1 dup factor vs a 60× smaller distinct).
    return (
        cand.join(e.alias("x"), F.col("vec_a") == F.col("x.vec_id"))
        .join(e.alias("y"), F.col("vec_b") == F.col("y.vec_id"))
        .select("vec_a", "vec_b", F.round(sim, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def lsh_band_plan(
    docs: DataFrame,
    tau: float = 0.5,
    n_hashes: int = N_HASHES,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH BAND PLANNING (dd16) — choose (bands, rows_per_band)
    empirically for THIS corpus instead of hard-coding it (MMDS ch.3:
    a (b, r) banding admits a pair of similarity s with probability
    P(s) = 1 − (1 − s^r)^b; picking b·r = n_hashes trades false
    positives below the target threshold τ against false negatives
    above it).

    For every factorization b·r = n_hashes, the expected error MASS is
    evaluated against the corpus' OBSERVED candidate-pair similarity
    distribution (exact Jaccard of the LSH candidate pairs — the
    measurable sample of the near-dup spectrum; pairs no banding of this
    signature family surfaces are out of scope by construction, the
    same contract dd04's recall envelope documents):

        exp_fp_ppm = Σ_{pairs s<τ}  round(P(s)·1e6)
        exp_fn_ppm = Σ_{pairs s≥τ} round((1−P(s))·1e6)

    Cross-engine exactness: s = |∩|/|∪| is a correctly-rounded double
    both engines compute bit-identically; P(s) is built from s by PLAIN
    LEFT-ASSOCIATIVE MULTIPLICATION CHAINS (s·s·…, never pow(), whose
    libm results differ across engines), each per-pair value is rounded
    to integer ppm FIRST, and only integers are summed — so the
    aggregation is order-independent and the DuckDB oracle replays it
    exactly (the dq05 integer-ppm trick applied to the S-curve).

    Returns one row per factorization: ``(bands, rows_per_band,
    n_pairs, exp_fp_ppm, exp_fn_ppm, exp_err_ppm, is_chosen)`` —
    is_chosen marks the minimum total error (ties → fewer bands, i.e.
    the cheaper candidate-generation side).

    Scale shape: one candidate-pair scan (the dd04 sub-quadratic band
    join) + ONE aggregate computing every factorization's sums in a
    single pass; the factorization table is O(divisors of n_hashes)
    rows, assembled driver-side (the k-means-seed convention)."""
    from ..functions.localframe import local_frame

    spark = docs.sparkSession
    facts = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1) if n_hashes % b == 0
    ]
    pairs = neardup_pairs_jaccard(docs, threshold=0.0, id_col=id_col)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_pairs")]
    for b, r in facts:
        sr = "(" + " * ".join(["jaccard"] * r) + ")"
        one_minus = f"(1.0D - {sr})"
        z = "(" + " * ".join([one_minus] * b) + ")"
        p = f"(1.0D - {z})"
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN jaccard < {float(tau)}D THEN "
                    f"CAST(round({p} * 1000000.0D) AS BIGINT) ELSE 0L END"
                )
            ).cast("bigint").alias(f"fp_{b}_{r}")
        )
        aggs.append(
            F.sum(
                F.expr(
                    f"CASE WHEN jaccard >= {float(tau)}D THEN "
                    f"CAST(round((1.0D - {p}) * 1000000.0D) AS BIGINT) "
                    f"ELSE 0L END"
                )
            ).cast("bigint").alias(f"fn_{b}_{r}")
        )
    row = pairs.agg(*aggs).first()  # bounded: ONE row, 2·|facts|+1 cols
    out = []
    for b, r in facts:
        fp = int(row[f"fp_{b}_{r}"] or 0)
        fn = int(row[f"fn_{b}_{r}"] or 0)
        out.append((b, r, int(row["n_pairs"]), fp, fn, fp + fn))
    best = min(out, key=lambda t: (t[5], t[0]))
    return local_frame(
        spark,
        [t + (t == best,) for t in out],
        "bands int, rows_per_band int, n_pairs bigint, exp_fp_ppm bigint, "
        "exp_fn_ppm bigint, exp_err_ppm bigint, is_chosen boolean",
    )


DUP_SPAN_L = 15


def duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    l_tokens: int = DUP_SPAN_L,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring spans — the ExactSubstr operator of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better", §4.1: remove substrings ≥50 tokens that appear verbatim more
    than once), re-expressed for Spark: the paper's suffix array is a
    shared-memory structure, so the distributed form is hashed fixed-width
    token windows + a cross-document window groupBy + a gaps-and-islands
    merge of overlapping duplicated positions into maximal spans.

    Returns one row per maximal duplicated span:
    ``(doc_id, span_start, span_end, span_tokens)`` with 1-based token
    positions — any run of ≥ ``l_tokens`` consecutive tokens that appears
    verbatim in ≥ ``min_docs`` distinct documents (a span longer than L is
    recovered exactly, because every one of its L-windows is duplicated and
    the island merge stitches them).

    Scale shape: the window explode is O(total tokens) rows of
    (id, pos, int64) — the same cost class as any tokenize pass; dup
    detection is one partial-agg groupBy on the 60-bit window hash
    (strings never shuffle); the probe back is a semi join reusing the
    same hash key; the island merge is a per-doc window over only the
    DUPLICATED positions (a small fraction of the corpus). No pairwise
    comparison anywhere — cost is O(tokens + dup positions), which is the
    property that lets the paper's method run on billion-document corpora.
    ``l_tokens`` defaults to 15 for the fixture's ~200-token docs; use 50
    at real scale per the paper.
    """
    from pyspark.sql import Window as W

    t = tokens("text")
    n = F.size(F.col("l"))
    win_hashes = F.when(
        n >= l_tokens,
        F.transform(
            F.sequence(F.lit(1), n - (l_tokens - 1)),
            lambda i: md5_hash60(F.concat_ws(" ", F.slice(F.col("l"), i, l_tokens))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # spread the tokenize+hash work across the cluster (small files arrive
    # in 1-2 partitions — same rationale as hashed_shingles) and stage
    # tokens → hashed windows so only int64s survive past the explode
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    # posexplode_OUTER, then drop the null-position rows: the inner
    # generate makes InferFiltersFromGenerate add a ``size(wa) > 0``
    # filter whose alias-substituted form (the ENTIRE window-hash
    # transform) is pushed below the width repartition and re-evaluated
    # per document on the narrow scan — measured 12-15x on this pass
    # (7.6s -> 0.55s at sf0.1, identical rows). The outer variant infers
    # no filter; its extra (null, null) row per windowless doc is exactly
    # what the pos-null filter removes (positions are never null for real
    # elements), so the output is bit-identical to the inner explode.
    w = (
        docs.select(F.col(id_col), t.alias("l"))
        .select(F.col(id_col), win_hashes.alias("wa"))
        .select(F.col(id_col), F.posexplode_outer("wa").alias("pos0", "wh"))
        .filter(F.col("pos0").isNotNull())
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "wh")
    )
    # persisted: both the dup-detection agg and the probe-back semi join
    # consume it — without the pin the window hashing runs twice
    w = w.persist()
    dup = (
        w.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("wh")
    )
    d = w.join(dup, "wh", "left_semi")
    # islands: consecutive duplicated positions belong to one span; a span
    # ending at position p covers tokens [p, p + L - 1]
    grp = F.col("pos") - F.row_number().over(
        W.partitionBy(id_col).orderBy("pos")
    )
    return (
        d.withColumn("grp", grp)
        .groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(l_tokens - 1)).alias("span_end"),
        )
        .drop("grp")
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
    )


def scrub_duplicated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    l_tokens: int = DUP_SPAN_L,
    min_docs: int = 2,
) -> DataFrame:
    """The removal half of ExactSubstr dedup (Lee et al. 2021): rewrite
    every document with its duplicated spans cut out (the conservative
    remove-all-copies variant — duplicated boilerplate is junk in every
    copy). Returns per doc: original token count, clean token count,
    removed count, and the md5 of the reconstructed clean text (the full
    rewritten string is one ``concat_ws`` away; the hash keeps result
    rows narrow for the oracle compare).

    Scale shape: the span table is tiny relative to the corpus; the
    positions-to-spans anti join keys on the document id (one shuffle
    co-partitioned with the token explode), with the range containment as
    a join residual — never a cross join. Reconstruction is one per-doc
    aggregation (array_sort over (pos, token) structs, no global sort).
    """
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    spans = duplicated_spans(docs, id_col, l_tokens, min_docs).alias("sp")
    # outer + pos-null filter: see duplicated_spans — avoids the inferred
    # size>0 filter re-tokenizing every doc on the narrow scan
    toks = (
        docs.select(
            F.col(id_col), F.posexplode_outer(tokens("text")).alias("pos0", "tok")
        )
        .filter(F.col("pos0").isNotNull())
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "tok")
        .alias("tk")
    )
    kept = toks.join(
        spans,
        (F.col(f"tk.{id_col}") == F.col(f"sp.{id_col}"))
        & F.col("tk.pos").between(F.col("sp.span_start"), F.col("sp.span_end")),
        "left_anti",
    )
    clean = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_clean"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("clean_md5"),
    )
    base = docs.select(
        F.col(id_col), F.size(tokens("text")).alias("n_tokens")
    )
    return base.join(clean, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce("n_clean", F.lit(0)).cast("int").alias("n_clean"),
        (F.col("n_tokens") - F.coalesce("n_clean", F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
    )


def remove_repeated_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    chunk_tokens: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """Repeated-passage (boilerplate) removal at fixed-chunk granularity —
    the RefinedWeb / MassiveText "remove passages repeated across
    documents" rule, with the passage unit being non-overlapping
    ``chunk_tokens``-token chunks: any full chunk whose exact text occurs
    in >= ``min_docs`` distinct documents is cut from EVERY document, and
    each document is rewritten from its surviving chunks in order.
    Complements ``scrub_duplicated_spans`` (dd09/px05): that one finds
    maximal *overlapping-window* spans (ExactSubstr), this one is the
    cheap chunk-hash variant real pipelines run first — one explode and
    two hash aggregations, no window join.

    Returns per doc: total chunk count, removed chunk count, and the md5
    of the reconstructed text (kept chunks joined by single spaces, in
    chunk order). The trailing partial chunk (< chunk_tokens words) is
    never eligible for removal; a partial chunk's text can never collide
    with a full chunk's (different word counts => different strings under
    single-space joining), so the anti join may key on chunk text alone.

    Scale shape (r13 rewrite, guide §2.4): chunks are built PER ROW with
    array HOFs (slice over the staged token array — one scan, no
    shuffle) instead of posexplode + a (doc, chunk_id) collect_list
    re-aggregation, which paid a full doc-keyed shuffle just to
    reconstruct strings the row already had; and the base/clean/final
    three-way split is fused into ONE per-doc agg over repeat-flagged
    chunk rows. 7 exchanges / 3 document scans → 3 exchanges / 2 scans
    (the chunk-frequency agg, the flag join — AQE broadcasts the
    repeated side when small, boilerplate tables usually are — and the
    single per-doc agg). Chunk text, order, and the md5 reconstruction
    are bit-identical: slice preserves token order and concat_ws
    grouping is unchanged.
    """
    ct = int(chunk_tokens)
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)  # width rule
    staged = docs.select(
        F.col(id_col), tokens("text").alias("toks")
    ).withColumn("n", F.size("toks"))
    chunk_arr = (
        f"case when n <= 0 then array() else "
        f"transform(sequence(0, (n + {ct - 1}) div {ct} - 1), i -> struct("
        f"i as chunk_id, "
        f"least({ct}, n - i * {ct}) as n_words, "
        f"concat_ws(' ', slice(toks, i * {ct} + 1, {ct})) as chunk)) end"
    )
    # explode_OUTER + null guard: the inner explode's inferred size>0
    # filter re-evaluates the whole chunk-build transform below the
    # width repartition, once per consumer branch (the dd09 pathology);
    # chunk structs are never null, so this is bit-identical
    chunks = (
        staged.select(
            F.col(id_col), F.explode_outer(F.expr(chunk_arr)).alias("c")
        )
        .filter(F.col("c").isNotNull())
        .select(id_col, "c.chunk_id", "c.n_words", "c.chunk")
    )
    repeated = (
        chunks.filter(F.col("n_words") == chunk_tokens)
        .groupBy("chunk")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("chunk", F.lit(1).alias("rep"))
    )
    flagged = chunks.join(repeated, "chunk", "left")
    out = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count("rep").alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rep").isNull(),
                                F.struct("chunk_id", "chunk"),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            )
        ).alias("clean_md5"),
    )
    return out.select(
        F.col(id_col),
        F.col("n_chunks").cast("int").alias("n_chunks"),
        F.col("n_removed").cast("int").alias("n_removed"),
        "clean_md5",
    )


def editdist_neardup_pairs(
    docs: DataFrame,
    head_len: int = 48,
    block_len: int = 8,
    max_dist: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance near-duplicate pairs over the normalized document
    HEAD — the classic title/lead-dedup recipe (catches OCR noise, typo
    variants and re-crawls that shingle-Jaccard underweights because a
    single in-word edit changes every overlapping shingle).

    Head = lower(first ``head_len`` chars); candidates are generated by
    BLOCKING on the head's first ``block_len`` chars — an equi-join key,
    so the pair generator is one keyed shuffle, never all-pairs (same
    contract as the MinHash bands / SimHash pigeonhole blocks: a pair
    whose heads differ inside the block prefix is out of scope by
    definition — documented recall bound, tune ``block_len`` like a band
    width). Exact Levenshtein runs on candidates only; cost is
    O(sum_blocks |b|^2) candidate DP computations of head_len^2 each.

    Output: (doc_a, doc_b, edit_dist), doc_a < doc_b,
    edit_dist <= max_dist.
    """
    h = docs.select(
        F.col(id_col),
        F.lower(F.substring("text", 1, head_len)).alias("head"),
    ).withColumn("blk", F.substring("head", 1, block_len))
    a = h.select(
        F.col(id_col).alias("doc_a"), F.col("head").alias("head_a"), "blk"
    )
    b = h.select(
        F.col(id_col).alias("doc_b"), F.col("head").alias("head_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def event_debounce(
    events: DataFrame,
    gap_seconds: int = 300,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Debounce repeated events: collapse each BURST (a run of same-key
    events with < ``gap_seconds`` between consecutive ones) to its first
    event — the telemetry-cleaning twin of exact dedup (double-clicks,
    retry storms, at-least-once duplicates with drifting payloads that
    content-hash dedup can't catch).

    Burst boundaries via the q17 sessionize recipe: flag rows whose gap
    from the previous same-key event is >= gap (or first), running-sum
    the flags into a burst id, keep row_number 1 per (keys, burst).
    Microsecond-exact gap arithmetic (unix_micros — integer on both
    engines), (ts, id) tie-break, all inside ONE partitioned window
    chain (the flag sum and the rank share the same sort — one exchange
    keyed on the debounce keys, never a global sort).

    Output: the kept events (keys + ts + id + burst_id + n_collapsed =
    how many raw events the burst absorbed).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(ts_col, id_col)
    # NTZ-safe: the loader yields TIMESTAMP_NTZ; the session TZ is
    # pinned UTC, so the cast matches DuckDB epoch_us on naive timestamps
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap_us = gap_seconds * 1_000_000
    new_burst = (
        F.when(F.lag(ts_col).over(w).isNull(), 1)
        .when(us - F.unix_micros(F.lag(ts_col).over(w).cast("timestamp")) >= gap_us, 1)
        .otherwise(0)
    )
    flagged = events.select(
        *keys, ts_col, id_col, new_burst.alias("__nb")
    ).withColumn(
        "burst_id",
        F.sum("__nb").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wb = Window.partitionBy(*keys, "burst_id").orderBy(ts_col, id_col)
    return (
        flagged.withColumn("__rn", F.row_number().over(wb))
        .withColumn(
            "n_collapsed", F.count(F.lit(1)).over(Window.partitionBy(*keys, "burst_id"))
        )
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            ts_col,
            id_col,
            F.col("burst_id").cast("int").alias("burst_id"),
            F.col("n_collapsed").cast("int").alias("n_collapsed"),
        )
    )


def quality_aware_survivors(
    docs: DataFrame,
    quality: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "p_keep",
) -> DataFrame:
    """Quality-aware near-dup survivor selection (px16) — pick the BEST
    document per duplicate cluster, not the lowest-id one: production
    curation keeps the cleanest copy of a template family (the Gopher/
    FineWeb recipe), while min-id survivorship (px02) throws that signal
    away. ``quality`` is any per-id frame with a deterministic
    ``score_col`` (px14's classifier p_keep in the shipped pipeline);
    the survivor is argmax(score) with id-ASC tie-break, unpaired docs
    survive as their own singleton cluster.

    Returns one row per document:
    ``(id, cluster_id, n_members, score, is_survivor)``.

    Scale shape: clusters come from ``duplicate_clusters`` (banded LSH
    candidates only — never all-pairs; size-switched CC); the selection
    itself is ONE keyed window over (cluster_id) — rank and member count
    share the same hash partitioning, no second shuffle, no driver state.
    """
    from pyspark.sql import Window as W

    clusters = duplicate_clusters(pairs)
    lab = (
        docs.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
        )
        .join(quality.select(id_col, score_col), id_col)
    )
    w_rank = W.partitionBy("cluster_id").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    w_all = W.partitionBy("cluster_id")
    return lab.select(
        F.col(id_col),
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n_members"),
        F.col(score_col),
        (F.row_number().over(w_rank) == 1).alias("is_survivor"),
    )


def soft_dedup_weights(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft deduplication (dd15) — instead of DROPPING near-duplicates,
    keep every document DOWN-WEIGHTED by its duplicate-cluster size
    (weight = 1/n, so each cluster contributes one document's worth of
    training mass): the loss-weighting alternative to hard dedup that
    preserves benign repetition signal. Unpaired docs keep full weight.

    Returns ``(id, cluster_id, cluster_size, weight_ppm)`` — integer ppm
    (1e6 // n), exact.

    Scale shape: clusters from ``duplicate_clusters`` (LSH candidates
    only); one keyed window for the size, everything else per-row
    integer math.
    """
    from pyspark.sql import Window as W

    clusters = duplicate_clusters(pairs)
    lab = (
        docs.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )
    size = F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
    return lab.select(
        F.col(id_col),
        "cluster_id",
        size.cast("bigint").alias("cluster_size"),
    ).withColumn(
        "weight_ppm",
        F.expr("CAST(1000000 AS BIGINT) div cluster_size").cast("bigint"),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    eval_ppm: int = 100_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/eval split (px20) — the WHOLE near-duplicate
    cluster moves to the same split: the split key is the md5-32 hash of
    the CLUSTER id, not the document id, so an eval document can never
    have a near-duplicate in train (the contamination channel a plain
    per-doc hash split — px08's first stage — leaves open; Lee et al.
    2022 measure the resulting eval inflation). ``eval_ppm`` is the
    eval fraction in parts-per-million of CLUSTERS (clusters are units;
    the doc-level fraction follows the cluster-size distribution).

    Returns ``(id, cluster_id, split)`` with split in ('train', 'eval');
    members of one cluster always share a row-identical split by
    construction (pinned by test).

    Scale shape: clusters from ``duplicate_clusters`` (LSH candidates
    only, never all-pairs); the split itself is one per-row hash — no
    extra shuffle beyond the cluster labels.
    """
    if not 0 <= eval_ppm <= 1_000_000:
        raise ValueError(f"eval_ppm must be in [0, 1e6], got {eval_ppm}")
    from ..functions.hashing import md5_hash32

    clusters = duplicate_clusters(pairs)
    lab = (
        docs.select(id_col)
        .join(clusters, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col))
            .cast("bigint")
            .alias("cluster_id"),
        )
    )
    return lab.withColumn(
        "split",
        F.when(
            md5_hash32(F.col("cluster_id").cast("string")) % 1_000_000
            < eval_ppm,
            F.lit("eval"),
        ).otherwise(F.lit("train")),
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    min_containment_ppm: int = 500_000,
    hs_df: DataFrame | None = None,
) -> DataFrame:
    """Containment scoring of LSH candidate pairs (dd17 — Broder 1997's
    containment coefficient c(A,B) = |A∩B| / |A|): the ASYMMETRIC
    companion to dd04's symmetric Jaccard, the signal that catches
    subset duplication — a short document swallowed whole by a longer
    one scores c ≈ 1 in one direction while Jaccard (what the LSH bands
    and dd04's verifier measure) stays at |A|/|B|. Recall caveat, stated
    not hidden: candidates still come from the JACCARD-tuned bands, so a
    subset pair only surfaces when its Jaccard clears the band S-curve —
    full subset recall at low Jaccard needs prefix/suffix banding or
    dd09's ExactSubstr, which is why both exist.

    All-integer output (sizes + ppm ratios via bigint multiply-div):
    per surviving pair, |A|, |B|, |A∩B|, containment both directions,
    Jaccard, and the subset_dup verdict (max containment ≥ 0.9 while
    Jaccard < 0.7 — high engulfment the symmetric score underranks).

    Scale: identical cost shape to dd04 (banded candidates, exact set
    ops only on candidates); the hashed-shingle frame is persisted once
    and shared across the band join and both verify sides, and released
    before the call returns (``_release``)."""
    owned = []
    if hs_df is None:
        hs_df = hashed_shingles(docs, id_col).persist()
        # pin bands next to hs — one job materializes both, and the band
        # self-join stops re-running the minhash chain per side (r14,
        # the neardup_pairs_jaccard rationale)
        bands_df = _bands_from_hashed(hs_df, id_col).persist()
        bands_df.count()
        owned = [hs_df, bands_df]
    else:
        bands_df = _bands_from_hashed(hs_df, id_col)
    cands = lsh_candidate_pairs(docs, id_col, hs_df=hs_df, bands_df=bands_df)
    joined = cands.join(
        hs_df.withColumnRenamed(id_col, "doc_a").withColumnRenamed("hs", "hs_a"),
        "doc_a",
    ).join(
        hs_df.withColumnRenamed(id_col, "doc_b").withColumnRenamed("hs", "hs_b"),
        "doc_b",
    )
    scored = joined.select(
        "doc_a",
        "doc_b",
        F.size("hs_a").cast("bigint").alias("n_a"),
        F.size("hs_b").cast("bigint").alias("n_b"),
        F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint").alias("n_common"),
    ).select(
        "doc_a",
        "doc_b",
        "n_a",
        "n_b",
        "n_common",
        F.expr("(1000000 * n_common) div n_a").cast("bigint").alias("cont_a_ppm"),
        F.expr("(1000000 * n_common) div n_b").cast("bigint").alias("cont_b_ppm"),
        F.expr("(1000000 * n_common) div (n_a + n_b - n_common)")
        .cast("bigint")
        .alias("jaccard_ppm"),
    )
    return _release(
        scored.filter(
            F.greatest("cont_a_ppm", "cont_b_ppm") >= min_containment_ppm
        ).withColumn(
            "subset_dup",
            (F.greatest("cont_a_ppm", "cont_b_ppm") >= 900_000)
            & (F.col("jaccard_ppm") < 700_000),
        ),
        owned,
    )


def record_linkage_pairs(
    recs: DataFrame,
    key_col: str,
    name_col: str,
    block_cols: tuple[str, ...] = (),
    band_col: str | None = None,
    max_edit: int = 4,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Blocked ENTITY RESOLUTION candidate pairs within one record set —
    the Fellegi-Sunter/merge-purge record-linkage shape (Hernandez &
    Stolfo 1995: multi-pass blocking, then exact comparison on the
    candidates only), distinct from document dedup: records are short
    structured rows (catalog entries, parties, addresses) and the match
    decision composes several attribute comparisons, not one text
    similarity.

    Blocking (what bounds the pair mass — never all-pairs):

    - equality on every ``block_cols`` column (e.g. a category);
    - MULTI-PASS name-token blocking: two candidates must share their
      FIRST or their LAST name token (kind-matched; two exploded rows
      per record). One token pass alone misses pairs that differ in
      exactly that token — the classic multi-pass fix, and the recall
      trade is measurable: on the sf0.01 part catalog the union pass
      holds 2,604 of the 2,646 same-type-size-band pairs at edit<=4
      (98.4%; the 42 missed differ in BOTH tokens);
    - optional ±1 banding on an integer ``band_col`` (e.g. a size):
      each record lands in slots {v, v+1}, so two records share a slot
      iff |Δv| <= 1 — the pigeonhole band join, all hash joins, no
      range join.

    Verification: exact Levenshtein on ``name_col`` over candidates
    only, kept at ``edit_dist <= max_edit``. ``carry_cols`` ride along
    as ``<col>_a``/``<col>_b`` for downstream match scoring (the query
    face composes the agreement weights — attribute semantics belong to
    the caller); a block column listed in ``carry_cols`` survives as ONE
    unsuffixed copy (it is equal on both sides by construction), other
    block columns are dropped with the rest of the blocking artifacts.

    Scale shape: pair mass = sum over blocks of |block|² with block =
    (block_cols, token kind+value, band slot) — real catalogs make the
    token dimension high-cardinality, which is what keeps this
    sub-quadratic; a skewed block (one dominant token) is visible in
    dq05's skew report and wants either a longer blocking key or
    salting. Output: (key_a, key_b, name_a, name_b, edit_dist,
    carries...), key_a < key_b.
    """
    toks = F.split(F.col(name_col), " ")
    token = F.explode(
        F.array(
            F.struct(
                F.lit(0).alias("tk"), F.element_at(toks, 1).alias("tv")
            ),
            F.struct(
                F.lit(1).alias("tk"), F.element_at(toks, -1).alias("tv")
            ),
        )
    ).alias("token")
    keep = {key_col, name_col, *block_cols, *carry_cols}
    if band_col is not None:
        keep.add(band_col)
    staged = recs.select(
        *[F.col(c) for c in recs.columns if c in keep], token
    ).select(
        *[c for c in recs.columns if c in keep],
        F.col("token.tk").alias("tk"),
        F.col("token.tv").alias("tv"),
    )
    if band_col is not None:
        staged = staged.withColumn(
            "slot", F.explode(F.array(F.col(band_col), F.col(band_col) + 1))
        )
    join_keys = [*block_cols, "tk", "tv"] + (
        ["slot"] if band_col is not None else []
    )
    sides = {}
    for s in ("a", "b"):
        sides[s] = staged.select(
            *[F.col(k) for k in join_keys],
            F.col(key_col).alias(f"key_{s}"),
            F.col(name_col).alias(f"name_{s}"),
            *[
                F.col(c).alias(f"{c}_{s}")
                for c in carry_cols
                if c not in block_cols
            ],
        )
    pairs = (
        sides["a"]
        .join(sides["b"], join_keys)
        .filter(F.col("key_a") < F.col("key_b"))
        # drop every blocking artifact — including the unsuffixed block
        # columns — so the output matches the documented schema exactly
        # (a block col the caller also lists in carry_cols survives as
        # one unsuffixed copy: it is equal on both sides by construction)
        .drop(
            "tk",
            "tv",
            "slot",
            *[c for c in block_cols if c not in carry_cols],
        )
        .distinct()  # multi-pass/band slots propose a pair more than once
    )
    return pairs.withColumn(
        "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
    ).filter(F.col("edit_dist") <= max_edit)
