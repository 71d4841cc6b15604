"""DuckDB oracle SQL — one entry per query in plans.queries.

Rules that keep value-hashes identical between engines:

- Every double aggregation uses DECIMAL arithmetic (exact in both engines)
  and casts the result to DOUBLE at the end — bit-identical regardless of
  partial-aggregation order.
- No division or rounding on decimals (engines differ); multiply by a
  decimal constant instead (e.g. *0.001 as DECIMAL(4,3)).
- Integer SUMs are cast to BIGINT (DuckDB returns HUGEINT).
- Small-int scalar functions are cast to INTEGER where Spark returns int.
- Column aliases match the Spark side exactly (the driver sorts columns by
  name before hashing).
"""

from __future__ import annotations

from ..cdc import DEFAULT_FIXTURE as _FIXTURE

# ---------------------------------------------------------------------------
# CDC fold oracle: replays the cdc.DEFAULT_FIXTURE change log with the
# same last-write-wins sort key the Spark fold uses (current_ts # zero-padded
# arrival pos), via arg_max ... FILTER — semantically identical to Spark's
# max-over-(order,value)-struct aggregation.
# ---------------------------------------------------------------------------
_NOW = "2024-06-01 00:00:00"

_CDC_VALID = f"""
    raw AS (
        SELECT * FROM read_json('{_FIXTURE}',
            format='newline_delimited',
            columns={{"table": 'VARCHAR', "op_type": 'VARCHAR',
                      "current_ts": 'VARCHAR', "pos": 'BIGINT',
                      "after": 'MAP(VARCHAR,VARCHAR)'}},
            ignore_errors=true)
    ),
    valid AS (
        SELECT lower(string_split("table", '.')[2]) AS tab_name,
               after['ID'][1] AS id, op_type, current_ts,
               current_ts || '#' || lpad(CAST(pos AS VARCHAR), 20, '0') AS ord,
               after
        FROM raw
        WHERE "table" IS NOT NULL
          AND len(string_split("table", '.')) >= 2
          AND after IS NOT NULL
          AND after['ID'][1] IS NOT NULL
    )
"""


def _cdc_fold_sql(table: str, cols: dict[str, str]) -> str:
    """Final-state SQL for one target table; cols = {name: duckdb_type}
    excluding the id/convention columns."""
    col_exprs = ",\n               ".join(
        f"TRY_CAST(arg_max(after['{c.upper()}'][1], ord)"
        f" FILTER (WHERE op_type <> 'D' AND after['{c.upper()}'][1] IS NOT NULL)"
        f" AS {t}) AS {c}"
        for c, t in cols.items()
    )
    return f"""
        WITH {_CDC_VALID}
        SELECT id,
               {col_exprs},
               CASE WHEN arg_max(op_type, ord) = 'D' THEN '1' ELSE '0' END AS delete_state,
               '{_NOW}' AS time_stamp
        FROM valid WHERE tab_name = '{table}'
        GROUP BY id
    """


# shared fragments
_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(8,6))"
)

# ---------------------------------------------------------------------------
# LLM-pipeline extension oracles. Token/hash arithmetic mirrors
# functions.hashing / operators.dedup exactly (shared constants), so
# MinHash/SimHash signatures match bit-for-bit.
# ---------------------------------------------------------------------------
_TOKS = "regexp_split_to_array(trim(text), '\\s+')"
_H32 = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
_STOP_EN = "('the','a','of','and','to','in','is')"
_STOP_ES = "('el','la','de','que','y','en','los')"
_STOP_ZH = "('的','是','了','在','和','有','我')"


def _sig_band_exprs() -> tuple[str, str]:
    from ..operators.dedup import MINHASH_PARAMS, N_BANDS, ROWS_PER_BAND
    from ..functions.hashing import MERSENNE31

    sig_exprs = ",\n               ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MERSENNE31})) AS sig{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_exprs = ",\n               ".join(
        "md5(concat_ws(',', "
        + ", ".join(
            f"sig{b * ROWS_PER_BAND + r}::VARCHAR" for r in range(ROWS_PER_BAND)
        )
        + f")) AS band{b}"
        for b in range(N_BANDS)
    )
    return sig_exprs, band_exprs


def _minhash_sql(source: str = "documents") -> tuple[str, str]:
    """(bands_sql, bands_cte) built from the same MINHASH_PARAMS the Spark
    operator uses; ``source`` lets dd17 run the identical pipeline over a
    corpus CTE defined earlier in the WITH chain."""
    from ..functions.hashing import MERSENNE31

    sig_exprs, band_exprs = _sig_band_exprs()
    cte = f"""
        toks AS (SELECT doc_id, {_TOKS} AS l FROM {source}),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(l[1:len(l)-2],
                          (x,i) -> x || ' ' || l[i+1] || ' ' || l[i+2])) AS s
               FROM toks),
        base AS (SELECT doc_id,
                        list_transform(s, x -> {_H32.format(x='x')} % {MERSENNE31}) AS hs
                 FROM sh),
        sigs AS (SELECT doc_id, {sig_exprs} FROM base),
        bands AS (SELECT doc_id, {band_exprs} FROM sigs)
    """
    return f"WITH {cte} SELECT * FROM bands", cte


def _char_minhash_cte() -> str:
    """Char-8-gram twin of the word-shingle CTE (same hashes/permutations/
    banding; only the shingle expression differs — mirrors
    dedup.char_shingles)."""
    from ..operators.dedup import CHAR_SHINGLE_K
    from ..functions.hashing import MERSENNE31

    k = CHAR_SHINGLE_K
    sig_exprs, band_exprs = _sig_band_exprs()
    return f"""
        ctxt AS (SELECT doc_id, trim(text) AS t FROM documents),
        csh AS (SELECT doc_id,
                       list_distinct(list_transform(
                           generate_series(1, greatest(length(t) - {k - 1}, 0)),
                           i -> substr(t, i, {k}))) AS s
                FROM ctxt),
        base AS (SELECT doc_id,
                        list_transform(s, x -> {_H32.format(x='x')} % {MERSENNE31}) AS hs
                 FROM csh),
        sigs AS (SELECT doc_id, {sig_exprs} FROM base),
        bands AS (SELECT doc_id, {band_exprs} FROM sigs)
    """


def _simhash_sql() -> str:
    from ..operators.dedup import SIMHASH_BITS

    bit_sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH th AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        h AS (SELECT doc_id, {_H32.format(x='tok')} AS h FROM th),
        bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    """


_MINHASH_BANDS_SQL, _MINHASH_CTE = _minhash_sql()

# Connected components over the dd04 near-dup pair graph: transitive closure
# via recursive CTE (set-semantics UNION terminates), cluster = min reachable
# id — semantically identical to Spark's min-label propagation fixpoint.
# Shared by dd07 and px02; use with WITH RECURSIVE.
_CC_CTES = f"""{_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM (
                SELECT doc_a, doc_b,
                       CAST(len(list_distinct(list_intersect(x.hs, y.hs))) AS DOUBLE)
                           / len(list_distinct(x.hs || y.hs)) AS jaccard
                FROM cand JOIN base x ON x.doc_id = doc_a
                          JOIN base y ON y.doc_id = doc_b
            ) WHERE jaccard >= 0.2
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
        )"""

def _lsh_ann_sql() -> str:
    """ss03 oracle: hyperplane-sign buckets from the SAME md5-derived
    plane literals the Spark operator embeds (similarity.plane_literals),
    single-bit-flip multiprobe around vec 0's bucket, exact rounded-cosine
    re-rank. Flat per-plane dot products share the Spark HOF fold order
    (left-assoc, 0.0 seed is an IEEE no-op) → bit-identical sign tests."""
    from ..operators.similarity import N_PLANES, plane_literals

    planes = plane_literals()
    dots = []
    for p, plane in enumerate(planes):
        terms = " + ".join(
            f"v[{i + 1}] * {c!r}" for i, c in enumerate(plane)
        )
        dots.append(
            f"CASE WHEN ({terms}) > 0 THEN {1 << p} ELSE 0 END"
        )
    bucket = " + ".join(dots)
    probes = " OR ".join(
        ["x.bucket = q.qb"]
        + [f"x.bucket = xor(q.qb, {1 << p})" for p in range(N_PLANES)]
    )
    return f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings),
        b AS (SELECT vec_id, label, v, {bucket} AS bucket FROM e),
        q AS (SELECT bucket AS qb, v AS qv FROM b WHERE vec_id = 0)
        SELECT vec_id, label,
               round(list_cosine_similarity(x.v, q.qv), 6) AS cos_sim
        FROM b x, q
        WHERE x.vec_id <> 0 AND ({probes})
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
    """


def _pq_dist(s: int, a: str, b: str, d: int = 8) -> str:
    """Flat squared-L2 of subspace ``s`` between two DOUBLE[] columns —
    same term order as similarity.py::_sq_dist_flat."""
    return " + ".join(
        f"({a}[{s * d + i + 1}] - {b}[{s * d + i + 1}])"
        f" * ({a}[{s * d + i + 1}] - {b}[{s * d + i + 1}])"
        for i in range(d)
    )


def _pq_ctes(m: int = 8, k: int = 4, d: int = 8) -> str:
    """Shared PQ CTE block (ss07 / ss08): seed-sliced codebooks, per-
    subspace flat squared distances (same term order as the Spark flat
    expressions → bit-identical before rounding), per-subspace argmin
    codes, recon_err as exact decimal sum of the rounded minima."""
    def dist(s: int, a: str, b: str) -> str:
        return _pq_dist(s, a, b, d)

    pd_cols = ",\n               ".join(
        f"{dist(s, 'e.v', 'p.sv')} AS d{s}" for s in range(m)
    )
    cs = ",\n        ".join(
        f"""cs{s} AS (
            SELECT vec_id, code AS code{s}, d{s} FROM (
                SELECT vec_id, code, round(d{s}, 6) AS d{s},
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY round(d{s}, 6), code) AS rn
                FROM pd) WHERE rn = 1
        )"""
        for s in range(m)
    )
    joins = " ".join(f"JOIN cs{s} USING (vec_id)" for s in range(1, m))
    err = " + ".join(f"CAST(d{s} AS DECIMAL(12,6))" for s in range(m))
    code_list = ", ".join(f"code{s}" for s in range(m))
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pseeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})
        ),
        pd AS (
            SELECT e.vec_id,
               p.code,
               {pd_cols}
            FROM e CROSS JOIN pseeds p
        ),
        {cs},
        enc AS (
            SELECT vec_id, {code_list},
                   CAST({err} AS DOUBLE) AS recon_err
            FROM cs0 {joins}
        )"""


# Shared k-means CTE block (ss06 / px09): e = double-cast vectors,
# seeds = 8 lowest vec_ids, a1 = iteration-1 assignment, comp/cent =
# exact-decimal centroid update, a2 = final assignment with rounded cosine.
_KMEANS_CTES = """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
        ),
        a1 AS (
            SELECT vec_id, v, cluster FROM (
                SELECT e.vec_id, e.v, s.cluster,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, s.sv), 6)
                                        DESC, s.cluster) AS rn
                FROM e CROSS JOIN seeds s) WHERE rn = 1
        ),
        comp AS (
            SELECT cluster, pos,
                   CAST(SUM(CAST(v[pos + 1] AS DECIMAL(18,9))) AS DOUBLE)
                       / COUNT(*) AS c
            FROM a1, range(64) t(pos) GROUP BY cluster, pos
        ),
        cent AS (SELECT cluster, list(c ORDER BY pos) AS cv FROM comp
                 GROUP BY cluster),
        a2 AS (
            SELECT vec_id, cluster, cos FROM (
                SELECT e.vec_id, c.cluster,
                       round(list_cosine_similarity(e.v, c.cv), 6) AS cos,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, c.cv), 6)
                                        DESC, c.cluster) AS rn
                FROM e CROSS JOIN cent c) WHERE rn = 1
        )"""

def _profile_sql(spec: dict[str, dict[str, str]]) -> str:
    """Long-format column-profile oracle — one SELECT per (column, metric),
    mirroring operators/quality_checks.py::column_profile (mean via
    DECIMAL(12,2) sum → single double division; length stats exact)."""
    blocks: list[str] = []
    for t, cols in spec.items():
        for c, kind in cols.items():
            metrics = [
                ("n_rows", "COUNT(*)"),
                ("n_nulls", f"SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"),
                ("n_distinct", f"COUNT(DISTINCT {c})"),
            ]
            if kind == "numeric":
                metrics += [
                    ("min", f"MIN({c})"),
                    ("max", f"MAX({c})"),
                    (
                        "mean",
                        f"CAST(SUM(CAST({c} AS DECIMAL(12,2))) AS DOUBLE)"
                        f" / COUNT({c})",
                    ),
                ]
            else:
                metrics += [
                    ("min_len", f"MIN(length({c}))"),
                    ("max_len", f"MAX(length({c}))"),
                    (
                        "avg_len",
                        f"CAST(SUM(length({c})) AS DOUBLE) / COUNT({c})",
                    ),
                ]
            for m, expr in metrics:
                blocks.append(
                    f"SELECT '{t}' AS table_name, '{c}' AS column_name, "
                    f"'{m}' AS metric, CAST({expr} AS DOUBLE) AS value FROM {t}"
                )
    return "\nUNION ALL\n".join(blocks)


def _cdc_history_body(table: str, cols: dict[str, str]) -> str:
    """SCD2 history SELECT (no WITH) for one target table — cumulative
    last-non-null per payload column over the LWW order, mirroring
    operators/ogg.py::history_table_changes. Needs the _CDC_VALID CTEs in
    scope."""
    col_exprs = ",\n               ".join(
        f"TRY_CAST(last_value(CASE WHEN op_type <> 'D' THEN"
        f" after['{c.upper()}'][1] END IGNORE NULLS) OVER wc AS {t}) AS {c}"
        for c, t in cols.items()
    )
    return f"""SELECT id,
               {col_exprs},
               CASE WHEN op_type = 'D' THEN '1' ELSE '0' END AS delete_state,
               replace(current_ts, 'T', ' ') AS valid_from,
               lead(replace(current_ts, 'T', ' ')) OVER w AS valid_to,
               CAST(row_number() OVER w AS INTEGER) AS version,
               lead(current_ts) OVER w IS NULL AS is_current
        FROM valid WHERE tab_name = '{table}'
        WINDOW w AS (PARTITION BY id ORDER BY ord),
               wc AS (PARTITION BY id ORDER BY ord
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


def _cdc_history_sql(table: str, cols: dict[str, str]) -> str:
    return f"""
        WITH {_CDC_VALID}
        {_cdc_history_body(table, cols)}
    """


def _drift_sql(cols: list[str], base_pred: str, cur_pred: str) -> str:
    """Distribution-drift oracle — integer-ppm shares, TVD = Σ|Δ| // 2,
    top value via (d DESC, val DESC), mirroring quality_checks.py::
    distribution_drift (Spark struct-max tie-break)."""
    ctes: list[str] = []
    selects: list[str] = []
    for i, col in enumerate(cols):
        v = f"COALESCE(CAST({col} AS VARCHAR), '<null>')"
        ctes.append(
            f"""a{i} AS (SELECT {v} AS val, COUNT(*) AS n_a
                 FROM orders WHERE {base_pred} GROUP BY 1),
        b{i} AS (SELECT {v} AS val, COUNT(*) AS n_b
                 FROM orders WHERE {cur_pred} GROUP BY 1),
        j{i} AS (SELECT val, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
                 FROM a{i} FULL JOIN b{i} USING (val)),
        s{i} AS (SELECT val, n_a, n_b,
                        SUM(n_a) OVER () AS ta, SUM(n_b) OVER () AS tb
                 FROM j{i}),
        d{i} AS (SELECT val, ta, tb,
                        abs(n_a * 1000000 // ta - n_b * 1000000 // tb) AS d
                 FROM s{i})"""
        )
        selects.append(
            f"""SELECT '{col}' AS column_name,
               CAST(MAX(ta) AS BIGINT) AS n_baseline,
               CAST(MAX(tb) AS BIGINT) AS n_current,
               CAST(COUNT(*) AS INTEGER) AS n_values,
               CAST(SUM(d) // 2 AS BIGINT) AS tvd_ppm,
               (SELECT val FROM d{i} ORDER BY d DESC, val DESC LIMIT 1)
                   AS top_value,
               CAST((SELECT d FROM d{i} ORDER BY d DESC, val DESC LIMIT 1)
                    AS BIGINT) AS top_diff_ppm
        FROM d{i}"""
        )
    return "WITH " + ",\n        ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


_DQ02_SPEC = {
    "customer": {
        "c_custkey": "numeric",
        "c_acctbal": "numeric",
        "c_name": "string",
        "c_mktsegment": "string",
    },
    "orders": {"o_totalprice": "numeric", "o_orderstatus": "string"},
}

ORACLE_SQL: dict[str, str] = {
    "ss03_ann_lsh_topk": _lsh_ann_sql(),
    "ss07_pq_encode": f"""
        WITH {_pq_ctes()}
        SELECT vec_id, {', '.join(f'code{s}' for s in range(8))}, recon_err
        FROM enc
    """,
    # ADC: the query (vec 0) is unquantized; each stored vector's distance
    # is the sum of per-subspace exact distances from the query subvector
    # to its ASSIGNED centroid (the join on code = the lookup table).
    "ss08_pq_adc_topk": f"""
        WITH {_pq_ctes()},
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        adc AS (
            SELECT enc.vec_id,
                   round({' + '.join(f'({_pq_dist(s, "q.qv", f"s{s}.sv")})' for s in range(8))},
                         6) AS adc_dist
            FROM enc CROSS JOIN q
                 {' '.join(f'JOIN pseeds s{s} ON s{s}.code = enc.code{s}' for s in range(8))}
            WHERE enc.vec_id <> 0
        )
        SELECT rank, vec_id, adc_dist FROM (
            SELECT CAST(row_number() OVER (ORDER BY adc_dist, vec_id)
                        AS INTEGER) AS rank,
                   vec_id, adc_dist
            FROM adc
        ) WHERE rank <= 10
    """,
    # Two-stage PQ serving (ss13): the ss08 ADC ranking truncated to a
    # 100-wide shortlist, then the TRUE squared distance (flat per-
    # subspace groups, same term order as the Spark generated SQL)
    # re-ranks only the shortlist.
    "ss13_pq_rerank_topk": f"""
        WITH {_pq_ctes()},
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        adc AS (
            SELECT enc.vec_id,
                   round({' + '.join(f'({_pq_dist(s, "q.qv", f"s{s}.sv")})' for s in range(8))},
                         6) AS adc_dist
            FROM enc CROSS JOIN q
                 {' '.join(f'JOIN pseeds s{s} ON s{s}.code = enc.code{s}' for s in range(8))}
            WHERE enc.vec_id <> 0
        ),
        short AS (
            SELECT vec_id FROM (
                SELECT vec_id,
                       row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
                FROM adc
            ) WHERE rn <= 100
        ),
        ex AS (
            SELECT e.vec_id,
                   round({' + '.join(f'({_pq_dist(s, "e.v", "q.qv")})' for s in range(8))},
                         6) AS l2_dist
            FROM e JOIN short USING (vec_id) CROSS JOIN q
        )
        SELECT rank, vec_id, l2_dist FROM (
            SELECT CAST(row_number() OVER (ORDER BY l2_dist, vec_id)
                        AS INTEGER) AS rank,
                   vec_id, l2_dist
            FROM ex
        ) WHERE rank <= 10
    """,
    "dq02_column_profile": _profile_sql(_DQ02_SPEC),
    "dq03_distribution_drift": _drift_sql(
        ["o_orderstatus", "o_orderpriority"],
        "o_orderdate < TIMESTAMP '1996-01-01'",
        "o_orderdate >= TIMESTAMP '1996-01-01'",
    ),
    "tx01_token_stats": f"""
        SELECT doc_id, n_chars,
               CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
               CAST(length(replace(text, ' ', '')) AS DOUBLE) / len({_TOKS}) AS avg_token_len
        FROM documents
    """,
    "tx02_quality_scores": f"""
        SELECT doc_id,
               CAST(n AS INTEGER) AS n_tokens,
               uniq_ratio, stop_ratio, len_score,
               0.4 * len_score + 0.3 * uniq_ratio + 0.3 * (1.0 - stop_ratio) AS quality_score
        FROM (
            SELECT doc_id, len(l) AS n,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE) / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
            FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
        )
    """,
    "tx03_lang_id": f"""
        SELECT doc_id, labeled_lang,
               CASE WHEN s_en >= s_es AND s_en >= s_zh AND s_en > 0 THEN 'en'
                    WHEN s_es >= s_zh AND s_es > 0 THEN 'es'
                    WHEN s_zh > 0 THEN 'zh'
                    ELSE 'und' END AS pred_lang,
               s_en AS score_en, s_es AS score_es, s_zh AS score_zh
        FROM (
            SELECT doc_id, lang AS labeled_lang,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE) / len(l) AS s_en,
                   CAST(len(list_filter(l, t -> t IN {_STOP_ES})) AS DOUBLE) / len(l) AS s_es,
                   CAST(len(list_filter(l, t -> t IN {_STOP_ZH})) AS DOUBLE) / len(l) AS s_zh
            FROM (SELECT doc_id, lang, {_TOKS} AS l FROM documents)
        )
    """,
    "tx04_fingerprints": f"""
        SELECT doc_id,
               md5(lower(text)) AS content_fp,
               list_reduce(
                   list_prepend(CAST(7 AS BIGINT),
                       list_transform({_TOKS}, t -> {_H32.format(x='t')})),
                   (acc, x) -> (acc * 31 + x) % 1000000007
               ) AS rolling_fp
        FROM documents
    """,
    "tx05_top_bigrams": f"""
        SELECT bigram, COUNT(*) AS n
        FROM (
            SELECT unnest(list_transform(l[1:len(l)-1], (x,i) -> x || ' ' || l[i+1])) AS bigram
            FROM (SELECT {_TOKS} AS l FROM documents)
        )
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
    "dd01_exact_dup_groups": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, text FROM documents
        )
        SELECT md5(lower(text)) AS fp, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
        FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
    """,
    "dd02_exact_dedup_survivors": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000, text FROM documents
        )
        SELECT c.doc_id
        FROM corpus c
        JOIN (SELECT MIN(doc_id) AS k FROM corpus GROUP BY md5(lower(text))) g
          ON c.doc_id = g.k
    """,
    "dd03_minhash_bands": _MINHASH_BANDS_SQL,
    "dd04_neardup_pairs": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   CAST(len(list_distinct(list_intersect(x.hs, y.hs))) AS DOUBLE)
                       / len(list_distinct(x.hs || y.hs)) AS jaccard
            FROM cand JOIN base x ON x.doc_id = doc_a JOIN base y ON y.doc_id = doc_b
        ) WHERE jaccard >= 0.2
    """,
    # Triangle census of the dd04 near-dup graph: ordered orientation
    # (a<b<c) counts each triangle once; wedges = sum d(d-1) // 2 exact.
    "gr02_triangle_stats": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        ),
        edges AS (
            SELECT doc_a AS ea, doc_b AS eb FROM (
                SELECT doc_a, doc_b,
                       CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                                AS DOUBLE)
                           / len(list_distinct(x.hs || y.hs)) AS jaccard
                FROM cand JOIN base x ON x.doc_id = doc_a
                          JOIN base y ON y.doc_id = doc_b
            ) WHERE jaccard >= 0.2
        ),
        deg AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT ea AS node FROM edges
                UNION ALL SELECT eb FROM edges
            ) GROUP BY node
        ),
        basec AS (
            SELECT COUNT(*) AS n_nodes,
                   SUM(d * (d - 1)) // 2 AS n_wedges
            FROM deg
        ),
        ec AS (SELECT COUNT(*) AS n_edges FROM edges),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e2.ea = e1.eb
            JOIN edges e3 ON e3.ea = e1.ea AND e3.eb = e2.eb
        )
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_wedges AS BIGINT) AS n_wedges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               CASE WHEN n_wedges > 0
                    THEN round(CAST(3 * n_triangles AS DOUBLE) / n_wedges, 6)
               END AS clustering_coeff
        FROM basec, ec, tri
    """,
    "dd07_dup_clusters": f"""
        WITH RECURSIVE {_CC_CTES}
        SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    """,
    # Cluster-aware curation: docs whose near-dup cluster keeper is
    # themselves (un-paired docs are their own keeper) → per-source stats.
    "px02_cluster_dedup_pipeline": f"""
        WITH RECURSIVE {_CC_CTES},
        clusters AS (
            SELECT node AS doc_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM documents d LEFT JOIN clusters c USING (doc_id)
        WHERE COALESCE(c.cluster_id, d.doc_id) = d.doc_id
        GROUP BY source
    """,
    # Char-8-gram MinHash-LSH near-dups (tokenizer-free signal).
    "dd08_char_neardup_pairs": f"""
        WITH {_char_minhash_cte()},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        )
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   CAST(len(list_distinct(list_intersect(x.hs, y.hs))) AS DOUBLE)
                       / len(list_distinct(x.hs || y.hs)) AS jaccard
            FROM cand JOIN base x ON x.doc_id = doc_a
                      JOIN base y ON y.doc_id = doc_b
        ) WHERE jaccard >= 0.5
    """,
    # Mirrors seed_cell_assign (operators/similarity.py): seeds = 32
    # lowest-vec_id vectors (cells 0..31 in vec_id order), each vector lands
    # in its 4 highest-cosine cells (rounded 6, tie-break cell ASC — the
    # same total order Spark's array_sort on (-sim, cell) structs gives),
    # candidates share >=1 cell, verified with exact rounded cosine.
    "dd05_embedding_neardup": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
        ),
        assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, s.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                    s.cell
                       ) AS rn
                FROM e CROSS JOIN seeds s
            ) WHERE rn <= 4
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT vec_a, vec_b,
                   round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
            FROM cand JOIN e x ON x.vec_id = vec_a
                      JOIN e y ON y.vec_id = vec_b
        ) WHERE cos_sim >= 0.3
    """,
    # Semantic dedup: dd05 pair graph → transitive closure → one survivor
    # per cluster (unpaired vectors survive as their own keeper).
    "px03_semantic_dedup_pipeline": """
        WITH RECURSIVE e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
        ),
        assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, s.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                    s.cell
                       ) AS rn
                FROM e CROSS JOIN seeds s
            ) WHERE rn <= 4
        ),
        vcand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ),
        vpairs AS (
            SELECT vec_a, vec_b FROM (
                SELECT vec_a, vec_b,
                       round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
                FROM vcand JOIN e x ON x.vec_id = vec_a
                           JOIN e y ON y.vec_id = vec_b
            ) WHERE cos_sim >= 0.3
        ),
        vedges AS (
            SELECT vec_a AS src, vec_b AS dst FROM vpairs
            UNION
            SELECT vec_b AS src, vec_a AS dst FROM vpairs
        ),
        vreach(node, lbl) AS (
            SELECT src, src FROM vedges
            UNION
            SELECT ve.src, r.lbl FROM vedges ve JOIN vreach r ON ve.dst = r.node
        ),
        vclusters AS (
            SELECT node AS vec_id, MIN(lbl) AS cluster_id
            FROM vreach GROUP BY node
        )
        SELECT label, COUNT(*) AS n_vecs
        FROM embeddings LEFT JOIN vclusters USING (vec_id)
        WHERE COALESCE(cluster_id, vec_id) = vec_id
        GROUP BY label
    """,
    "dd06_simhash": _simhash_sql(),
    "ss01_knn_cosine": """
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT vec_id, label, round(list_cosine_similarity(v, qv), 6) AS cos_sim
        FROM e, q
        WHERE vec_id <> 0
        ORDER BY cos_sim DESC, vec_id
        LIMIT 10
    """,
    "ss02_label_centroids": """
        SELECT label, CAST(pos AS INTEGER) AS pos,
               CAST(SUM(CAST(v[pos + 1] AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS centroid
        FROM (SELECT label, embedding::DOUBLE[] AS v FROM embeddings), range(8) t(pos)
        GROUP BY label, pos
    """,
    "mm01_binary_meta": """
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
               CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
               lower(substr(hex(encode(text)), 1, 8)) AS prefix_hex
        FROM documents
    """,

    "cdc_emp_history": _cdc_history_sql(
        "emp",
        {
            "name": "VARCHAR",
            "salary": "DOUBLE",
            "dept_id": "INTEGER",
            "active": "BOOLEAN",
            "hire_ts": "TIMESTAMP",
        },
    ),
    "cdc_emp_history_incr": _cdc_history_sql(
        "emp",
        {
            "name": "VARCHAR",
            "salary": "DOUBLE",
            "dept_id": "INTEGER",
            "active": "BOOLEAN",
            "hire_ts": "TIMESTAMP",
        },
    ),
    # Temporal dimension join: each emp audit row enriched with the
    # version valid one second before its event (timestamp-compared
    # interval containment; pre-first-version events enrich to NULL).
    "cdc_emp_asof_enrich": f"""
        WITH {_CDC_VALID},
        hist AS (
            {_cdc_history_body("emp", {
                "name": "VARCHAR",
                "salary": "DOUBLE",
                "dept_id": "INTEGER",
                "active": "BOOLEAN",
                "hire_ts": "TIMESTAMP",
            })}
        ),
        ev AS (
            SELECT id, MAX(replace(current_ts, 'T', ' ')) AS event_ts
            FROM valid WHERE tab_name = 'emp' GROUP BY id
        )
        SELECT e.id, e.event_ts,
               h.name AS emp_name, h.salary, h.delete_state, h.version
        FROM ev e LEFT JOIN hist h
          ON h.id = e.id
         AND CAST(h.valid_from AS TIMESTAMP)
                 <= CAST(e.event_ts AS TIMESTAMP) - INTERVAL 1 SECOND
         AND (h.valid_to IS NULL
              OR CAST(e.event_ts AS TIMESTAMP) - INTERVAL 1 SECOND
                     < CAST(h.valid_to AS TIMESTAMP))
    """,
    "cdc_emp_state": _cdc_fold_sql(
        "emp",
        {
            "name": "VARCHAR",
            "salary": "DOUBLE",
            "dept_id": "INTEGER",
            "active": "BOOLEAN",
            "hire_ts": "TIMESTAMP",
        },
    ),
    "cdc_dept_state": _cdc_fold_sql("dept", {"dname": "VARCHAR", "budget": "FLOAT"}),
    # streaming path must agree with the batch fold bit-for-bit
    "cdc_stream_emp_state": _cdc_fold_sql(
        "emp",
        {
            "name": "VARCHAR",
            "salary": "DOUBLE",
            "dept_id": "INTEGER",
            "active": "BOOLEAN",
            "hire_ts": "TIMESTAMP",
        },
    ),
    "cdc_pub_event": f"""
        WITH {_CDC_VALID}
        SELECT id, tab_name AS name,
               max(replace(current_ts, 'T', ' ')) AS current_ts,
               '0' AS delete_state,
               '0' AS his_delete_state,
               '{_NOW}' AS time_stamp
        FROM valid
        GROUP BY id, tab_name
    """,
    # Incrementally-maintained dept rollup vs from-scratch aggregation of
    # the final fold state — equality proves delta maintenance is exact.
    "cdc_dept_rollup": f"""
        WITH {_CDC_VALID},
        emp_state AS (
            SELECT id,
                   TRY_CAST(arg_max(after['DEPT_ID'][1], ord)
                       FILTER (WHERE op_type <> 'D'
                               AND after['DEPT_ID'][1] IS NOT NULL)
                       AS INTEGER) AS dept_id,
                   TRY_CAST(arg_max(after['SALARY'][1], ord)
                       FILTER (WHERE op_type <> 'D'
                               AND after['SALARY'][1] IS NOT NULL)
                       AS DOUBLE) AS salary,
                   CASE WHEN arg_max(op_type, ord) = 'D' THEN '1' ELSE '0' END
                       AS delete_state
            FROM valid WHERE tab_name = 'emp'
            GROUP BY id
        )
        SELECT dept_id,
               CAST(COUNT(*) AS BIGINT) AS n_alive,
               CAST(SUM(CAST(salary AS DECIMAL(12,2))) AS DOUBLE) AS sum_salary
        FROM emp_state
        WHERE delete_state = '0' AND dept_id IS NOT NULL
        GROUP BY dept_id
    """,
    "q01_sync_report": """
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS avg_value
        FROM events GROUP BY event_type
    """,
    "q02_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
               CAST(CAST(SUM({_DISC_PRICE}) AS DECIMAL(27,6)) AS DOUBLE) AS sum_disc_price,
               CAST(CAST(SUM(CAST({_DISC_PRICE} AS DECIMAL(30,8))
                        * CAST(1 + l_tax AS DECIMAL(8,6))) AS DECIMAL(27,6)) AS DOUBLE) AS sum_charge,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(8,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q03_filter_project": f"""
        SELECT l_orderkey, l_linenumber,
               CAST({_DISC_PRICE} AS DOUBLE) AS net_price,
               concat_ws('/', l_returnflag, l_linestatus) AS flag_status
        FROM lineitem
        WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                             AND TIMESTAMP '1996-12-31 00:00:00'
          AND l_returnflag IN ('R', 'A')
          AND l_quantity > 30
    """,
    "q04_revenue_by_nation": f"""
        SELECT r_name, n_name,
               CAST(CAST(SUM({_DISC_PRICE}) AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q05_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
        )
        GROUP BY o_orderpriority
    """,
    "q06_customer_order_coverage": """
        WITH w AS (
            SELECT c_nationkey, COUNT(*) AS n_with_orders
            FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        ),
        wo AS (
            SELECT c_nationkey, COUNT(*) AS n_without_orders
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            GROUP BY c_nationkey
        )
        SELECT n_name,
               COALESCE(w.n_with_orders, 0) AS n_with_orders,
               COALESCE(wo.n_without_orders, 0) AS n_without_orders
        FROM nation
        LEFT JOIN w  ON n_nationkey = w.c_nationkey
        LEFT JOIN wo ON n_nationkey = wo.c_nationkey
    """,
    "q07_top_customers": """
        SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 10
    """,
    "q08_top_orders_per_customer": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    "q09_running_user_totals": """
        SELECT user_id, event_id, ts,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_value,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_event_type,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS INTEGER) AS seq
        FROM events
    """,
    "q10_rollup_region_nation": """
        SELECT COALESCE(r_name, '(all)') AS r_name,
               COALESCE(n_name, '(all)') AS n_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "q11_cube_events": """
        SELECT COALESCE(event_type, '(all)') AS event_type,
               CAST(COALESCE(dow, -1) AS INTEGER) AS dow,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (
            SELECT event_type, date_part('dow', ts) + 1 AS dow, value
            FROM events
        )
        GROUP BY CUBE (event_type, dow)
    """,
    "q12_setops_segments": """
        WITH building AS (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        rich AS (
            SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        )
        SELECT c_custkey, 'only_building' AS tag
        FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
        UNION ALL
        SELECT c_custkey, 'both' AS tag
        FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
        UNION ALL
        SELECT c_custkey, 'only_rich' AS tag
        FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM building)
    """,
    "q13_distinct_users": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type
    """,
    "q14_scalar_functions": """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               upper(o_orderstatus) AS status_upper,
               substring(o_orderpriority, 1, 1) AS prio_code,
               CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
               concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
               CAST(CAST(o_totalprice AS DECIMAL(12,2))
                    * CAST(0.001 AS DECIMAL(4,3)) AS DOUBLE) AS price_k,
               o_orderkey % 7 AS key_mod7,
               abs(o_totalprice - 1000) AS abs_diff
        FROM orders
    """,
    "q15_json_extract": """
        SELECT event_type,
               CAST(SUM(k) AS BIGINT) AS sum_k,
               COUNT(CASE WHEN k > 50 THEN 1 END) AS n_high,
               CAST(MIN(k) AS INTEGER) AS min_k,
               CAST(MAX(k) AS INTEGER) AS max_k
        FROM (
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        )
        GROUP BY event_type
    """,
    "q16_balance_buckets": """
        SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 3000 THEN 'low'
                    WHEN c_acctbal < 7000 THEN 'mid'
                    ELSE 'high' END AS balance_bucket,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        GROUP BY 1
    """,
    "q17_sessionize": """
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_id, ts,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_idx
            FROM flagged
        )
        SELECT user_id, session_idx,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_idx
    """,
    # Interval-overlap join over q17's sessions: direct pairwise in SQL
    # (the Spark side's chunk blocking is candidate generation only).
    "q73_session_overlap": """
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   CAST(SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_idx
            FROM flagged
        ),
        s AS (
            SELECT user_id, session_idx,
                   MIN(ts) AS session_start, MAX(ts) AS session_end
            FROM sessions GROUP BY user_id, session_idx
        )
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               a.session_idx AS session_a, b.session_idx AS session_b,
               epoch_us(least(a.session_end, b.session_end))
                   - epoch_us(greatest(a.session_start, b.session_start))
                   AS overlap_us
        FROM s a JOIN s b
          ON a.user_id < b.user_id
         AND a.session_start <= b.session_end
         AND b.session_start <= a.session_end
    """,
    "q18_latest_event_per_user": """
        SELECT user_id, event_id, ts, event_type, value
        FROM (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
    "q19_hourly_event_rollup": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "q20_pivot_returnflag": """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN l_returnflag = 'A'
                             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_a,
               CAST(SUM(CASE WHEN l_returnflag = 'N'
                             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_n,
               CAST(SUM(CASE WHEN l_returnflag = 'R'
                             THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_r
        FROM lineitem
        GROUP BY l_linestatus
    """,
    "q21_brand_supply_stats": """
        SELECT p_brand,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               COUNT(DISTINCT s_suppkey) AS n_suppliers,
               COUNT(DISTINCT l_orderkey) AS n_orders
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY p_brand
    """,
    # ASOF LEFT JOIN is native in DuckDB; the Spark side is the union+window
    # operator (operators/joins.py). Right side pre-deduped per (user, ts)
    # so ties resolve identically in both engines.
    "q22_asof_join": """
        WITH r AS (
            SELECT user_id, ts,
                   max(event_id) AS p_event_id,
                   arg_max(value, event_id) AS p_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        ),
        l AS (
            SELECT user_id, ts, event_id AS click_id
            FROM events WHERE event_type = 'click'
        )
        SELECT l.user_id, l.ts, l.click_id, r.p_event_id, r.p_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "q23_range_join_tiers": """
        WITH tiers(lo, hi, tier) AS (
            VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'), (150.0, 1e9, 'high')
        )
        SELECT event_type, tier,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events LEFT JOIN tiers ON value >= lo AND value < hi
        GROUP BY event_type, tier
    """,
    "q24_value_percentiles": """
        SELECT event_type,
               round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 6) AS p25,
               round(CAST(quantile_cont(value, 0.5)  AS DOUBLE), 6) AS p50,
               round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 6) AS p75,
               round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95
        FROM events
        GROUP BY event_type
    """,
    "q25_corr_stats": """
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
               round(stddev_samp(l_quantity), 6) AS qty_stddev,
               round(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q26_grouping_sets": """
        SELECT COALESCE(event_type, '(all)') AS event_type,
               COALESCE(dow, -1) AS dow,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM (SELECT event_type, CAST(dayofweek(ts) + 1 AS INTEGER) AS dow, value
              FROM events)
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
    """,
    "q27_above_nation_avg": """
        SELECT c_custkey, n_name, c_acctbal, round(nation_avg, 6) AS nation_avg
        FROM (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) OVER w AS DOUBLE)
                     / COUNT(c_acctbal) OVER w AS nation_avg
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey)
        )
        JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > nation_avg
    """,
    "q28_hash_sample": f"""
        SELECT o_orderstatus,
               COUNT(*) AS n_sampled,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        FROM orders
        WHERE {_H32.format(x='CAST(o_orderkey AS VARCHAR)')} % 10 = 0
        GROUP BY o_orderstatus
    """,
    "q29_segment_lists": """
        SELECT n_name,
               array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
                   AS segments,
               COUNT(*) AS n_customers
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q37_bag_setops": """
        WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
             v AS (SELECT user_id FROM events WHERE event_type = 'view'),
             ea AS (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM v),
             ia AS (SELECT user_id FROM c INTERSECT ALL SELECT user_id FROM v)
        SELECT user_id, COUNT(*) AS n, 'except_all' AS tag
        FROM ea GROUP BY user_id
        UNION ALL
        SELECT user_id, COUNT(*) AS n, 'intersect_all' AS tag
        FROM ia GROUP BY user_id
    """,
    "q38_window_frames": """
        SELECT o_custkey,
               o_orderkey,
               CAST(ntile(2) OVER w AS INTEGER) AS half,
               first_value(o_totalprice) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS first_price,
               last_value(o_totalprice) OVER
                   (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS last_price,
               nth_value(o_totalprice, 2) OVER
                   (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS second_price,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "q39_string_functions": """
        SELECT p_partkey,
               regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
               translate(p_name, 'abc', 'xyz') AS translated,
               lpad(p_brand, 12, '.') AS brand_lpad,
               rpad(p_brand, 12, '.') AS brand_rpad,
               reverse(p_type) AS type_rev,
               CAST(strpos(p_name, 'a') AS INTEGER) AS first_a,
               left(p_type, 5) AS type_left5,
               repeat(p_brand, 2) AS brand_twice
        FROM part
    """,
    # Map functions via DuckDB's JSON path (no JSON→MAP cast there):
    # json_keys ≙ map_keys, ->> ≙ getItem.
    "q41_map_functions": """
        SELECT event_id,
               CAST(len(json_keys(props)) AS INTEGER) AS n_keys,
               array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
               CAST(props ->> 'k' AS INTEGER) AS k_val,
               (props ->> 'k') IS NOT NULL AS has_k
        FROM events
    """,
    # Curation pipeline: doubled corpus → quality ≥ 0.5 → exact dedup
    # (min-id keeper per md5(lower(text))) → per-source stats. Score math
    # mirrors tx02; avg goes through DECIMAL for order-independence.
    "px01_curation_pipeline": f"""
        WITH corpus AS (
            SELECT doc_id, text, n_chars, source FROM documents
            UNION ALL
            SELECT doc_id + 100000, text, n_chars, source FROM documents
        ),
        q AS (
            SELECT doc_id, text, source, n AS n_tokens,
                   0.4 * len_score + 0.3 * uniq_ratio
                       + 0.3 * (1.0 - stop_ratio) AS quality_score
            FROM (
                SELECT doc_id, text, source, len(l) AS n,
                       CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                       CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                           / len(l) AS stop_ratio,
                       least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
                FROM (SELECT doc_id, text, n_chars, source, {_TOKS} AS l
                      FROM corpus)
            )
        ),
        kept AS (SELECT * FROM q WHERE quality_score >= 0.5),
        surv AS (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS keeper
            FROM kept
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
               CAST(SUM(CAST(quality_score AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*) AS avg_quality
        FROM surv WHERE doc_id = keeper
        GROUP BY source
    """,
    # Forward as-of: earliest purchase at-or-after each click, as the
    # equivalent correlated MIN (the Spark side is union + one window).
    "q63_next_purchase_asof": """
        WITH c AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        p AS (
            SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'purchase'
        )
        SELECT c.event_id, c.user_id, c.ts AS click_ts,
               (SELECT MIN(p.ts) FROM p
                WHERE p.user_id = c.user_id AND p.ts >= c.ts)
                   AS next_purchase_ts
        FROM c
    """,
    # Literal correlated NOT EXISTS (the Spark side is the aggregation
    # rewrite — distinct pairs, HAVING count=1 — same result set).
    "q62_exclusive_parts": """
        SELECT s_suppkey, s_name, COUNT(*) AS n_exclusive_parts
        FROM (
            SELECT DISTINCT l1.l_partkey, l1.l_suppkey
            FROM lineitem l1
            WHERE l1.l_quantity >= 48
              AND NOT EXISTS (
                SELECT 1 FROM lineitem l2
                WHERE l2.l_partkey = l1.l_partkey
                  AND l2.l_suppkey <> l1.l_suppkey
                  AND l2.l_quantity >= 48
            )
        ) e JOIN supplier ON e.l_suppkey = s_suppkey
        GROUP BY s_suppkey, s_name
        ORDER BY n_exclusive_parts DESC, s_suppkey
        LIMIT 20
    """,
    # Full pretraining-curation funnel: quality + Gopher repetition filter
    # + exact dedup + per-source packing budget, mirrored stage for stage.
    "px04_pretraining_curation": f"""
        WITH corpus AS (
            SELECT doc_id, text, n_chars, source FROM documents
            UNION ALL
            SELECT doc_id + 100000, text, n_chars, source FROM documents
        ),
        q AS (
            SELECT doc_id, text, source, n AS n_tokens,
                   0.4 * len_score + 0.3 * uniq_ratio
                       + 0.3 * (1.0 - stop_ratio) AS quality_score
            FROM (
                SELECT doc_id, text, source, len(l) AS n,
                       CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                       CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                           / len(l) AS stop_ratio,
                       least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
                FROM (SELECT doc_id, text, n_chars, source, {_TOKS} AS l
                      FROM corpus)
            )
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(l[1:len(l)-1], (x,i) -> x || ' ' || l[i+1]))
                       AS bigram
            FROM (SELECT doc_id, {_TOKS} AS l FROM corpus)
        ),
        bgc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        rep AS (
            SELECT doc_id,
                   round(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
                         / SUM(n), 6) AS dup_bigram_frac
            FROM bgc GROUP BY 1
        ),
        kept AS (
            -- LEFT join + coalesce mirrors repetition_stats: a doc with
            -- fewer than 2 tokens has no bigrams and counts as 0.0
            -- repetition, not as dropped
            SELECT q.* FROM q LEFT JOIN rep USING (doc_id)
            WHERE quality_score >= 0.65
              AND COALESCE(dup_bigram_frac, 0.0) <= 0.1
        ),
        surv AS (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS keeper
            FROM kept
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
               CAST(ceil(CAST(SUM(n_tokens) AS DOUBLE) / 512) AS BIGINT) AS n_packs
        FROM surv WHERE doc_id = keeper
        GROUP BY source
    """,
    # Array HOFs: cast to DOUBLE[] first so both engines accumulate the sum
    # in double in the same element order (bit-identical before rounding).
    "q40_array_functions": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id,
               CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_pos,
               round(list_aggregate(v[1:8], 'sum'), 6) AS sum8,
               list_max(v) AS vmax,
               list_min(v) AS vmin,
               v[1] AS d1
        FROM e
    """,
    "q34_full_outer_join": """
        WITH o AS (
            SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        ),
        e AS (
            SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
            FROM events GROUP BY 1
        )
        SELECT COALESCE(o.day, e.day) AS day,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(n_events, 0) AS n_events
        FROM o FULL OUTER JOIN e ON o.day = e.day
    """,
    "q35_cross_join_grid": """
        WITH grid AS (
            SELECT r_name, o_orderstatus
            FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        ),
        per_region AS (
            SELECT r_name AS pr_name, COUNT(*) AS n_customers
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        )
        SELECT r_name, o_orderstatus, COALESCE(n_customers, 0) AS n_customers
        FROM grid LEFT JOIN per_region ON grid.r_name = per_region.pr_name
    """,
    # NOT IN with an explicitly null-filtered list — equals the anti join
    # (the Spark side IS the anti join; this pins the equivalence).
    "q36_not_in_semantics": """
        SELECT c_mktsegment,
               COUNT(*) AS n_non_buyers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL
        )
        GROUP BY c_mktsegment
    """,
    # BPE-ish piece counting: same regex classes in Java regex and RE2.
    "tx06_subword_counts": f"""
        SELECT doc_id,
               CAST(len({_TOKS}) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text,
                   '''[a-zA-Z]+| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+'))
                   AS INTEGER) AS n_pieces,
               round(length(text) / greatest(len(regexp_extract_all(text,
                   '''[a-zA-Z]+| ?\\p{{L}}+| ?\\p{{N}}+| ?[^\\s\\p{{L}}\\p{{N}}]+')), 1), 6)
                   AS chars_per_piece
        FROM documents
    """,
    # TPC-H Q3 shape, near-identical SQL text in both engines.
    "q31_sql_shipping_priority": """
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               o_orderpriority,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(8,6)))
                         AS DECIMAL(27,6)) AS DOUBLE) AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    # The salted join must be row-identical to the plain join — the oracle
    # IS the unsalted form.
    "q32_salted_join_agg": """
        SELECT o_orderpriority,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    # TPC-H Q7 shape: nation-pair volume flow by year.
    "q42_volume_shipping": """
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(8,6)))
                         AS DECIMAL(27,6)) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey  = s_suppkey
        JOIN customer ON o_custkey  = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3
    """,
    # TPC-H Q12 shape: conditional CASE aggregation.
    "q43_priority_case_agg": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY l_returnflag
    """,
    # TPC-H Q14 shape: promo share = ratio of two exact sums, divided as
    # doubles (deterministic IEEE division in both engines).
    "q44_promo_revenue": """
        SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                       * CAST(1 - l_discount AS DECIMAL(8,6))
                             END) AS DECIMAL(27,6)) AS DOUBLE)
               * 100.0
               / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                               * CAST(1 - l_discount AS DECIMAL(8,6)))
                           AS DECIMAL(27,6)) AS DOUBLE) AS promo_pct,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(8,6)))
                         AS DECIMAL(27,6)) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY 1
    """,
    # TPC-H Q19 shape: OR-of-ANDs join predicate over both sides.
    "q45_disjunctive_join": """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(1 - l_discount AS DECIMAL(8,6)))
                         AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """,
    # TPC-H Q13 shape: outer-join count distribution (ON-clause filter).
    "q47_custdist": """
        SELECT c_count, COUNT(*) AS custdist FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer LEFT JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) GROUP BY c_count
    """,
    # TPC-H Q18 shape: HAVING-gated join fan-out from the aggregate.
    "q48_big_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               total_qty
        FROM (
            SELECT l_orderkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING total_qty > 250.0
        ) big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    # TPC-H Q17 shape: correlated per-part average decorrelated to a join.
    # avg = exact decimal sum / count in both engines → the double 0.2*avg
    # threshold is bit-identical, comparisons deterministic.
    "q49_small_qty_revenue": """
        WITH li_b AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#23'
        ),
        avg_qty AS (
            SELECT l_partkey AS a_partkey,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                       / COUNT(l_quantity) AS avg_qty
            FROM li_b GROUP BY l_partkey
        )
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                   / 7.0 AS avg_yearly
        FROM li_b JOIN avg_qty ON l_partkey = a_partkey
        WHERE l_quantity < 0.2 * avg_qty
    """,
    # TPC-H Q22 shape: global scalar subquery + NOT EXISTS anti join.
    "q50_wealthy_inactive": """
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   AS total_bal
        FROM customer
        WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                           / COUNT(c_acctbal)
                FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
                SELECT 1 FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
    """,
    # TPC-H Q15 shape: agg-over-agg, max-revenue equality on exact DECIMAL.
    "q51_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(8,6))) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(CAST(rev_dec AS DECIMAL(27,6)) AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE rev_dec = (SELECT MAX(rev_dec) FROM rev)
    """,
    # Per-doc key terms: tf-idf ordering via exact integer tf*1e9 DIV df.
    "tx07_keyterms": f"""
        WITH tfs AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM (
                SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ) GROUP BY doc_id, term
        ),
        dfc AS (SELECT term AS d_term, COUNT(*) AS df FROM tfs GROUP BY 1),
        scored AS (
            SELECT doc_id, term, tf, df, tf * 1000000000 // df AS score
            FROM tfs JOIN dfc ON term = d_term
        )
        SELECT doc_id, term, tf, df, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rk
            FROM scored
        ) WHERE rk <= 3
    """,
    # Denylist scrub: JVM/RE2 word-boundary regex agree on this pattern.
    "tx08_denylist_scrub": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\b(customer|merge)\b'))
                    AS INTEGER) AS n_masked,
               CAST(length(regexp_replace(text, '\b(customer|merge)\b',
                                          '[MASKED]', 'g')) AS INTEGER)
                   AS scrubbed_len
        FROM documents
    """,
    # Sequence packing: per-source token cumsum sliced into 512-token packs.
    "tx09_packing_index": f"""
        SELECT doc_id, source, n_tok,
               CAST(cum - n_tok AS BIGINT) AS start_off,
               CAST((cum - n_tok) // 512 AS BIGINT) AS first_pack,
               CAST((cum - 1) // 512 AS BIGINT) AS last_pack
        FROM (
            SELECT doc_id, source, n_tok,
                   SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum
            FROM (SELECT doc_id, source,
                         CAST(len({_TOKS}) AS INTEGER) AS n_tok
                  FROM documents)
        )
    """,
    # Gopher-style repetition signals: per-doc token dup fraction + bigram
    # concentration (explode → per-(doc,bigram) counts → per-doc shares).
    # All ratios are exact-integer divisions in double.
    "tx10_repetition_stats": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
        per AS (
            SELECT doc_id, CAST(len(l) AS INTEGER) AS n_tokens,
                   round(1.0 - CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 6)
                       AS dup_token_frac
            FROM toks
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(l[1:len(l)-1], (x,i) -> x || ' ' || l[i+1]))
                       AS bigram
            FROM toks
        ),
        counts AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        shares AS (
            SELECT doc_id,
                   round(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS top_bigram_frac,
                   round(CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE)
                         / SUM(n), 6) AS dup_bigram_frac
            FROM counts GROUP BY 1
        )
        SELECT p.doc_id, n_tokens, dup_token_frac,
               COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
               COALESCE(dup_bigram_frac, 0.0) AS dup_bigram_frac
        FROM per p LEFT JOIN shares s ON p.doc_id = s.doc_id
    """,
    # PII scrub over the deterministic synthetic-contact enrichment (the raw
    # fixture has no PII); same patterns + replacement order as
    # operators.text (Java regex and RE2 agree on these shapes).
    "tx11_pii_scrub": """
        WITH enr AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com or +1-555-'
                        || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
                        || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                       AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text,
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'))
                   AS INTEGER) AS n_ips,
               CAST(len(regexp_extract_all(text,
                   '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                   '\\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrub_fp
        FROM enr
    """,
    # Benchmark contamination: distinct 3-token shingles of the pseudo-eval
    # set (doc_id % 97 = 0) joined against the rest of the corpus.
    "tx12_contamination": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS g
            FROM toks
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        corp AS (SELECT doc_id, g FROM sh WHERE doc_id % 97 <> 0),
        n_sh AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corp GROUP BY 1),
        hits AS (
            SELECT doc_id, COUNT(*) AS n_contaminated
            FROM corp JOIN bench USING (g) GROUP BY 1
        )
        SELECT doc_id,
               CAST(n_shingles AS BIGINT) AS n_shingles,
               CAST(n_contaminated AS BIGINT) AS n_contaminated,
               round(CAST(n_contaminated AS DOUBLE) / n_shingles, 6)
                   AS contamination_rate
        FROM n_sh JOIN hits USING (doc_id)
    """,
    # Temperature-weighted domain mixture: w_s ∝ n_s^0.5, md5-rank take.
    "tx13_domain_mixture": """
        WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        z AS (SELECT CAST(SUM(CAST(pow(CAST(n_docs AS DOUBLE), 0.5)
                                   AS DECIMAL(28,12))) AS DOUBLE) AS z
              FROM counts),
        weights AS (
            SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                   round(pow(CAST(n_docs AS DOUBLE), 0.5) / z, 6) AS weight,
                   LEAST(CAST(ceil(pow(CAST(n_docs AS DOUBLE), 0.5) / z * 200)
                              AS INTEGER),
                         CAST(n_docs AS INTEGER)) AS quota
            FROM counts CROSS JOIN z
        ),
        ranked AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents
        ),
        kept AS (
            SELECT r.source, COUNT(*) AS n_kept
            FROM ranked r JOIN weights w ON r.source = w.source AND r.rk <= w.quota
            GROUP BY 1
        )
        SELECT w.source, w.n_docs, w.weight, w.quota,
               CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        FROM weights w LEFT JOIN kept k ON w.source = k.source
    """,
    # Unpivot/melt: wide grouped agg → long (metric, value) rows.
    # ROLLUP subtotals with GROUPING() flags (q74's Spark rollup twin).
    "q74_rollup_revenue": f"""
        SELECT r_name, n_name,
               CAST(CAST(SUM({_DISC_PRICE}) AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems,
               CAST(GROUPING(r_name) AS INTEGER) AS g_region,
               CAST(GROUPING(n_name) AS INTEGER) AS g_nation
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    # PIVOT as conditional aggregation (q75's explicit-values pivot twin).
    "q75_pivot_priority": """
        SELECT o_orderstatus,
               CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS BIGINT) AS n_urgent,
               CAST(COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS BIGINT) AS n_high,
               CAST(COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS BIGINT) AS n_medium,
               CAST(COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS BIGINT) AS n_unspecified,
               CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS BIGINT) AS n_low
        FROM orders
        GROUP BY o_orderstatus
    """,
    # Per-customer rolling 90-day revenue: RANGE frame over order dates.
    "q76_rolling_revenue": """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
                   AS rolling_90d_total,
               COUNT(*) OVER w AS n_orders_90d
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW
        )
    """,
    # Edit-distance near-dup pairs, prefix-blocked (dd13's twin).
    "dd13_editdist_neardup": """
        WITH h AS (
            SELECT doc_id, lower(substr(text, 1, 48)) AS head,
                   lower(substr(text, 1, 8)) AS blk
            FROM documents
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_dist
        FROM h a JOIN h b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE levenshtein(a.head, b.head) <= 8
    """,
    # Token-distribution Shannon entropy (tx16's twin): the per-type term
    # is the only float op (rounded log2), the reduction is exact decimal.
    "tx16_token_entropy": f"""
        WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        counts AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1)
        SELECT counts.doc_id,
               CAST(t.n AS INTEGER) AS n_tokens,
               CAST(count(*) AS INTEGER) AS n_types,
               CAST(SUM(c * CAST(round(log2(CAST(t.n AS DOUBLE) / c), 6)
                                 AS DECIMAL(12,6))) AS DOUBLE) / SUM(c)
                   AS entropy_bits
        FROM counts JOIN tot t USING (doc_id)
        GROUP BY counts.doc_id, t.n
    """,
    # Median/MAD robust outlier gate (dq04's twin): medians pinned to
    # DECIMAL(18,4) on both sides, gate compares decimals.
    "dq04_robust_outliers": """
        WITH med AS (
            SELECT l_returnflag,
                   CAST(round(median(l_extendedprice), 4) AS DECIMAL(18,4)) AS m
            FROM lineitem GROUP BY l_returnflag
        ),
        dev AS (
            SELECT l.l_returnflag,
                   abs(CAST(l_extendedprice AS DECIMAL(18,4)) - m) AS adev
            FROM lineitem l JOIN med USING (l_returnflag)
        ),
        mad AS (
            -- median over DOUBLE: DuckDB's DECIMAL median is discrete
            -- (lower middle), the double cast restores the interpolating
            -- semantics Spark uses
            SELECT l_returnflag,
                   CAST(round(median(CAST(adev AS DOUBLE)), 4)
                        AS DECIMAL(18,4)) AS md
            FROM dev GROUP BY l_returnflag
        )
        SELECT d.l_returnflag,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN adev > 3 * md THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers,
               CAST(MAX(m) AS DOUBLE) AS med,
               CAST(MAX(md) AS DOUBLE) AS mad
        FROM dev d JOIN mad USING (l_returnflag) JOIN med USING (l_returnflag)
        GROUP BY d.l_returnflag
    """,
    # Integer fixed-point PageRank over the symmetrized dd04 near-dup
    # graph (gr03's twin): three unrolled iterations, all BIGINT div
    # arithmetic — bit-exact, no float anywhere.
    "gr03_pagerank_fixed_point": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        ),
        prs AS (
            SELECT doc_a, doc_b FROM (
                SELECT doc_a, doc_b,
                       CAST(len(list_distinct(list_intersect(x.hs, y.hs))) AS DOUBLE)
                           / len(list_distinct(x.hs || y.hs)) AS jaccard
                FROM cand JOIN base x ON x.doc_id = doc_a
                          JOIN base y ON y.doc_id = doc_b
            ) WHERE jaccard >= 0.2
        ),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM prs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM prs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM sym),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS od
                FROM sym GROUP BY src),
        r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) // n AS r
               FROM nodes, nn),
        c1 AS (SELECT s.dst AS node, SUM(r // od) AS c
               FROM sym s JOIN deg d ON d.node = s.src
                          JOIN r0 ON r0.node = s.src
               GROUP BY s.dst),
        r1 AS (SELECT nodes.node,
                      CAST((15 * CAST(1000000000000 AS BIGINT)) // (100 * n)
                           + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r
               FROM nodes CROSS JOIN nn
               LEFT JOIN c1 ON c1.node = nodes.node),
        c2 AS (SELECT s.dst AS node, SUM(r // od) AS c
               FROM sym s JOIN deg d ON d.node = s.src
                          JOIN r1 ON r1.node = s.src
               GROUP BY s.dst),
        r2 AS (SELECT nodes.node,
                      CAST((15 * CAST(1000000000000 AS BIGINT)) // (100 * n)
                           + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r
               FROM nodes CROSS JOIN nn
               LEFT JOIN c2 ON c2.node = nodes.node),
        c3 AS (SELECT s.dst AS node, SUM(r // od) AS c
               FROM sym s JOIN deg d ON d.node = s.src
                          JOIN r2 ON r2.node = s.src
               GROUP BY s.dst),
        r3 AS (SELECT nodes.node,
                      CAST((15 * CAST(1000000000000 AS BIGINT)) // (100 * n)
                           + (85 * COALESCE(c, 0)) // 100 AS BIGINT) AS r
               FROM nodes CROSS JOIN nn
               LEFT JOIN c3 ON c3.node = nodes.node)
        SELECT node, r AS rank_fp FROM r3
    """,
    # Overlapping token-window chunking (tx17's twin): one chunk per
    # start position 1, 1+S, ... <= n; md5 fingerprints the chunk text.
    "tx17_rag_chunks": f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
        st AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l), 1), 48)) AS start
            FROM toks
        )
        SELECT doc_id,
               CAST((start - 1) // 48 AS INTEGER) AS chunk_id,
               CAST(len(list_slice(l, start, least(start + 63, len(l))))
                    AS INTEGER) AS n_chunk_tokens,
               md5(array_to_string(
                   list_slice(l, start, least(start + 63, len(l))), ' '))
                   AS chunk_md5
        FROM st
    """,
    # Symmetric per-vector int8 quantization (ss09's twin).
    "ss09_int8_quantize": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        m AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS mx
            FROM e
        ),
        q AS (
            SELECT vec_id, mx, len(v) AS nd,
                   list_transform(
                       v,
                       x -> CAST(CASE WHEN mx = 0 THEN 0
                                      ELSE round(x * 127 / mx, 0) END
                                 AS INTEGER)) AS codes
            FROM m
        )
        SELECT vec_id,
               round(mx, 9) AS mx,
               md5(array_to_string(
                   list_transform(codes, c -> CAST(c AS VARCHAR)), ','))
                   AS codes_md5,
               CAST(nd AS INTEGER) AS n_dims,
               CAST(list_sum(list_transform(codes, c -> abs(c))) AS BIGINT)
                   AS sum_abs_q
        FROM q
    """,
    # WebDataset round-trip integrity (mm06's twin): the tar export +
    # DataSource import must hand back exactly the source payload bytes.
    "mm06_webdataset_roundtrip": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    # Ordered funnel view -> click -> purchase (q80's twin).
    "q80_event_funnel": """
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, MIN(ts) AS t2
            FROM events e JOIN s1 USING (user_id)
            WHERE event_type = 'click' AND ts > t1
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, MIN(ts) AS t3
            FROM events e JOIN s2 USING (user_id)
            WHERE event_type = 'purchase' AND ts > t2
            GROUP BY e.user_id
        )
        SELECT CAST(COUNT(t1) AS BIGINT) AS n_view,
               CAST(COUNT(t2) AS BIGINT) AS n_view_click,
               CAST(COUNT(t3) AS BIGINT) AS n_full_funnel
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    """,
    # Weekly retention cohorts (q81's twin).
    "q81_retention_cohorts": """
        WITH w AS (
            SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
            FROM events
        ),
        f AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id)
        SELECT cohort_week,
               CAST(datediff('day', cohort_week, week) // 7 AS INTEGER)
                   AS week_offset,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM w JOIN f USING (user_id)
        GROUP BY 1, 2
    """,
    # Per-user event transition counts (q82's twin).
    "q82_event_transitions": """
        SELECT event_type, next_type, COUNT(*) AS n FROM (
            SELECT event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS next_type
            FROM events
        ) WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
        ORDER BY n DESC, event_type, next_type
        LIMIT 20
    """,
    # Daily gap-fill + LOCF per user (q83's twin).
    "q83_locf_gapfill": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
            FROM events GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
            FROM daily GROUP BY user_id
        ),
        spine AS (
            SELECT user_id, CAST(unnest(generate_series(d0, d1,
                       INTERVAL 1 DAY)) AS DATE) AS day
            FROM span
        )
        SELECT s.user_id, s.day,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS v_filled,
               v IS NOT NULL AS is_observed
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.day = s.day
    """,
    # Expression-level CMS heavy hitters (sk03's twin): md5-derived row
    # hashes, min-over-rows estimate — all integer, bit-exact.
    "sk03_cms_expr": """
        WITH t AS (SELECT o_custkey AS v FROM orders),
        rb AS (
            SELECT rr.r AS r,
                   ('0x' || substr(md5('r' || rr.r || '#' ||
                        CAST(v AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket,
                   COUNT(*) AS c
            FROM t CROSS JOIN range(4) rr(r)
            GROUP BY 1, 2
        ),
        cand AS (
            SELECT v, COUNT(*) AS true_count FROM t
            GROUP BY v ORDER BY true_count DESC, v LIMIT 10
        )
        SELECT cand.v AS o_custkey,
               CAST(true_count AS BIGINT) AS true_count,
               CAST(MIN(c) AS BIGINT) AS est_count
        FROM cand CROSS JOIN range(4) rr(r)
        JOIN rb ON rb.r = rr.r
               AND rb.bucket = ('0x' || substr(md5('r' || rr.r || '#' ||
                        CAST(cand.v AS VARCHAR)), 1, 8))::BIGINT % 64
        GROUP BY cand.v, true_count
    """,
    # Deterministic-sample quantile estimates (q85's twin).
    # Compaction-bins twin: one global sorted prefix sum — the
    # single-partition plan the engine's two-stage pattern avoids.
    "q91_compaction_bins": """
        WITH ordered AS (
            SELECT doc_id, n_chars,
                   COALESCE(SUM(n_chars) OVER (
                       ORDER BY n_chars DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_before
            FROM documents
        )
        SELECT CAST(cum_before // 32768 AS BIGINT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
               CAST(MIN(n_chars) AS BIGINT) AS min_file,
               CAST(MAX(n_chars) AS BIGINT) AS max_file
        FROM ordered GROUP BY 1
    """,
    # Negative-sampling twin: same md5 offset into the dense id ring,
    # same materialization join.
    "px12_negative_pairs": """
        WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM documents),
        pairs AS (
            SELECT d.doc_id AS anchor_id,
                   CAST(j.pair_j AS INTEGER) AS pair_j,
                   (d.doc_id + 1 +
                    (('0x' || substr(md5(d.doc_id || '#neg#' || j.pair_j),
                                     1, 8))::BIGINT % (n._n - 1))) % n._n
                       AS neg_id
            FROM documents d
            CROSS JOIN n
            CROSS JOIN (SELECT unnest(range(1, 5)) AS pair_j) j
        )
        SELECT p.anchor_id, p.pair_j, p.neg_id, d.source AS neg_source
        FROM pairs p JOIN documents d ON d.doc_id = p.neg_id
    """,
    # Skew-report twin: exact integer ppm/ratio arithmetic, same
    # (count desc, key) tie-break.
    "dq05_skew_report": """
        WITH c AS (
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM events GROUP BY user_id
        ),
        t AS (
            SELECT CAST(SUM(n_rows) AS BIGINT) AS _total,
                   CAST(COUNT(*) AS BIGINT) AS _n_keys
            FROM c
        )
        SELECT user_id, n_rows,
               n_rows * 1000000 // _total AS share_ppm,
               n_rows * _n_keys * 100 // _total AS skew_x100
        FROM c CROSS JOIN t
        ORDER BY n_rows DESC, user_id LIMIT 20
    """,
    # Z-order layout twin: same magic-number Morton spread, same
    # fixed-width file ranges — all int64 math, bit-for-bit.
    "q86_zorder_layout": """
        WITH base AS (
            SELECT l_partkey,
                   datediff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS ship_day
            FROM lineitem
        ),
        b AS (
            SELECT min(l_partkey) AS x_lo, max(l_partkey) AS x_hi,
                   min(ship_day) AS y_lo, max(ship_day) AS y_hi
            FROM base
        ),
        norm AS (
            SELECT l_partkey, ship_day,
                   CASE WHEN x_hi - x_lo <= 0 THEN 0
                        ELSE (l_partkey - x_lo) * 65535 // (x_hi - x_lo)
                   END AS xn,
                   CASE WHEN y_hi - y_lo <= 0 THEN 0
                        ELSE (ship_day - y_lo) * 65535 // (y_hi - y_lo)
                   END AS yn
            FROM base CROSS JOIN b
        ),
        s1 AS (SELECT l_partkey, ship_day,
                      (xn | (xn << 8)) & 16711935 AS xa,
                      (yn | (yn << 8)) & 16711935 AS ya FROM norm),
        s2 AS (SELECT l_partkey, ship_day,
                      (xa | (xa << 4)) & 252645135 AS xb,
                      (ya | (ya << 4)) & 252645135 AS yb FROM s1),
        s3 AS (SELECT l_partkey, ship_day,
                      (xb | (xb << 2)) & 858993459 AS xc,
                      (yb | (yb << 2)) & 858993459 AS yc FROM s2),
        s4 AS (SELECT l_partkey, ship_day,
                      (xc | (xc << 1)) & 1431655765 AS xs,
                      (yc | (yc << 1)) & 1431655765 AS ys FROM s3),
        z AS (SELECT l_partkey, ship_day, (xs | (ys << 1)) AS zkey FROM s4)
        SELECT zkey * 64 // 4294967296 AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
               CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
               CAST(min(ship_day) AS BIGINT) AS min_ship_day,
               CAST(max(ship_day) AS BIGINT) AS max_ship_day
        FROM z GROUP BY 1
    """,
    # Efraimidis-Spirakis twin: identical md5-derived uniform, identical
    # ln(u)/w priority; LIMIT is the oracle's global sort, the engine's
    # TakeOrdered.
    "q87_weighted_sample": """
        WITH scored AS (
            SELECT doc_id, n_chars,
                   ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT + 1) / 4294967296.0) / n_chars AS es_key
            FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, n_chars,
               round(es_key, 6) AS es_key_r,
               CAST(row_number() OVER (ORDER BY es_key DESC, doc_id)
                    AS INTEGER) AS sample_rank
        FROM scored
        ORDER BY es_key DESC, doc_id
        LIMIT 50
    """,
    # Nearest-direction as-of twin: brute-force LATERAL argmin per click
    # (gap, then backward-first on ties) — the O(n·m) plan the engine's
    # single-sort union avoids.
    "q88_asof_nearest": """
        WITH clicks AS (
            SELECT user_id, ts, event_id AS click_id
            FROM events WHERE event_type = 'click'
        ),
        purch AS (
            SELECT user_id, ts,
                   max(event_id) AS p_event_id,
                   arg_max(value, event_id) AS p_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        )
        SELECT c.user_id, c.ts, c.click_id,
               p.p_event_id, p.p_value, p.gap AS asof_gap_us
        FROM clicks c LEFT JOIN LATERAL (
            SELECT p.p_event_id, p.p_value,
                   abs(epoch_us(p.ts) - epoch_us(c.ts)) AS gap,
                   CASE WHEN epoch_us(p.ts) <= epoch_us(c.ts)
                        THEN 0 ELSE 1 END AS fwd
            FROM purch p
            WHERE p.user_id = c.user_id
              AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 3600000000
            ORDER BY gap, fwd LIMIT 1
        ) p ON TRUE
    """,
    # TWAP twin: identical DECIMAL numerator ((12,2) value x integer µs,
    # reduced to (27,2) before the double cast) and double division.
    "q89_twap": """
        WITH seg AS (
            SELECT user_id,
                   CAST(value AS DECIMAL(12,2)) AS v,
                   epoch_us(lead(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id))
                   - epoch_us(ts) AS dt_us
            FROM events
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(dt_us) AS BIGINT) AS span_us,
               round(CAST(CAST(SUM(v * dt_us) AS DECIMAL(27,2)) AS DOUBLE)
                     / CAST(SUM(dt_us) AS DOUBLE), 6) AS twap
        FROM seg WHERE dt_us IS NOT NULL
        GROUP BY user_id
    """,
    # Distributed-rank twin: the single-partition row_number the cluster
    # never runs.
    "q90_distributed_rank": """
        SELECT doc_id, n_chars,
               CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                    AS BIGINT) AS global_rank
        FROM documents
    """,
    "q85_sampled_quantiles": """
        WITH s AS (
            SELECT o_orderpriority, o_totalprice FROM orders
            WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
                  % 16 = 0
        )
        SELECT o_orderpriority,
               unnest([0.25, 0.5, 0.75]) AS pct,
               round(unnest(quantile_cont(o_totalprice, [0.25, 0.5, 0.75])), 4)
                   AS est_value,
               CAST(COUNT(*) AS BIGINT) AS n_sampled
        FROM s GROUP BY o_orderpriority
    """,
    # Burst-collapse debounce (dd14's twin): sessionize-style burst ids,
    # first event per burst, microsecond-exact gaps.
    "dd14_event_debounce": """
        WITH flagged AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             >= 300000000 THEN 1
                        ELSE 0 END AS nb
            FROM events
            WINDOW w AS (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id)
        ),
        bursts AS (
            SELECT user_id, event_type, ts, event_id,
                   SUM(nb) OVER (PARTITION BY user_id, event_type
                                 ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS burst_id
            FROM flagged
        )
        SELECT user_id, event_type, ts, event_id,
               CAST(burst_id AS INTEGER) AS burst_id,
               CAST(n_collapsed AS INTEGER) AS n_collapsed
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY user_id, event_type,
                                          burst_id
                                      ORDER BY ts, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id, event_type,
                                      burst_id) AS n_collapsed
            FROM bursts
        ) WHERE rn = 1
    """,
    # DSIR importance-ratio selection (px11's twin): Laplace-smoothed
    # hashed-bucket log ratio — the only float op is the rounded log2 of
    # an exact integer ratio.
    "px11_dsir_selection": f"""
        WITH occ AS (
            SELECT doc_id, is_t, bucket, COUNT(*) AS n FROM (
                SELECT doc_id, lang = 'en' AS is_t,
                       {_H32.format(x='tok')} % 256 AS bucket
                FROM (SELECT doc_id, lang, unnest({_TOKS}) AS tok
                      FROM documents)
            ) GROUP BY 1, 2, 3
        ),
        stats AS (
            SELECT bucket, CAST(SUM(n) AS BIGINT) AS r_b,
                   CAST(SUM(CASE WHEN is_t THEN n ELSE 0 END) AS BIGINT)
                       AS t_b
            FROM occ GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(SUM(r_b) AS BIGINT) AS r_tot,
                   CAST(SUM(t_b) AS BIGINT) AS t_tot
            FROM stats
        ),
        w AS (
            SELECT bucket,
                   round(log2(CAST((t_b + 1) * (r_tot + 256) AS DOUBLE)
                              / CAST((r_b + 1) * (t_tot + 256) AS DOUBLE)),
                         6) AS w
            FROM stats CROSS JOIN tot
        )
        SELECT occ.doc_id,
               CAST(SUM(n) AS INTEGER) AS n_tokens,
               CAST(SUM(n * CAST(w AS DECIMAL(12,6))) AS DOUBLE) / SUM(n)
                   AS dsir_score,
               (CAST(SUM(n * CAST(w AS DECIMAL(12,6))) AS DOUBLE) / SUM(n))
                   > 0 AS selected
        FROM occ JOIN w USING (bucket)
        GROUP BY occ.doc_id
    """,
    # Composed RAG-corpus pipeline (px10's twin): tx02 score formula ->
    # gate >= 0.5 -> fingerprint dedup -> tx17 chunking -> source stats.
    "px10_rag_corpus": f"""
        WITH scored AS (
            SELECT doc_id, text, source,
                   0.4 * least(CAST(n_chars AS DOUBLE) / 400.0, 1.0)
                 + 0.3 * (CAST(len(list_distinct(l)) AS DOUBLE) / len(l))
                 + 0.3 * (1.0 - CAST(len(list_filter(l, t -> t IN {_STOP_EN}))
                                      AS DOUBLE) / len(l)) AS score
            FROM (SELECT doc_id, text, n_chars, source, {_TOKS} AS l
                  FROM documents)
        ),
        kept AS (SELECT * FROM scored WHERE score >= 0.5),
        surv AS (
            SELECT doc_id, text, source FROM (
                SELECT doc_id, text, source,
                       min(doc_id) OVER (PARTITION BY md5(lower(text)))
                           AS keeper
                FROM kept
            ) WHERE doc_id = keeper
        ),
        toks AS (SELECT doc_id, source, {_TOKS} AS l FROM surv),
        ch AS (
            SELECT doc_id, source,
                   len(list_slice(l, start, least(start + 63, len(l))))
                       AS n_chunk_tokens
            FROM (SELECT doc_id, source, l,
                         unnest(generate_series(1, greatest(len(l), 1), 48))
                             AS start
                  FROM toks)
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(SUM(n_chunk_tokens) AS BIGINT) AS n_chunk_tokens,
               CAST(SUM(n_chunk_tokens) AS BIGINT) // COUNT(*)
                   AS avg_tokens_per_chunk
        FROM ch GROUP BY source
    """,
    # EXCEPT / INTERSECT cohort counts (q78's twin).
    "q78_customer_cohorts": """
        WITH c95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
             c96 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        SELECT 'only_1995' AS cohort,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM (SELECT o_custkey FROM c95 EXCEPT SELECT o_custkey FROM c96)
        UNION ALL
        SELECT 'only_1996', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT o_custkey FROM c96 EXCEPT SELECT o_custkey FROM c95)
        UNION ALL
        SELECT 'both', CAST(COUNT(*) AS BIGINT)
        FROM (SELECT o_custkey FROM c95 INTERSECT SELECT o_custkey FROM c96)
    """,
    # Deterministic per-stratum hash sampling (q79's twin).
    "q79_stratified_sample": """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_sampled,
               MIN(c_custkey) AS min_key,
               MAX(c_custkey) AS max_key
        FROM customer
        WHERE ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT % 100
              < CASE c_mktsegment
                     WHEN 'BUILDING' THEN 10
                     WHEN 'AUTOMOBILE' THEN 50
                     WHEN 'MACHINERY' THEN 100
                     ELSE 0 END
        GROUP BY c_mktsegment
    """,
    # Distribution windows partitioned by brand (q77's twin).
    "q77_price_distribution": """
        SELECT p_brand, p_partkey, p_retailprice,
               round(percent_rank() OVER w, 6) AS pct_rank,
               round(cume_dist() OVER w, 6) AS cume,
               CAST(ntile(10) OVER w AS INTEGER) AS decile
        FROM part
        WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice, p_partkey)
    """,
    "q56_unpivot_metrics": """
        SELECT o_orderstatus, 'sum_price' AS metric,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS value
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT o_orderstatus, 'n_orders',
               CAST(COUNT(*) AS DOUBLE)
        FROM orders GROUP BY o_orderstatus
        UNION ALL
        SELECT o_orderstatus, 'avg_price',
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(o_totalprice)
        FROM orders GROUP BY o_orderstatus
    """,
    # TPC-H Q8 shape: market-share ratio per order year (6-table star).
    "q54_market_share": """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                                  THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                       * CAST(1 - l_discount AS DECIMAL(8,6))
                             END) AS DECIMAL(27,6)) AS DOUBLE)
               / CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                               * CAST(1 - l_discount AS DECIMAL(8,6)))
                           AS DECIMAL(27,6)) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
        GROUP BY 1
    """,
    # TPC-H Q10 shape: returned-item revenue, deterministic top-20.
    "q55_returned_revenue": """
        SELECT c_custkey, c_name,
               CAST(CAST(rev_dec AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
               c_acctbal, n_name
        FROM (
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(8,6))) AS rev_dec
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
        )
        ORDER BY rev_dec DESC, c_custkey
        LIMIT 20
    """,
    # Gap-fill: per-user hourly grid + forward fill (last_value IGNORE
    # NULLS). avg is the exact decimal sum/count formula.
    "q53_gapfill_hourly": """
        WITH obs AS (
            SELECT user_id, date_trunc('hour', ts) AS hour,
                   CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                       / COUNT(value) AS avg_value,
                   COUNT(*) AS n_obs
            FROM events WHERE user_id < 20 GROUP BY 1, 2
        ),
        span AS (
            SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
            FROM obs GROUP BY user_id
        ),
        grid AS (
            SELECT user_id,
                   UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM span
        )
        SELECT g.user_id, g.hour,
               LAST_VALUE(o.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_ff,
               CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs
        FROM grid g LEFT JOIN obs o
          ON g.user_id = o.user_id AND g.hour = o.hour
    """,
    # Time-RANGE frame: rolling 7-day revenue (RANGE over day interval).
    "q57_rolling_7day": """
        WITH daily AS (
            SELECT o_orderstatus, date_trunc('day', o_orderdate) AS d,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
            FROM orders GROUP BY 1, 2
        )
        SELECT o_orderstatus, CAST(d AS DATE) AS day,
               CAST(rev_dec AS DOUBLE) AS day_rev,
               CAST(SUM(rev_dec) OVER (
                   PARTITION BY o_orderstatus ORDER BY d
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS rev_7d
        FROM daily
    """,
    # HAVING over COUNT(DISTINCT): suppliers reaching >= 20 nations.
    "q61_global_suppliers": """
        SELECT s_suppkey, s_name, n_nations FROM (
            SELECT l_suppkey, COUNT(DISTINCT c_nationkey) AS n_nations
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY l_suppkey
            HAVING n_nations >= 20
        )
        JOIN supplier ON l_suppkey = s_suppkey
    """,
    # Window-over-aggregate: per-nation revenue share within its region.
    "q60_revenue_share": """
        WITH per_nation AS (
            SELECT r_name, n_name,
                   SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        )
        SELECT r_name, n_name,
               CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(rev_dec AS DOUBLE)
                   / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE)
                   AS region_share
        FROM per_nation
    """,
    # Markov transition counts over per-user event sequences.
    "q58_event_transitions": """
        SELECT prev_type, next_type, COUNT(*) AS n_transitions
        FROM (
            SELECT user_id,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type,
                   event_type AS next_type
            FROM events
        )
        WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    """,
    # Deterministic stratified sample: per-lang rate via portable md5 hash.
    "q52_stratified_sample": f"""
        SELECT lang, COUNT(*) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM documents
        WHERE {_H32.format(x='CAST(doc_id AS VARCHAR)')} % 100
              < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        GROUP BY lang
    """,
    # Funnel: first-click cohort day → clickers and 1-day conversions.
    "q46_conversion_funnel": """
        WITH first_click AS (
            SELECT user_id, MIN(ts) AS first_click
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ),
        converted AS (
            SELECT f.user_id, f.first_click,
                   MAX(CASE WHEN p.ts >= f.first_click
                             AND p.ts <= f.first_click + INTERVAL 1 DAY
                            THEN 1 ELSE 0 END) AS converted
            FROM first_click f
            LEFT JOIN (SELECT user_id, ts FROM events
                       WHERE event_type = 'purchase') p
              ON f.user_id = p.user_id
            GROUP BY f.user_id, f.first_click
        )
        SELECT CAST(first_click AS DATE) AS cohort_day,
               COUNT(*) AS n_clickers,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM converted GROUP BY 1
    """,
    # Frame-sampling plan oracle: k = min(4, n) frames at offsets (i*n)//k,
    # slice length min(16, n - off). Byte counts via encode() so multibyte
    # text matches Spark's encode(text,'utf-8').
    "mm04_frame_sample": """
        WITH d AS (
            SELECT doc_id, octet_length(encode(text)) AS n FROM documents
        ),
        f AS (
            SELECT doc_id, n, LEAST(4, n) AS k,
                   unnest(range(LEAST(4, n))) AS i
            FROM d WHERE n > 0
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS frame_idx,
               (i * n) // k AS frame_offset,
               CAST(LEAST(16, n - (i * n) // k) AS INTEGER) AS frame_len
        FROM f
    """,
    # Sliding window (1h / 30m): each event lands in two epoch-aligned
    # windows — reproduce Spark's window(ts, '1 hour', '30 minutes') with a
    # two-offset UNION ALL over time_bucket.
    "st01_sliding_rollup": """
        WITH e2 AS (
            SELECT event_type, value,
                   time_bucket(INTERVAL 30 MINUTES, ts) AS s1
            FROM events
        ),
        w AS (
            SELECT event_type, value, s1 AS win_start FROM e2
            UNION ALL
            SELECT event_type, value, s1 - INTERVAL 30 MINUTES FROM e2
        )
        SELECT win_start,
               win_start + INTERVAL 1 HOUR AS win_end,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM w
        GROUP BY win_start, event_type
    """,
    # Session windows (30m gap): Spark's session_window merges an event at
    # EXACTLY prev+gap (probe-verified), so a new session starts only when
    # ts > prev + gap — the same rule as the q17 lag+running-sum form.
    "st02_session_rollup": """
        WITH o AS (
            SELECT user_id, ts, event_id,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_ts
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(CASE WHEN prev_ts IS NULL
                             OR ts > prev_ts + INTERVAL 30 MINUTES
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS session_idx
            FROM o
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end,
               COUNT(*) AS n_events
        FROM s
        GROUP BY user_id, session_idx
    """,
    "q30_date_arithmetic": """
        SELECT o_orderkey,
               CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER)
                   AS days_since,
               date_trunc('month', o_orderdate) AS month_start,
               CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
               CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
               CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
               CAST(last_day(o_orderdate) AS DATE) AS month_end
        FROM orders
    """,
    # ExactSubstr spans (Lee et al.): raw window strings here — the Spark
    # side groups 60-bit md5 window hashes instead (same dup set, int64
    # shuffle); positions are 1-based in both.
    "dd09_dup_spans": """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
            FROM documents
        ),
        p AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 14, 0))) AS pos
            FROM t
        ),
        w AS (
            SELECT doc_id, pos, array_to_string(l[pos:pos+14], ' ') AS win
            FROM p
        ),
        dup AS (
            SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        d AS (SELECT doc_id, pos FROM w WHERE win IN (SELECT win FROM dup)),
        g AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
            FROM d
        )
        SELECT doc_id,
               CAST(MIN(pos) AS INTEGER) AS span_start,
               CAST(MAX(pos) + 14 AS INTEGER) AS span_end,
               CAST(MAX(pos) + 14 - MIN(pos) + 1 AS INTEGER) AS span_tokens
        FROM g GROUP BY doc_id, grp
    """,
    # Incremental ingest dedup recomputed from scratch: per-half clusters
    # (transitive closure, min reachable id) + cross-half screen of the
    # second half's keepers against the first half's accepted signatures.
    "px06_incremental_ingest": f"""
        WITH RECURSIVE {_MINHASH_CTE},
        cut AS (
            SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS c
            FROM documents
        ),
        half AS (
            SELECT doc_id,
                   CASE WHEN doc_id < (SELECT c FROM cut) THEN 1 ELSE 2 END
                       AS h
            FROM documents
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
            JOIN half ha ON ha.doc_id = a.doc_id
            JOIN half hb ON hb.doc_id = b.doc_id
            WHERE ha.h = hb.h
        ),
        pairs AS (
            SELECT doc_a, doc_b FROM (
                SELECT doc_a, doc_b,
                       CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                            AS DOUBLE)
                           / len(list_distinct(x.hs || y.hs)) AS jaccard
                FROM cand JOIN base x ON x.doc_id = doc_a
                          JOIN base y ON y.doc_id = doc_b
            ) WHERE jaccard >= 0.2
        ),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(node, lbl) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
        ),
        cluster AS (
            SELECT node AS doc_id, MIN(lbl) AS cluster_id
            FROM reach GROUP BY node
        ),
        in_dup AS (
            SELECT doc_id, cluster_id AS matched_in
            FROM cluster WHERE doc_id <> cluster_id
        ),
        keepers AS (
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM in_dup)
        ),
        acc1 AS (
            SELECT k.doc_id FROM keepers k
            JOIN half h ON h.doc_id = k.doc_id AND h.h = 1
        ),
        cand2 AS (
            SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
            FROM bands n
            JOIN half hn ON hn.doc_id = n.doc_id AND hn.h = 2
            JOIN keepers kn ON kn.doc_id = n.doc_id
            JOIN acc1 a ON TRUE
            JOIN bands o ON o.doc_id = a.doc_id
            WHERE n.band0 = o.band0 OR n.band1 = o.band1
               OR n.band2 = o.band2 OR n.band3 = o.band3
        ),
        old_match AS (
            SELECT new_id, MIN(old_id) AS matched_old FROM (
                SELECT new_id, old_id,
                       CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                            AS DOUBLE)
                           / len(list_distinct(x.hs || y.hs)) AS j
                FROM cand2 JOIN base x ON x.doc_id = new_id
                           JOIN base y ON y.doc_id = old_id
            ) WHERE j >= 0.2 GROUP BY new_id
        )
        SELECT d.doc_id,
               (i.matched_in IS NOT NULL OR om.matched_old IS NOT NULL)
                   AS is_dup,
               COALESCE(i.matched_in, om.matched_old) AS matched_id
        FROM documents d
        LEFT JOIN in_dup i ON i.doc_id = d.doc_id
        LEFT JOIN old_match om ON om.new_id = d.doc_id
    """,
    # Span removal (the dd09 span CTE inlined): clean text = tokens outside
    # every duplicated span, rejoined with single spaces, md5-hashed.
    "px05_exactsubstr_scrub": """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
            FROM documents
        ),
        p AS (
            SELECT doc_id, l,
                   unnest(generate_series(1, greatest(len(l) - 14, 0))) AS pos
            FROM t
        ),
        w AS (
            SELECT doc_id, pos, array_to_string(l[pos:pos+14], ' ') AS win
            FROM p
        ),
        dup AS (
            SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        d AS (SELECT doc_id, pos FROM w WHERE win IN (SELECT win FROM dup)),
        g AS (
            SELECT doc_id, pos,
                   pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
            FROM d
        ),
        spans AS (
            SELECT doc_id, MIN(pos) AS s, MAX(pos) + 14 AS e
            FROM g GROUP BY doc_id, grp
        ),
        toks AS (
            SELECT doc_id, unnest(generate_series(1, len(l))) AS pos, l
            FROM t
        ),
        kept AS (
            SELECT tk.doc_id, tk.pos, tk.l[tk.pos] AS tok
            FROM toks tk
            WHERE NOT EXISTS (
                SELECT 1 FROM spans sp
                WHERE sp.doc_id = tk.doc_id
                  AND tk.pos BETWEEN sp.s AND sp.e)
        ),
        clean AS (
            SELECT doc_id, COUNT(*) AS n_clean,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(len(t.l) AS INTEGER) AS n_tokens,
               CAST(COALESCE(c.n_clean, 0) AS INTEGER) AS n_clean,
               CAST(len(t.l) - COALESCE(c.n_clean, 0) AS INTEGER)
                   AS n_removed,
               COALESCE(c.clean_md5, md5('')) AS clean_md5
        FROM t LEFT JOIN clean c ON t.doc_id = c.doc_id
    """,
    # MinHash estimator vs exact Jaccard per LSH candidate pair.
    "dd11_jaccard_estimate": f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        )
        SELECT doc_a, doc_b,
               round(({' + '.join(f'CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END' for i in range(16))})
                     / 16.0, 6) AS est_jaccard,
               round(CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                          AS DOUBLE)
                     / len(list_distinct(x.hs || y.hs)), 6) AS exact_jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = doc_a
        JOIN sigs sb ON sb.doc_id = doc_b
        JOIN base x ON x.doc_id = doc_a
        JOIN base y ON y.doc_id = doc_b
    """,
    # SimHash Hamming pairs: byte-band buckets are lossless for <= 3 bit
    # flips (pigeonhole over 4 bands), so blocking + verify == all pairs.
    "dd10_simhash_neardup": f"""
        WITH s AS ({_simhash_sql()}),
        bands AS (
            SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS v
            FROM s, unnest(generate_series(0, 3)) t(b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sa,
                            x.doc_id AS doc_b, x.simhash AS sb
            FROM bands a JOIN bands x
              ON a.b = x.b AND a.v = x.v AND a.doc_id < x.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """,
    # k-means (k=8, 2 Lloyd iterations): seeds = 8 lowest vec_ids; assign =
    # argmax rounded(6) cosine, cluster-ASC tie-break (the ss03/ss04
    # ordering contract); centroid update = exact DECIMAL(18,9) component
    # sum -> double -> /count (scaled integer sum << 2^53, so the
    # decimal->double cast rounds once and matches Spark bit-for-bit).
    # The CTE block is shared with px09 (SemDeDup) below.
    "ss06_kmeans_clusters": f"""
        WITH {_KMEANS_CTES}
        SELECT cluster AS cluster_id,
               CAST(COUNT(*) AS INTEGER) AS n_members,
               MIN(vec_id) AS min_vec_id,
               CAST(SUM(CAST(cos AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*)
                   AS avg_cos
        FROM a2 GROUP BY cluster
    """,
    # SemDeDup: within-cluster greedy keep-first prune over the k-means
    # assignment — x is a dup iff a lower-id same-cluster y has rounded
    # cosine >= 0.3.
    "px09_semdedup": f"""
        WITH {_KMEANS_CTES},
        twins AS (
            SELECT x.vec_id AS vec_id, MIN(y.vec_id) AS matched_id
            FROM a2 x
            JOIN a2 y ON x.cluster = y.cluster AND y.vec_id < x.vec_id
            JOIN e ex ON ex.vec_id = x.vec_id
            JOIN e ey ON ey.vec_id = y.vec_id
            WHERE round(list_cosine_similarity(ex.v, ey.v), 6) >= 0.3
            GROUP BY x.vec_id
        )
        SELECT a.vec_id, a.cluster,
               (t.matched_id IS NOT NULL) AS is_dup, t.matched_id
        FROM a2 a LEFT JOIN twins t USING (vec_id)
    """,
    # Non-overlapping 4-token chunk boilerplate removal; the trailing
    # partial chunk is never removable (n_words filter), and partial-chunk
    # text can't collide with full-chunk text (word counts differ).
    "dd12_repeated_chunks": """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
            FROM documents
        ),
        w AS (
            SELECT doc_id, unnest(l) AS tok,
                   generate_subscripts(l, 1) AS pos
            FROM t
        ),
        c AS (
            SELECT doc_id, CAST((pos - 1) // 4 AS INTEGER) AS chunk_id,
                   string_agg(tok, ' ' ORDER BY pos) AS chunk,
                   COUNT(*) AS n_words
            FROM w GROUP BY doc_id, CAST((pos - 1) // 4 AS INTEGER)
        ),
        rep AS (
            SELECT chunk FROM c WHERE n_words = 4
            GROUP BY chunk HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        kept AS (
            SELECT * FROM c WHERE chunk NOT IN (SELECT chunk FROM rep)
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_kept,
                   md5(string_agg(chunk, ' ' ORDER BY chunk_id)) AS clean_md5
            FROM kept GROUP BY doc_id
        ),
        base AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(b.n_chunks AS INTEGER) AS n_chunks,
               CAST(b.n_chunks - COALESCE(a.n_kept, 0) AS INTEGER) AS n_removed,
               COALESCE(a.clean_md5, md5('')) AS clean_md5
        FROM base b LEFT JOIN agg a USING (doc_id)
    """,
    # Data-quality constraint report: one SELECT per check, UNION ALL —
    # same check ids/semantics as operators/quality_checks.py (nulls are
    # only not_null violations; FK ignores null child keys; unique counts
    # ROWS in duplicated key groups).
    "dq01_constraint_report": """
        SELECT 'not_null:customer.c_name' AS check_id, 'notnull' AS check_type,
               'customer' AS table_name, 'c_name' AS target,
               CAST(COUNT(*) FILTER (c_name IS NULL) AS BIGINT) AS n_violations,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               COUNT(*) FILTER (c_name IS NULL) = 0 AS passed
        FROM customer
        UNION ALL
        SELECT 'not_null:orders.o_orderdate', 'notnull', 'orders', 'o_orderdate',
               CAST(COUNT(*) FILTER (o_orderdate IS NULL) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (o_orderdate IS NULL) = 0
        FROM orders
        UNION ALL
        SELECT 'not_null:events.user_id', 'notnull', 'events', 'user_id',
               CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (user_id IS NULL) = 0
        FROM events
        UNION ALL
        SELECT 'in_range:customer.c_acctbal', 'inrange', 'customer', 'c_acctbal',
               CAST(COUNT(*) FILTER (c_acctbal IS NOT NULL
                    AND (c_acctbal < 0.0 OR c_acctbal > 10000.0)) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (c_acctbal IS NOT NULL
                    AND (c_acctbal < 0.0 OR c_acctbal > 10000.0)) = 0
        FROM customer
        UNION ALL
        SELECT 'in_range:lineitem.l_discount', 'inrange', 'lineitem', 'l_discount',
               CAST(COUNT(*) FILTER (l_discount IS NOT NULL
                    AND (l_discount < 0.0 OR l_discount > 0.1)) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (l_discount IS NOT NULL
                    AND (l_discount < 0.0 OR l_discount > 0.1)) = 0
        FROM lineitem
        UNION ALL
        SELECT 'in_range:lineitem.l_quantity', 'inrange', 'lineitem', 'l_quantity',
               CAST(COUNT(*) FILTER (l_quantity IS NOT NULL
                    AND (l_quantity < 1.0 OR l_quantity > 50.0)) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (l_quantity IS NOT NULL
                    AND (l_quantity < 1.0 OR l_quantity > 50.0)) = 0
        FROM lineitem
        UNION ALL
        SELECT 'accepted:orders.o_orderstatus', 'acceptedvalues', 'orders',
               'o_orderstatus',
               CAST(COUNT(*) FILTER (o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('F','O','P')) AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (o_orderstatus IS NOT NULL
                    AND o_orderstatus NOT IN ('F','O','P')) = 0
        FROM orders
        UNION ALL
        SELECT 'unique:customer.c_custkey', 'unique', 'customer', 'c_custkey',
               CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT),
               CAST(COALESCE(SUM(n), 0) AS BIGINT),
               COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) = 0
        FROM (SELECT COUNT(*) AS n FROM customer GROUP BY c_custkey)
        UNION ALL
        SELECT 'unique:lineitem.l_orderkey,l_linenumber', 'unique', 'lineitem',
               'l_orderkey,l_linenumber',
               CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT),
               CAST(COALESCE(SUM(n), 0) AS BIGINT),
               COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) = 0
        FROM (SELECT COUNT(*) AS n FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'fk:orders.o_custkey->customer.c_custkey', 'foreignkey', 'orders',
               'o_custkey->customer.c_custkey',
               CAST(COUNT(*) FILTER (o_custkey IS NOT NULL AND __pk IS NULL)
                    AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (o_custkey IS NOT NULL AND __pk IS NULL) = 0
        FROM orders o LEFT JOIN
             (SELECT DISTINCT c_custkey AS __pk FROM customer) p
             ON o.o_custkey = p.__pk
        UNION ALL
        SELECT 'fk:lineitem.l_orderkey->orders.o_orderkey', 'foreignkey',
               'lineitem', 'l_orderkey->orders.o_orderkey',
               CAST(COUNT(*) FILTER (l_orderkey IS NOT NULL AND __pk IS NULL)
                    AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (l_orderkey IS NOT NULL AND __pk IS NULL) = 0
        FROM lineitem l LEFT JOIN
             (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
             ON l.l_orderkey = p.__pk
        UNION ALL
        SELECT 'fk:nation.n_regionkey->region.r_regionkey', 'foreignkey',
               'nation', 'n_regionkey->region.r_regionkey',
               CAST(COUNT(*) FILTER (n_regionkey IS NOT NULL AND __pk IS NULL)
                    AS BIGINT),
               CAST(COUNT(*) AS BIGINT),
               COUNT(*) FILTER (n_regionkey IS NOT NULL AND __pk IS NULL) = 0
        FROM nation n LEFT JOIN
             (SELECT DISTINCT r_regionkey AS __pk FROM region) p
             ON n.n_regionkey = p.__pk
    """,
    # Bigram-LM surprisal (CCNet head/middle/tail): s = round(log2(CL/C2),6)
    # per bigram TYPE; per-doc mean via DECIMAL(12,6) sum -> double /count;
    # tertiles via ntile(3) ordered (avg_surprisal, doc_id) — total order,
    # identical split rule in both engines.
    "tx15_bigram_surprisal": """
        WITH t AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
            FROM documents
        ),
        w AS (
            SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos
            FROM t
        ),
        bg AS (
            SELECT a.doc_id, a.tok AS w1, a.tok || ' ' || b.tok AS bigram
            FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        ),
        c2 AS (SELECT w1, bigram, COUNT(*) AS c2 FROM bg
               GROUP BY w1, bigram),
        cl AS (SELECT w1, SUM(c2) AS cl FROM c2 GROUP BY w1),
        s AS (
            SELECT bigram, round(log2(CAST(cl AS DOUBLE) / c2), 6) AS s
            FROM c2 JOIN cl USING (w1)
        ),
        d AS (
            SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
                   CAST(SUM(CAST(s AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*)
                       AS avg_surprisal
            FROM bg JOIN s USING (bigram) GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams, avg_surprisal,
               CASE ntile(3) OVER (ORDER BY avg_surprisal, doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM d
    """,
    "tx14_token_freq": """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS term
            FROM documents
        ),
        vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
        tot AS (SELECT SUM(cnt) AS total FROM vocab),
        freq AS (
            SELECT term,
                   CAST(cnt * CAST(1000000 AS BIGINT) // total AS BIGINT)
                       AS freq_ppm
            FROM vocab, tot
        )
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(freq_ppm) // COUNT(*) AS BIGINT) AS avg_freq_ppm,
               MIN(freq_ppm) AS min_freq_ppm,
               ROUND(SUM(CASE WHEN freq_ppm >= 33000 THEN 1 ELSE 0 END)
                     / COUNT(*), 6) AS pct_common
        FROM toks JOIN freq USING (term)
        GROUP BY doc_id
    """,
    # Seeded IVF search (graduated from rows-only in r6): cells anchored
    # on the 16 lowest-vec_id vectors, corpus in its argmax cell, query
    # probes its 4 best cells, rounded-cosine re-rank — every stage uses
    # the hash-proven round(list_cosine_similarity)/tie-break contract.
    "ss04_ivf_topk": """
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
        ),
        assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, s.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                    s.cell
                       ) AS rn
                FROM e CROSS JOIN seeds s
            ) WHERE rn = 1
        ),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        probe AS (
            SELECT cell FROM (
                SELECT s.cell,
                       row_number() OVER (
                           ORDER BY round(list_cosine_similarity(q.qv, s.sv), 6) DESC,
                                    s.cell
                       ) AS rn
                FROM seeds s, q
            ) WHERE rn <= 4
        )
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(e.v, qv), 6) AS cos_sim
        FROM e JOIN assigned a ON a.vec_id = e.vec_id, q
        WHERE a.cell IN (SELECT cell FROM probe) AND e.vec_id <> 0
        ORDER BY cos_sim DESC, e.vec_id
        LIMIT 10
    """,
    # Batch kNN join: same seed-cell assignment as dd05, queries probe the
    # corpus cells, exact-cosine rank per query.
    "ss05_knn_join": """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
            FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
        ),
        assigned AS (
            SELECT vec_id, cell FROM (
                SELECT e.vec_id, s.cell,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                    s.cell
                       ) AS rn
                FROM e CROSS JOIN seeds s
            ) WHERE rn <= 4
        ),
        cand AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
            FROM assigned q JOIN assigned c ON q.cell = c.cell
            WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
        ),
        scored AS (
            SELECT q_id, n_id,
                   round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
            FROM cand JOIN e x ON x.vec_id = q_id
                      JOIN e y ON y.vec_id = n_id
        )
        SELECT q_id, CAST(rank AS INTEGER) AS rank, n_id, cos_sim FROM (
            SELECT q_id, n_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY cos_sim DESC, n_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    """,
    # The bloom is a pre-shuffle pruning filter with no false negatives, so
    # the exact-join result equals the plain semi join.
    "sk02_bloom_semijoin": """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                   AS sum_price
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_acctbal > 9900)
        GROUP BY o_orderpriority
    """,
    # USTAR offset math: header 512 + data padded to 512 per member,
    # members ordered by doc_id within a shard.
    "mm05_shard_manifest": """
        WITH m AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT % 8 AS INTEGER) AS shard_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        ),
        w AS (
            SELECT doc_id, shard_id, n_bytes,
                   512 + ((n_bytes + 511) // 512) * 512 AS entry,
                   ROW_NUMBER() OVER
                       (PARTITION BY shard_id ORDER BY doc_id) - 1
                       AS member_idx,
                   SUM(512 + ((n_bytes + 511) // 512) * 512) OVER
                       (PARTITION BY shard_id ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cume
            FROM m
        )
        SELECT doc_id, shard_id,
               CAST(member_idx AS INTEGER) AS member_idx,
               n_bytes,
               CAST(cume - entry + 512 AS BIGINT) AS data_offset
        FROM w
    """,
    # Decontaminated split: md5-hash eval assignment + shingle-overlap
    # removal from train, per-source audit.
    "px08_decontaminated_split": f"""
        WITH base AS (
            SELECT doc_id, source, text,
                   ({_H32.format(x="CAST(doc_id AS VARCHAR)")} % 10 = 0)
                       AS is_eval
            FROM documents
        ),
        toks AS (SELECT doc_id, is_eval, {_TOKS} AS l FROM base),
        sh AS (
            SELECT doc_id, is_eval,
                   unnest(list_distinct(list_transform(
                       range(1, len(l) - 2),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]
                              || ' ' || l[i+3]))) AS g
            FROM toks
        ),
        eval_sh AS (SELECT DISTINCT g FROM sh WHERE is_eval),
        contaminated AS (
            SELECT DISTINCT doc_id FROM sh
            WHERE NOT is_eval AND g IN (SELECT g FROM eval_sh)
        )
        SELECT source,
               CAST(SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_eval,
               CAST(SUM(CASE WHEN NOT is_eval THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train_raw,
               CAST(SUM(CASE WHEN NOT is_eval
                         AND doc_id IN (SELECT doc_id FROM contaminated)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
               CAST(SUM(CASE WHEN NOT is_eval
                         AND doc_id NOT IN (SELECT doc_id FROM contaminated)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_train_clean
        FROM base
        GROUP BY source
    """,
    # TPC-H Q2 shape — the oracle keeps the literal correlated MIN.
    "q67_min_cost_supplier": """
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem GROUP BY 1, 2
        )
        SELECT p_partkey, p_name, s_name, n_name,
               ROUND(unit_cost, 6) AS min_unit_cost
        FROM cost
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE p_size BETWEEN 10 AND 15
          AND unit_cost = (
              SELECT MIN(c2.unit_cost) FROM cost c2
              WHERE c2.l_partkey = cost.l_partkey)
    """,
    "q68_forecast_revenue": """
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                             * CAST(l_discount AS DECIMAL(8,6)))
                         AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= DATE '1995-01-01'
          AND l_shipdate < DATE '1996-01-01'
          AND l_discount BETWEEN 0.02 AND 0.04
          AND l_quantity < 24
    """,
    "q69_product_profit": """
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                   - p_retailprice * l_quantity * 0.1, 4)
                             AS DECIMAL(18,4))) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE 'red%'
        GROUP BY 1, 2
    """,
    "q70_important_part_value": """
        WITH sliced AS (
            SELECT l_partkey, l_extendedprice
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
        ),
        per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS value_dec
            FROM sliced GROUP BY 1
        )
        SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM per_part
        WHERE CAST(value_dec AS DOUBLE) >
              (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM per_part) * 0.002
    """,
    # Literal EXISTS + NOT EXISTS (the Spark side aggregates per-order
    # distinct-supplier counts — same qualifying set).
    "q71_waiting_orders": """
        WITH j AS (
            SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        lp AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM j
            WHERE l_shipdate > o_orderdate + INTERVAL 365 DAY
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM lp
        JOIN supplier ON s_suppkey = lp.l_suppkey
        WHERE EXISTS (
                SELECT 1 FROM j o2
                WHERE o2.l_orderkey = lp.l_orderkey
                  AND o2.l_suppkey <> lp.l_suppkey)
          AND NOT EXISTS (
                SELECT 1 FROM j o3
                WHERE o3.l_orderkey = lp.l_orderkey
                  AND o3.l_suppkey <> lp.l_suppkey
                  AND o3.l_shipdate > o3.o_orderdate + INTERVAL 365 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q72_dominant_part_suppliers": """
        WITH sliced AS (
            SELECT l_partkey, l_suppkey, l_quantity
            FROM lineitem
            WHERE l_shipdate >= DATE '1995-01-01'
              AND l_shipdate < DATE '1996-01-01'
              AND l_partkey IN (
                  SELECT p_partkey FROM part WHERE p_name LIKE 'blue%')
        ),
        per_ps AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty_dec
            FROM sliced GROUP BY 1, 2
        ),
        per_p AS (
            SELECT l_partkey, SUM(qty_dec) AS total_dec
            FROM per_ps GROUP BY 1
        )
        SELECT s_suppkey, s_name, COUNT(*) AS n_dominated_parts
        FROM per_ps
        JOIN per_p USING (l_partkey)
        JOIN supplier ON s_suppkey = l_suppkey
        WHERE CAST(qty_dec AS DOUBLE) > CAST(total_dec AS DOUBLE) * 0.3
        GROUP BY 1, 2
    """,
    # Multimodal curation funnel: md5-of-bytes dedup (min-id keeper) →
    # size floor → the mm05 USTAR manifest over survivors, 4 shards.
    "px07_multimodal_curation": """
        WITH m0 AS (
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS fp
            FROM documents
        ),
        surv AS (
            SELECT doc_id, n_bytes FROM (
                SELECT doc_id, n_bytes,
                       ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id)
                           AS rk
                FROM m0
            ) WHERE rk = 1 AND n_bytes >= 64
        ),
        m AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                            ::BIGINT % 4 AS INTEGER) AS shard_id,
                   n_bytes
            FROM surv
        ),
        w AS (
            SELECT doc_id, shard_id, n_bytes,
                   512 + ((n_bytes + 511) // 512) * 512 AS entry,
                   ROW_NUMBER() OVER
                       (PARTITION BY shard_id ORDER BY doc_id) - 1
                       AS member_idx,
                   SUM(512 + ((n_bytes + 511) // 512) * 512) OVER
                       (PARTITION BY shard_id ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cume
            FROM m
        )
        SELECT doc_id, shard_id,
               CAST(member_idx AS INTEGER) AS member_idx,
               n_bytes,
               CAST(cume - entry + 512 AS BIGINT) AS data_offset
        FROM w
    """,
    "q64_lateral_topk": """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) o
        WHERE c.c_acctbal > 9000
    """,
    "q65_median_stats": """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(median(o_totalprice), 4) AS median_price,
               ROUND(MIN(o_totalprice), 4) AS min_price,
               ROUND(MAX(o_totalprice), 4) AS max_price
        FROM orders GROUP BY o_orderpriority
    """,
    "q66_recursive_month_spine": """
        WITH RECURSIVE months(m, mx) AS (
            SELECT date_trunc('month', MIN(o_orderdate)),
                   date_trunc('month', MAX(o_orderdate))
            FROM orders
            UNION ALL
            SELECT CAST(m + INTERVAL 1 MONTH AS DATE), mx FROM months
            WHERE m < mx
        ),
        rev AS (
            SELECT date_trunc('month', o_orderdate) AS m,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT CAST(months.m AS DATE) AS month,
               COALESCE(rev.revenue, 0.0) AS revenue,
               COALESCE(rev.n_orders, 0) AS n_orders
        FROM months LEFT JOIN rev ON months.m = rev.m
    """,
}


def _hilbert_layout_sql(bits: int = 16) -> str:
    """Generate the q92 oracle: the same xy2d Hilbert unroll as
    operators/layout.py::with_hilbert_key, as one chained-CTE pipeline —
    every step pure int64 (CASE/&/xor), bit-for-bit with Spark."""
    steps = []
    prev = "h_in"
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        cur = f"h{i}"
        steps.append(f"""{cur} AS (
            SELECT l_partkey, ship_day,
                   hd + {s * s}::BIGINT * xor(3 * rx, ry) AS hd,
                   CASE WHEN ry = 0 THEN
                        CASE WHEN rx = 1 THEN {s - 1} - hy ELSE hy END
                        ELSE hx END AS hx,
                   CASE WHEN ry = 0 THEN
                        CASE WHEN rx = 1 THEN {s - 1} - hx ELSE hx END
                        ELSE hy END AS hy
            FROM (SELECT *,
                         CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                         CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry
                  FROM {prev})
        )""")
        prev = cur
    chain = ",\n        ".join(steps)
    return f"""
        WITH base AS (
            SELECT l_partkey,
                   datediff('day', DATE '1992-01-01',
                            CAST(l_shipdate AS DATE)) AS ship_day
            FROM lineitem
        ),
        b AS (
            SELECT min(l_partkey) AS x_lo, max(l_partkey) AS x_hi,
                   min(ship_day) AS y_lo, max(ship_day) AS y_hi
            FROM base
        ),
        h_in AS (
            SELECT l_partkey, ship_day,
                   CAST(0 AS BIGINT) AS hd,
                   CASE WHEN x_hi - x_lo <= 0 THEN 0
                        ELSE (l_partkey - x_lo) * 65535 // (x_hi - x_lo)
                   END AS hx,
                   CASE WHEN y_hi - y_lo <= 0 THEN 0
                        ELSE (ship_day - y_lo) * 65535 // (y_hi - y_lo)
                   END AS hy
            FROM base CROSS JOIN b
        ),
        {chain}
        SELECT hd * 64 // 4294967296 AS file_id,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
               CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
               CAST(min(ship_day) AS BIGINT) AS min_ship_day,
               CAST(max(ship_day) AS BIGINT) AS max_ship_day
        FROM {prev} GROUP BY 1
    """


ORACLE_SQL["q92_hilbert_layout"] = _hilbert_layout_sql()


def _hll_distinct_sql(p: int = 12) -> str:
    """sk04 twin: identical md5 registers, identical integer bit-length
    CASE (no float log2), identical linear-counting switch. The harmonic
    sum is exact-dyadic (see operators/sketch.py::hll_expr_estimate), so
    the only float ops are the final division / ln / round — all
    correctly rounded in both engines."""
    from ..operators.sketch import _bitlen_case_sql

    m = 1 << p
    w = 32 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    bitlen = _bitlen_case_sql("suffix", w)
    est = (
        f"CASE WHEN raw <= {2.5 * m!r} AND empty > 0 "
        f"THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / empty) "
        f"ELSE raw END"
    )
    return f"""
        WITH h AS (
            SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h32
            FROM orders
        ),
        k AS (SELECT h32 % {m} AS bucket, h32 // {m} AS suffix FROM h),
        r AS (SELECT bucket, MAX({w + 1} - {bitlen}) AS reg FROM k GROUP BY bucket),
        s AS (SELECT SUM(power(2.0, -reg)) AS _s, CAST(COUNT(*) AS BIGINT) AS _nb FROM r),
        x AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders),
        e AS (
            SELECT CAST({alpha!r} AS DOUBLE) * {m} * {m} / (_s + ({m} - _nb)) AS raw,
                   ({m} - _nb) AS empty
            FROM s
        )
        SELECT CAST({m} AS BIGINT) AS m, n_exact,
               round({est}, 6) AS hll_estimate,
               round(round({est}, 6) / n_exact - 1.0, 6) AS rel_err
        FROM e CROSS JOIN x
    """


ORACLE_SQL["sk04_hll_distinct"] = _hll_distinct_sql()

# px13 twin: integer share, pow rounded to 12 then summed as
# DECIMAL(18,12) (exact order-independent normalizer), floor of the
# identical double product for the budget.
ORACLE_SQL["px13_temperature_mixture"] = """
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS _total FROM c),
    s AS (
        SELECT c.lang, c.n_docs, t._total,
               CAST(round(pow(CAST(c.n_docs AS DOUBLE) / t._total, 0.7), 12)
                    AS DECIMAL(18,12)) AS _pa
        FROM c CROSS JOIN t
    ),
    z AS (SELECT CAST(SUM(_pa) AS DECIMAL(18,12)) AS _z FROM s)
    SELECT s.lang, s.n_docs,
           CAST(CAST(s.n_docs AS HUGEINT) * 1000000 // s._total AS BIGINT)
               AS share_ppm,
           round(CAST(s._pa AS DOUBLE) / CAST(z._z AS DOUBLE), 6) AS weight,
           CAST(floor(CAST(s._pa AS DOUBLE) / CAST(z._z AS DOUBLE) * 100000)
                AS BIGINT) AS budget_docs
    FROM s CROSS JOIN z
"""

# q93 twin: identical DECIMAL casts at every step (the q89 convention),
# identical ROWS frame, identical final double sequence.
ORACLE_SQL["q93_rolling_zscore"] = """
    WITH d AS (
        SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS _v
        FROM events
    ),
    wdw AS (
        SELECT event_id, user_id, _v,
               CAST(COUNT(_v) OVER w AS DECIMAL(2,0)) AS _n,
               CAST(SUM(_v) OVER w AS DECIMAL(12,2)) AS _s1,
               CAST(SUM(_v * _v) OVER w AS DECIMAL(18,4)) AS _s2
        FROM d
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ),
    zs AS (
        SELECT event_id, user_id,
               CAST(_v AS DOUBLE) AS value,
               CAST(_n AS BIGINT) AS n_window,
               CASE WHEN CAST(_n * _s2 - _s1 * _s1 AS DOUBLE) > 0 THEN
                   round(CAST(_n * _v - _s1 AS DOUBLE)
                         * sqrt((CAST(_n AS DOUBLE) - 1.0)
                                / (CAST(_n AS DOUBLE)
                                   * CAST(_n * _s2 - _s1 * _s1 AS DOUBLE))), 6)
               END AS zscore
        FROM wdw WHERE _n >= 5
    )
    SELECT * FROM zs WHERE abs(zscore) >= 3.0
"""


def _hll_union_daily_sql(p: int = 12) -> str:
    """sk05 twin: identical per-(day, bucket) registers, identical
    bucket-wise-max union row, identical estimator (see _hll_distinct_sql)."""
    from ..operators.sketch import _bitlen_case_sql

    m = 1 << p
    w = 32 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    bitlen = _bitlen_case_sql("suffix", w)
    est = (
        f"CASE WHEN raw <= {2.5 * m!r} AND empty > 0 "
        f"THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / empty) "
        f"ELSE raw END"
    )
    return f"""
        WITH base AS (
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h32
            FROM events
        ),
        k AS (SELECT day, user_id, h32 % {m} AS bucket, h32 // {m} AS suffix FROM base),
        r AS (SELECT day, bucket, MAX({w + 1} - {bitlen}) AS reg
              FROM k GROUP BY day, bucket),
        u AS (SELECT '__union__' AS day, bucket, MAX(reg) AS reg
              FROM r GROUP BY bucket),
        allr AS (SELECT day, bucket, reg FROM r
                 UNION ALL SELECT day, bucket, reg FROM u),
        s AS (SELECT day, SUM(power(2.0, -reg)) AS _s,
                     CAST(COUNT(*) AS BIGINT) AS _nb
              FROM allr GROUP BY day),
        x AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM k GROUP BY day
              UNION ALL
              SELECT '__union__', CAST(COUNT(DISTINCT user_id) AS BIGINT)
              FROM k),
        e AS (
            SELECT day,
                   CAST({alpha!r} AS DOUBLE) * {m} * {m} / (_s + ({m} - _nb)) AS raw,
                   ({m} - _nb) AS empty
            FROM s
        )
        SELECT e.day AS day, x.n_exact, round({est}, 6) AS hll_estimate
        FROM e JOIN x ON x.day = e.day
    """


ORACLE_SQL["sk05_hll_union_daily"] = _hll_union_daily_sql()

# px14 twin: tx02's feature SQL + the fixed-literal logistic gate
# (identical left-assoc logit, one exp, round 6; keep compares the
# ROUNDED score so the boolean is hash-stable).
ORACLE_SQL["px14_quality_classifier"] = f"""
    SELECT doc_id, uniq_ratio, stop_ratio, len_score,
           round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                 + 1.5 * len_score + -1.0))), 6) AS p_keep,
           round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                 + 1.5 * len_score + -1.0))), 6) >= 0.8 AS keep
    FROM (
        SELECT doc_id,
               CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
               CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE) / len(l) AS stop_ratio,
               least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
        FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
    )
"""


def _ngram_novelty_sql() -> str:
    """tx18 twin: the dd03 shingle/hash CTEs -> distinct (doc, hash) ->
    vocabulary doc-frequency -> integer-ppm novelty (all-integer; the
    CASE sum CAST keeps HUGEINT out of the result schema)."""
    from ..functions.hashing import MERSENNE31

    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS l FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(l[1:len(l)-2],
                          (x,i) -> x || ' ' || l[i+1] || ' ' || l[i+2])) AS s
               FROM toks),
        base AS (SELECT doc_id,
                        list_transform(s, x -> {_H32.format(x='x')} % {MERSENNE31}) AS hs
                 FROM sh),
        e AS (SELECT DISTINCT doc_id, h
              FROM (SELECT doc_id, unnest(hs) AS h FROM base)),
        dfc AS (SELECT h, COUNT(*) AS df FROM e GROUP BY h),
        agg AS (
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_unique
            FROM e JOIN dfc USING (h)
            GROUP BY doc_id
        )
        SELECT doc_id, n_shingles, n_unique,
               CAST(n_unique * CAST(1000000 AS BIGINT) // n_shingles AS BIGINT)
                   AS novelty_ppm
        FROM agg
    """


ORACLE_SQL["tx18_ngram_novelty"] = _ngram_novelty_sql()


def _bpe_iter_ctes(n_merges: int, carry: str = "") -> tuple[list[str], list[str]]:
    """The per-step BPE CTE block shared by tx19 (train) and tx20
    (encode): count adjacent pairs weighted by freq, pick the
    (count DESC, left, right) best via LIMIT 1, replace ``(l)(r)`` with
    ``(lr)``. ``carry`` prefixes extra columns (e.g. ``"word, "``) that
    ride through the s-chain. Returns (ctes, per-step final selects)."""
    ctes, finals = [], []
    for i in range(1, n_merges + 1):
        p = i - 1
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT str_split(substring(sym, 2, length(sym) - 2),"
            f" ')(') AS arr, freq FROM s{p})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT arr, freq,"
            f" unnest(generate_series(1, len(arr) - 1)) AS i FROM a{i})"
        )
        ctes.append(
            f"p{i} AS MATERIALIZED (SELECT arr[i] AS left_sym, arr[i+1] AS right_sym,"
            f" CAST(SUM(freq) AS BIGINT) AS pair_count FROM e{i}"
            f" GROUP BY 1, 2)"
        )
        ctes.append(
            f"b{i} AS MATERIALIZED (SELECT left_sym, right_sym, pair_count FROM p{i}"
            f" ORDER BY pair_count DESC, left_sym ASC, right_sym ASC"
            f" LIMIT 1)"
        )
        ctes.append(
            # COALESCE(…, sym): when pair counts dry up before n_merges,
            # b{i} is empty and the scalar subqueries are NULL — the bare
            # replace would NULL the whole symbol chain, while the engine's
            # merge loop just breaks and leaves sym unchanged.
            f"s{i} AS MATERIALIZED (SELECT {carry}COALESCE(replace(sym,"
            f" '(' || (SELECT left_sym FROM b{i}) || ')('"
            f" || (SELECT right_sym FROM b{i}) || ')',"
            f" '(' || (SELECT left_sym FROM b{i})"
            f" || (SELECT right_sym FROM b{i}) || ')'), sym) AS sym, freq"
            f" FROM s{p})"
        )
        finals.append(
            f"SELECT CAST({i} AS INTEGER) AS step, left_sym, right_sym,"
            f" pair_count FROM b{i}"
        )
    return ctes, finals


def _bpe_merges_sql(n_merges: int = 8) -> str:
    """tx19 twin: chained-CTE BPE (the q92 generated-oracle pattern).

    Per step i: split the delimited symbol string, count adjacent pairs
    weighted by word freq (overlapping occurrences, as in reference
    BPE), pick the (count DESC, left, right) best via LIMIT 1, and
    replace ``(l)(r)`` with ``(lr)`` — DuckDB's replace is left-to-right
    non-overlapping, probe-verified identical to Spark's. Words are
    extracted as raw [A-Za-z]+ then lowercased (lower-before-extract
    diverges cross-engine on 'İ'). All counts CAST BIGINT.
    """
    ctes = [
        "w AS MATERIALIZED (SELECT lower(x) AS word, CAST(COUNT(*) AS BIGINT) AS freq"
        " FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS x"
        " FROM documents) GROUP BY 1)",
        r"s0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '(\1)', 'g') AS sym,"
        " freq FROM w)",
    ]
    iters, finals = _bpe_iter_ctes(n_merges)
    ctes += iters
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


ORACLE_SQL["tx19_bpe_merges"] = _bpe_merges_sql()


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """tx20 twin: the tx19 merge chain carrying ``word`` through the
    s-CTEs, then per-word token counts = ``(``-delimiter counts on the
    final symbol string, joined back to the per-document word counts.
    Documents with no alphabetic words report all-zero stats (LEFT JOIN
    + COALESCE). All counts CAST BIGINT; the ratio is integer ppm."""
    ctes = [
        "dw AS MATERIALIZED (SELECT doc_id, lower(x) AS word,"
        " CAST(COUNT(*) AS BIGINT) AS n_occ FROM"
        " (SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS x"
        " FROM documents) GROUP BY 1, 2)",
        "w AS MATERIALIZED (SELECT word, CAST(SUM(n_occ) AS BIGINT) AS freq"
        " FROM dw GROUP BY 1)",
        r"s0 AS MATERIALIZED (SELECT word, regexp_replace(word, '(.)', '(\1)', 'g')"
        " AS sym, freq FROM w)",
    ]
    iters, _ = _bpe_iter_ctes(n_merges, carry="word, ")
    ctes += iters
    ctes.append(
        f"tok AS (SELECT word, CAST(length(sym)"
        f" - length(replace(sym, '(', '')) AS BIGINT) AS n_tok_word"
        f" FROM s{n_merges})"
    )
    ctes.append(
        "agg AS (SELECT doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_words,"
        " CAST(SUM(n_occ * n_tok_word) AS BIGINT) AS n_tokens,"
        " CAST(SUM(n_occ * length(word)) AS BIGINT) AS n_chars_alpha"
        " FROM dw JOIN tok USING (word) GROUP BY 1)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT d.doc_id,"
        " CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,"
        " CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,"
        " CAST(COALESCE(n_chars_alpha, 0) AS BIGINT) AS n_chars_alpha,"
        " CAST(CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0"
        " ELSE COALESCE(n_chars_alpha, 0) * CAST(1000000 AS BIGINT)"
        " // n_tokens END AS BIGINT) AS cpt_ppm"
        "\nFROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id"
    )


ORACLE_SQL["tx20_bpe_encode"] = _bpe_encode_sql()


# q94 twin: the same two derived snapshots, one FULL OUTER JOIN, per-row
# IS DISTINCT FROM cell comparison (null-safe, matching eqNullSafe), per
# class rollup. All counts CAST BIGINT.
_Q94_CELLS = [
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
_Q94_DIFF = " + ".join(
    f"(CASE WHEN a.{c} IS DISTINCT FROM b.{c} THEN 1 ELSE 0 END)"
    for c in _Q94_CELLS
)
_Q94_ANY = " OR ".join(
    f"(a.{c} IS DISTINCT FROM b.{c})" for c in _Q94_CELLS
)
ORACLE_SQL["q94_snapshot_diff"] = f"""
    WITH a AS (
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1997-07-01'
    ),
    b AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderstatus = 'O' THEN floor(o_totalprice)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    ),
    j AS (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN {_Q94_ANY} THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CASE WHEN a.o_orderkey IS NULL OR b.o_orderkey IS NULL
                    THEN 0 ELSE {_Q94_DIFF} END AS n_diff
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_diff) AS BIGINT) AS n_cells_changed
    FROM j GROUP BY change_type
"""


# sk06 twin: identical md5-60 hashing, k-min via ORDER BY/LIMIT,
# theta = least of the per-side k-th minima (M = 2^60 when a side holds
# fewer than k), HUGEINT intermediates for n*M//theta (int64 overflows;
# CAST BIGINT out per the lint).
_KMV_M = 1 << 60
_KMV_K = 128
ORACLE_SQL["sk06_kmv_overlap"] = f"""
    WITH pk AS MATERIALIZED (
        SELECT CAST(('0x' || substr(md5(key), 1, 15)) AS BIGINT) AS h,
               MAX(CASE WHEN ia THEN 1 ELSE 0 END) AS ia,
               MAX(CASE WHEN ib THEN 1 ELSE 0 END) AS ib
        FROM (
            SELECT CAST(user_id AS VARCHAR) || '@'
                       || CAST(CAST(ts AS DATE) AS VARCHAR) AS key,
                   event_type = 'click' AS ia,
                   event_type = 'purchase' AS ib
            FROM events WHERE event_type IN ('click', 'purchase')
        ) GROUP BY key
    ),
    ex AS (
        SELECT CAST(SUM(ia) AS BIGINT) AS n_a_exact,
               CAST(SUM(ib) AS BIGINT) AS n_b_exact,
               CAST(SUM(CASE WHEN ia + ib = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_inter_exact
        FROM pk
    ),
    ka AS MATERIALIZED (
        SELECT h FROM pk WHERE ia = 1 ORDER BY h LIMIT {_KMV_K}
    ),
    kb AS MATERIALIZED (
        SELECT h FROM pk WHERE ib = 1 ORDER BY h LIMIT {_KMV_K}
    ),
    th AS (
        SELECT least(
            (SELECT CASE WHEN COUNT(*) = {_KMV_K} THEN MAX(h)
                         ELSE {_KMV_M} END FROM ka),
            (SELECT CASE WHEN COUNT(*) = {_KMV_K} THEN MAX(h)
                         ELSE {_KMV_M} END FROM kb)) AS theta
    ),
    u AS (
        SELECT COALESCE(ka.h, kb.h) AS h,
               ka.h IS NOT NULL AS in_a, kb.h IS NOT NULL AS in_b
        FROM ka FULL OUTER JOIN kb ON ka.h = kb.h
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
               CAST(COALESCE(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END),
                             0) AS BIGINT) AS n_inter_sample
        FROM u, th WHERE u.h < th.theta
    )
    SELECT n_a_exact, n_b_exact, n_inter_exact,
           CAST(theta AS BIGINT) AS theta, n_sample, n_inter_sample,
           CAST(CASE WHEN n_sample = 0 THEN 0
                ELSE CAST(n_sample AS HUGEINT) * {_KMV_M} // theta
                END AS BIGINT) AS est_union,
           CAST(CASE WHEN n_inter_sample = 0 THEN 0
                ELSE CAST(n_inter_sample AS HUGEINT) * {_KMV_M} // theta
                END AS BIGINT) AS est_inter,
           CAST(CASE WHEN n_sample = 0 THEN 0
                ELSE n_inter_sample * CAST(1000000 AS BIGINT) // n_sample
                END AS BIGINT) AS jaccard_est_ppm
    FROM s, th, ex
"""


# sk07 twin: identical integer histogram arithmetic — DECIMAL(12,2) cents,
# 2^16-cent bins, ceil-rank targets, in-bin integer interpolation. The
# cumulative window runs over the bounded bin frame; `//` floors but every
# operand is non-negative, matching Spark's `div`. All outputs CAST BIGINT.
_SK07_W = 65536
ORACLE_SQL["sk07_histogram_quantiles"] = f"""
    WITH h AS MATERIALIZED (
        SELECT CAST(c // {_SK07_W} AS BIGINT) AS bin_id,
               CAST(COUNT(*) AS BIGINT) AS bin_n
        FROM (
            SELECT CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100
                        AS BIGINT) AS c
            FROM lineitem
        ) GROUP BY 1
    ),
    ch AS (
        SELECT bin_id, bin_n,
               CAST(COALESCE(SUM(bin_n) OVER (ORDER BY bin_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM h
    ),
    t AS (SELECT CAST(SUM(bin_n) AS BIGINT) AS _n FROM h),
    r AS (
        SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
               CAST((CAST(q_ppm AS BIGINT) * _n + 999999) // 1000000
                   AS BIGINT) AS target_rank
        FROM (SELECT unnest([250000, 500000, 750000, 900000, 990000])
                  AS q_ppm), t
    )
    SELECT r.q_ppm, r.target_rank, ch.bin_id,
           CAST(ch.bin_id * {_SK07_W} AS BIGINT) AS bin_lo_cents,
           ch.bin_n, ch.cum_before,
           CAST(ch.bin_id * {_SK07_W} + (r.target_rank - ch.cum_before)
                * {_SK07_W} // (ch.bin_n + 1) AS BIGINT) AS est_cents
    FROM r JOIN ch
      ON ch.cum_before < r.target_rank
     AND ch.cum_before + ch.bin_n >= r.target_rank
"""


# q95 twin: row_number endpoints instead of struct min/max — same
# deterministic (ts, event_id) ordering, identical DECIMAL(12,2) values,
# one final double cast per output. dsum convention for v_sum.
ORACLE_SQL["q95_ohlc_candles"] = """
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
               CAST(value AS DECIMAL(12,2)) AS v, ts, event_id
        FROM events
    ),
    r AS (
        SELECT event_type, bucket_ts, v,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                   ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                   ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM b
    )
    SELECT event_type, bucket_ts,
           CAST(MAX(CASE WHEN rn_a = 1 THEN v END) AS DOUBLE) AS open_v,
           CAST(MAX(v) AS DOUBLE) AS high_v,
           CAST(MIN(v) AS DOUBLE) AS low_v,
           CAST(MAX(CASE WHEN rn_d = 1 THEN v END) AS DOUBLE) AS close_v,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS v_sum
    FROM r GROUP BY 1, 2
"""


# px15 twin: identical md5-32 epoch key, one global ROW_NUMBER over
# (key, doc_id) (the oracle may sort globally; the engine must not),
# round-robin shard arithmetic. All BIGINT.
ORACLE_SQL["px15_epoch_shuffle"] = """
    WITH k AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('epoch:1:' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) AS shuffle_key
        FROM documents
    ),
    r AS (
        SELECT doc_id, shuffle_key,
               CAST(ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id)
                   AS BIGINT) AS position
        FROM k
    )
    SELECT doc_id, shuffle_key, position,
           CAST((position - 1) % 8 AS BIGINT) AS shard_id,
           CAST((position - 1) // 8 AS BIGINT) AS pos_in_shard
    FROM r
"""


def _kcore_sql(k: int = 3, rounds: int = 12) -> str:
    """gr04 twin: the same support>=2 co-purchase edge list, then
    ``rounds`` chained synchronous peel rounds (the tx19/q92 generated-
    oracle pattern; MATERIALIZED so each round evaluates once). Round i
    drops every node whose degree in e{i-1} is below k, and the edges
    touching it — identical N-round semantics to kcore_peel, which
    early-stops only on no-op rounds."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x"
        " JOIN li y USING (o) WHERE x.p < y.p"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM"
            f" (SELECT a AS node FROM e{p}"
            f" UNION ALL SELECT b AS node FROM e{p}) GROUP BY 1)"
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM d{i}"
            f" WHERE d >= {k})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM e{p}"
            f" WHERE a IN (SELECT node FROM k{i})"
            f" AND b IN (SELECT node FROM k{i}))"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, CAST(COUNT(*) AS BIGINT) AS core_deg FROM"
        f" (SELECT a AS node FROM e{rounds}"
        f" UNION ALL SELECT b AS node FROM e{rounds}) GROUP BY 1"
    )


ORACLE_SQL["gr04_kcore"] = _kcore_sql()


# tx21 twin: identical word extraction (raw [A-Za-z]+ then lower — the
# tx19/tx20 convention), integer totals, and the same exact-decimal
# regression pipeline: ln values ROUNDED(6) as DECIMAL(18,6), exact sums,
# product sums reduced to DECIMAL(27,6) before the double cast
# (prod_sum_double mirror), slope algebra in IEEE doubles.
ORACLE_SQL["tx21_zipf_stats"] = """
    WITH w AS MATERIALIZED (
        SELECT lower(x) AS word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+')) AS x
              FROM documents)
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
               CAST(SUM(freq) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
        FROM w
    ),
    head AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, word ASC) AS rank
        FROM w ORDER BY freq DESC, word ASC LIMIT 1000
    ),
    r AS (
        SELECT rank, freq,
               CAST(round(ln(rank), 6) AS DECIMAL(18,6)) AS x,
               CAST(round(ln(freq), 6) AS DECIMAL(18,6)) AS y
        FROM head
    ),
    reg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS m,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(CAST(SUM(x * y) AS DECIMAL(27,6)) AS DOUBLE) AS sxy,
               CAST(CAST(SUM(x * x) AS DECIMAL(27,6)) AS DOUBLE) AS sxx,
               CAST(SUM(CASE WHEN rank <= 100 THEN freq ELSE 0 END)
                   AS BIGINT) AS head_freq
        FROM r
    )
    SELECT n_vocab, n_tokens, n_hapax,
           CAST(head_freq * CAST(1000000 AS BIGINT) // n_tokens AS BIGINT)
               AS top_share_ppm,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
    FROM tot, reg
"""


# px16 twin: the px02 closure CTEs (same LSH candidates + recursive CC),
# px14's logistic quality gate as the score, one cluster-keyed window:
# survivor = argmax(p_keep) with doc_id-ASC tie-break; unpaired docs are
# their own singleton cluster.
ORACLE_SQL["px16_quality_aware_dedup"] = f"""
    WITH RECURSIVE {_CC_CTES},
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ),
    q AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                     + 1.5 * len_score + -1.0))), 6) AS p_keep
        FROM (
            SELECT doc_id,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                       / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
            FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
        )
    ),
    lab AS (
        SELECT d.doc_id,
               CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
               q.p_keep
        FROM documents d
        LEFT JOIN clusters c ON c.doc_id = d.doc_id
        JOIN q ON q.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS n_members,
           p_keep,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                ORDER BY p_keep DESC, doc_id) = 1) AS is_survivor
    FROM lab
"""


def _mmr_sql(k: int = 10, pool_n: int = 50) -> str:
    """ss11 twin: the same greedy MMR chain as generated per-step CTEs
    (the tx19/gr04 pattern). pool = rounded-cosine top-``pool_n``; step t
    scores every unselected pool row 0.5·rel − 0.5·max(rounded cos to the
    t−1 selected vectors) and takes the (score DESC, vec_id) best. λ=0.5
    halving is exact and the penalty/rel inputs are rounded(6), so both
    engines score identically."""
    ctes = [
        "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)",
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0)",
        f"pool AS MATERIALIZED (SELECT vec_id, label, v,"
        f" round(list_cosine_similarity(v, qv), 6) AS rel"
        f" FROM e, q WHERE vec_id <> 0"
        f" ORDER BY rel DESC, vec_id LIMIT {pool_n})",
        "s1 AS MATERIALIZED (SELECT vec_id, label, v, rel FROM pool"
        " ORDER BY rel DESC, vec_id LIMIT 1)",
        "sel1 AS (SELECT vec_id, label, v, rel, 1 AS rank FROM s1)",
    ]
    for t in range(2, k + 1):
        p = t - 1
        ctes.append(
            f"pen{t} AS MATERIALIZED (SELECT pl.vec_id,"
            f" MAX(round(list_cosine_similarity(pl.v, s.v), 6)) AS pen,"
            f" MAX(pl.rel) AS rel"
            f" FROM pool pl, sel{p} s"
            f" WHERE pl.vec_id NOT IN (SELECT vec_id FROM sel{p})"
            f" GROUP BY pl.vec_id)"
        )
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT pool.vec_id, pool.label, pool.v,"
            f" pool.rel FROM pen{t} JOIN pool USING (vec_id)"
            f" ORDER BY CAST(0.5 AS DOUBLE) * pen{t}.rel"
            f" - CAST(0.5 AS DOUBLE) * pen{t}.pen DESC, vec_id LIMIT 1)"
        )
        ctes.append(
            f"sel{t} AS (SELECT * FROM sel{p}"
            f" UNION ALL SELECT vec_id, label, v, rel, {t} FROM s{t})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(rank AS INTEGER) AS rank, vec_id, label,"
        f" rel AS cos_sim FROM sel{k}"
    )


ORACLE_SQL["ss11_mmr_rerank"] = _mmr_sql()


# px17 twin: same whitespace token counts, single-partition running sum
# (the oracle may sort globally; the engine must not), identical integer
# chunk arithmetic.
ORACLE_SQL["px17_sequence_packing"] = f"""
    WITH t AS (
        SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_start
        FROM t
    )
    SELECT doc_id, n_tok, tok_start,
           CAST(tok_start // 512 AS BIGINT) AS first_chunk,
           CAST(CASE WHEN n_tok = 0 THEN 0
                ELSE (tok_start + n_tok - 1) // 512 - tok_start // 512 + 1
                END AS BIGINT) AS n_chunks_spanned
    FROM c
"""


def _bfs_sql(rounds: int = 8) -> str:
    """gr05 twin: the gr04 edge CTEs, undirected expansion, then
    ``rounds`` chained synchronous relaxations (expand EVERY settled
    node — equivalent to the engine's frontier-only expansion because
    re-expanding settled nodes only proposes distances >= the held
    minimum). Root = MIN(a) over the edge list."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "ed AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x"
        " JOIN li y USING (o) WHERE x.p < y.p"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
        "ud AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed"
        " UNION SELECT b AS src, a AS dst FROM ed)",
        "d0 AS (SELECT MIN(a) AS node, CAST(0 AS BIGINT) AS hops FROM ed)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT node,"
            f" CAST(MIN(hops) AS BIGINT) AS hops FROM ("
            f" SELECT node, hops FROM d{p}"
            f" UNION ALL"
            f" SELECT e.dst AS node, d.hops + 1 AS hops"
            f" FROM d{p} d JOIN ud e ON e.src = d.node"
            f") GROUP BY node)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, hops FROM d{rounds}"
    )


ORACLE_SQL["gr05_bfs_hops"] = _bfs_sql()


# q96 twin: identical per-value DECIMAL weight aggregation, running/total
# window sums, lower-median rule (smallest v with 2*cumw >= W).
ORACLE_SQL["q96_weighted_median"] = """
    WITH pv AS (
        SELECT l_returnflag,
               CAST(l_extendedprice AS DECIMAL(12,2)) AS v,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
                   AS wv
        FROM lineitem GROUP BY 1, 2
    ),
    c AS (
        SELECT l_returnflag, v,
               SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(wv) OVER (PARTITION BY l_returnflag) AS tot
        FROM pv
    )
    SELECT l_returnflag,
           CAST(MIN(CASE WHEN cum * 2 >= tot THEN v END) AS DOUBLE)
               AS w_median,
           CAST(MAX(tot) AS DOUBLE) AS total_weight
    FROM c GROUP BY 1
"""


def _fk_sql() -> str:
    """dq06 twin: per relation one NOT-IN orphan count (over non-null
    keys), one referenced-parent-keys count, integer-ppm coverage."""
    rels = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = []
    for name, child, ck, parent, pk in rels:
        parts.append(f"""
        SELECT '{name}' AS relation,
               CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_child,
               CAST((SELECT COUNT(*) FROM {child} WHERE {ck} IS NULL)
                   AS BIGINT) AS n_null_keys,
               CAST((SELECT COUNT(*) FROM {child}
                     WHERE {ck} IS NOT NULL
                       AND {ck} NOT IN (SELECT {pk} FROM {parent}
                                        WHERE {pk} IS NOT NULL))
                   AS BIGINT) AS n_orphans,
               CAST(CASE WHEN (SELECT COUNT(*) FROM {parent}) = 0 THEN 0
                    ELSE (SELECT COUNT(*) FROM {parent}
                          WHERE {pk} IN (SELECT {ck} FROM {child}
                                         WHERE {ck} IS NOT NULL))
                         * CAST(1000000 AS BIGINT)
                         // (SELECT COUNT(*) FROM {parent}) END AS BIGINT)
                   AS parent_coverage_ppm""")
    return "\nUNION ALL\n".join(parts)


ORACLE_SQL["dq06_fk_integrity"] = _fk_sql()


# st03 twin: q95's OHLC oracle — the tumbling window(ts, '1 hour') start
# equals date_trunc('hour', ts) for epoch-aligned hourly windows, and the
# streaming code path shares the exact struct/DECIMAL aggregation.
ORACLE_SQL["st03_ohlc_windows"] = ORACLE_SQL["q95_ohlc_candles"]


# ss12 twin: the ss05 kNN-join CTEs + neighbor labels + majority vote
# (votes DESC, label ASC tie-break).
ORACLE_SQL["ss12_knn_label_vote"] = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                s.cell
                   ) AS rn
            FROM e CROSS JOIN seeds s
        ) WHERE rn <= 4
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        FROM assigned q JOIN assigned c ON q.cell = c.cell
        WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT q_id, n_id,
               round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
        FROM cand JOIN e x ON x.vec_id = q_id
                  JOIN e y ON y.vec_id = n_id
    ),
    knn AS (
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (
                       PARTITION BY q_id ORDER BY cos_sim DESC, n_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    ),
    votes AS (
        SELECT k.q_id, y.label, CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM knn k JOIN e y ON y.vec_id = k.n_id
        GROUP BY 1, 2
    )
    SELECT q_id, label AS pred_label, n_votes FROM (
        SELECT q_id, label, n_votes,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY n_votes DESC, label ASC
               ) AS r
        FROM votes
    ) WHERE r = 1
"""


# mm07 twin: the mm01 metadata derivation + integer bucket/slot math
# (row_number per (fmt, size_bucket) in doc_id order).
ORACLE_SQL["mm07_inference_batches"] = """
    WITH m AS (
        SELECT doc_id,
               CASE CAST(doc_id % 3 AS INTEGER)
                    WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS fmt,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    b AS (
        SELECT doc_id, fmt, CAST(n_bytes // 4096 AS BIGINT) AS size_bucket
        FROM m
    ),
    r AS (
        SELECT doc_id, fmt, size_bucket,
               ROW_NUMBER() OVER (PARTITION BY fmt, size_bucket
                   ORDER BY doc_id) - 1 AS slot
        FROM b
    )
    SELECT doc_id, fmt, size_bucket,
           CAST(slot // 32 AS BIGINT) AS batch_idx,
           CAST(slot % 32 AS INTEGER) AS pos_in_batch
    FROM r
"""


# px18 twin: the px13 exact-decimal tempering convention on TOKEN masses
# (alpha=0.5, budget 1e6), plus the integer-ppm epochs column.
ORACLE_SQL["px18_mixture_epoch_plan"] = f"""
    WITH c AS (
        SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS _total FROM c),
    s AS (
        SELECT c.source, c.n_tokens, t._total,
               CAST(round(pow(CAST(c.n_tokens AS DOUBLE) / t._total, 0.5), 12)
                    AS DECIMAL(18,12)) AS _pa
        FROM c CROSS JOIN t
    ),
    z AS (SELECT CAST(SUM(_pa) AS DECIMAL(18,12)) AS _z FROM s),
    w AS (
        SELECT s.source, s.n_tokens,
               CAST(CAST(s.n_tokens AS HUGEINT) * 1000000 // s._total
                   AS BIGINT) AS share_ppm,
               round(CAST(s._pa AS DOUBLE) / CAST(z._z AS DOUBLE), 6)
                   AS weight,
               CAST(floor(CAST(s._pa AS DOUBLE) / CAST(z._z AS DOUBLE)
                   * 1000000) AS BIGINT) AS target_tokens
        FROM s CROSS JOIN z
    )
    SELECT source, n_tokens, share_ppm, weight, target_tokens,
           CAST(CAST(target_tokens AS HUGEINT) * 1000000 // n_tokens
               AS BIGINT) AS epochs_ppm
    FROM w
"""


# dd15 twin: the px02 closure CTEs + per-cluster size window + 1e6//n.
ORACLE_SQL["dd15_soft_dedup_weights"] = f"""
    WITH RECURSIVE {{cc}},
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ),
    lab AS (
        SELECT d.doc_id,
               CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           CAST(1000000 // COUNT(*) OVER (PARTITION BY cluster_id)
               AS BIGINT) AS weight_ppm
    FROM lab
""".format(cc=_CC_CTES)


# px19 twin: px14's quality gate -> value bands -> md5-32 within-band
# order -> ROW_NUMBER per band (the oracle may run a per-band global
# window; the engine must not) -> round-robin shard arithmetic.
ORACLE_SQL["px19_stratified_shards"] = f"""
    WITH q AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                     + 1.5 * len_score + -1.0))), 6) AS p_keep
        FROM (
            SELECT doc_id,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                       / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
            FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
        )
    ),
    b AS (
        SELECT doc_id,
               CAST(least(9, CAST(floor(p_keep * 10) AS INTEGER))
                   AS INTEGER) AS band,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) AS h
        FROM q
    ),
    r AS (
        SELECT doc_id, band,
               ROW_NUMBER() OVER (PARTITION BY band ORDER BY h, doc_id) - 1
                   AS rank0
        FROM b
    )
    SELECT doc_id, band,
           CAST(rank0 % 8 AS INTEGER) AS shard_id,
           CAST(rank0 // 8 AS BIGINT) AS pos_in_shard
    FROM r
"""


def _source_overlap_sql() -> str:
    """tx22 twin: the tx18 shingle/hash construction collapsed to
    (source, hash) types, pair join on the hash, integer-ppm Jaccard and
    containments via exact HUGEINT-intermediate division."""
    from ..functions.hashing import MERSENNE31

    return f"""
        WITH toks AS (SELECT source, {_TOKS} AS l FROM documents),
        sh AS (SELECT source,
                      list_distinct(list_transform(l[1:len(l)-2],
                          (x,i) -> x || ' ' || l[i+1] || ' ' || l[i+2])) AS s
               FROM toks),
        e AS (SELECT DISTINCT source, {_H32.format(x='x')} % {MERSENNE31} AS h
              FROM (SELECT source, unnest(s) AS x FROM sh)),
        c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types
              FROM e GROUP BY 1),
        p AS (SELECT a.source AS src_a, b.source AS src_b,
                     CAST(COUNT(*) AS BIGINT) AS n_shared
              FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
              GROUP BY 1, 2)
        SELECT src_a, src_b,
               ca.n_types AS n_types_a, cb.n_types AS n_types_b, n_shared,
               CAST(CAST(n_shared AS HUGEINT) * 1000000
                   // (ca.n_types + cb.n_types - n_shared) AS BIGINT)
                   AS jaccard_ppm,
               CAST(CAST(n_shared AS HUGEINT) * 1000000 // ca.n_types
                   AS BIGINT) AS containment_a_ppm,
               CAST(CAST(n_shared AS HUGEINT) * 1000000 // cb.n_types
                   AS BIGINT) AS containment_b_ppm
        FROM p JOIN c ca ON ca.source = src_a
               JOIN c cb ON cb.source = src_b
    """


ORACLE_SQL["tx22_source_overlap"] = _source_overlap_sql()


# st04 twin: the px06 two-half incremental gate recomputed from scratch
# (per-half transitive-closure clusters + cross-half signature screen),
# then px19's quality banding with the per-band rank ordered by
# (epoch, md5-32, doc_id) — the streaming deal continues the round-robin
# across epochs in ARRIVAL order (the engine must never re-sort history;
# the oracle may run one global window).
ORACLE_SQL["st04_ingest_shards"] = f"""
    WITH RECURSIVE {_MINHASH_CTE},
    cut AS (
        SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2 AS c
        FROM documents
    ),
    half AS (
        SELECT doc_id,
               CASE WHEN doc_id < (SELECT c FROM cut) THEN 1 ELSE 2 END AS h
        FROM documents
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.doc_id < b.doc_id
         AND (a.band0 = b.band0 OR a.band1 = b.band1
              OR a.band2 = b.band2 OR a.band3 = b.band3)
        JOIN half ha ON ha.doc_id = a.doc_id
        JOIN half hb ON hb.doc_id = b.doc_id
        WHERE ha.h = hb.h
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM (
            SELECT doc_a, doc_b,
                   CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                        AS DOUBLE)
                       / len(list_distinct(x.hs || y.hs)) AS jaccard
            FROM cand JOIN base x ON x.doc_id = doc_a
                      JOIN base y ON y.doc_id = doc_b
        ) WHERE jaccard >= 0.2
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
    ),
    cluster AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ),
    keepers AS (
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
            SELECT doc_id FROM cluster WHERE doc_id <> cluster_id
        )
    ),
    acc1 AS (
        SELECT k.doc_id FROM keepers k
        JOIN half h ON h.doc_id = k.doc_id AND h.h = 1
    ),
    cand2 AS (
        SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
        FROM bands n
        JOIN half hn ON hn.doc_id = n.doc_id AND hn.h = 2
        JOIN keepers kn ON kn.doc_id = n.doc_id
        JOIN acc1 a ON TRUE
        JOIN bands o ON o.doc_id = a.doc_id
        WHERE n.band0 = o.band0 OR n.band1 = o.band1
           OR n.band2 = o.band2 OR n.band3 = o.band3
    ),
    old_match AS (
        SELECT new_id FROM (
            SELECT new_id,
                   CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                        AS DOUBLE)
                       / len(list_distinct(x.hs || y.hs)) AS j
            FROM cand2 JOIN base x ON x.doc_id = new_id
                       JOIN base y ON y.doc_id = old_id
        ) WHERE j >= 0.2 GROUP BY new_id
    ),
    acc AS (
        SELECT k.doc_id, CAST(h.h - 1 AS INTEGER) AS epoch
        FROM keepers k JOIN half h ON h.doc_id = k.doc_id
        WHERE k.doc_id NOT IN (SELECT new_id FROM old_match)
    ),
    q AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                     + 1.5 * len_score + -1.0))), 6) AS p_keep
        FROM (
            SELECT doc_id,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                       / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score
            FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
        )
    ),
    b AS (
        SELECT a.doc_id, a.epoch,
               CAST(least(9, CAST(floor(q.p_keep * 10) AS INTEGER))
                   AS INTEGER) AS band,
               CAST(('0x' || substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) AS hh
        FROM acc a JOIN q ON q.doc_id = a.doc_id
    ),
    r AS (
        SELECT doc_id, epoch, band,
               ROW_NUMBER() OVER (
                   PARTITION BY band ORDER BY epoch, hh, doc_id
               ) - 1 AS rank0
        FROM b
    )
    SELECT doc_id, band,
           CAST(rank0 % 8 AS INTEGER) AS shard_id,
           CAST(rank0 // 8 AS BIGINT) AS pos_in_shard,
           epoch
    FROM r
"""


# px20 twin: dd15's closure/label CTEs + the md5-of-CLUSTER-id split —
# the whole near-dup cluster shares one split by construction.
ORACLE_SQL["px20_leakage_safe_split"] = """
    WITH RECURSIVE {cc},
    clusters AS (
        SELECT node AS doc_id, MIN(lbl) AS cluster_id
        FROM reach GROUP BY node
    ),
    lab AS (
        SELECT d.doc_id,
               CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substr(md5(CAST(cluster_id AS VARCHAR)),
                           1, 8)) AS BIGINT) % 1000000 < 100000
                THEN 'eval' ELSE 'train' END AS split
    FROM lab
""".format(cc=_CC_CTES)


# px21 twin: px19's quality CTE + token counts; the oracle may run the
# global (p_keep DESC, doc_id) window the engine replaces with the
# two-stage range prefix sum.
ORACLE_SQL["px21_budget_selection"] = f"""
    WITH q AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                     + 1.5 * len_score + -1.0))), 6) AS p_keep,
               n_tokens
        FROM (
            SELECT doc_id,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                       / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score,
                   CAST(len(l) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, n_chars, {_TOKS} AS l FROM documents)
        )
    )
    SELECT doc_id, p_keep, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY p_keep DESC, doc_id)
               AS BIGINT) AS cum_tokens,
           SUM(n_tokens) OVER (ORDER BY p_keep DESC, doc_id) <= 12000
               AS selected
    FROM q
"""


# ss14 twin: the ss05 seed-cell CTEs over the FULL corpus (every vector
# is a query), blocked candidates filtered at tau, counted per vector;
# vectors with no clearing neighbor keep a 0/NULL row.
ORACLE_SQL["ss14_radius_density"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                s.cell
                   ) AS rn
            FROM e CROSS JOIN seeds s
        ) WHERE rn <= 4
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        FROM assigned q JOIN assigned c ON q.cell = c.cell
        WHERE q.vec_id <> c.vec_id
    ),
    hits AS (
        SELECT q_id,
               CAST(COUNT(*) AS BIGINT) AS n_neighbors,
               MAX(cos_sim) AS max_sim
        FROM (
            SELECT q_id,
                   round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
            FROM cand JOIN e x ON x.vec_id = q_id
                      JOIN e y ON y.vec_id = n_id
        ) WHERE cos_sim >= 0.3
        GROUP BY q_id
    )
    SELECT e.vec_id,
           CAST(COALESCE(h.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           h.max_sim
    FROM e LEFT JOIN hits h ON h.q_id = e.vec_id
"""


def _label_prop_sql(rounds: int = 6) -> str:
    """gr06 twin: the gr04/gr05 edge CTEs, seeds fixed at round 0, then
    ``rounds`` chained synchronous majority votes — each round labels
    every still-unlabeled node with >=1 labeled neighbor by (count DESC,
    label ASC) over its labeled neighbors."""
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "ed AS MATERIALIZED (SELECT x.p AS a, y.p AS b FROM li x"
        " JOIN li y USING (o) WHERE x.p < y.p"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
        "ud AS MATERIALIZED (SELECT a AS src, b AS dst FROM ed"
        " UNION SELECT b AS src, a AS dst FROM ed)",
        "l0 AS MATERIALIZED (SELECT node, CAST(node % 7 AS BIGINT) AS label,"
        " CAST(0 AS INTEGER) AS labeled_round FROM"
        " (SELECT DISTINCT src AS node FROM ud) WHERE node % 10 = 0)",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"l{r} AS MATERIALIZED (SELECT node, label, labeled_round"
            f" FROM l{p}"
            f" UNION ALL"
            f" SELECT node, label, CAST({r} AS INTEGER) AS labeled_round"
            f" FROM ("
            f"  SELECT u.dst AS node, d.label,"
            f"         row_number() OVER (PARTITION BY u.dst"
            f"            ORDER BY COUNT(*) DESC, d.label) AS rn"
            f"  FROM l{p} d JOIN ud u ON u.src = d.node"
            f"  WHERE u.dst NOT IN (SELECT node FROM l{p})"
            f"  GROUP BY u.dst, d.label"
            f" ) WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, label, labeled_round FROM l{rounds}"
    )


ORACLE_SQL["gr06_label_propagation"] = _label_prop_sql()


def _hll_stream_sql(p: int = 12) -> str:
    """st05 twin: the sk04 register/estimator SQL restricted to
    (m, hll_estimate) — the streaming store after all epochs IS the
    whole-corpus register table (bucket-wise max is associative), so the
    batch sketch of the full orders table is the exact oracle."""
    from ..operators.sketch import _bitlen_case_sql

    m = 1 << p
    w = 32 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    bitlen = _bitlen_case_sql("suffix", w)
    est = (
        f"CASE WHEN raw <= {2.5 * m!r} AND empty > 0 "
        f"THEN CAST({float(m)!r} AS DOUBLE) * ln(CAST({float(m)!r} AS DOUBLE) / empty) "
        f"ELSE raw END"
    )
    return f"""
        WITH h AS (
            SELECT ('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 8))::BIGINT AS h32
            FROM orders
        ),
        k AS (SELECT h32 % {m} AS bucket, h32 // {m} AS suffix FROM h),
        r AS (SELECT bucket, MAX({w + 1} - {bitlen}) AS reg FROM k GROUP BY bucket),
        s AS (SELECT SUM(power(2.0, -reg)) AS _s, CAST(COUNT(*) AS BIGINT) AS _nb FROM r),
        e AS (
            SELECT CAST({alpha!r} AS DOUBLE) * {m} * {m} / (_s + ({m} - _nb)) AS raw,
                   ({m} - _nb) AS empty
            FROM s
        )
        SELECT CAST({m} AS BIGINT) AS m, round({est}, 6) AS hll_estimate
        FROM e
    """


ORACLE_SQL["st05_hll_monitor"] = _hll_stream_sql()


# mm08 twin: the deterministic encode plan (multimodal.py::
# _real_media_plan) recomputed arithmetically — matching hashes prove
# the Spark side encoded REAL BMP/WAV bytes to exactly this plan and
# parsed them back.
ORACLE_SQL["mm08_real_codec_roundtrip"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS fmt,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(4 + n_chars % 13 AS INTEGER) END AS width,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(3 + n_chars % 7 AS INTEGER) END AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER)
               AS channels,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(8000 + 4000 * (doc_id % 3) AS INTEGER)
                END AS sample_rate,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(32 + n_chars % 101 AS BIGINT) END AS n_samples,
           CAST(CASE WHEN doc_id % 2 = 0
                THEN 54 + ((3 * (4 + n_chars % 13) + 3) // 4 * 4)
                     * (3 + n_chars % 7)
                ELSE 44 + 2 * (32 + n_chars % 101) END AS BIGINT) AS n_bytes,
           TRUE AS ok
    FROM documents
"""


# mm09 twin: the WAV sample values recomputed from the encode plan
# (sample_k = (byte[k mod L] - 64) * 128 over ASCII text), framed at 32
# and reduced with exact integer arithmetic — matches only if the PCM
# bytes were really written and really parsed back.
#
# ASSUMPTION (explicit): this oracle indexes CHARACTERS
# (ord/substr/length) while the encoder indexes UTF-8 BYTES
# (tb[k % len(tb)]) and substitutes ' ' for empty text — the two agree
# iff every document is non-empty ASCII. The documents fixture is
# ASCII-by-construction (TESTDATA.md) and non-empty
# (test_fixture_documents_nonempty_ascii pins BOTH properties, so a
# fixture change that would silently desync the twins turns a test red
# instead). mm12's byte-stats oracle removes the assumption outright by
# sanitizing both sides to printable ASCII; these pixel/sample oracles
# keep the direct form because the guard test makes it sound.
ORACLE_SQL["mm09_audio_frame_energy"] = """
    WITH w AS (
        SELECT doc_id, text, length(text) AS l,
               32 + n_chars % 101 AS ns
        FROM documents WHERE doc_id % 2 = 1
    ),
    s AS (
        SELECT doc_id, k,
               (ord(substr(text, CAST(k % l AS INTEGER) + 1, 1)) - 64) * 128
                   AS v
        FROM (
            SELECT doc_id, text, l,
                   unnest(generate_series(0, CAST(ns - 1 AS BIGINT))) AS k
            FROM w
        )
    )
    SELECT doc_id,
           CAST(k // 32 AS INTEGER) AS frame_idx,
           CAST(COUNT(*) AS INTEGER) AS n_in_frame,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
           CAST(MAX(abs(v)) AS INTEGER) AS peak
    FROM s GROUP BY doc_id, k // 32
"""


# mm10 twin: pixel k (row-major) of an even doc's BMP is
# (r,g,b) = (byte, 255-byte, byte*7 % 256) with byte = text[k mod L] —
# recompute the channel sums/max arithmetically over k in [0, w*h).
# Same non-empty-ASCII assumption as mm09, same guard test.
ORACLE_SQL["mm10_image_pixel_stats"] = """
    WITH d AS (
        SELECT doc_id, text, length(text) AS l,
               4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    px AS (
        SELECT doc_id, w, h,
               ord(substr(text, CAST(k % l AS INTEGER) + 1, 1)) AS b
        FROM (
            SELECT doc_id, text, l, w, h,
                   unnest(generate_series(0, CAST(w * h - 1 AS BIGINT))) AS k
            FROM d
        )
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(SUM(b) AS BIGINT) AS sum_r,
           CAST(SUM(255 - b) AS BIGINT) AS sum_g,
           CAST(SUM(b * 7 % 256) AS BIGINT) AS sum_b,
           CAST(MAX(b) AS INTEGER) AS max_r,
           CAST(w * h AS INTEGER) AS n_px
    FROM px GROUP BY doc_id, w, h
"""


# mm11 twin: the nearest-neighbor resize recomputed arithmetically from
# the encode plan under the exact integer contract documented at
# multimodal.py::resize_real — out pixel (i,j) reads source pixel
# ((i*h) div oh, (j*w) div ow) whose red channel is text byte
# (sy*w+sx) mod L — so the hash only matches if the Spark side encoded
# real BMP bytes, parsed them, un-flipped BGR/bottom-up, and resampled
# pixel-for-pixel. Same non-empty-ASCII fixture guard as mm09/mm10.
ORACLE_SQL["mm11_resize_real"] = """
    WITH d AS (
        SELECT doc_id, text, length(text) AS l,
               4 + n_chars % 13 AS w, 3 + n_chars % 7 AS h
        FROM documents WHERE doc_id % 2 = 0
    ),
    dims AS (
        SELECT doc_id, text, l, w, h,
               CASE WHEN greatest(w, h) <= 8 THEN w
                    ELSE greatest(1, w * 8 // greatest(w, h)) END AS ow,
               CASE WHEN greatest(w, h) <= 8 THEN h
                    ELSE greatest(1, h * 8 // greatest(w, h)) END AS oh
        FROM d
    ),
    px AS (
        SELECT doc_id, w, h, ow, oh,
               ord(substr(text,
                   CAST(((k // ow) * h // oh * w + (k % ow) * w // ow) % l
                        AS INTEGER) + 1, 1)) AS b
        FROM (
            SELECT doc_id, text, l, w, h, ow, oh,
                   unnest(generate_series(0, CAST(ow * oh - 1 AS BIGINT))) AS k
            FROM dims
        )
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
           CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
           CAST(SUM(b) AS BIGINT) AS sum_r,
           CAST(SUM(255 - b) AS BIGINT) AS sum_g,
           CAST(SUM(b * 7 % 256) AS BIGINT) AS sum_b,
           CAST(ow * oh AS INTEGER) AS n_px
    FROM px GROUP BY doc_id, w, h, ow, oh
"""


# mm12 twin: byte statistics over payloads BOTH engines construct
# identically — printable-ASCII sanitize (strip [^\x20-\x7e], empty →
# one space) runs in the Spark plan and here, so char indexing == byte
# indexing by construction, no fixture assumption. Modal byte ties
# break to the SMALLEST byte (numpy argmax order = mm02's float-path
# tie-break).
ORACLE_SQL["mm12_byte_stats"] = r"""
    WITH c AS (
        SELECT doc_id,
               CASE WHEN length(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) = 0
                    THEN ' '
                    ELSE regexp_replace(text, '[^\x20-\x7e]', '', 'g')
               END AS t
        FROM documents
    ),
    b AS (
        SELECT doc_id, ord(substr(t, CAST(k AS INTEGER), 1)) AS byte
        FROM (
            SELECT doc_id, t,
                   unnest(generate_series(1, CAST(length(t) AS BIGINT))) AS k
            FROM c
        )
    ),
    g AS (SELECT doc_id, byte, COUNT(*) AS n FROM b GROUP BY doc_id, byte),
    tops AS (
        SELECT doc_id, byte, n,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n DESC, byte) AS rn
        FROM g
    ),
    agg AS (
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_bytes,
               CAST(SUM(byte * n) AS BIGINT) AS sum_bytes,
               CAST(COUNT(*) AS INTEGER) AS distinct_bytes
        FROM g GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_bytes, a.sum_bytes, a.distinct_bytes,
           CAST(t.byte AS INTEGER) AS top_byte,
           CAST(t.n AS INTEGER) AS top_count
    FROM agg a JOIN tops t ON a.doc_id = t.doc_id AND t.rn = 1
"""


# ss15 twin: the ss06 k-means CTE block (decimal-exact trained
# centroids both engines produce bit-identically) + the ss04 search
# recipe — probe the query's 3 best trained cells by rounded cosine
# (cluster-ASC tie-break), exact rounded-cosine re-rank inside them.
ORACLE_SQL["ss15_ivf_trained_topk"] = f"""
    WITH {_KMEANS_CTES},
    qv AS (SELECT embedding::DOUBLE[] AS q FROM embeddings WHERE vec_id = 0),
    probe AS (
        SELECT cluster FROM (
            SELECT c.cluster,
                   round(list_cosine_similarity((SELECT q FROM qv), c.cv), 6)
                       AS cs
            FROM cent c)
        ORDER BY cs DESC, cluster LIMIT 3
    )
    SELECT a2.vec_id,
           CAST(a2.cluster AS INTEGER) AS cluster,
           round(list_cosine_similarity(e.v, (SELECT q FROM qv)), 6)
               AS cos_sim
    FROM a2 JOIN e USING (vec_id)
    WHERE a2.cluster IN (SELECT cluster FROM probe) AND a2.vec_id <> 0
    ORDER BY cos_sim DESC, a2.vec_id LIMIT 10
"""


# ss16 twin: the ss04 seed-cell CTEs composed with the ss08 PQ/ADC CTEs
# — corpus assigned to argmax seed-cell, query probes its 4 best cells,
# ADC (per-subspace exact distance to the ASSIGNED codebook entry)
# scored only inside the probed cells. Reuses _pq_ctes' `e` as the
# shared double-cast vector table.
ORACLE_SQL["ss16_ivfadc_topk"] = f"""
    WITH {_pq_ctes()},
    cseeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, s.sv), 6)
                                    DESC, s.cell
                   ) AS rn
            FROM e CROSS JOIN cseeds s
        ) WHERE rn = 1
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    probe AS (
        SELECT cell FROM (
            SELECT s.cell,
                   row_number() OVER (
                       ORDER BY round(list_cosine_similarity(q.qv, s.sv), 6)
                                    DESC, s.cell
                   ) AS rn
            FROM cseeds s, q
        ) WHERE rn <= 4
    ),
    adc AS (
        SELECT enc.vec_id,
               round({' + '.join(f'({_pq_dist(s, "q.qv", f"s{s}.sv")})' for s in range(8))},
                     6) AS adc_dist
        FROM enc JOIN assigned a USING (vec_id) CROSS JOIN q
             {' '.join(f'JOIN pseeds s{s} ON s{s}.code = enc.code{s}' for s in range(8))}
        WHERE a.cell IN (SELECT cell FROM probe) AND enc.vec_id <> 0
    )
    SELECT rank, vec_id, adc_dist FROM (
        SELECT CAST(row_number() OVER (ORDER BY adc_dist, vec_id)
                    AS INTEGER) AS rank,
               vec_id, adc_dist
        FROM adc
    ) WHERE rank <= 10
"""


# st06 twin: both epochs' stream-static joins recomputed from the
# dimension VERSION RULES — epoch 0 (event_id below the midpoint) joins
# v1 grades (user_id % 5), epoch 1 joins v2 (even users += 100). The
# hash only matches if the Spark side's per-epoch store re-read actually
# served each epoch the right dimension version.
ORACLE_SQL["st06_state_enriched_events"] = """
    WITH b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM events),
    e AS (
        SELECT event_id, user_id,
               CASE WHEN event_id < lo + (hi - lo) // 2 THEN 0 ELSE 1 END
                   AS epoch
        FROM events, b
    )
    SELECT event_id, user_id,
           CAST(CASE WHEN epoch = 1 AND user_id % 2 = 0
                     THEN user_id % 5 + 100
                     ELSE user_id % 5 END AS INTEGER) AS grade,
           CAST(epoch AS INTEGER) AS epoch
    FROM e
"""


# tx23 twin: the hashing-trick featurizer — md5-32(token) mod 1024 via
# the shared _H32/_TOKS contracts; hash collisions fold identically in
# both engines because the hash IS the contract.
ORACLE_SQL["tx23_hashed_features"] = f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    )
    SELECT doc_id,
           CAST({_H32.format(x='tok')} % 1024 AS INTEGER) AS feature_id,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM t GROUP BY doc_id, feature_id
"""


# tx24 twin: tx23's aggregate + the deterministic integer weight
# w(f) = (f * 2654435761) % 2001 - 1000 (nonneg operands, so % == pmod),
# all-integer score.
ORACLE_SQL["tx24_hashed_linear_score"] = f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    f AS (
        SELECT doc_id,
               CAST({_H32.format(x='tok')} % 1024 AS INTEGER) AS feature_id,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM t GROUP BY doc_id, feature_id
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INTEGER) AS n_feats,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           CAST(SUM(tf * ((CAST(feature_id AS BIGINT) * 2654435761) % 2001
                          - 1000)) AS BIGINT) AS score
    FROM f GROUP BY doc_id
"""


# px22 twin: px21's quality/token CTE + source, with the running token
# sum windowed PER SOURCE (the oracle may run per-group global windows;
# the engine must not).
ORACLE_SQL["px22_grouped_budget"] = f"""
    WITH q AS (
        SELECT doc_id, source,
               round(1.0 / (1.0 + exp(-(3.0 * uniq_ratio + -2.0 * stop_ratio
                     + 1.5 * len_score + -1.0))), 6) AS p_keep,
               n_tokens
        FROM (
            SELECT doc_id, source,
                   CAST(len(list_distinct(l)) AS DOUBLE) / len(l) AS uniq_ratio,
                   CAST(len(list_filter(l, t -> t IN {_STOP_EN})) AS DOUBLE)
                       / len(l) AS stop_ratio,
                   least(CAST(n_chars AS DOUBLE) / 400.0, 1.0) AS len_score,
                   CAST(len(l) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, source, n_chars, {_TOKS} AS l FROM documents)
        )
    )
    SELECT doc_id, source, p_keep, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY source
                ORDER BY p_keep DESC, doc_id) AS BIGINT) AS cum_tokens,
           SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY p_keep DESC, doc_id) <= 3000 AS selected
    FROM q
"""


# st07 twin: the cumulative per-epoch histogram snapshots sum-merge, so
# the monitor's final register store == the batch histogram of the whole
# table; the quantile read is all-integer rank math (ceil(total*p/q) =
# (total*p + q-1) // q), both engines exact.
ORACLE_SQL["st07_quantile_monitor"] = """
    WITH h AS (
        SELECT CAST(o_totalprice * 100 AS BIGINT) // 100000 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ),
    r AS (
        SELECT bucket,
               CAST(SUM(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
        FROM h
    ),
    qs(q_label, p, q) AS (VALUES ('p50', 1, 2), ('p90', 9, 10), ('p99', 99, 100))
    SELECT q_label,
           MAX(n_total) AS n_total,
           MIN(bucket) AS bucket,
           MIN(bucket) * 100000 AS est_lo_cents,
           (MIN(bucket) + 1) * 100000 AS est_hi_cents
    FROM qs JOIN r ON r.cum >= (r.n_total * qs.p + qs.q - 1) // qs.q
    GROUP BY q_label
"""


# st08 twin: the streaming interval join drains to exactly the batch
# interval join — every (click, same-user purchase within the preceding
# hour) pair, no more (watermark eviction only bounds STATE; with the
# fixture in one micro-batch every match is in reach), no fewer.
ORACLE_SQL["st08_stream_interval_join"] = """
    SELECT c.user_id AS user_id,
           c.event_id AS click_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.user_id = c.user_id
     AND p.ts <= c.ts
     AND p.ts >= c.ts - INTERVAL 1 HOUR
"""


def _bm25_sql(terms: tuple[str, ...] = ("merge", "vector", "stream"),
              top_n: int = 20) -> str:
    """tx26 twin: evaluates text.py::BM25_CONTRIB_EXPR VERBATIM over CTEs
    exposing the same column names (tf, df, dl, n_docs, total_dl) — one
    float parse tree, two engines. The only libm call (log2) is rounded
    to 6 decimals before use and the per-(doc,term) contribution rounds
    to DECIMAL(12,6) before the per-doc sum (order-independent)."""
    from ..operators.text import BM25_CONTRIB_EXPR

    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKS}) AS term FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS total_dl
            FROM dl
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term IN ({in_list}) GROUP BY 1, 2
        ),
        dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
                  FROM tf GROUP BY 1),
        scored AS (
            SELECT doc_id, {BM25_CONTRIB_EXPR} AS contrib
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
                 CROSS JOIN stats
        ),
        agg AS (
            SELECT doc_id, SUM(contrib) AS bm25_dec,
                   CAST(COUNT(*) AS INTEGER) AS n_terms_hit
            FROM scored GROUP BY 1
        )
        SELECT rank, doc_id, n_terms_hit, bm25 FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY bm25_dec DESC, doc_id) AS INTEGER) AS rank,
                   doc_id, n_terms_hit,
                   CAST(bm25_dec AS DOUBLE) AS bm25
            FROM agg
        ) WHERE rank <= {top_n}
    """


ORACLE_SQL["tx26_bm25_rank"] = _bm25_sql()


# st09 twin: dedup state drops the second (cross-micro-batch) copy of
# every row, so the drained stream == the distinct base rows (event_id
# is unique in the fixture, so DISTINCT == the base projection).
ORACLE_SQL["st09_stream_dedup"] = """
    SELECT event_id, ts, user_id, event_type, value FROM events
"""


def _band_plan_sql(tau: float = 0.5, n_hashes: int = 16) -> str:
    """dd16 twin: same S-curve-by-multiplication-chain + integer-ppm
    rounding over the dd04 candidate-pair jaccards (see lsh_band_plan's
    exactness contract — pow() is never used because libm results differ
    across engines; per-pair values round to integer ppm BEFORE the sum,
    so aggregation order can't matter)."""
    facts = [(b, n_hashes // b) for b in range(1, n_hashes + 1) if n_hashes % b == 0]
    agg_cols, plan_rows = [], []
    for b, r in facts:
        sr = "(" + " * ".join(["s"] * r) + ")"
        one_minus = f"(1.0 - {sr})"
        z = "(" + " * ".join([one_minus] * b) + ")"
        p = f"(1.0 - {z})"
        agg_cols.append(
            f"CAST(SUM(CASE WHEN s < {tau} THEN "
            f"CAST(round({p} * 1000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) "
            f"AS fp_{b}_{r}"
        )
        agg_cols.append(
            f"CAST(SUM(CASE WHEN s >= {tau} THEN "
            f"CAST(round((1.0 - {p}) * 1000000.0) AS BIGINT) ELSE 0 END) AS BIGINT) "
            f"AS fn_{b}_{r}"
        )
        plan_rows.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band, n_pairs, "
            f"fp_{b}_{r} AS exp_fp_ppm, fn_{b}_{r} AS exp_fn_ppm, "
            f"fp_{b}_{r} + fn_{b}_{r} AS exp_err_ppm FROM agg"
        )
    return f"""
        WITH {_MINHASH_CTE},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        ),
        pj AS (
            SELECT CAST(len(list_distinct(list_intersect(x.hs, y.hs))) AS DOUBLE)
                       / len(list_distinct(x.hs || y.hs)) AS s
            FROM cand JOIN base x ON x.doc_id = doc_a
                      JOIN base y ON y.doc_id = doc_b
        ),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       {", ".join(agg_cols)}
                FROM pj),
        plans AS ({" UNION ALL ".join(plan_rows)})
        SELECT bands, rows_per_band, n_pairs, exp_fp_ppm, exp_fn_ppm,
               exp_err_ppm,
               ROW_NUMBER() OVER (ORDER BY exp_err_ppm, bands) = 1 AS is_chosen
        FROM plans
    """


ORACLE_SQL["dd16_lsh_band_plan"] = _band_plan_sql(tau=0.95)


def _sanitize_sql() -> str:
    """tx25 twin: the SAME noise construction and the SAME sanitize
    mapping (operators/text.py::SANITIZE_SRC/DST), with the translate
    tables built from chr() calls so control characters never appear raw
    in the SQL text; DuckDB regexp_replace needs the explicit 'g' flag
    (Spark's replaces all matches by default)."""
    from ..operators.text import SANITIZE_DST, SANITIZE_SRC

    # variadic concat(), not a ||-chain: DuckDB's binder recursion cap
    # (128) rejects a 130-element nested || tree
    src = "concat(" + ", ".join(f"chr({ord(c)})" for c in SANITIZE_SRC) + ")"
    dst = "concat(" + ", ".join(f"chr({ord(c)})" for c in SANITIZE_DST) + ")"
    noisy = (
        "chr(160) || chr(65320) || 'i' || chr(8203) || ' ' || "
        "replace(text, ' the ', ' ' || chr(65364) || chr(65352) || chr(65349) || ' ') "
        "|| ' ' || chr(8212) || ' ' || chr(8220) || 'ok' || chr(8221) || chr(9)"
    )
    return f"""
        WITH noisy AS (SELECT doc_id, {noisy} AS text FROM documents),
        cleaned AS (
            SELECT doc_id, text,
                   trim(regexp_replace(
                       translate(text, {src}, {dst}),
                       '[ \t\n]+', ' ', 'g')) AS text_clean
            FROM noisy
        )
        SELECT doc_id, text_clean,
               CAST(length(text) AS BIGINT) AS n_chars_before,
               CAST(length(text_clean) AS BIGINT) AS n_chars_after,
               text_clean != text AS changed
        FROM cleaned
    """


ORACLE_SQL["tx25_unicode_sanitize"] = _sanitize_sql()


def _pq_trained_ctes(m: int = 8, k: int = 4, d: int = 8) -> str:
    """ss17 twin: RETRAIN the PQ codebooks in SQL (one Lloyd update over
    the seeded assignment — which is exactly ss07's enc), then replay the
    ss08 ADC search against the trained book. Exactness contract =
    similarity.py::pq_codebooks_trained_exact: rounded-6 flat squared
    distances with code-ASC tie-break, DECIMAL(18,9) component means cast
    to double once, empty codes keep their seed centroid."""
    codes_list = "[" + ", ".join(f"enc.code{s}" for s in range(m)) + "]"

    def cvdist(vec: str) -> str:
        # flat squared L2 between a full vector's subspace slice (slice
        # index driven by the cb row's own s) and the cb row's cv — same
        # term order as the Spark literal expressions
        return " + ".join(
            f"({vec}[c.s*{d} + {i} + 1] - c.cv[{i + 1}])"
            f" * ({vec}[c.s*{d} + {i} + 1] - c.cv[{i + 1}])"
            for i in range(d)
        )

    enc1_cols = ", ".join(
        f"MAX(CASE WHEN s = {s} THEN code END) AS code{s}" for s in range(m)
    )
    adc_joins = " ".join(
        f"JOIN cb1 c{s} ON c{s}.s = {s} AND c{s}.code = enc1.code{s}"
        for s in range(m)
    )

    def qdist(s: int) -> str:
        return " + ".join(
            f"(q.qv[{s * d + i + 1}] - c{s}.cv[{i + 1}])"
            f" * (q.qv[{s * d + i + 1}] - c{s}.cv[{i + 1}])"
            for i in range(d)
        )

    adc_sum = " + ".join(f"({qdist(s)})" for s in range(m))
    return f"""{_pq_ctes(m, k, d)},
        comp AS (
            SELECT t.s AS s, ({codes_list})[t.s + 1] AS code, u.i AS i,
                   CAST(SUM(CAST(e.v[t.s*{d} + u.i + 1] AS DECIMAL(18,9)))
                        AS DOUBLE) / COUNT(*) AS c
            FROM enc JOIN e USING (vec_id), range({m}) t(s), range({d}) u(i)
            GROUP BY 1, 2, 3
        ),
        mv AS (SELECT s, code, list(c ORDER BY i) AS cv FROM comp
               GROUP BY s, code),
        cb0 AS (
            SELECT t.s AS s, p.code,
                   p.sv[t.s*{d} + 1 : t.s*{d} + {d}] AS cv
            FROM pseeds p, range({m}) t(s)
        ),
        cb1 AS (
            SELECT cb0.s, cb0.code, COALESCE(mv.cv, cb0.cv) AS cv
            FROM cb0 LEFT JOIN mv ON mv.s = cb0.s AND mv.code = cb0.code
        ),
        pd1 AS (
            SELECT e.vec_id, c.s, c.code,
                   round({cvdist('e.v')}, 6) AS dd
            FROM e CROSS JOIN cb1 c
        ),
        sel AS (
            SELECT vec_id, s, code FROM (
                SELECT vec_id, s, code,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY dd, code) AS rn
                FROM pd1) WHERE rn = 1
        ),
        enc1 AS (SELECT vec_id, {enc1_cols} FROM sel GROUP BY vec_id),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        adc AS (
            SELECT enc1.vec_id, round({adc_sum}, 6) AS adc_dist
            FROM enc1 CROSS JOIN q {adc_joins}
            WHERE enc1.vec_id <> 0
        )"""


ORACLE_SQL["ss17_pq_trained_adc"] = f"""
    WITH {_pq_trained_ctes()}
    SELECT rank, vec_id, adc_dist FROM (
        SELECT CAST(row_number() OVER (ORDER BY adc_dist, vec_id)
                    AS INTEGER) AS rank,
               vec_id, adc_dist
        FROM adc
    ) WHERE rank <= 10
"""

# Link prediction over the gr04/gr05 support>=2 co-purchase graph:
# wedge-join candidate pairs (common neighbor = wedge center), drop
# observed edges, score with all-integer cn/jaccard_ppm + the tx15
# round-6 log2 recipe for Adamic-Adar (per-neighbor term rounded to
# DECIMAL(12,6) BEFORE the order-independent sum).
ORACLE_SQL["gr07_link_prediction"] = """
        WITH li AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
        ),
        edges AS MATERIALIZED (
            SELECT x.p AS u, y.p AS v FROM li x JOIN li y USING (o)
            WHERE x.p < y.p GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ),
        adj AS (
            SELECT u AS src, v AS dst FROM edges
            UNION ALL SELECT v, u FROM edges
        ),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d
                FROM adj GROUP BY src),
        wedges AS (
            SELECT l.dst AS u, r.dst AS v,
                   CAST(round(1 / log2(CAST(d.d AS DOUBLE)), 6)
                        AS DECIMAL(12,6)) AS aa_term
            FROM adj l JOIN adj r ON l.src = r.src AND l.dst < r.dst
            JOIN deg d ON d.src = l.src
        ),
        cna AS (
            SELECT u, v, CAST(COUNT(*) AS BIGINT) AS cn,
                   SUM(aa_term) AS aa_dec
            FROM wedges GROUP BY u, v
        ),
        non_adj AS (
            SELECT cna.* FROM cna
            LEFT JOIN edges e ON e.u = cna.u AND e.v = cna.v
            WHERE e.u IS NULL
        ),
        scored AS (
            SELECT n.u, n.v, n.cn, du.d AS deg_a, dv.d AS deg_b,
                   CAST((1000000 * n.cn) // (du.d + dv.d - n.cn)
                        AS BIGINT) AS jaccard_ppm,
                   n.aa_dec
            FROM non_adj n JOIN deg du ON du.src = n.u
                           JOIN deg dv ON dv.src = n.v
        )
        SELECT rank, node_a, node_b, cn, deg_a, deg_b, jaccard_ppm,
               adamic_adar
        FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY jaccard_ppm DESC, cn DESC, u, v)
                       AS INTEGER) AS rank,
                   u AS node_a, v AS node_b, cn, deg_a, deg_b,
                   jaccard_ppm, CAST(aa_dec AS DOUBLE) AS adamic_adar
            FROM scored
        ) WHERE rank <= 20
    """


# mm13 twin: replay the mm08 WAV encode plan (odd doc_ids; ns = 32 +
# n_chars % 101; sample k = (byte(text, k mod len) - 64) * 128; rate =
# 8000 + 4000*(doc_id % 3)) and keep every 4th sample — decimation is
# index selection, so every output is exact integer arithmetic. Same
# ASCII-guarded direct byte form as mm09/mm10 (see the guard note
# above mm09's oracle).
ORACLE_SQL["mm13_audio_decimate"] = """
    WITH w AS (
        SELECT doc_id, text, length(text) AS l,
               32 + n_chars % 101 AS ns
        FROM documents WHERE doc_id % 2 = 1
    ),
    s AS (
        SELECT doc_id, k,
               (ord(substr(text, CAST(k % l AS INTEGER) + 1, 1)) - 64) * 128
                   AS v
        FROM (
            SELECT doc_id, text, l,
                   unnest(generate_series(0, CAST(ns - 1 AS BIGINT))) AS k
            FROM w
        )
        WHERE k % 4 = 0
    )
    SELECT s.doc_id,
           CAST(8000 + 4000 * (s.doc_id % 3) AS INTEGER) AS rate_in,
           CAST((8000 + 4000 * (s.doc_id % 3)) // 4 AS INTEGER) AS rate_out,
           CAST(MAX(w.ns) AS BIGINT) AS n_in,
           CAST(COUNT(*) AS BIGINT) AS n_out,
           CAST(SUM(v) AS BIGINT) AS sum_out,
           CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq_out,
           CAST(MAX(abs(v)) AS INTEGER) AS peak_out
    FROM s JOIN w USING (doc_id)
    GROUP BY s.doc_id
"""


# sk08 twin: rebuild BOTH expression CMS tables with the sk03 md5 hash
# formula, per-row dot products, min over rows; truth is the exact join
# count. All integer (DuckDB's HUGEINT sum is intermediate only).
def _cms_join_sql(depth: int = 4, width: int = 1024) -> str:
    def cms(side: str, cnt: str) -> str:
        return f"""(
        SELECT rr.r AS r,
               ('0x' || substr(md5('r' || rr.r || '#' ||
                    CAST(v AS VARCHAR)), 1, 8))::BIGINT % {width} AS bucket,
               COUNT(*) AS {cnt}
        FROM {side} CROSS JOIN range({depth}) rr(r)
        GROUP BY 1, 2
    )"""

    return f"""
    WITH a AS (SELECT user_id AS v FROM events WHERE event_type = 'click'),
    b AS (SELECT user_id AS v FROM events WHERE event_type = 'purchase'),
    ra AS {cms('a', 'ca')},
    rb AS {cms('b', 'cb')},
    dots AS (
        SELECT ra.r, SUM(ca * cb) AS dot
        FROM ra JOIN rb ON rb.r = ra.r AND rb.bucket = ra.bucket
        GROUP BY 1
    ),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots),
    tru AS (SELECT CAST(COUNT(*) AS BIGINT) AS true_join_size
            FROM a JOIN b ON b.v = a.v)
    SELECT CAST({depth} AS INTEGER) AS depth,
           CAST({width} AS INTEGER) AS width,
           true_join_size,
           est_join_size,
           CAST((1000000 * (est_join_size - true_join_size))
                // true_join_size AS BIGINT) AS overest_ppm
    FROM est, tru
"""


ORACLE_SQL["sk08_cms_join_size"] = _cms_join_sql()


# px23 twin: the same forget rule (c_custkey % 20 = 3), direct deletes
# on customer/orders, FK cascade onto lineitem via the doomed orders'
# orderkeys; audit counts are plain integers.
ORACLE_SQL["px23_delete_propagation"] = """
    WITH forget AS (
        SELECT c_custkey AS k FROM customer WHERE c_custkey % 20 = 3
    ),
    doomed_orders AS (
        SELECT DISTINCT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT k FROM forget)
    ),
    a AS (
        SELECT 'customer' AS table_name,
               CAST(COUNT(*) AS BIGINT) AS n_before,
               CAST(SUM(CASE WHEN c_custkey IN (SELECT k FROM forget)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
        FROM customer
        UNION ALL
        SELECT 'orders',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN o_custkey IN (SELECT k FROM forget)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(CASE WHEN l_orderkey IN
                                  (SELECT o_orderkey FROM doomed_orders)
                             THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem
    )
    SELECT table_name, n_before, n_deleted,
           CAST(n_before - n_deleted AS BIGINT) AS n_retained
    FROM a ORDER BY table_name
"""


# dq07 twin: the same per-candidate groupBy(lhs)/countDistinct(rhs)
# census, all integer.
def _fd_case(name: str, table: str, lhs: str, rhs: str) -> str:
    return f"""
        SELECT '{name}' AS table_name, '{lhs}' AS lhs, '{rhs}' AS rhs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_lhs,
               CAST(SUM(n_rhs) AS BIGINT) AS n_distinct_pairs,
               CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating_lhs,
               CAST((1000000 * SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END))
                    // COUNT(*) AS BIGINT) AS violation_ppm,
               SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
        FROM (
            SELECT {lhs}, COUNT(DISTINCT {rhs}) AS n_rhs FROM {table}
            WHERE {lhs} IS NOT NULL AND {rhs} IS NOT NULL GROUP BY {lhs}
        )"""


ORACLE_SQL["dq07_fd_profile"] = (
    " UNION ALL ".join(
        _fd_case(*s)
        for s in [
            ("orders", "orders", "o_orderkey", "o_custkey"),
            ("orders", "orders", "o_custkey", "o_orderpriority"),
            ("nation", "nation", "n_nationkey", "n_regionkey"),
            ("lineitem", "lineitem", "l_orderkey", "l_suppkey"),
            ("lineitem", "lineitem", "l_partkey", "l_suppkey"),
        ]
    )
    + " ORDER BY table_name, lhs, rhs"
)


# st10 twin: the drained leaderboard == the batch top-3 per event_type
# (value DESC, event_id ASC tie-break) — the applyInPandasWithState fold
# must reproduce the plain windowed rank exactly.
ORACLE_SQL["st10_stream_topk"] = """
    SELECT event_type, CAST(rank AS INTEGER) AS rank, value, event_id
    FROM (
        SELECT event_type,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value DESC, event_id) AS rank,
               value, event_id
        FROM events
    ) WHERE rank <= 3
"""


# tx27 twin: the same integer cross-multiplied rule battery; list HOFs
# mirror Spark's array expressions, replace() counts are identical
# non-overlapping semantics in both engines.
def _gopher_sql(min_stops: int = 1) -> str:
    from ..operators.text import GOPHER_STOPS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return f"""
        WITH t AS (
            SELECT doc_id, text, {_TOKS} AS l,
                   string_split(text, chr(10)) AS lines
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   CAST(len(l) AS BIGINT) AS n_words,
                   CAST(list_sum(list_transform(l, x -> length(x)))
                        AS BIGINT) AS sum_chars,
                   CAST(length(text) - length(replace(text, '#', ''))
                        + (length(text) - length(replace(text, '...', ''))) // 3
                        AS BIGINT) AS n_sym,
                   CAST(len(list_filter(l, x -> regexp_matches(x, '[A-Za-z]')))
                        AS BIGINT) AS n_alpha,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(len(list_filter(lines,
                        x -> ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%'))
                        AS BIGINT) AS n_bullet,
                   CAST(len(list_filter(lines, x -> rtrim(x) LIKE '%...'))
                        AS BIGINT) AS n_ell_lines,
                   CAST(len(list_intersect(
                        list_distinct(list_transform(l, x -> lower(x))),
                        [{stops}])) AS BIGINT) AS n_stops
            FROM t
        )
        SELECT doc_id, n_words,
               50 <= n_words AND n_words <= 100000 AS word_count_ok,
               3 * n_words <= sum_chars AND sum_chars <= 10 * n_words
                   AS mean_len_ok,
               10 * n_sym <= n_words AS symbol_ok,
               5 * n_alpha >= 4 * n_words AS alpha_ok,
               10 * n_bullet < 9 * n_lines AS bullet_ok,
               10 * n_ell_lines < 3 * n_lines AS ellipsis_ok,
               n_stops >= {min_stops} AS stopword_ok,
               (50 <= n_words AND n_words <= 100000)
               AND (3 * n_words <= sum_chars AND sum_chars <= 10 * n_words)
               AND (10 * n_sym <= n_words)
               AND (5 * n_alpha >= 4 * n_words)
               AND (10 * n_bullet < 9 * n_lines)
               AND (10 * n_ell_lines < 3 * n_lines)
               AND (n_stops >= {min_stops}) AS passed
        FROM m
    """


ORACLE_SQL["tx27_gopher_rules"] = _gopher_sql()


# dd17 twin: the same prefix-clone corpus construction, the identical
# minhash/band pipeline over it (source-parameterized _minhash_sql), and
# the all-integer containment scoring.
def _containment_sql() -> str:
    _, cte = _minhash_sql(source="corpus")
    return f"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 200000,
                   substr(text, 1, 1 + (7 * length(text)) // 10)
            FROM documents WHERE doc_id % 3 = 0
        ),
        {cte},
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.doc_id < b.doc_id
             AND (a.band0 = b.band0 OR a.band1 = b.band1
                  OR a.band2 = b.band2 OR a.band3 = b.band3)
        ),
        sized AS (
            SELECT doc_a, doc_b,
                   CAST(len(x.hs) AS BIGINT) AS n_a,
                   CAST(len(y.hs) AS BIGINT) AS n_b,
                   CAST(len(list_distinct(list_intersect(x.hs, y.hs)))
                        AS BIGINT) AS n_common
            FROM cand JOIN base x ON x.doc_id = doc_a
                      JOIN base y ON y.doc_id = doc_b
        ),
        scored AS (
            SELECT doc_a, doc_b, n_a, n_b, n_common,
                   CAST((1000000 * n_common) // n_a AS BIGINT) AS cont_a_ppm,
                   CAST((1000000 * n_common) // n_b AS BIGINT) AS cont_b_ppm,
                   CAST((1000000 * n_common) // (n_a + n_b - n_common)
                        AS BIGINT) AS jaccard_ppm
            FROM sized
        )
        SELECT *,
               greatest(cont_a_ppm, cont_b_ppm) >= 900000
               AND jaccard_ppm < 700000 AS subset_dup
        FROM scored
        WHERE greatest(cont_a_ppm, cont_b_ppm) >= 500000
    """


ORACLE_SQL["dd17_containment_pairs"] = _containment_sql()


# st11 twin: the drained funnel emissions == the batch per-stage first
# completion times under q80's strict-order rule (stage N's time is the
# min ts of qualifying events strictly after stage N-1's time).
ORACLE_SQL["st11_stream_funnel"] = """
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND ts > t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND ts > t2
        GROUP BY e.user_id
    )
    SELECT user_id, CAST(1 AS INTEGER) AS stage, t1 AS ts FROM s1
    UNION ALL
    SELECT user_id, CAST(2 AS INTEGER), t2 FROM s2
    UNION ALL
    SELECT user_id, CAST(3 AS INTEGER), t3 FROM s3
"""


# ss18 twin: EXACTLY ss04's seeded-cell probe pipeline with the label
# predicate added to the candidate clause (pre-filter semantics — the
# filter applies before the top-k, not after). Derived from ss04's SQL
# so the two contracts cannot drift.
_SS18_SQL = ORACLE_SQL["ss04_ivf_topk"].replace(
    "WHERE a.cell IN (SELECT cell FROM probe) AND e.vec_id <> 0",
    "WHERE a.cell IN (SELECT cell FROM probe) AND e.vec_id <> 0"
    " AND e.label = 2",
)
assert "AND e.label = 2" in _SS18_SQL
ORACLE_SQL["ss18_filtered_topk"] = _SS18_SQL


# gr08 twin: chained-CTE unroll of the personalized fixed-point
# iteration (the gr03 oracle pattern with the teleport term conditional
# on the seed — the lowest node id, recomputed in SQL). All BIGINT.
def _ppr_sql(n_iter: int = 3, scale: int = 10**12, num: int = 85,
             den: int = 100, top_n: int = 20) -> str:
    base_seed = ((den - num) * scale) // den
    ctes = [
        "li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "e AS MATERIALIZED (SELECT x.p AS u, y.p AS v FROM li x"
        " JOIN li y USING (o) WHERE x.p < y.p"
        " GROUP BY 1, 2 HAVING COUNT(*) >= 2)",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e"
        " UNION ALL SELECT v, u FROM e)",
        "nodes AS (SELECT DISTINCT src AS node FROM sym)",
        "sd AS (SELECT MIN(node) AS seed FROM nodes)",
        "deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS od"
        " FROM sym GROUP BY src)",
        f"r0 AS (SELECT node, CAST(CASE WHEN node = seed THEN {scale}"
        f" ELSE 0 END AS BIGINT) AS r FROM nodes, sd)",
    ]
    for i in range(1, n_iter + 1):
        p = i - 1
        ctes.append(
            f"c{i} AS (SELECT s.dst AS node, SUM(r // od) AS c"
            f" FROM sym s JOIN deg d ON d.node = s.src"
            f" JOIN r{p} ON r{p}.node = s.src GROUP BY s.dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node,"
            f" CAST(CASE WHEN nodes.node = sd.seed THEN {base_seed}"
            f" ELSE 0 END + ({num} * COALESCE(c, 0)) // {den} AS BIGINT)"
            f" AS r FROM nodes CROSS JOIN sd"
            f" LEFT JOIN c{i} ON c{i}.node = nodes.node)"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT rank, node, rank_fp FROM (
        SELECT CAST(row_number() OVER (ORDER BY r DESC, node)
                    AS INTEGER) AS rank,
               node, r AS rank_fp
        FROM r{n_iter}
    ) WHERE rank <= {top_n}
    """
    )


ORACLE_SQL["gr08_personalized_pagerank"] = _ppr_sql()


# st12 twin: q17's lag + running-sum sessions, MINUS each user's final
# (still-open) session — the emission set of the streaming sessionizer.
ORACLE_SQL["st12_stream_sessionize"] = """
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_idx
        FROM flagged
    ),
    grouped AS (
        SELECT user_id, session_idx,
               COUNT(*) AS n_events,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_idx
    )
    SELECT user_id, session_idx, n_events, session_start, session_end
    FROM grouped g
    WHERE session_idx < (SELECT MAX(session_idx) FROM grouped m
                         WHERE m.user_id = g.user_id)
"""


# mm14 twin: replay the video encode plan — K = 2 + n_chars%5 frames of
# w = 3 + n_chars%5 by h = 2 + n_chars%3 pixels; sampled frame j (of 2)
# is src = (j*K)//2; frame f's pixel k = text byte (k+f) mod len with
# the mm08 channel rule (r=b, g=255-b, b=(7b)%256). Same ASCII-guarded
# byte form as mm09/mm10.
ORACLE_SQL["mm14_video_frame_sample"] = """
    WITH w AS (
        SELECT doc_id, text, length(text) AS l,
               2 + n_chars % 5 AS kf,
               3 + n_chars % 5 AS wid,
               2 + n_chars % 3 AS hei
        FROM documents
    ),
    samp AS (
        SELECT doc_id, text, l, kf, wid, hei, j,
               CAST((j * kf) // 2 AS INTEGER) AS f
        FROM w CROSS JOIN (SELECT unnest([0, 1]) AS j)
    ),
    px AS (
        SELECT doc_id, j, f, kf, wid, hei,
               ord(substr(text,
                   CAST((k + f) % l AS INTEGER) + 1, 1)) AS b
        FROM (
            SELECT *, unnest(generate_series(0,
                       CAST(wid * hei - 1 AS BIGINT))) AS k
            FROM samp
        )
    )
    SELECT doc_id,
           CAST(j AS INTEGER) AS sample_idx,
           CAST(f AS INTEGER) AS src_frame,
           CAST(kf AS INTEGER) AS n_frames,
           CAST(wid AS INTEGER) AS width,
           CAST(hei AS INTEGER) AS height,
           CAST(SUM(b) AS BIGINT) AS sum_r,
           CAST(SUM(255 - b) AS BIGINT) AS sum_g,
           CAST(SUM((b * 7) % 256) AS BIGINT) AS sum_b,
           CAST(wid * hei AS INTEGER) AS n_px
    FROM px
    GROUP BY doc_id, j, f, kf, wid, hei
"""


# st13 twin: SHARES q93's oracle verbatim — one micro-batch in
# (ts, event_id) order makes the streaming monitor's emission set
# exactly the batch rolling-window anomaly set (the cdc_stream_emp_state
# convention: streaming and batch must agree bit-for-bit).
ORACLE_SQL["st13_stream_zscore"] = ORACLE_SQL["q93_rolling_zscore"]


# tx28 twin: tx23's hashed aggregate + df via the same feature-keyed
# count + the round-6 log2 idf; per-row floats only, never summed.
ORACLE_SQL["tx28_hashed_tfidf"] = f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ),
    f AS (
        SELECT doc_id,
               CAST({_H32.format(x='tok')} % 1024 AS INTEGER) AS feature_id,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM t GROUP BY doc_id, feature_id
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM f),
    d AS (SELECT feature_id, CAST(COUNT(*) AS BIGINT) AS df
          FROM f GROUP BY feature_id)
    SELECT f.doc_id, f.feature_id, f.tf, d.df,
           CAST(round(CAST(tf AS DOUBLE)
                * round(log2(1 + CAST(n_docs AS DOUBLE)
                / CAST(df AS DOUBLE)), 6), 6) AS DOUBLE) AS tfidf
    FROM f JOIN d USING (feature_id) CROSS JOIN nd
"""


# q97 twin: the rolling distinct count replayed as a range self-join +
# COUNT(DISTINCT) — correct at oracle scale; the engine's plan is ONE
# window pass (size of collect_set over a RANGE frame). Both engines
# floor microsecond timestamps to epoch seconds (epoch_us // 1000000 ==
# Spark's cast-to-long truncation for positive epochs).
ORACLE_SQL["q97_rolling_distinct"] = """
    WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts) // 1000000 AS ts_sec
        FROM events
    )
    SELECT a.event_id, a.user_id, a.ts_sec,
           CAST(COUNT(DISTINCT b.event_type) AS INTEGER) AS n_types_7d
    FROM e a JOIN e b
      ON b.user_id = a.user_id
     AND b.ts_sec BETWEEN a.ts_sec - 604800 AND a.ts_sec
    GROUP BY a.event_id, a.user_id, a.ts_sec
"""


# sk09 twin: the AMS count-sketch replayed — md5-derived buckets AND
# ±1 signs, per-row Σc², lower median over rows (sorted by (dot, row)),
# exact groupBy Σf² truth. All integer.
ORACLE_SQL["sk09_cms_self_join_size"] = """
    WITH t AS (SELECT l_orderkey AS v FROM lineitem),
    r AS (
        SELECT rr.r AS r,
               ('0x' || substr(md5('r' || rr.r || '#' ||
                    CAST(v AS VARCHAR)), 1, 8))::BIGINT % 1024 AS bucket,
               SUM(CASE WHEN ('0x' || substr(md5('s' || rr.r || '#' ||
                    CAST(v AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                    THEN 1 ELSE -1 END) AS c
        FROM t CROSS JOIN range(4) rr(r)
        GROUP BY 1, 2
    ),
    dots AS (SELECT r.r, SUM(c * c) AS dot FROM r GROUP BY r.r),
    med AS (
        SELECT CAST(dot AS BIGINT) AS est_f2 FROM (
            SELECT dot, row_number() OVER (ORDER BY dot, r) AS rn FROM dots
        ) WHERE rn = 2
    ),
    tru AS (
        SELECT CAST(SUM(f * f) AS BIGINT) AS true_f2
        FROM (SELECT COUNT(*) AS f FROM t GROUP BY v)
    )
    SELECT CAST(4 AS INTEGER) AS depth,
           CAST(1024 AS INTEGER) AS width,
           true_f2,
           est_f2,
           CAST((1000000 * (est_f2 - true_f2)) // true_f2 AS BIGINT)
               AS err_ppm
    FROM med, tru
"""


# ss19 twin: ss18's filtered probe pipeline with the SELECTIVITY-SCALED
# probe width (VERDICT r11 #3b) — a sel CTE recomputes the exact integer
# rule np = LEAST(n_cells, ceil(base_nprobe * total / qualifying)) =
# (1 * COUNT(*) + q - 1) // q over the same table, and the probe rank
# cutoff reads it as a scalar subquery. Derived from ss04's SQL like
# ss18, so the three contracts cannot drift.
_SS19_SQL = ORACLE_SQL["ss04_ivf_topk"].replace(
    "seeds AS (",
    # NULLIF mirrors filtered_nprobe's qualifying<=0 edge (ADVICE r12):
    # zero qualifying rows must resolve to the FULL probe (np=16 — the
    # label filter then yields the same empty result as the engine), not
    # a division-by-zero error. DuckDB's LEAST skips NULL operands, so
    # the COALESCE is belt-and-braces for the all-NULL case.
    "sel AS (\n"
    "            SELECT COALESCE(LEAST(16, (1 * COUNT(*)\n"
    "                + NULLIF(SUM(CASE WHEN label = 2 THEN 1 ELSE 0 END),"
    " 0) - 1)\n"
    "                // NULLIF(SUM(CASE WHEN label = 2 THEN 1 ELSE 0 END),"
    " 0)), 16) AS np\n"
    "            FROM e\n"
    "        ),\n"
    "        seeds AS (",
).replace(
    "WHERE rn <= 4",
    "WHERE rn <= (SELECT np FROM sel)",
).replace(
    "WHERE a.cell IN (SELECT cell FROM probe) AND e.vec_id <> 0",
    "WHERE a.cell IN (SELECT cell FROM probe) AND e.vec_id <> 0"
    " AND e.label = 2",
)
assert "(SELECT np FROM sel)" in _SS19_SQL and "AND e.label = 2" in _SS19_SQL
ORACLE_SQL["ss19_filtered_scaled_topk"] = _SS19_SQL


# tx29 twin: BM25 over the MATERIALIZED postings index must reproduce the
# inline tx26 ranking bit-for-bit (same tf/dl/df integers, same shared
# contribution expression, sidecar n_docs/total_dl are the same exact
# integers) — so the oracle IS tx26's, verbatim.
ORACLE_SQL["tx29_bm25_postings"] = ORACLE_SQL["tx26_bm25_rank"]


# ss20 twin: the MATERIALIZED (cell,label)-partitioned index must drive
# ss19's exact search contract — same seeded probe set (evaluated through
# the same engine expression), same pre-filter, parquet-exact embeddings
# — so the oracle IS ss19's, verbatim.
ORACLE_SQL["ss20_filtered_index_topk"] = ORACLE_SQL["ss19_filtered_scaled_topk"]


# ss21 twin: RRF fusion of the tx26 BM25 top-50 (the _bm25_sql pipeline
# re-parameterized) with the ss01 dense cosine top-50 — the reciprocal
# is INTEGER (10^9 // (60+rank)) on both sides, so fusion order is
# bit-identical across engines.
def _rrf_sql(k_rrf: int = 60, side_n: int = 50, top_n: int = 20) -> str:
    lex_ranked = _bm25_sql(top_n=side_n)
    return f"""
        WITH lex AS (
            SELECT doc_id, rank AS lex_rank FROM ({lex_ranked})
        ),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        dense AS (
            SELECT doc_id, rank AS dense_rank FROM (
                SELECT vec_id AS doc_id,
                       CAST(row_number() OVER (
                           ORDER BY round(list_cosine_similarity(v, qv), 6)
                                    DESC, vec_id) AS INTEGER) AS rank
                FROM e, q WHERE vec_id <> 0
            ) WHERE rank <= {side_n}
        ),
        fused AS (
            SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   l.lex_rank, d.dense_rank,
                   CAST(
                     (CASE WHEN l.lex_rank IS NULL THEN 0
                           ELSE 1000000000 // ({k_rrf} + l.lex_rank) END)
                   + (CASE WHEN d.dense_rank IS NULL THEN 0
                           ELSE 1000000000 // ({k_rrf} + d.dense_rank) END)
                   AS BIGINT) AS rrf_ppb
            FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
        )
        SELECT rank, doc_id, rrf_ppb, lex_rank, dense_rank FROM (
            SELECT CAST(row_number() OVER (
                       ORDER BY rrf_ppb DESC, doc_id) AS INTEGER) AS rank,
                   doc_id, rrf_ppb, lex_rank, dense_rank
            FROM fused
        ) WHERE rank <= {top_n}
    """


ORACLE_SQL["ss21_hybrid_rrf"] = _rrf_sql()


# cdc_kafka_emp_state twin: the kafka-shaped source must produce the
# exact batch-replay state (partition interleaving and all), so the
# oracle IS cdc_emp_state's, verbatim.
ORACLE_SQL["cdc_kafka_emp_state"] = ORACLE_SQL["cdc_emp_state"]


# ss22 twin: the hybrid RRF ranking served from the MATERIALIZED BM25
# postings index + seeded IVF index must reproduce ss21's inline fused
# ranking bit-for-bit (bm25_index_topk == bm25_rank is tx29's proven
# contract; the full-probe index read round-trips embeddings exactly),
# so the oracle IS ss21's, verbatim.
ORACLE_SQL["ss22_hybrid_index_rrf"] = ORACLE_SQL["ss21_hybrid_rrf"]


# ss23 twin: the hybrid RRF ranking served from INCREMENTALLY-MAINTAINED
# indexes (append_bm25_index + upsert_ivf_index, half the corpus added
# after the build) must reproduce ss21's inline fused ranking
# bit-for-bit — BM25 corpus stats are pure sums and the dense side is a
# full index read, so maintenance changes the physical layout only. The
# oracle IS ss21's, verbatim.
ORACLE_SQL["ss23_incremental_index_rrf"] = ORACLE_SQL["ss21_hybrid_rrf"]


# dd18: catalog entity resolution — the oracle replays the multi-pass
# blocking (same p_type, shared first-OR-last name token, |Δp_size|<=1 —
# the OR form is set-equal to the engine's pigeonhole slot join), exact
# Levenshtein verify, and the integer Fellegi-Sunter agreement weights.
# Cents go through DECIMAL(12,2) on both sides so the price comparison
# is exact-integer (the functions/exact.py discipline).
ORACLE_SQL["dd18_record_linkage"] = """
    WITH p AS (
        SELECT p_partkey, p_name, p_brand, p_type, p_size,
               split_part(p_name, ' ', 1) AS tok1,
               split_part(p_name, ' ', -1) AS tok2,
               CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents
        FROM part
    ),
    cand AS (
        SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INTEGER)
                   AS edit_dist,
               CAST(abs(a.p_size - b.p_size) AS INTEGER) AS size_diff,
               CAST(CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END
                    AS INTEGER) AS same_brand,
               abs(a.cents - b.cents) AS price_diff_cents
        FROM p a JOIN p b
          ON a.p_type = b.p_type
         AND abs(a.p_size - b.p_size) <= 1
         AND (a.tok1 = b.tok1 OR a.tok2 = b.tok2)
         AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    ),
    scored AS (
        SELECT *,
               CAST((CASE WHEN edit_dist <= 1 THEN 40
                          WHEN edit_dist <= 2 THEN 30 ELSE 15 END)
                  + (CASE WHEN size_diff = 0 THEN 20 ELSE 8 END)
                  + (same_brand * 25)
                  + (CASE WHEN price_diff_cents <= 50 THEN 15 ELSE 0 END)
                  AS INTEGER) AS match_score
        FROM cand
    )
    SELECT part_a, part_b, edit_dist, size_diff, same_brand,
           price_diff_cents, match_score,
           CAST(CASE WHEN match_score >= 60 THEN 1 ELSE 0 END AS INTEGER)
               AS is_match
    FROM scored
"""


# st14 twin: the BM25 index maintained LIVE from a two-batch stream
# (build + appended epoch) must serve tx26's inline ranking bit-for-bit
# — append ≡ one-shot build (pure-sum corpus stats) composed with
# bm25_index_topk ≡ bm25_rank (tx29). The oracle IS tx26's, verbatim.
ORACLE_SQL["st14_stream_index_sync"] = ORACLE_SQL["tx26_bm25_rank"]

# st15 twin: the IVF index maintained LIVE from a two-batch stream
# (build + upserted epoch) serves brute-force cosine top-10 bit-for-bit
# under a FULL-probe read — committed epochs cover exactly the drained
# corpus, parquet round-trips floats bit-exactly, and (approximate,
# numpy) cell assignment only picks each row's FILE, which a full scan
# reads anyway. The oracle IS ss01's, verbatim.
ORACLE_SQL["st15_stream_ivf_sync"] = ORACLE_SQL["ss01_knn_cosine"]

# px24: embedding-based eval-set decontamination — dd05's seed-cell
# blocking mirror (32 lowest-vec_id seeds, rounded-6 cosine, tie cell
# ASC) with nprobe=8 (recall-first, see cross_set_decontaminate),
# cross-set candidates (train = vec_id % 17 <> 0, eval = the rest
# sharing >= 1 probe cell), exact rounded cosine >= 0.35, then the
# closest offending eval vector per contaminated train vector
# (cos DESC, eval_id ASC).
ORACLE_SQL["px24_embedding_decontam"] = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS sv
        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 32)
    ),
    assigned AS (
        SELECT vec_id, cell FROM (
            SELECT e.vec_id, s.cell,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, s.sv), 6) DESC,
                                s.cell
                   ) AS rn
            FROM e CROSS JOIN seeds s
        ) WHERE rn <= 8
    ),
    cand AS (
        SELECT DISTINCT t.vec_id AS t_id, ev.vec_id AS eval_id
        FROM assigned t JOIN assigned ev ON t.cell = ev.cell
        WHERE t.vec_id % 17 <> 0 AND ev.vec_id % 17 = 0
    ),
    hits AS (
        SELECT t_id, eval_id,
               round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
        FROM cand JOIN e x ON x.vec_id = cand.t_id
                  JOIN e y ON y.vec_id = cand.eval_id
        WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.35
    )
    SELECT t_id AS vec_id, eval_id, cos_sim FROM (
        SELECT t_id, eval_id, cos_sim,
               row_number() OVER (
                   PARTITION BY t_id ORDER BY cos_sim DESC, eval_id
               ) AS rn
        FROM hits
    ) WHERE rn = 1
"""

# dq08: embedding-space drift — per-(label, dim) centroid movement
# between the even/odd vec_id slices. The ss02 exactness recipe per
# slice (exact DECIMAL(18,9) sums, ONE double division), one IEEE
# subtraction for the drift — no rounding anywhere, so the doubles
# hash-match bit-for-bit.
ORACLE_SQL["dq08_embedding_drift"] = """
    WITH ex AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    cents AS (
        SELECT (vec_id % 2) AS slice, label, CAST(pos AS INTEGER) AS pos,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(v[pos + 1] AS DECIMAL(18,9))) AS DOUBLE)
                   / COUNT(*) AS c
        FROM ex, range(8) t(pos)
        GROUP BY slice, label, pos
    )
    SELECT b.label, b.pos,
           b.n AS n_baseline, c.n AS n_current,
           b.c AS base_centroid, c.c AS cur_centroid,
           abs(b.c - c.c) AS drift
    FROM cents b JOIN cents c
      ON b.label = c.label AND b.pos = c.pos
    WHERE b.slice = 0 AND c.slice = 1
    ORDER BY b.label, b.pos
"""

# tx30: BM25 over an index that tombstone-deleted doc_id % 7 == 3 —
# delete-equals-rebuild means the oracle is tx26's ranking computed
# over the SURVIVING corpus: the same SQL with the deletion predicate
# applied to both corpus CTEs (stats and df shrink exactly as the
# probe's net sidecar + post-anti-join recount do).
ORACLE_SQL["tx30_bm25_forget"] = ORACLE_SQL["tx26_bm25_rank"].replace(
    "FROM documents", "FROM documents WHERE doc_id % 7 <> 3"
)

# ss24: full-width probe of an IVF index that tombstone-deleted
# vec_id % 7 == 3 — brute-force cosine top-10 over the survivors
# (ss01's SQL with the deletion predicate; vec 0 — the query vector —
# survives 0 % 7 <> 3).
ORACLE_SQL["ss24_ivf_forget"] = """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings WHERE vec_id % 7 <> 3),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, label, round(list_cosine_similarity(v, qv), 6) AS cos_sim
    FROM e, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
"""

# px25: the ingest gate after REVOKING batch-1's accepted docs with
# doc_id % 5 == 0 — px06's two-phase recomputation with the revocation
# predicate applied to the accepted-history CTE (acc1): batch-2 keepers
# are screened against the reduced history only
# (revoke-equals-never-stored).
ORACLE_SQL["px25_gate_revoke"] = ORACLE_SQL["px06_incremental_ingest"].replace(
    "JOIN half h ON h.doc_id = k.doc_id AND h.h = 1",
    "JOIN half h ON h.doc_id = k.doc_id AND h.h = 1\n"
    "            WHERE k.doc_id % 5 <> 0",
)
