"""OGG change-record transforms (the reference's per-record Scala closure,
rebuilt as declarative column expressions).

Reference behavior being re-expressed (file:line in /root/reference/):

- S8  JSON parse + field extraction      KuduManager.scala:50-64
- S9  null-table / missing-ID drop       KuduManager.scala:58-61 (+ NPE at :55)
- S10 malformed-JSON drop                KuduManager.scala:117-122
- S11 table-name normalize               KuduManager.scala:66,70
- S12 current_ts T→space                 KuduManager.scala:147
- S13 upper-case payload key lookup      KuduManager.scala:84
- S15 op-type dispatch / soft delete     KuduManager.scala:76-111
- S16 schema-driven payload casts        KuduManager.scala:82-110
- S17 missing-column skip                KuduManager.scala:87
- S19 pub_event derivation               KuduManager.scala:134-158

Everything here is a pure DataFrame transform — Catalyst prunes unused
payload keys, pushes the validity filter to the parse, and the fold is a
single hash aggregation (map-side partial) instead of the reference's
client-per-record loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import DELETE_STATE, TIME_STAMP, TargetTable

# Envelope schema (SURVEY.md §1.2). ``after`` as map<string,string> is the
# faithful model: the reference reads every payload value as an untyped JSON
# member and stringifies before casting — the *target* schema decides types.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), True),
        T.StructField("op_type", T.StringType(), True),
        T.StructField("current_ts", T.StringType(), True),
        T.StructField("pos", T.LongType(), True),  # arrival seq (Kafka offset analog)
        T.StructField("after", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def parse_ogg(df: DataFrame, value_col: str = "value", seq_col: Column | None = None) -> DataFrame:
    """Parse raw JSON strings into the envelope.

    PERMISSIVE parse: malformed JSON → null struct (reference: swallowed
    JSONException, S10). ``seq`` is the arrival order used to break
    current_ts ties — the Kafka offset in streaming, the fixture's ``pos``
    in batch (falls back to it when no seq_col given).
    """
    parsed = df.withColumn("_env", F.from_json(F.col(value_col), ENVELOPE_SCHEMA))
    out = parsed.select(
        F.col(value_col).alias("_raw"),
        F.col("_env.table").alias("table"),
        F.col("_env.op_type").alias("op_type"),
        F.col("_env.current_ts").alias("current_ts"),
        F.col("_env.after").alias("after"),
        (seq_col if seq_col is not None else F.col("_env.pos")).alias("seq"),
    )
    return out


def table_name() -> Column:
    """``"SCHEMA.TAB"`` → ``tab`` (S11), the name a record is routed by."""
    return F.lower(F.element_at(F.split("table", "\\."), 2))


def is_valid(catalog: dict[str, TargetTable] | None = None) -> Column:
    """Validity predicate: drop null-table control rows (S9), records whose
    ``after``/``after.ID`` is missing (reference NPE at KuduManager.scala:55),
    unparseable lines (null envelope), and table names without a
    ``SCHEMA.TAB`` qualifier — the reference's ``split("\\\\.")(1)`` throws
    on those (KuduManager.scala:66), and downstream they would produce a
    NULL tab_name, violating the merge path's non-null-key contract for
    pub_event (merge_upserts joins with plain ``==``).

    Given ``catalog``, so is an ID that does not cast to its table's key
    type (``bad_key``): ``typed_key``'s ANSI cast would fail the whole
    batch, on every replay. A string-keyed table adds no expression."""
    ok = (
        F.col("table").isNotNull()
        & (F.size(F.split("table", "\\.")) >= 2)
        & F.col("after").isNotNull()
        & F.col("after").getItem("ID").isNotNull()
    )
    for name, target in (catalog or {}).items():
        ktype = _key_type(target)
        if ktype != T.StringType():
            bad = F.col("after").getItem("ID").try_cast(ktype).isNull()
            ok = ok & ~((table_name() == name) & bad)
    return ok


def split_valid(
    df: DataFrame, catalog: dict[str, TargetTable] | None = None
) -> tuple[DataFrame, DataFrame]:
    """(valid, dead-letter). Reference semantics: bad input is dropped with
    a log line, never fatal (KuduManager.scala:117-122)."""
    return df.filter(is_valid(catalog)), df.filter(~is_valid(catalog))


def normalize(df: DataFrame) -> DataFrame:
    """Name/ts normalization (S11-S12): ``"SCHEMA.TAB"`` → ``tab`` and
    ISO ``T`` separator → space; extract the PK."""
    return df.select(
        table_name().alias("tab_name"),
        F.col("after").getItem("ID").alias("id"),
        "op_type",
        "current_ts",
        F.replace("current_ts", F.lit("T"), F.lit(" ")).alias("current_ts_norm"),
        "after",
        "seq",
    )


def _sort_key() -> Column:
    """Total order for last-write-wins: current_ts (fixed-width ISO strings →
    lexicographic == chronological) then arrival seq, as a STRUCT compared
    field-by-field. The DuckDB oracle keys its arg_max on the equivalent
    ``current_ts || '#' || lpad(pos, 20, '0')`` string; under the fixture's
    fixed-width timestamps both give the identical total order, and the
    struct avoids building a concat+lpad string per column per row in the
    fold's hot loop (~30% of fold CPU at 200k rec)."""
    return F.struct(F.col("current_ts").alias("t"), F.col("seq").alias("s"))


def _last_nonnull(value: Column, order: Column) -> Column:
    """Value at the max order among rows where value is non-null — one
    hash-agg expression (max_by with the order key nulled when the value is
    null; max_by ignores null keys), no window sort."""
    return F.max_by(value, F.when(value.isNotNull(), order))


def typed_key(target: TargetTable) -> Column:
    """The normalized record's raw string ``id`` cast to the catalog's key
    type — the key the fold groups on, so an int-keyed table folds '007'
    and '7' into ONE row for key 7, and the key cdc.affected_buckets
    hashes, so its bucket set is the folded batch's. SCD2 history chains
    its versions on it too."""
    return F.col("id").cast(_key_type(target))


def _key_type(target: TargetTable) -> T.DataType:
    return next(f.dataType for f in target.payload.fields if f.name == target.key)


def fold_table_changes(df: DataFrame, target: TargetTable) -> DataFrame:
    """Fold one table's change records to one row per key — the set-oriented
    equivalent of replaying the reference's per-record upserts in order:

    - payload column := last non-null value across non-delete records
      (D writes no payload, KuduManager.scala:76-78; absent/null keys skip —
      partial update, :87)
    - delete_state := '1' iff the LAST record for the key is a delete
      (a later U resurrects with '0', :76-80)
    - current_ts := max (used for pub_event)

    Input: normalized changes already filtered to ``target.name``.
    Output: one row per catalog-typed ``id`` (``typed_key``) with STRING
    payload columns (cast separately).
    """
    order = _sort_key()
    aggs: list[Column] = []
    for f in target.payload.fields:
        if f.name == target.key:
            continue
        val = F.when(F.col("op_type") != "D", F.col("after").getItem(f.name.upper()))
        aggs.append(_last_nonnull(val, order).alias(f.name))
    last_op = F.max_by(F.col("op_type"), order)
    aggs.append(F.when(last_op == "D", F.lit("1")).otherwise(F.lit("0")).alias(DELETE_STATE))
    aggs.append(F.max("current_ts").alias("current_ts"))
    aggs.append(F.max("current_ts_norm").alias("current_ts_norm"))
    return df.groupBy(typed_key(target).alias("id")).agg(*aggs)


def cast_payload(df: DataFrame, target: TargetTable) -> DataFrame:
    """Cast folded string payload to the catalog's types (S16). ``try_cast``
    nulls un-castable strings instead of failing the task — the reference
    would crash on a bad numeric (uncaught NumberFormatException from
    ``.toInt``, KuduManager.scala:107); graceful null is the intended
    behavior and fixes the documented lossy-cast bug for INT64/timestamps."""
    cols: list[Column] = []
    for f in target.payload.fields:
        if f.name == target.key:  # typed by the fold already
            cols.append(F.col("id").alias(f.name))
        else:
            cols.append(F.col(f.name).try_cast(f.dataType).alias(f.name))
    cols.append(F.col(DELETE_STATE))
    return df.select(*cols)


def with_time_stamp(df: DataFrame, now_str: str | None = None) -> DataFrame:
    """Processing-time audit column (S14), 'yyyy-MM-dd HH:mm:ss'. A fixed
    ``now_str`` keeps golden tests deterministic."""
    ts = F.lit(now_str) if now_str else F.date_format(F.current_timestamp(), "yyyy-MM-dd HH:mm:ss")
    return df.withColumn(TIME_STAMP, ts)


def derive_pub_event(valid_normalized: DataFrame, now_str: str | None = None) -> DataFrame:
    """The audit-table rows (S19): every change record upserts
    ``(id, name, current_ts, '0', '0', time_stamp)`` into ``pub_event``
    (KuduManager.scala:141-155). Upsert-by-(id,name) ≙ keep the latest
    current_ts per key; delete_state / his_delete_state are constant '0'
    exactly as the reference writes them (:150-151)."""
    folded = (
        valid_normalized.groupBy(
            F.col("id"), F.col("tab_name").alias("name")
        ).agg(F.max("current_ts_norm").alias("current_ts"))
        .withColumn(DELETE_STATE, F.lit("0"))
        .withColumn("his_delete_state", F.lit("0"))
    )
    return with_time_stamp(folded, now_str)


def history_table_changes(df: DataFrame, target: TargetTable) -> DataFrame:
    """SCD2 history for one table's change stream — the warehouse-native
    upgrade over the reference's latest-state-only store (KuduManager.scala
    keeps one row per key; the pub_event audit keeps only the latest ts):
    one VERSION row per change record, carrying the CUMULATIVE folded state
    as of that change. Versioning semantics match fold_table_changes
    exactly — payload columns are the running last-non-null across
    non-delete records (partial updates inherit), a D record closes the
    row into a delete_state='1' version that keeps the pre-delete payload,
    and a later U resurrects — so the final version per key IS the folded
    state (property-tested).

    Output per version: payload columns (catalog-cast via try_cast, the
    S16 rule), ``delete_state``, ``valid_from``/``valid_to`` (normalized
    change ts; NULL valid_to = current), ``version`` (1-based), and
    ``is_current``. Versions chain per catalog-typed key (``typed_key``,
    like the fold): an int-keyed table's '007' and '7' are one entity.

    Scale shape: ONE shuffle keyed on the PK + a per-key sort of that
    key's versions (bounded by the key's change count, not table size) —
    the same exchange class as the fold's groupBy; every window below
    shares the single sort.
    """
    from pyspark.sql import Window

    key = typed_key(target)
    w = Window.partitionBy(key).orderBy(F.col("current_ts"), F.col("seq"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols: list[Column] = []
    for f in target.payload.fields:
        if f.name == target.key:
            cols.append(key.alias(f.name))
            continue
        val = F.when(
            F.col("op_type") != "D", F.col("after").getItem(f.name.upper())
        )
        cols.append(
            F.last(val, ignorenulls=True).over(wcum).try_cast(f.dataType).alias(f.name)
        )
    cols += [
        F.when(F.col("op_type") == "D", F.lit("1")).otherwise(F.lit("0")).alias(
            DELETE_STATE
        ),
        F.col("current_ts_norm").alias("valid_from"),
        F.lead("current_ts_norm").over(w).alias("valid_to"),
        F.row_number().over(w).alias("version"),
        F.lead("current_ts_norm").over(w).isNull().alias("is_current"),
    ]
    return df.select(*cols)
