"""Merge-on-read for primary-key tables — the one reference capability with no
Spark built-in (SURVEY §2.A9, §4 conclusion).

The reference delegates to Paimon's LSM reader: per PK, merge levels by
sequence number, apply RowKind (+I/-D), configured by ``merge_engine``
(enum surfaced at ``common/TrinoTableOptionUtils.java:98,113-118``; DELETE
semantics fixed by ``common-test/TestTrinoITCase.java:89-94 → :270-271``).

Spark formulation: the changelog is a DataFrame with hidden ``(_seq,
_row_kind)`` columns; merging is a single hash-shuffle by PK:

- ``deduplicate``   — latest row per PK wins (max ``_seq``), deletes drop.
- ``first-row``     — earliest insert per PK wins, later rows ignored.
- ``partial-update``— non-null field values overwrite in sequence order.
- ``aggregation``   — numeric fields sum across rows per PK.

All four are one ``groupBy(pk)`` with ``max_by``/``min_by``/aggregate
expressions. For the single-winner engines (deduplicate / first-row / plain
partial-update) partial aggregation applies map-side, so at 100 TB the
shuffle carries one pre-merged row per PK per map partition, not the raw
changelog. The ORDER-SENSITIVE replay aggregates (collect with retraction,
sequence groups with deletes) are the exception: they collect (ord, event)
lists, so the shuffle carries every changelog version of the replayed
columns — inherent to retraction semantics, not an implementation choice.
``no_retractions=True`` (the caller proved the live file set holds no -D
rows, e.g. from ``all_inserts`` footer stats) routes sequence groups back
through the one-struct-per-key max_by fast path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_paimon_trino_spark.catalog.metadata import KIND_COL, SEQ_COL
from incubator_paimon_trino_spark.functions.sql import project, quote_ident

MERGE_ENGINES = ("deduplicate", "first-row", "partial-update", "aggregation")

#: Names the merge scaffolding uses internally; user columns must not collide
#: (``_seq``/``_row_kind`` are the system columns themselves).
RESERVED_INTERNAL = (
    SEQ_COL,
    KIND_COL,
    "_ord",
    "_k",
    "_row",
    "_zorder_key",
    "_fidx_file",
    # dynamic-bucket writes stage through a hive `_bucket=N` partitionBy
    # column that _finalize_commit renames to `bucket-N` dirs — a user
    # column with this name would be silently consumed by that rename
    # (values become a non-k=v dir segment, read back as NULL)
    "_bucket",
)

#: Aggregation-engine retraction classes (Paimon's contract: sum/count
#: subtract a ``-D`` row's contribution, collect removes one occurrence per
#: retracted element; last/first-value accept retraction by ignoring it;
#: everything else throws "aggregate function does not support retraction"
#: at read time — never a silent no-op).
RETRACTABLE_AGGREGATES = ("sum", "count", "collect")
IGNORE_RETRACT_AGGREGATES = (
    "last_value",
    "last_non_null_value",
    "first_value",
    "first_non_null_value",
)

# Paimon per-field aggregate functions (``fields.<name>.aggregate-function``
# table option — the CoreOptions family the reference exposes through DDL
# properties, TrinoTableOptionUtils.java:51-135). Each maps to a single
# JVM-side aggregate expression, so partial (map-side) aggregation applies.
FIELD_AGGREGATES = (
    "sum",
    "product",
    "max",
    "min",
    "last_value",
    "last_non_null_value",
    "first_value",
    "first_non_null_value",
    "listagg",
    "bool_and",
    "bool_or",
    "count",
    "collect",
    "merge_map",
    "nested_update",
)


def _field_agg_expr(
    func: str,
    c: str,
    insert_mask: F.Column | None = None,
    nested_key: list[str] | None = None,
) -> F.Column:
    """One aggregate Column for value column ``c`` ordered by ``_ord``.

    ``insert_mask`` (ignore-retract aggregates): a boolean Column; rows where
    it is false (deletes) contribute neither a value nor an ordering key —
    max_by/min_by skip null ordering keys, sum-likes skip null values."""
    val = F.col(c) if insert_mask is None else F.when(insert_mask, F.col(c))
    ord_ = F.col("_ord") if insert_mask is None else F.when(insert_mask, F.col("_ord"))
    nn_ord = F.when(val.isNotNull(), ord_)
    if func == "sum":
        return F.sum(val).alias(c)
    if func == "product":
        return F.product(val).alias(c)
    if func == "max":
        return F.max(val).alias(c)
    if func == "min":
        return F.min(val).alias(c)
    if func == "last_value":
        return F.max_by(val, ord_).alias(c)
    if func == "last_non_null_value":
        # max_by skips rows whose ordering key is null → latest non-null
        return F.max_by(F.struct(ord_.alias("o"), val.alias("v")), nn_ord)["v"].alias(c)
    if func == "first_value":
        return F.min_by(val, ord_).alias(c)
    if func == "first_non_null_value":
        return F.min_by(F.struct(ord_.alias("o"), val.alias("v")), nn_ord)["v"].alias(c)
    if func == "listagg":
        # non-null values joined with ',' in changelog order; collect_list
        # is order-nondeterministic, so sort the (ord, value) pairs first.
        pairs = F.collect_list(F.when(val.isNotNull(), F.struct(ord_.alias("o"), val.alias("v"))))
        ordered = F.transform(F.array_sort(pairs), lambda s: s["v"])
        return F.array_join(ordered, ",").alias(c)
    if func == "bool_and":
        return F.bool_and(val).alias(c)
    if func == "bool_or":
        return F.bool_or(val).alias(c)
    if func in ("collect", "collect_distinct"):
        # through _field_agg_expr a mask means IGNORE the masked-out rows
        # (the ignore-retract path) — delete rows contribute nothing and
        # nothing is removed; the retract-capable removal path calls
        # _collect_agg_expr directly with its is_delete column instead
        ins = F.flatten(_ordered_values(c, insert_mask))
        if func == "collect_distinct":
            ins = F.array_distinct(ins)
        return ins.alias(c)
    if func == "merge_map":
        return _merge_map_agg_expr(c, insert_mask)
    if func == "nested_update":
        return _nested_update_agg_expr(c, nested_key, insert_mask)
    if func == "count":
        # SUM of partial counts, not COUNT of rows: the write path stores
        # each raw row's contribution as 0/1 (see warehouse.insert_into) and
        # compaction materializes the accumulated total, so the stored
        # representation stays re-mergeable — COUNT over rows would make a
        # compacted row contribute 1 instead of its accumulated count.
        return F.sum(val).alias(c)
    raise ValueError(f"unknown aggregate-function {func!r}; have {FIELD_AGGREGATES}")


def _ordered_values(c: str, mask: F.Column | None, payload_orderable: bool = True) -> F.Column:
    """Array of column ``c``'s non-null values in changelog order (rows where
    ``mask`` is false excluded). collect_list is order-nondeterministic, so
    (ord, value) pairs are collected and sorted — the same move listagg uses.

    ``payload_orderable=False`` (map-typed values, which Spark cannot
    compare) sorts by the order key alone via an explicit comparator; ties on
    the key then keep collect order — same-commit merge order for one key is
    undefined, matching Paimon's tie contract. Orderable payloads keep the
    default whole-struct sort so equal-key ties stay value-deterministic."""
    val = F.col(c) if mask is None else F.when(mask, F.col(c))
    pairs = F.collect_list(F.when(val.isNotNull(), F.struct(F.col("_ord").alias("o"), val.alias("v"))))
    if payload_orderable:
        return F.transform(F.array_sort(pairs), lambda s: s["v"])
    by_o = lambda l, r: F.when(l["o"] < r["o"], -1).when(l["o"] > r["o"], 1).otherwise(0)  # noqa: E731
    return F.transform(F.array_sort(pairs, by_o), lambda s: s["v"])


def _collect_agg_expr(c: str, is_delete: F.Column | None, distinct: bool = False) -> F.Column:
    """Paimon's ``collect`` aggregate (FieldCollectAgg): the stored value is
    ARRAY<T>; rows' arrays concatenate in changelog order. Retraction removes
    ONE occurrence per retracted element FROM THE STATE SO FAR — Paimon folds
    add/retract sequentially, so a -D that arrives BEFORE its +I (out-of-order
    CDC across commits) is a no-op and the later insert survives. Null
    elements pass through concatenation but cannot be retracted —
    array_position cannot address them. ``distinct``
    (``fields.<c>.distinct=true``) keeps first occurrences only.

    Formulation: one collect_list of (ord, kind, values) events, array_sort by
    ord, then a single F.aggregate replay — insert events concat, delete
    events remove one occurrence per element from the accumulator. Still a
    single aggregate Column (partial aggregation applies to the collect_list),
    but the shuffle carries every changelog version per key — retraction is
    inherently order-sensitive, so pre-merging map-side would lose the events
    a reduce-side retract needs."""
    if is_delete is None:
        ins = F.flatten(_ordered_values(c, None))
        if distinct:
            ins = F.array_distinct(ins)
        return ins.alias(c)
    val = F.col(c)
    ev = F.collect_list(
        F.when(
            val.isNotNull(),
            F.struct(F.col("_ord").alias("o"), is_delete.alias("d"), val.alias("v")),
        )
    )
    by_o = lambda l, r: F.when(l["o"] < r["o"], -1).when(l["o"] > r["o"], 1).otherwise(0)  # noqa: E731
    events = F.array_sort(ev, by_o)
    # typed empty ARRAY<T> without DDL plumbing: flatten a zero-length slice
    # of the events' value arrays
    empty = F.flatten(F.transform(F.slice(events, 1, 0), lambda e: e["v"]))

    # remove the FIRST occurrence of one retracted element: slice out the
    # element at array_position; a miss (pos null/0) keeps acc as-is
    def _remove_one(acc, x):
        pos = F.array_position(acc, x)
        hit = F.concat(
            F.slice(acc, F.lit(1), pos - F.lit(1)),
            F.slice(acc, pos + F.lit(1), F.size(acc) - pos),
        )
        return F.when(pos > 0, hit).otherwise(acc)

    def _step(acc, e):
        return F.when(e["d"], F.aggregate(e["v"], acc, _remove_one)).otherwise(
            F.concat(acc, e["v"])
        )

    out = F.aggregate(events, empty, _step)
    if distinct:
        out = F.array_distinct(out)
    return out.alias(c)


def _nested_update_agg_expr(
    c: str, nested_key: list[str] | None, mask: F.Column | None = None
) -> F.Column:
    """Paimon's ``nested_update`` aggregate (FieldNestedUpdateAgg): the
    stored value is ARRAY<ROW> — the 1:N "child table inside a column"
    pattern. Without ``fields.<c>.nested-key`` rows APPEND in changelog
    order (collect semantics over rows). With a nested key, a later row
    REPLACES the earlier row sharing its key (last-wins upsert inside the
    array, first-appearance order preserved) — same single-expression
    last-wins machinery as merge_map, keyed by the nested-key subfields.
    No retraction (strict class — deletes raise), like Paimon's; with
    ``fields.<c>.ignore-retract`` the caller passes an insert ``mask`` and
    deletes simply contribute nothing."""
    rows_ = F.flatten(_ordered_values(c, mask, payload_orderable=False))
    if not nested_key:
        return rows_.alias(c)
    key_of = lambda e: F.struct(*[e[k].alias(k) for k in nested_key])  # noqa: E731
    irows = F.transform(
        rows_,
        lambda e, i: F.struct(
            key_of(e).alias("k"), F.struct(i.alias("i"), e.alias("v")).alias("iv")
        ),
    )
    keys = F.array_distinct(F.transform(irows, lambda x: x["k"]))
    merged = F.transform(
        keys,
        lambda k: F.array_max(F.filter(irows, lambda x: x["k"] == k))["iv"]["v"],
    )
    return merged.alias(c)


def _merge_map_agg_expr(c: str, mask: F.Column | None = None) -> F.Column:
    """Paimon's ``merge_map`` aggregate (FieldMergeMapAgg): the stored value
    is MAP<K,V>; later rows' entries overwrite earlier entries per key, keys
    never seen later survive. No retraction (strict class — deletes raise).

    Single-expression formulation: flatten all maps' entries in changelog
    order with a running index, then per distinct key keep the max-index
    entry. The index is unique, so the (i, v) struct max is decided by i
    alone — but V must still be an ORDERABLE type (no map-valued maps), the
    price of expressing last-wins inside one aggregate Column so partial
    aggregation survives. NULL map VALUES overwrite like any other value."""
    maps = _ordered_values(c, mask, payload_orderable=False)
    entries = F.flatten(F.transform(maps, lambda m: F.map_entries(m)))
    ientries = F.transform(
        entries,
        lambda e, i: F.struct(e["key"].alias("k"), F.struct(i.alias("i"), e["value"].alias("v")).alias("iv")),
    )
    keys = F.array_distinct(F.transform(ientries, lambda x: x["k"]))
    merged = F.transform(
        keys,
        lambda k: F.struct(
            k.alias("key"),
            F.array_max(F.filter(ientries, lambda x: x["k"] == k))["iv"]["v"].alias("value"),
        ),
    )
    return F.when(F.size(maps) > 0, F.map_from_entries(merged)).alias(c)


def _retraction_guard(message: str):
    """A filter predicate that raises ``message`` for groups with ``_has_d``
    set and passes everything else. Used instead of wrapping output columns
    because Catalyst prunes unreferenced projections — a guard living in a
    projection vanishes under ``SELECT other_col`` or ``COUNT(*)``, silently
    reviving the no-op this guard exists to prevent; a filter's predicate is
    always evaluated."""
    return F.when(
        F.col("_has_d") == 1, F.raise_error(F.lit(message)).cast("boolean")
    ).otherwise(F.lit(True))


def _partial_update_sequence_groups(
    df: DataFrame,
    primary_key: list[str],
    value_cols: list[str],
    sequence_groups: dict[str, list[str]],
    no_retractions: bool = False,
) -> DataFrame:
    """partial-update with SEQUENCE GROUPS (Paimon's
    ``fields.<seq-col>.sequence-group=<a,b,...>`` CoreOption; the multi-stream
    partial-update the reference inherits through core's
    PartialUpdateMergeFunction). Per primary key:

    - each group's columns (the seq column itself plus its members) are taken
      TOGETHER from the row with the highest (group-seq, changelog-order) key
      among inserts whose group seq is NON-NULL — a true per-group partial
      update: a winning row's null member values DO overwrite (unlike the
      default engine's per-field non-null rule), and a row with a null group
      seq leaves the group untouched;
    - a -D row with a non-null group seq RETRACTS the group (fields and seq
      go null) when its (seq, order) key is >= the winner's — Paimon's
      sequence-group retraction contract, so partial-update accepts deletes
      once groups are declared (the group-less engine has no seq to compare,
      which is why Paimon rejects deletes there);
    - columns in no group keep the default per-field last-non-null rule over
      insert rows;
    - the KEY survives retraction (deletes null groups out, they never drop
      the row) — only keys with zero insert rows are absent.

    Scale shape: retraction makes the merge ORDER-SENSITIVE (after a
    retraction, a later insert with a LOWER group seq re-wins against the
    empty state), so the general path replays (ord, event) lists per key —
    partial aggregation applies to the collect_list, but the shuffle still
    carries every changelog version of every grouped column, O(versions) per
    key. ``no_retractions=True`` (the caller proved the changelog holds no
    -D rows — the common case, re-established by every compaction) collapses
    each group to ONE max_by aggregate: the winner is simply the insert with
    the highest (group-seq, order) key, so the shuffle carries one struct
    per key per map partition."""
    groups = list(sequence_groups.items())
    scaffold = [f"_sg{i}" for i in range(len(groups))]
    clash = sorted(set(df.columns) & set(scaffold))
    if clash:
        raise ValueError(f"column name(s) {clash} collide with sequence-group merge scaffolding")
    member_group = {}  # value column -> index of the group it belongs to
    for i, (g, members) in enumerate(groups):
        member_group[g] = i
        for m in members:
            member_group[m] = i
    ungrouped = [c for c in value_cols if c not in member_group]
    ddl_of = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    is_insert = F.col(KIND_COL) != "D"
    aggs = []
    for i, (g, members) in enumerate(groups):
        if no_retractions:
            # retraction-free fast path: with no -D rows the replay below
            # reduces to "insert with the highest (group-seq, order) key
            # wins the group" — one max_by struct per key, pre-merged
            # map-side (max_by skips null ordering keys, so null-seq rows
            # leave the group untouched, same as the replay)
            aggs.append(
                F.max_by(
                    F.struct(
                        F.col(g).alias("_g"), *[F.col(m).alias(m) for m in members]
                    ),
                    F.when(
                        F.col(g).isNotNull(), F.struct(F.col(g), F.col("_ord"))
                    ),
                ).alias(f"_sg{i}")
            )
            continue
        # ORDERED REPLAY, not a global max: Paimon's PartialUpdateMergeFunction
        # processes records sequentially — after a retraction, a LATER insert
        # with a LOWER group seq re-wins against the now-empty state (pinned
        # by tests/test_container_agg_property.py's replay model, which a
        # max-over-all-inserts formulation fails). Events sort by changelog
        # order (comparator on the order key only, so member types need not
        # be orderable) and fold through one F.aggregate state machine —
        # still a single aggregate Column per group, partial aggregation
        # applies to the collect_list, per-key memory O(versions).
        bad = sorted(set((g, *members)) & {"_g", "_o", "_ins"})
        if bad:
            raise ValueError(
                f"sequence-group column name(s) {bad} collide with the replay "
                "state fields (_g/_o/_ins are reserved)"
            )
        ev = F.collect_list(
            F.when(
                F.col(g).isNotNull(),
                F.struct(
                    F.col("_ord").alias("_o"),
                    is_insert.alias("_ins"),
                    F.col(g).alias("_g"),
                    *[F.col(m).alias(m) for m in members],
                ),
            )
        )
        by_o = lambda l, r: F.when(l["_o"] < r["_o"], -1).when(l["_o"] > r["_o"], 1).otherwise(0)  # noqa: E731
        state_ddl = (
            "struct<_g:"
            + ddl_of[g]
            + ",_o:"
            + "struct<s:bigint,k:int>"
            + "".join(f",`{m}`:{ddl_of[m]}" for m in members)
            + ">"
        )
        empty = F.lit(None).cast(state_ddl)

        def _mk_step(members, empty):
            def _step(acc, e):
                outranks = acc.isNull() | (
                    F.struct(e["_g"], e["_o"]) >= F.struct(acc["_g"], acc["_o"])
                )
                won = F.struct(
                    e["_g"].alias("_g"),
                    e["_o"].alias("_o"),
                    *[e[m].alias(m) for m in members],
                )
                return (
                    F.when(outranks & e["_ins"], won)
                    .when(outranks & ~e["_ins"], empty)
                    .otherwise(acc)
                )

            return _step

        aggs.append(
            F.aggregate(F.array_sort(ev, by_o), empty, _mk_step(members, empty)).alias(f"_sg{i}")
        )
    for c in ungrouped:
        aggs.append(
            F.max_by(
                F.struct(F.col("_ord"), F.col(c)),
                F.when(is_insert & F.col(c).isNotNull(), F.col("_ord")),
            )[c].alias(c)
        )
    merged = df.groupBy(*primary_key).agg(
        *aggs, F.max(F.when(is_insert, 1).otherwise(0)).alias("_has_i")
    )
    out = []
    for c in value_cols:
        i = member_group.get(c)
        if i is None:
            out.append((c, quote_ident(c)))
        else:
            out.append((c, f"_sg{i}.{quote_ident('_g' if c == groups[i][0] else c)}"))
    return _emit(merged.filter("_has_i = 1"), primary_key, out)


def _merge_agg(df: DataFrame, primary_key: list[str], items: list[tuple[str, str]]) -> DataFrame:
    """``df`` grouped by ``primary_key`` with one column per (name, SQL
    aggregate) item after the key columns, built in a fixed number of JVM
    calls: the aggregates travel as one struct, star-expanded."""
    body = ", ".join(f"{e} AS {quote_ident(n)}" for n, e in items)
    return (
        df.groupBy(*primary_key)
        .agg(F.expr(f"struct({body}) AS _row"))
        .selectExpr(*map(quote_ident, primary_key), "_row.*")
    )


def _emit(merged: DataFrame, primary_key: list[str], items: list[tuple[str, str]]) -> DataFrame:
    """The merge's output, key columns then (name, SQL expression) items."""
    return project(merged, [(k, quote_ident(k)) for k in primary_key] + items)


def merge_on_read(
    df: DataFrame,
    primary_key: list[str],
    merge_engine: str = "deduplicate",
    field_aggregates: dict[str, str] | None = None,
    sequence_groups: dict[str, list[str]] | None = None,
    nested_keys: dict[str, list[str]] | None = None,
    default_aggregate: str | None = None,
    remove_record_on_delete: bool = False,
    ignore_retract: set[str] | None = None,
    no_retractions: bool = False,
) -> DataFrame:
    """Collapse a changelog DataFrame to its merged table view.

    ``df`` must carry ``_seq`` (bigint, commit order) and ``_row_kind``
    ('I'|'D'). Ties on ``_seq`` (same commit) resolve deletes last — matching
    the reference fixture where +I and -D of the same key in one commit
    leaves the key deleted (FIXTURES.md F1).

    ``field_aggregates`` (aggregation engine only) maps value column →
    function name per Paimon's ``fields.<name>.aggregate-function`` option;
    unspecified columns keep the default (sum for numerics, last value
    otherwise).

    ``sequence_groups`` (partial-update engine only) maps a sequence column →
    its member columns per Paimon's ``fields.<seq>.sequence-group`` option;
    see ``_partial_update_sequence_groups`` for the merge contract.

    ``nested_keys`` maps a nested_update column → its ``fields.<c>.nested-key``
    subfields; ``default_aggregate`` is Paimon's
    ``fields.default-aggregate-function`` — the function unspecified value
    columns use instead of the sum/last_value fallback.

    ``no_retractions=True`` asserts the changelog contains NO -D rows (the
    warehouse proves it from per-file ``all_inserts`` footer stats over the
    live set); the order-sensitive replay aggregates then take their
    associative fast paths. Semantically a pure optimization — results are
    identical on retraction-free input.
    """
    if merge_engine not in MERGE_ENGINES:
        raise ValueError(f"unknown merge_engine {merge_engine!r}; have {MERGE_ENGINES}")
    if sequence_groups and merge_engine != "partial-update":
        raise ValueError("sequence_groups require merge_engine='partial-update'")
    if sequence_groups and remove_record_on_delete:
        # Paimon rejects the combination (the sequence-group engine would
        # silently ignore remove-record-on-delete); DDL validation enforces
        # this too — the guard here covers direct API callers
        raise ValueError(
            "remove_record_on_delete cannot be combined with sequence_groups "
            "(deletes then retract per group)"
        )
    clash = sorted(set(df.columns) & set(RESERVED_INTERNAL) - {SEQ_COL, KIND_COL})
    if clash:
        # a user column named _ord/_k/_row would be silently overwritten by
        # the merge scaffolding below — reject loudly (create_table enforces
        # the same reservation at DDL time)
        raise ValueError(f"column name(s) {clash} are reserved by merge-on-read")
    value_cols = [c for c in df.columns if c not in (*primary_key, SEQ_COL, KIND_COL)]
    # The scaffolding every engine shares (the order key, the winner struct,
    # the output projection) is SQL text: one expression per plan step,
    # whatever the column count (functions/sql.py).
    quoted = [quote_ident(c) for c in value_cols]
    winner = [(c, f"_row.{q}") for c, q in zip(value_cols, quoted)]
    # order key: sequence, then D after I within the same sequence. A (seq,
    # kind) STRUCT compares lexicographically, so it cannot overflow when
    # sequence_field carries epoch-micro/nano-sized values (>= 2^62).
    df = df.selectExpr(
        "*",
        f"named_struct('s', {SEQ_COL}, 'k', CASE WHEN {KIND_COL} = 'D' THEN 1 ELSE 0 END) AS _ord",
    )

    if merge_engine == "deduplicate":
        picked = df.groupBy(*primary_key).agg(
            F.expr(f"max_by(struct({', '.join([KIND_COL, *quoted])}), _ord) AS _row")
        )
        return _emit(picked.filter(f"_row.{KIND_COL} != 'D'"), primary_key, winner)

    if merge_engine == "first-row":
        # Paimon THROWS on retraction for first-row (the earliest insert wins,
        # so a delete can never be honored). delete_where/update_where already
        # raise at write time; a -D arriving through the unblocked paths
        # (write_stream_to_table's changelog sink, insert_into(row_kind='D'))
        # must fail loudly at read time too — never a silent no-op. The guard
        # is a FILTER, not a projection wrapper: a wrapped output column would
        # be eliminated by column pruning (SELECT other_col / COUNT(*) would
        # silently succeed), while a filter's predicate always evaluates.
        has_d = F.expr(f"max(CASE WHEN {KIND_COL} = 'D' THEN 1 ELSE 0 END) AS _has_d")
        guard = _retraction_guard(
            "merge-engine 'first-row' does not support retraction "
            "(delete rows present in the changelog)"
        )
        if not value_cols:  # all-key table: struct() of zero fields is invalid
            picked = df.groupBy(*primary_key).agg(has_d)
            return picked.filter(guard).select(*primary_key)
        picked = df.groupBy(*primary_key).agg(
            F.expr(
                f"min_by(struct({', '.join(quoted)}), "
                f"CASE WHEN {KIND_COL} != 'D' THEN _ord END) AS _row"
            ),
            has_d,
        )
        return _emit(picked.filter(guard), primary_key, winner)

    if merge_engine == "partial-update":
        if sequence_groups:
            bad = sorted(
                {c for g, ms in sequence_groups.items() for c in (g, *ms)} - set(value_cols)
            )
            if bad:
                raise ValueError(f"sequence-group column(s) {bad} not among value columns")
            return _partial_update_sequence_groups(
                df, primary_key, value_cols, sequence_groups, no_retractions=no_retractions
            )
        # last non-null per field, in sequence order. Delete handling is
        # Paimon's partial-update trio: by default -D rows RAISE (the engine
        # has no per-field seq to decide what a delete outranks); with
        # partial-update.remove-record-on-delete a delete RESETS the
        # accumulated row at its position — the key survives only if an
        # insert follows the last delete, and each field keeps only values
        # from after it (no pre-delete resurrection); sequence groups
        # (above) retract per group. ignore-delete filters at write time,
        # so those feeds never reach here.
        is_insert = f"{KIND_COL} != 'D'"
        if remove_record_on_delete:
            scaffold = [f"_pu{i}" for i in range(len(value_cols))] + ["_dmax", "_imax"]
            clash2 = sorted(set(df.columns) & set(scaffold))
            if clash2:
                raise ValueError(
                    f"column name(s) {clash2} collide with partial-update merge scaffolding"
                )
            merged = _merge_agg(
                df,
                primary_key,
                [
                    ("_dmax", f"max(CASE WHEN NOT ({is_insert}) THEN _ord END)"),
                    ("_imax", f"max(CASE WHEN {is_insert} THEN _ord END)"),
                ]
                + [
                    (
                        f"_pu{i}",
                        f"max_by(named_struct('o', _ord, 'v', {quote_ident(c)}), "
                        f"CASE WHEN {is_insert} AND {quote_ident(c)} IS NOT NULL THEN _ord END)",
                    )
                    for i, c in enumerate(value_cols)
                ],
            )
            alive = "_imax IS NOT NULL AND (_dmax IS NULL OR _imax > _dmax)"
            return _emit(
                merged.filter(alive),
                primary_key,
                [
                    (c, f"CASE WHEN _dmax IS NULL OR _pu{i}.o > _dmax THEN _pu{i}.v END")
                    for i, c in enumerate(value_cols)
                ],
            )
        merged = _merge_agg(
            df,
            primary_key,
            [("_has_d", f"max(CASE WHEN NOT ({is_insert}) THEN 1 ELSE 0 END)")]
            + [
                (
                    c,
                    f"max_by(struct(_ord, {quote_ident(c)}), "
                    f"CASE WHEN {quote_ident(c)} IS NOT NULL THEN _ord END).{quote_ident(c)}",
                )
                for c in value_cols
            ],
        )
        guard = _retraction_guard(
            "merge-engine 'partial-update' does not support retraction (delete "
            "rows present); configure 'ignore-delete', "
            "'partial-update.remove-record-on-delete', or sequence groups"
        )
        return merged.filter(guard).drop("_has_d")

    # aggregation: per-field function when configured, else sum numeric
    # fields and last_value for the rest. Delete handling follows Paimon's
    # retraction contract per function class:
    #   - sum/count RETRACT: a -D row subtracts its stored contribution;
    #   - last/first-value classes ACCEPT retraction by ignoring the delete;
    #   - every other function RAISES at read time ("aggregate function does
    #     not support retraction") — never a silent no-op.
    # Keys whose rows are all deletes drop from the result.
    specs = dict(field_aggregates or {})
    unknown = sorted(set(specs) - set(value_cols))
    if unknown:
        raise ValueError(f"aggregate-function configured for non-value columns {unknown}")
    num_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    is_delete = F.col(KIND_COL) == "D"
    aggs, strict_cols = [], []
    for c in value_cols:
        func = specs.get(c) or default_aggregate
        if func is None:
            func = "sum" if isinstance(by_name[c], num_types) else "last_value"
        if c in (ignore_retract or ()):
            # fields.<c>.ignore-retract (Paimon CoreOption): this column's
            # -D rows contribute nothing and never raise — the per-field
            # escape hatch for feeds whose retractions should be dropped,
            # regardless of the function's native retraction class
            aggs.append(
                _field_agg_expr(
                    func, c, insert_mask=~is_delete, nested_key=(nested_keys or {}).get(c)
                )
            )
        elif func in ("sum", "count"):
            # sum/count both store additive contributions — retract by sign
            aggs.append(F.sum(F.when(is_delete, -F.col(c)).otherwise(F.col(c))).alias(c))
        elif func in ("collect", "collect_distinct"):
            # retract-capable (RETRACTABLE_AGGREGATES): -D rows' elements
            # remove one occurrence each from the accumulated array; with a
            # proven retraction-free changelog the ordered-replay machinery
            # collapses to the plain (associative) ordered concatenation
            aggs.append(
                _collect_agg_expr(
                    c,
                    None if no_retractions else is_delete,
                    distinct=func == "collect_distinct",
                )
            )
        elif func in IGNORE_RETRACT_AGGREGATES:
            aggs.append(_field_agg_expr(func, c, insert_mask=~is_delete))
        else:
            # groups containing a delete raise below, so computing these
            # aggregates over the full frame (deletes included) only affects
            # groups that never survive to output
            aggs.append(_field_agg_expr(func, c, nested_key=(nested_keys or {}).get(c)))
            strict_cols.append((c, func))
    merged = df.groupBy(*primary_key).agg(
        *aggs,
        F.max(F.when(is_delete, 1).otherwise(0)).alias("_has_d"),
        F.max(F.when(~is_delete, 1).otherwise(0)).alias("_has_i"),
    )
    if strict_cols:
        # the raise must be a FILTER predicate, not a projection wrapper: a
        # wrapped column disappears under column pruning (SELECT pk /
        # COUNT(*) would silently succeed) — Paimon throws during the merge
        # itself, regardless of which columns the query reads. ONE when-
        # predicate (raise on any delete, else keep _has_i groups) so
        # Catalyst cannot reorder the raise against the all-deletes drop.
        strict_desc = ", ".join(f"{func!r} for column {c!r}" for c, func in strict_cols)
        pred = F.when(
            F.col("_has_d") == 1,
            F.raise_error(
                F.lit(
                    f"aggregate-function {strict_desc} does not support "
                    "retraction (delete rows present)"
                )
            ).cast("boolean"),
        ).otherwise(F.col("_has_i") == 1)
    else:
        pred = F.col("_has_i") == 1
    return merged.filter(pred).drop("_has_d", "_has_i")
