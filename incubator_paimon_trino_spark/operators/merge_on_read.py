"""Merge-on-read for primary-key tables — the one reference capability with no
Spark built-in (SURVEY §2.A9, §4 conclusion).

The reference delegates to Paimon's LSM reader: per PK, merge levels by
sequence number, apply RowKind (+I/-D), configured by ``merge_engine``
(enum surfaced at ``common/TrinoTableOptionUtils.java:98,113-118``; DELETE
semantics fixed by ``common-test/TestTrinoITCase.java:89-94 → :270-271``).

Spark formulation: the changelog is a DataFrame with hidden ``(_seq,
_row_kind)`` columns; every engine is one ``groupBy(pk)`` (``_merge_agg``)
and one projection (``_emit``), with every aggregate written as SQL text:

- ``deduplicate``   — latest row per PK wins (max ``_seq``), deletes drop.
- ``first-row``     — earliest insert per PK wins, later rows ignored.
- ``partial-update``— non-null field values overwrite in sequence order;
  sequence groups take a group's columns together from its winning row.
- ``aggregation``   — one aggregate per value column from ``_field_agg``
  (Paimon's ``fields.<c>.aggregate-function``), sum/last_value by default.

So a read's plan costs a fixed number of JVM calls whatever the table's
width. The groupBy yields two structs, ``_row`` with the user's values and
``_k`` with the merge state, so no user column name meets a scaffolding
name. Partial aggregation applies map-side to every aggregate: for the
single-winner engines (deduplicate / first-row / plain partial-update) the
shuffle carries one pre-merged row per PK per map partition, not the raw
changelog. The ORDER-SENSITIVE replay aggregates (collect with retraction,
sequence groups with deletes) collect (ord, event) lists, so the shuffle
carries every changelog version of the replayed columns — inherent to
retraction semantics. ``no_retractions=True`` (the caller proved the live
file set holds no -D rows, e.g. from ``all_inserts`` footer stats) routes
them through their associative fast paths.
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


# Every lambda body below refers only to lambda variables and their fields,
# never to a user column: in Spark SQL a lambda variable shadows a column of
# the same name, so a column named like one would silently read the variable.

#: sorts (o, ...) structs by their order key ``o`` alone: the payload may be
#: a type Spark cannot compare (a map), and ties keep collect order —
#: same-commit merge order for one key is undefined, matching Paimon's tie
#: contract
_BY_O = "(l, r) -> CASE WHEN l.o < r.o THEN -1 WHEN l.o > r.o THEN 1 ELSE 0 END"
_INSERT = f"{KIND_COL} != 'D'"
_DELETE = f"{KIND_COL} = 'D'"


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _last_wins(items: str, same: str) -> str:
    """The array ``items`` with one element per class of ``same`` elements
    (``same`` is a SQL predicate over lambda variables ``a`` and ``e``): a
    class sits where it first appears and holds its last element."""
    return (
        f"aggregate({items}, slice({items}, 1, 0), (acc, e) -> "
        f"CASE WHEN exists(acc, a -> {same}) "
        f"THEN transform(acc, a -> CASE WHEN {same} THEN e ELSE a END) "
        "ELSE concat(acc, array(e)) END)"
    )


def _field_agg(
    func: str, c: str, insert_mask: str | None = None, nested_key: list[str] | None = None
) -> str:
    """The SQL aggregate of quoted value column ``c`` under ``func``, ordered
    by ``_ord``: the one source of every ``FIELD_AGGREGATES`` entry.

    ``insert_mask`` (ignore-retract): a SQL predicate; rows where it is false
    (deletes) contribute neither a value nor an order key — max_by/min_by
    skip null order keys, sum-likes and collect_list skip null values."""
    v = c if insert_mask is None else f"CASE WHEN {insert_mask} THEN {c} END"
    o = "_ord" if insert_mask is None else f"CASE WHEN {insert_mask} THEN _ord END"
    nn_o = f"CASE WHEN {v} IS NOT NULL THEN _ord END"
    # non-null values in changelog order: collect_list is order-
    # nondeterministic, so (o, v) pairs are collected and sorted. listagg
    # and collect sort the whole pair, so equal-key ties order by value;
    # map and row payloads sort by the order key alone (_BY_O)
    pairs = f"collect_list(CASE WHEN {v} IS NOT NULL THEN named_struct('o', _ord, 'v', {v}) END)"
    values = f"transform(array_sort({pairs}), s -> s.v)"
    payloads = f"transform(array_sort({pairs}, {_BY_O}), s -> s.v)"
    if func == "merge_map":
        # Paimon's FieldMergeMapAgg: later rows' entries overwrite earlier
        # ones per key, keys never seen later survive, NULL map VALUES
        # overwrite like any other value. No retraction (strict class).
        entries = f"flatten(transform({payloads}, m -> map_entries(m)))"
        return (
            f"CASE WHEN size({payloads}) > 0 "
            f"THEN map_from_entries({_last_wins(entries, 'a.key = e.key')}) END"
        )
    if func == "nested_update":
        # Paimon's FieldNestedUpdateAgg, ARRAY<ROW> (the 1:N "child table
        # inside a column"): rows APPEND in changelog order; with
        # fields.<c>.nested-key a later row REPLACES the earlier row with its
        # key, in place. No retraction (strict class).
        rows_ = f"flatten({payloads})"
        if not nested_key:
            return rows_
        same = " AND ".join(f"a.{q} <=> e.{q}" for q in map(quote_ident, nested_key))
        return _last_wins(rows_, same)
    templates = {
        "sum": f"sum({v})",
        # Spark registers no SQL name for its product aggregate: fold the
        # ordered values in double arithmetic, as that aggregate does
        "product": f"aggregate({values}, CAST(NULL AS DOUBLE), (acc, x) -> coalesce(acc, 1D) * x)",
        "max": f"max({v})",
        "min": f"min({v})",
        "last_value": f"max_by({v}, {o})",
        "last_non_null_value": f"max_by({v}, {nn_o})",
        "first_value": f"min_by({v}, {o})",
        "first_non_null_value": f"min_by({v}, {nn_o})",
        "listagg": f"array_join({values}, ',')",
        "bool_and": f"bool_and({v})",
        "bool_or": f"bool_or({v})",
        # SUM of partial counts, not COUNT of rows: the write path stores
        # each raw row's contribution as 0/1 (see warehouse.insert_into) and
        # compaction materializes the accumulated total, so the stored
        # representation stays re-mergeable — COUNT over rows would make a
        # compacted row contribute 1 instead of its accumulated count.
        "count": f"sum({v})",
        # Paimon's FieldCollectAgg, ARRAY<T>: rows' arrays concatenate in
        # changelog order; fields.<c>.distinct keeps first occurrences
        "collect": f"flatten({values})",
        "collect_distinct": f"array_distinct(flatten({values}))",
    }
    if func not in templates:
        raise ValueError(f"unknown aggregate-function {func!r}; have {FIELD_AGGREGATES}")
    return templates[func]


def _collect_retract(c: str, distinct: bool) -> str:
    """Paimon's ``collect`` with retraction: a -D row removes ONE occurrence
    per element FROM THE STATE SO FAR — Paimon folds add/retract
    sequentially, so a -D that arrives BEFORE its +I (out-of-order CDC
    across commits) is a no-op and the later insert survives. Null elements
    pass through concatenation but cannot be retracted (array_position
    cannot address them).

    One collect_list of (o, d, v) events, sorted by order key and replayed:
    inserts concat, deletes remove the first occurrence of each element.
    Partial aggregation applies to the collect_list, but the shuffle carries
    every changelog version per key — retraction is order-sensitive, so a
    map-side pre-merge would lose the events a reduce-side retract needs."""
    events = (
        f"array_sort(collect_list(CASE WHEN {c} IS NOT NULL THEN "
        f"named_struct('o', _ord, 'd', {_DELETE}, 'v', {c}) END), {_BY_O})"
    )
    remove_one = (
        "(a, x) -> CASE WHEN array_position(a, x) > 0 THEN concat("
        "slice(a, 1, array_position(a, x) - 1), "
        "slice(a, array_position(a, x) + 1, size(a) - array_position(a, x))) ELSE a END"
    )
    out = (
        f"aggregate({events}, flatten(transform(slice({events}, 1, 0), e -> e.v)), "
        f"(acc, e) -> CASE WHEN e.d THEN aggregate(e.v, acc, {remove_one}) "
        "ELSE concat(acc, e.v) END)"
    )
    return f"array_distinct({out})" if distinct else out


def _raise_if_deleted(message: str, otherwise: str = "true") -> str:
    """A filter predicate that raises ``message`` for groups holding a -D row
    (``_k.d = 1``) and is ``otherwise`` for the rest. The raise is a FILTER,
    never a projection wrapper: Catalyst prunes unreferenced projections, so
    a guard living in an output column vanishes under ``SELECT other_col``
    or ``COUNT(*)`` and silently revives the no-op it exists to prevent,
    while a filter's predicate always evaluates. One CASE, so Catalyst
    cannot reorder the raise against ``otherwise``."""
    return (
        f"CASE WHEN _k.d = 1 THEN CAST(raise_error({_sql_str(message)}) AS BOOLEAN) "
        f"ELSE {otherwise} END"
    )


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

    Group ``i``'s state is ``_k.g{i}``: its seq ``g`` and its members in the
    sub-struct ``m``, so no member name meets a state field.

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
    member_group = {}  # value column -> index of the group it belongs to
    for i, (g, members) in enumerate(groups):
        member_group[g] = i
        for m in members:
            member_group[m] = i
    state = []
    for i, (g, members) in enumerate(groups):
        qg = quote_ident(g)
        m = f"struct({', '.join(map(quote_ident, members))})"
        if no_retractions:
            # with no -D rows the replay below reduces to "insert with the
            # highest (group-seq, order) key wins the group" — one max_by
            # per key, pre-merged map-side (max_by skips null order keys,
            # so null-seq rows leave the group untouched, as in the replay)
            state.append((
                f"g{i}",
                f"max_by(named_struct('g', {qg}, 'm', {m}), "
                f"CASE WHEN {qg} IS NOT NULL THEN named_struct('g', {qg}, 'o', _ord) END)",
            ))
            continue
        # ORDERED REPLAY, not a global max: Paimon's PartialUpdateMergeFunction
        # processes records sequentially — after a retraction, a LATER insert
        # with a LOWER group seq re-wins against the now-empty state (pinned
        # by tests/test_container_agg_property.py's replay model, which a
        # max-over-all-inserts formulation fails). The state is the winning
        # event itself, NULL when empty or retracted; its typed NULL start is
        # a never-taken branch of the events' own element type.
        events = (
            f"array_sort(collect_list(CASE WHEN {qg} IS NOT NULL THEN named_struct("
            f"'o', _ord, 'ins', {_INSERT}, 'g', {qg}, 'm', {m}) END), {_BY_O})"
        )
        outranks = "(acc IS NULL OR struct(e.g, e.o) >= struct(acc.g, acc.o))"
        state.append((
            f"g{i}",
            f"aggregate({events}, IF(false, {events}[0], NULL), (acc, e) -> "
            f"CASE WHEN {outranks} AND e.ins THEN e "
            f"WHEN {outranks} AND NOT e.ins THEN NULL ELSE acc END)",
        ))
    state.append(("i", f"max(CASE WHEN {_INSERT} THEN 1 ELSE 0 END)"))
    ungrouped = [c for c in value_cols if c not in member_group]
    merged = _merge_agg(
        df,
        primary_key,
        [
            (c, f"max_by({q}, CASE WHEN {_INSERT} AND {q} IS NOT NULL THEN _ord END)")
            for c, q in zip(ungrouped, map(quote_ident, ungrouped))
        ],
        state,
    )
    out = []
    for c in value_cols:
        i = member_group.get(c)
        if i is None:
            out.append((c, f"_row.{quote_ident(c)}"))
        else:
            out.append((c, f"_k.g{i}.g" if c == groups[i][0] else f"_k.g{i}.m.{quote_ident(c)}"))
    return _emit(merged.filter("_k.i = 1"), primary_key, out)


def _struct(items: list[tuple[str, str]]) -> str:
    """A SQL ``struct`` of (field name, SQL expression) items."""
    return "struct(" + ", ".join(f"{e} AS {quote_ident(n)}" for n, e in items) + ")"


def _merge_agg(
    df: DataFrame,
    primary_key: list[str],
    row: str | list[tuple[str, str]],
    state: list[tuple[str, str]] = (),
) -> DataFrame:
    """``df`` grouped by ``primary_key`` into two struct columns, built in a
    fixed number of JVM calls whatever the width:

    - ``_row``, the user's values: ``row`` is one SQL aggregate of struct type
      (the single-winner engines) or (value column, SQL aggregate) items;
    - ``_k``, the merge state, from (field, SQL aggregate) items.

    User names live only inside ``_row`` and scaffolding names only inside
    ``_k`` (both reserved), so no user column can collide with the merge's
    own. An empty ``row`` or ``state`` adds no column."""
    if isinstance(row, list):
        row = _struct(row) if row else None
    aggs = ([f"{row} AS _row"] if row else []) + ([f"{_struct(state)} AS _k"] if state else [])
    return df.groupBy(*primary_key).agg(*map(F.expr, aggs))


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
    # Every plan step is SQL text (the order key, each engine's aggregates,
    # the output projection): one expression per step, whatever the column
    # count (functions/sql.py).
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
        picked = _merge_agg(df, primary_key, f"max_by(struct({', '.join([KIND_COL, *quoted])}), _ord)")
        return _emit(picked.filter(f"_row.{KIND_COL} != 'D'"), primary_key, winner)

    has_d = ("d", f"max(CASE WHEN {_DELETE} THEN 1 ELSE 0 END)")
    if merge_engine == "first-row":
        # Paimon THROWS on retraction for first-row (the earliest insert wins,
        # so a delete can never be honored). delete_where/update_where already
        # raise at write time; a -D arriving through the unblocked paths
        # (write_stream_to_table's changelog sink, insert_into(row_kind='D'))
        # must fail loudly at read time too — never a silent no-op.
        picked = _merge_agg(
            df,
            primary_key,
            f"min_by(struct({', '.join(quoted)}), CASE WHEN {_INSERT} THEN _ord END)"
            if value_cols
            else None,
            [has_d],
        )
        guard = _raise_if_deleted(
            "merge-engine 'first-row' does not support retraction "
            "(delete rows present in the changelog)"
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
        if remove_record_on_delete:
            merged = _merge_agg(
                df,
                primary_key,
                [
                    (
                        c,
                        f"max_by(named_struct('o', _ord, 'v', {q}), "
                        f"CASE WHEN {_INSERT} AND {q} IS NOT NULL THEN _ord END)",
                    )
                    for c, q in zip(value_cols, quoted)
                ],
                [
                    ("dmax", f"max(CASE WHEN NOT ({_INSERT}) THEN _ord END)"),
                    ("imax", f"max(CASE WHEN {_INSERT} THEN _ord END)"),
                ],
            )
            alive = "_k.imax IS NOT NULL AND (_k.dmax IS NULL OR _k.imax > _k.dmax)"
            return _emit(
                merged.filter(alive),
                primary_key,
                [
                    (c, f"CASE WHEN _k.dmax IS NULL OR _row.{q}.o > _k.dmax THEN _row.{q}.v END")
                    for c, q in zip(value_cols, quoted)
                ],
            )
        merged = _merge_agg(
            df,
            primary_key,
            [
                (c, f"max_by(struct(_ord, {q}), CASE WHEN {q} IS NOT NULL THEN _ord END).{q}")
                for c, q in zip(value_cols, quoted)
            ],
            [has_d],
        )
        guard = _raise_if_deleted(
            "merge-engine 'partial-update' does not support retraction (delete "
            "rows present); configure 'ignore-delete', "
            "'partial-update.remove-record-on-delete', or sequence groups"
        )
        return _emit(merged.filter(guard), primary_key, winner)

    # aggregation: per-field function when configured, else sum numeric
    # fields and last_value for the rest. Delete handling follows Paimon's
    # retraction contract per function class:
    #   - sum/count RETRACT: a -D row subtracts its stored contribution;
    #   - collect RETRACTS one occurrence per element (_collect_retract);
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
    items, strict_cols = [], []
    for c, q in zip(value_cols, quoted):
        func = specs.get(c) or default_aggregate
        if func is None:
            func = "sum" if isinstance(by_name[c], num_types) else "last_value"
        nested_key = (nested_keys or {}).get(c)
        if c in (ignore_retract or ()):
            # fields.<c>.ignore-retract (Paimon CoreOption): this column's
            # -D rows contribute nothing and never raise — the per-field
            # escape hatch for feeds whose retractions should be dropped,
            # regardless of the function's native retraction class
            agg = _field_agg(func, q, _INSERT, nested_key)
        elif func in ("sum", "count"):
            # sum/count both store additive contributions — retract by sign
            agg = f"sum(CASE WHEN {_DELETE} THEN -{q} ELSE {q} END)"
        elif func in ("collect", "collect_distinct"):
            # with a proven retraction-free changelog the ordered replay
            # collapses to the plain (associative) ordered concatenation
            distinct = func == "collect_distinct"
            agg = _field_agg(func, q) if no_retractions else _collect_retract(q, distinct)
        elif func in IGNORE_RETRACT_AGGREGATES:
            agg = _field_agg(func, q, _INSERT)
        else:
            # groups containing a delete raise below, so computing these
            # aggregates over the full frame (deletes included) only affects
            # groups that never survive to output
            agg = _field_agg(func, q, nested_key=nested_key)
            strict_cols.append((c, func))
        items.append((c, agg))
    state, keep = [("i", f"max(CASE WHEN {_INSERT} THEN 1 ELSE 0 END)")], "_k.i = 1"
    if strict_cols:
        # Paimon throws during the merge itself, whichever columns the query reads
        strict_desc = ", ".join(f"{func!r} for column {c!r}" for c, func in strict_cols)
        state.append(has_d)
        keep = _raise_if_deleted(
            f"aggregate-function {strict_desc} does not support retraction (delete rows present)",
            otherwise=keep,
        )
    merged = _merge_agg(df, primary_key, items, state)
    return _emit(merged.filter(keep), primary_key, winner)
