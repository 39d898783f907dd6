"""Merge-on-read keeps its scaffolding out of the user's namespace.

Every engine groups into two structs, ``_row`` for the user's values and
``_k`` for the merge state, so a value column may carry any name the merge
uses inside them: tables whose value columns carry such names read back
exactly. And the merge's SQL refers to no user column inside a lambda body,
so value columns named like its lambda variables merge as under plain names.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.catalog import WarehouseCatalog
from incubator_paimon_trino_spark.operators.merge_on_read import merge_on_read

NAMES = ["_has_d", "_has_i", "_sg0", "_pu0", "_dmax", "_imax", "_g", "_o", "_ins"]
DDL = ", ".join(["k bigint", *[f"{n} bigint" for n in NAMES]])


def _row(k, v, **over):
    return {"k": k, **{n: v for n in NAMES}, **over}


#: two commits; ``_g`` and ``_sg0`` are the sequence columns of the groups
FIRST = [_row(1, 10, _g=1, _sg0=3)]
SECOND = [_row(1, 5, _g=2, _sg0=1), _row(2, 7, _g=1, _sg0=1)]
GROUPS = {"fields._g.sequence-group": "_o,_ins", "fields._sg0.sequence-group": "_pu0"}

#: engine -> (table options, -D rows committed last or None, key -> row)
CASES = {
    "deduplicate": ({}, None, {1: SECOND[0], 2: SECOND[1]}),
    "first-row": ({"merge_engine": "first-row"}, None, {1: FIRST[0], 2: SECOND[1]}),
    "partial-update": ({"merge_engine": "partial-update"}, None, {1: SECOND[0], 2: SECOND[1]}),
    "partial-update-remove-record-on-delete": (
        {"merge_engine": "partial-update", "partial_update_remove_record_on_delete": "true"},
        [_row(2, None)],
        {1: SECOND[0]},
    ),
    "sequence-groups": (
        {"merge_engine": "partial-update", **GROUPS},
        None,
        {1: _row(1, 5, _g=2, _sg0=3, _pu0=10), 2: SECOND[1]},
    ),
    "sequence-groups-retraction": (
        {"merge_engine": "partial-update", **GROUPS},
        [{"k": 2, "_g": 5}],
        {
            1: _row(1, 5, _g=2, _sg0=3, _pu0=10),
            2: _row(2, 7, _sg0=1, _g=None, _o=None, _ins=None),
        },
    ),
    "aggregation": (
        {"merge_engine": "aggregation"},
        None,
        {1: _row(1, 15, _g=3, _sg0=4), 2: SECOND[1]},
    ),
    "aggregation-retraction": (
        {"merge_engine": "aggregation", "fields._o.aggregate-function": "last_value"},
        [_row(1, 5, _g=2, _sg0=1)],
        {1: _row(1, 10, _g=1, _sg0=3, _o=5), 2: SECOND[1]},
    ),
}


@pytest.mark.parametrize("engine", list(CASES))
def test_value_columns_named_like_scaffolding_read_back(spark, tmp_path, engine):
    options, deletes, want = CASES[engine]
    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("d")
    cat.create_table(
        "d", "t", [("k", "bigint"), *[(n, "bigint") for n in NAMES]],
        primary_key=["k"], options=options,
    )

    def commit(rows, **kw):
        data = [tuple(r.get(c) for c in ["k", *NAMES]) for r in rows]
        cat.insert_into("d", "t", spark.createDataFrame(data, DDL), **kw)

    commit(FIRST)
    commit(SECOND)
    if deletes:
        commit(deletes, row_kind="D")
    df = cat.read_table("d.t")
    assert df.columns == ["k", *NAMES]
    assert {r.k: r.asDict() for r in df.collect()} == want


#: value columns named like the lambda variables of the merge's SQL: in a
#: lambda body a variable shadows a column of the same name
LAMBDA_NAMES = {"v1": "s", "v2": "acc", "v3": "e", "v4": "x", "v5": "a", "v6": "m", "v7": "l", "v8": "r"}


@pytest.mark.parametrize(
    "engine,kwargs",
    [
        (
            "aggregation",
            {
                "field_aggregates": {
                    "v1": "collect", "v2": "merge_map", "v3": "listagg", "v4": "nested_update",
                    "v5": "product", "v6": "collect_distinct", "v7": "last_non_null_value",
                },
                "nested_keys": {"v4": ["id"]},
                "ignore_retract": {"v2", "v3", "v4", "v5"},
            },
        ),
        ("partial-update", {"sequence_groups": {"v5": ["v1", "v3"], "v8": ["v2"]}}),
    ],
)
def test_value_columns_named_like_lambda_variables(spark, engine, kwargs):
    rows = [
        (1, [1, 2], {"p": 1}, "b", [(1, "x")], 2, [3], "u", 1, 1, "I"),
        (1, [2], {"p": 2, "q": 3}, "a", [(1, "y"), (2, "z")], 3, [3, 4], None, 2, 2, "I"),
        (1, [1], None, "c", None, 5, [4], "w", 3, 3, "D"),
        (2, [5], {"r": 4}, None, [(3, "w")], 7, None, "t", 1, 1, "I"),
    ]
    ddl = (
        "k int, v1 array<int>, v2 map<string,int>, v3 string, v4 array<struct<id:int,s:string>>, "
        "v5 int, v6 array<int>, v7 string, v8 int, _seq bigint, _row_kind string"
    )
    df = spark.createDataFrame(rows, ddl)

    def merged(names):
        def ren(x):
            if isinstance(x, dict):
                return {ren(k): ren(v) for k, v in x.items()}
            if isinstance(x, (list, set)):
                return type(x)(map(ren, x))
            return names.get(x, x)

        out = merge_on_read(df.withColumnsRenamed(names), ["k"], engine, **ren(kwargs))
        back = {v: c for c, v in names.items()}
        return sorted(
            ({back.get(c, c): v for c, v in r.asDict(recursive=True).items()} for r in out.collect()),
            key=lambda r: r["k"],
        )

    assert merged(LAMBDA_NAMES) == merged({})
