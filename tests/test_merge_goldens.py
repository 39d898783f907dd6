"""Aggregation-engine and sequence-group merges against recorded goldens.

``tests/goldens/merge_on_read.json`` holds the output of ``merge_on_read``
for every ``FIELD_AGGREGATES`` function (plus ``collect_distinct``): plain,
with ``no_retractions=True``, with ``-D`` rows for the retractable and
ignore-retract classes, with ``ignore_retract`` on every column, the strict
class's error, ``nested_key``, map payloads with tied order keys, and
sequence groups with and without retractions. Arrays compare in stored
order; maps compare as their sorted entries (a map has no order).

Regenerate (only when a merge semantic changes on purpose) with
``python tests/test_merge_goldens.py``.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest
from pyspark.errors import PySparkException

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.operators.merge_on_read import (
    FIELD_AGGREGATES,
    IGNORE_RETRACT_AGGREGATES,
    RETRACTABLE_AGGREGATES,
    merge_on_read,
)

GOLDENS = Path(__file__).resolve().parent / "goldens" / "merge_on_read.json"
STRICT_ERROR = r"aggregate-function .*? does not support retraction \(delete rows present\)"

#: value column per function: (name, Spark type, function, nested key)
COLUMNS = [
    ("sum", "int", "sum", None),
    ("product", "int", "product", None),
    ("max", "int", "max", None),
    ("min", "int", "min", None),
    ("count", "int", "count", None),
    ("last_value", "string", "last_value", None),
    ("last_non_null_value", "string", "last_non_null_value", None),
    ("first_value", "string", "first_value", None),
    ("first_non_null_value", "string", "first_non_null_value", None),
    ("listagg", "string", "listagg", None),
    ("bool_and", "boolean", "bool_and", None),
    ("bool_or", "boolean", "bool_or", None),
    ("collect", "array<int>", "collect", None),
    ("collect_distinct", "array<int>", "collect_distinct", None),
    ("merge_map", "map<string,int>", "merge_map", None),
    ("nested_update", "array<struct<id:int,x:string>>", "nested_update", None),
    ("nested_keyed", "array<struct<id:int,x:string>>", "nested_update", ["id"]),
]
assert {f for _, _, f, _ in COLUMNS} == {*FIELD_AGGREGATES, "collect_distinct"}


def _value(i: int, typ: str):
    """The ``i``-th value of a column of type ``typ``; every fifth is null."""
    if i % 5 == 3:
        return None
    if typ == "int":
        return i % 4 + (i % 3)
    if typ == "string":
        return "abcd"[i % 4] + str(i % 3)
    if typ == "boolean":
        return i % 3 != 1
    if typ == "array<int>":
        return [i % 3, (i + 1) % 4][: 1 + i % 2]
    if typ == "map<string,int>":
        return {"abc"[i % 3]: (None if i % 7 == 2 else i), "abc"[(i + 1) % 3]: i * 2}
    return [(i % 3, "x" + str(i)), ((i + 2) % 3, "y" + str(i))][: 1 + i % 2]


#: (key, _seq, _row_kind) events; _seq is distinct per key, so no event
#: ties another on the order key
EVENTS_INSERTS = [(k, s, "I") for k in (1, 2, 3) for s in range(1, 5)]
EVENTS_DELETES = [
    (1, 1, "I"), (1, 2, "I"), (1, 3, "D"), (1, 4, "I"),  # delete mid-history
    (2, 1, "D"), (2, 2, "I"), (2, 3, "I"),  # delete before any insert
    (3, 1, "D"), (3, 2, "D"),  # deletes only: the key drops
    (4, 1, "I"), (4, 2, "I"),  # inserts only
]
#: rows of the columns in TIES, two pairs of them tied on the order key;
#: the maps of a tied pair share no key, so the merged map is one either way
TIES = ["sum", "max", "listagg", "collect", "collect_distinct", "merge_map"]
ROWS_TIES = [
    (1, 1, 1, "b", [2], [2, 1], {"a": 1}, 1, "I"),
    (1, 2, 5, "c", [3, 1], [1], {"b": 2, "c": None}, 2, "I"),
    (1, 3, 4, "a", [0], [3], {"a": 3}, 2, "I"),
    (1, None, 2, None, None, [2], {"c": 4}, 3, "I"),
    (2, 5, 1, "z", [1], [1], {"x": 1}, 1, "I"),
    (2, 6, 9, "y", [1, 1], [0], {"y": 2}, 1, "I"),
]


def _frame(spark, events, columns, rows=None):
    rows = rows or [
        (k, *[_value(i + 7 * j, typ) for j, (_, typ, _, _) in enumerate(columns)], s, kind)
        for i, (k, s, kind) in enumerate(events)
    ]
    ddl = ", ".join(["k int", *[f"`{n}` {t}" for n, t, _, _ in columns], "_seq bigint", "_row_kind string"])
    return spark.createDataFrame(rows, ddl)


def _plain(v):
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return sorted([k, _plain(x)] for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def _run(df, columns, **kwargs):
    try:
        rows = merge_on_read(
            df,
            ["k"],
            "aggregation",
            field_aggregates={n: f for n, _, f, _ in columns},
            nested_keys={n: key for n, _, _, key in columns if key},
            **kwargs,
        ).collect()
    except PySparkException as e:  # the strict class's raise: its text is the golden
        return {"error": re.search(STRICT_ERROR, str(e)).group(0)}
    return sorted([_plain(r) for r in rows], key=lambda r: r["k"])


def _sequence_group_run(spark, events, **kwargs):
    rows = [
        (k, None if i % 4 == 2 else 1 + (i * 5) % 3, "a" + str(i), None if i % 3 == 0 else i,
         None if i % 5 == 1 else (i * 3) % 4, "c" + str(i), i % 6, s, kind)
        for i, (k, s, kind) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "k int, g int, a string, b int, h int, c string, u int, _seq bigint, _row_kind string"
    )
    out = merge_on_read(df, ["k"], "partial-update", sequence_groups={"g": ["a", "b"], "h": ["c"]}, **kwargs)
    return sorted([r.asDict() for r in out.collect()], key=lambda r: r["k"])


def _cases(spark):
    """Case name -> thunk returning the case's plain output."""
    ignore = [c for c in COLUMNS if c[2] in (*RETRACTABLE_AGGREGATES, *IGNORE_RETRACT_AGGREGATES, "collect_distinct")]
    strict = [c for c in COLUMNS if c not in ignore]
    ties = [c for c in COLUMNS if c[0] in TIES]
    inserts = _frame(spark, EVENTS_INSERTS, COLUMNS)
    deletes = _frame(spark, EVENTS_DELETES, COLUMNS)
    return {
        "plain": lambda: _run(inserts, COLUMNS),
        "no_retractions": lambda: _run(inserts, COLUMNS, no_retractions=True),
        "deletes_retract_and_ignore_classes": lambda: _run(
            deletes.select("k", *[f"`{n}`" for n, *_ in ignore], "_seq", "_row_kind"), ignore
        ),
        "deletes_ignore_retract": lambda: _run(
            deletes, COLUMNS, ignore_retract={n for n, *_ in COLUMNS}
        ),
        "deletes_strict_class": lambda: _run(
            deletes.select("k", *[f"`{n}`" for n, *_ in strict], "_seq", "_row_kind"), strict
        ),
        "tied_order_keys": lambda: _run(_frame(spark, None, ties, ROWS_TIES), ties),
        "sequence_groups": lambda: _sequence_group_run(spark, EVENTS_INSERTS),
        "sequence_groups_no_retractions": lambda: _sequence_group_run(
            spark, EVENTS_INSERTS, no_retractions=True
        ),
        "sequence_groups_retractions": lambda: _sequence_group_run(spark, EVENTS_DELETES),
    }


CASES = [
    "plain",
    "no_retractions",
    "deletes_retract_and_ignore_classes",
    "deletes_ignore_retract",
    "deletes_strict_class",
    "tied_order_keys",
    "sequence_groups",
    "sequence_groups_no_retractions",
    "sequence_groups_retractions",
]


@pytest.mark.parametrize("case", CASES)
def test_merge_matches_golden(spark, case):
    want = json.loads(GOLDENS.read_text())[case]
    got = json.loads(json.dumps(_cases(spark)[case]()))
    assert got == want


if __name__ == "__main__":
    from incubator_paimon_trino_spark import get_spark

    session = get_spark("goldens", shuffle_partitions=8, extra_conf={"spark.default.parallelism": "2"})
    cases = _cases(session)
    GOLDENS.write_text(
        "{\n" + ",\n".join(f"{json.dumps(n)}: {json.dumps(cases[n](), separators=(',', ':'))}" for n in CASES) + "\n}\n"
    )
