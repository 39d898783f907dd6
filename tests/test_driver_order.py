"""The order in which `__spark_entry__.queries()` lists the registry, of
which the oracle check takes a prefix: red verdicts first, never-checked
queries next, then the hand-kept `_REPROOF` list in its order, then every
other verified query, stalest verdict first."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_driver_order_segments():
    import __spark_entry__ as entry
    from incubator_paimon_trino_spark.operators.registry import QUERIES

    verified, red = entry._driver_verified()
    order = entry._ordered_names()
    assert sorted(order) == sorted(QUERIES)
    assert list(entry.queries()) == order
    assert len(set(entry._REPROOF)) == len(entry._REPROOF), "duplicate _REPROOF entry"

    n_red = len([n for n in QUERIES if n in red])
    assert order[:n_red] == [n for n in QUERIES if n in red]
    unchecked = {n for n in QUERIES if n not in red and n not in verified}
    rest = order[n_red + len(unchecked):]
    assert set(order[n_red : n_red + len(unchecked)]) == unchecked

    reproof = [n for n in entry._REPROOF if n in verified and n not in red]
    assert rest[: len(reproof)] == reproof
    reg = list(QUERIES)
    tail = rest[len(reproof):]
    assert tail == sorted(tail, key=lambda n: (verified[n], reg.index(n)))
    assert set(tail) == set(verified) - set(reproof)

