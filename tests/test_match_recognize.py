"""General MATCH_RECOGNIZE engine (operators/match_recognize.py).

Matcher semantics are tested pure-Python on bit-matrices (no Spark); one
E2E test runs the full applyInPandas plan; the registered funnel query is
value-hash-checked against DuckDB by tools/check.py separately.
"""

from __future__ import annotations

import signal
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.operators.match_recognize import (
    find_matches,
    match_recognize,
    parse_pattern,
    pattern_symbols,
)


def _m(pattern: str, seq: str, after_match: str = "skip_past_last"):
    """'AABC' row sequence: the letter at each row is its only true symbol."""
    ast = parse_pattern(pattern)
    flags = {s: [c == s for c in seq] for s in pattern_symbols(ast)}
    return find_matches(ast, flags, len(seq), after_match)


def test_parser_and_symbols():
    ast = parse_pattern("A B+ (C | D)? E*")
    assert pattern_symbols(ast) == ["A", "B", "C", "D", "E"]
    with pytest.raises(ValueError):
        parse_pattern("A (B")
    with pytest.raises(ValueError):
        parse_pattern("A $ B")
    with pytest.raises(ValueError):
        parse_pattern("")


def test_concatenation_and_plus_greedy():
    # V C+ P on VCCCP: one match consuming the full click run
    assert _m("A B+ C", "ABBBC") == [(0, ["A", "B", "B", "B", "C"])]
    # B+ alone is greedy: takes the whole run, then the next run
    assert _m("B+", "BBABB") == [(0, ["B", "B"]), (3, ["B", "B"])]


def test_alternation_preference_order():
    # first alternative preferred when both match
    got = _m("A (B | C)", "AB")
    assert got == [(0, ["A", "B"])]
    # B row fails first alt, matches second
    assert _m("A (C | B)", "AB") == [(0, ["A", "B"])]


def test_optional_and_star():
    assert _m("A B? C", "AC") == [(0, ["A", "C"])]
    assert _m("A B? C", "ABC") == [(0, ["A", "B", "C"])]
    assert _m("A B* C", "AC") == [(0, ["A", "C"])]
    assert _m("A B* C", "ABBBBC") == [(0, ["A", "B", "B", "B", "B", "C"])]


def test_backtracking_required():
    # greedy B+ must give back a row so the trailing B can match:
    # pattern A B+ B on ABB -> B+ takes one B, final B takes the last
    assert _m("A B+ B", "ABB") == [(0, ["A", "B", "B"])]


def test_leftmost_and_skip_modes():
    # overlapping candidates: AA with pattern A A
    assert _m("A A", "AAA") == [(0, ["A", "A"])]  # skip_past_last: 3rd A unpaired
    assert _m("A A", "AAA", "skip_to_next_row") == [(0, ["A", "A"]), (1, ["A", "A"])]


def test_no_empty_matches():
    # pattern that can match empty must not loop or emit empty matches
    assert _m("A*", "BBB") == []
    assert _m("A?", "BB") == []


def test_e2e_spark_plan(spark):
    rows = [
        # user 1: V C C P (one match), then lone V
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"), (1, 5, "view"),
        # user 2: V P (no click -> no match)
        (2, 1, "view"), (2, 2, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id int, seq int, event_type string")
    out = match_recognize(
        df,
        partition_by=["user_id"],
        order_by=["seq"],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
    ).collect()
    got = sorted((r.user_id, r.seq, r.match_no, r.classifier, r.match_row) for r in out)
    assert got == [
        (1, 1, 1, "V", 1),
        (1, 2, 1, "C", 2),
        (1, 3, 1, "C", 3),
        (1, 4, 1, "P", 4),
    ]


def test_linear_fast_path_covers_registered_pattern():
    """r8 verdict item 7: the registered funnel's pattern (V C+ P) — and
    every linear shape — takes the VECTORIZED matcher; only alternation /
    grouped quantifiers fall back to the NFA generator."""
    from incubator_paimon_trino_spark.operators.match_recognize import _linear_atoms

    assert _linear_atoms(parse_pattern("V C+ P")) == [
        ("V", 1, 1), ("C", 1, None), ("P", 1, 1)
    ]
    assert _linear_atoms(parse_pattern("A B* C? D")) == [
        ("A", 1, 1), ("B", 0, None), ("C", 0, 1), ("D", 1, 1)
    ]
    assert _linear_atoms(parse_pattern("A (B | C)")) is None
    assert _linear_atoms(parse_pattern("A (B C)+")) is None


def test_linear_fast_path_equals_nfa_exhaustively():
    """Property pin: on every flag matrix the vectorized linear matcher is
    RESULT-IDENTICAL to the NFA — same starts, same classifiers, same
    greedy/backtracking preference, both after_match modes. Exhaustive over
    all 3-symbol row strings up to length 7 (3^7 = 2187 per pattern) plus
    randomized independent flags (symbols may overlap per row)."""
    import itertools
    import random

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _linear_atoms,
        find_matches_linear,
    )

    patterns = ["A B+ C", "A B* C", "A B? C", "A+ B", "A B+ C? A*", "A", "A*"]
    for pat in patterns:
        ast = parse_pattern(pat)
        atoms = _linear_atoms(ast)
        assert atoms is not None, pat
        for n in range(0, 8):
            for seq in itertools.product("ABC", repeat=n):
                flags = {s: [c == s for c in seq] for s in "ABC"}
                for am in ("skip_past_last", "skip_to_next_row"):
                    slow = find_matches(ast, flags, n, am)
                    fast = find_matches_linear(atoms, flags, n, am)
                    assert fast == slow, (pat, "".join(seq), am, fast, slow)
    rng = random.Random(7)
    for pat in patterns:
        ast = parse_pattern(pat)
        atoms = _linear_atoms(ast)
        for _ in range(300):
            n = rng.randrange(0, 30)
            flags = {s: [rng.random() < 0.45 for _ in range(n)] for s in "ABC"}
            for am in ("skip_past_last", "skip_to_next_row"):
                slow = find_matches(ast, flags, n, am)
                fast = find_matches_linear(atoms, flags, n, am)
                assert fast == slow, (pat, n, am)


def test_product_eligibility_boundary():
    """r11 (VERDICT r10 item 1): alternation/grouping patterns are now
    product-eligible (compiled-NFA vectorized path); the ONLY remaining
    fence is a quantifier over a NULLABLE body, where the backtracker's
    skip-empty-iteration semantics have no automaton mirror."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        _nullable,
        _product_eligible,
    )

    for pat in ["(A | B) C", "A (B | C)+", "(A B)+", "(A+ B?)+", "(A | B)* C",
                "A (B C?)+ D", "(A | A B) B"]:
        assert _product_eligible(parse_pattern(pat)), pat
    for pat in ["(A?)+", "(A*)*", "(A* B?)+ C", "((A | B)?)+"]:
        assert not _product_eligible(parse_pattern(pat)), pat
    assert _nullable(parse_pattern("A* B?"))
    assert not _nullable(parse_pattern("A* B"))


def test_compiled_nfa_shape():
    """The compiled automaton is ε-free, prioritized, and truncated at the
    first accept (accept is always feasible, so later moves are dead)."""
    from incubator_paimon_trino_spark.operators.match_recognize import compile_nfa

    moves, start = compile_nfa(parse_pattern("(A | B) C"))
    assert [m[:2] for m in moves[start]] == [("c", "A"), ("c", "B")]
    for mv in moves:  # consumes first, at most one accept, always last
        kinds = [m[0] for m in mv]
        assert kinds.count("a") <= 1
        if "a" in kinds:
            assert kinds[-1] == "a"
    # (A* | B): the empty-preferring first alternative truncates the B move
    moves2, start2 = compile_nfa(parse_pattern("(A* | B)"))
    assert [m[0] for m in moves2[start2]] == ["c", "a"]
    assert moves2[start2][0][1] == "A"


def test_product_path_equals_nfa_exhaustively():
    """Property pin (the linear pin's twin): on every flag matrix the
    compiled-automaton matcher is RESULT-IDENTICAL to the backtracking
    NFA — same starts, classifiers, preference order, both after_match
    modes. Exhaustive over all 3-symbol row strings up to length 6, plus
    randomized independent flags."""
    import itertools
    import random

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _product_eligible,
        compile_nfa,
        find_matches_product,
    )

    patterns = ["(A | B) C", "A (B | C)+", "(A B)+", "(A B | C)+ A?",
                "(A | B)* C", "A (B C?)+", "(A | A B) B", "(A* | B)",
                "C (A* | B)", "(A | B)+", "(A B+ | C)* A", "(A | B) (C | A)*"]
    for pat in patterns:
        ast = parse_pattern(pat)
        assert _product_eligible(ast), pat
        moves, start = compile_nfa(ast)
        for n in range(0, 7):
            for seq in itertools.product("ABC", repeat=n):
                flags = {s: [c == s for c in seq] for s in "ABC"}
                for am in ("skip_past_last", "skip_to_next_row"):
                    slow = find_matches(ast, flags, n, am)
                    fast = find_matches_product(moves, start, flags, n, am)
                    assert fast == slow, (pat, "".join(seq), am, fast, slow)
    rng = random.Random(7)
    for pat in patterns:
        ast = parse_pattern(pat)
        moves, start = compile_nfa(ast)
        for _ in range(120):
            n = rng.randrange(0, 30)
            flags = {s: [rng.random() < 0.45 for _ in range(n)] for s in "ABC"}
            for am in ("skip_past_last", "skip_to_next_row"):
                slow = find_matches(ast, flags, n, am)
                fast = find_matches_product(moves, start, flags, n, am)
                assert fast == slow, (pat, n, am)


@contextmanager
def _deadline(seconds: float):
    """Fail the enclosed block by SIGALRM once ``seconds`` pass, so a
    matcher that runs for an exponential time fails instead of hanging."""

    def expire(signum, frame):
        raise TimeoutError(f"matcher ran past {seconds}s")

    prev = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, prev)


def test_backtracking_is_linear_on_ambiguous_patterns():
    """Ambiguous alternations inside quantifiers have exponentially many
    ways to split an all-A run; the dead-state memo visits each (state,
    row) pair once. ``(A | A A){1,35} B`` compiles to 72 states; 40 all-A
    rows without a B finish in well under a second."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        compile_nfa,
        find_matches_product,
    )

    ast = parse_pattern("(A | A A){1,35} B")
    moves, start = compile_nfa(ast)
    assert len(moves) == 72
    n = 40
    flags = {"A": [True] * n, "B": [False] * n}
    with _deadline(1.0):
        assert find_matches_product(moves, start, flags, n, "skip_past_last") == []
    # a B at the end: 35 iterations cover the 39 A rows only by mixing in
    # A A pairs, so the one match spans the whole partition
    flags = {"A": [True] * (n - 1) + [False], "B": [False] * (n - 1) + [True]}
    with _deadline(1.0):
        got = find_matches_product(moves, start, flags, n, "skip_past_last")
    assert got == find_matches(ast, flags, n, "skip_past_last")
    assert [(j, len(cls)) for j, cls in got] == [(0, n)]


def test_stream_scan_is_linear_on_ambiguous_patterns():
    """The streaming scan runs the same memoized matcher per WITHIN span:
    ``(A | A A)+ B`` over 40 all-A rows, one a second, all inside one
    WITHIN and past the watermark, finishes in well under a second."""
    import numpy as np

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _stream_scan,
        compile_nfa,
    )

    moves, start = compile_nfa(parse_pattern("(A | A A)+ B"))
    n = 40
    ts = np.arange(n, dtype=np.int64) * 1_000_000
    within_us = 10 * 3600 * 1_000_000
    frontier = int(ts[-1]) + 2 * within_us
    flags = {"A": np.ones(n, dtype=bool), "B": np.zeros(n, dtype=bool)}
    with _deadline(1.0):
        got, keep_from = _stream_scan(
            moves, start, flags, ts, within_us, frontier, "skip_past_last"
        )
    assert got == [] and keep_from == n


def test_e2e_spark_plan_nonlinear(spark):
    """Alternation pattern end-to-end through the automaton matcher."""
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "c")], "u int, ts int, e string"
    )
    define = {s: f"e = '{v}'" for s, v in {"A": "a", "B": "b", "C": "c"}.items()}
    out = match_recognize(df, ["u"], ["ts"], "(A | B) C", define)
    assert out.count() == 2  # B at ts2 then C at ts3
    out2 = match_recognize(df, ["u"], ["ts"], "(A | B) C?", define)
    assert out2.count() == 3  # A alone, then B+C


def test_nullable_body_quantifier_vectorizes(spark):
    """Quantified nullable groups normalize at parse time to their
    non-nullable equivalent and run the automaton matcher."""
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b")], "u int, ts int, e string"
    )
    define = {"A": "e = 'a'", "B": "e = 'b'"}
    out = match_recognize(df, ["u"], ["ts"], "(A?)+ B", define)
    assert out.count() == 2  # A then B in one match


def test_nullable_rewrite_equals_nfa_exhaustively():
    """r12 pin (the product pin's twin for the parse-time rewrite): on every
    flag matrix, the REWRITTEN pattern through the vectorized matchers is
    result-identical to the original pattern through the backtracking NFA —
    same starts, classifiers, preference order, both after_match modes.
    Exhaustive to length 6 plus randomized independent
    flags, over greedy/reluctant/alternation/sequence nullable bodies."""
    import itertools
    import random

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _linear_atoms,
        _product_eligible,
        _rewrite_nullable_bodies,
        compile_nfa,
        find_matches_linear,
        find_matches_product,
    )

    patterns = ["(A?)+", "(A*)*", "(A* B?)+ C", "((A | B)?)+", "(A? B?)+",
                "(A??)+", "(A*? B?)+", "(A? | B)+ C", "((A|B)? C?)*",
                "(A{0,2})+ B", "(A? B*)+", "((A | B?) C?)+", "(B? A)* C",
                "A (B? C??)+"]
    for pat in patterns:
        ast = parse_pattern(pat)
        rw = _rewrite_nullable_bodies(ast)
        assert _product_eligible(rw), pat  # the rewrite's whole point
        moves, start = compile_nfa(rw)
        atoms = _linear_atoms(rw)
        for n in range(0, 7):
            for seq in itertools.product("ABC", repeat=n):
                flags = {s: [c == s for c in seq] for s in "ABC"}
                for am in ("skip_past_last", "skip_to_next_row"):
                    slow = find_matches(ast, flags, n, am)
                    if atoms is not None:
                        fast = find_matches_linear(atoms, flags, n, am)
                    else:
                        fast = find_matches_product(moves, start, flags, n, am)
                    assert fast == slow, (pat, "".join(seq), am, fast, slow)
    rng = random.Random(12)
    for pat in patterns:
        ast = parse_pattern(pat)
        rw = _rewrite_nullable_bodies(ast)
        moves, start = compile_nfa(rw)
        for _ in range(120):
            n = rng.randrange(0, 25)
            flags = {s: [rng.random() < 0.45 for _ in range(n)] for s in "ABC"}
            for am in ("skip_past_last", "skip_to_next_row"):
                slow = find_matches(ast, flags, n, am)
                fast = find_matches_product(moves, start, flags, n, am)
                assert fast == slow, (pat, n, am)


def test_anchors_equal_nfa_exhaustively():
    """r12: partition anchors ^ / $ on all three matchers vs the
    anchor-filtered backtracking NFA, exhaustive to length 6."""
    import itertools

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _linear_atoms,
        compile_nfa,
        find_matches_linear,
        find_matches_product,
    )

    for pat in ["A B+", "(A | B) C", "A+", "A B? C*", "(A B | C)+"]:
        ast = parse_pattern(pat)
        atoms = _linear_atoms(ast)
        for sa, se in [(True, False), (False, True), (True, True)]:
            moves, start = compile_nfa(ast, truncate=not se)
            for n in range(0, 7):
                for seq in itertools.product("ABC", repeat=n):
                    flags = {s: [c == s for c in seq] for s in "ABC"}
                    for am in ("skip_past_last", "skip_to_next_row"):
                        slow = find_matches(ast, flags, n, am, sa, se)
                        fp = find_matches_product(
                            moves, start, flags, n, am, start_anchor=sa, end_anchor=se
                        )
                        assert fp == slow, (pat, "".join(seq), am, sa, se)
                        if atoms is not None:
                            fl = find_matches_linear(atoms, flags, n, am, sa, se)
                            assert fl == slow, (pat, "".join(seq), am, sa, se)


def test_anchor_parse_and_e2e(spark):
    """^/$ parse only at the pattern's outermost edges; $ end-anchors the
    match to the partition's last row end-to-end."""
    import pytest

    from incubator_paimon_trino_spark.operators.match_recognize import (
        parse_pattern_anchored,
    )

    _, sa, se = parse_pattern_anchored("^ A B+ $")
    assert sa and se
    with pytest.raises(ValueError):
        parse_pattern("^ A")  # the unanchored entry point refuses anchors
    df = spark.createDataFrame(
        [(1, 1, "c"), (1, 2, "a"), (1, 3, "c"), (1, 4, "c")],
        "u int, ts int, e string",
    )
    out = match_recognize(
        df, ["u"], ["ts"], "C+ $", {"C": "e = 'c'"}
    ).orderBy("ts").collect()
    # only the TRAILING click run matches (rows 3..4), not the row-1 click
    assert [r["ts"] for r in out] == [3, 4]
    out2 = match_recognize(df, ["u"], ["ts"], "^ C", {"C": "e = 'c'"}).collect()
    assert [r["ts"] for r in out2] == [1]


def test_large_automaton_equals_nfa():
    """PERMUTE(5) compiles to hundreds of states; the compiled matcher
    still gives the backtracking NFA's answer."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        compile_nfa,
        find_matches_product,
    )

    ast = parse_pattern("PERMUTE(A, B, C, D, E)")
    moves, start = compile_nfa(ast)
    assert len(moves) > 100
    seq = "DABEC" + "ACBDE" + "AAAAA"
    flags = {s: [c == s for c in seq] for s in "ABCDE"}
    n = len(seq)
    slow = find_matches(ast, flags, n, "skip_past_last")
    fast = find_matches_product(moves, start, flags, n, "skip_past_last")
    assert fast == slow and len(fast) == 2


def test_bounded_quantifiers_desugar_and_match():
    """r11: {n} / {n,} / {n,m} desugar into the three core forms with greedy
    preference preserved — pinned against Python's re engine (an INDEPENDENT
    leftmost-greedy reference) and against the backtracking NFA through the
    automaton matcher, exhaustively to length 6."""
    import itertools
    import re as _re

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _product_eligible,
        compile_nfa,
        find_matches_product,
    )

    def re_reference(rx, s):
        out, i, pat = [], 0, _re.compile(rx)
        while i < len(s):
            m = pat.match(s, i)
            if m and m.end() > i:
                out.append((i, m.end() - i))
                i = m.end()
            else:
                i += 1
        return out

    cases = [
        ("A{2}", "A{2}"), ("A{2,4} B", "A{2,4}B"), ("A{2,} B", "A{2,}B"),
        ("(A B){1,2} C", "(AB){1,2}C"), ("A{0,2} B", "A{0,2}B"),
        ("(A | B){2,3}", "[AB]{2,3}"),
    ]
    for pat, rx in cases:
        ast = parse_pattern(pat)
        assert _product_eligible(ast), pat
        moves, start = compile_nfa(ast)
        for n in range(0, 7):
            for seq in itertools.product("ABC", repeat=n):
                s = "".join(seq)
                flags = {sym: [c == sym for c in seq] for sym in "ABC"}
                got = find_matches(ast, flags, n, "skip_past_last")
                assert [(st, len(cls)) for st, cls in got] == re_reference(rx, s), (pat, s)
                fast = find_matches_product(moves, start, flags, n, "skip_past_last")
                assert fast == got, (pat, s)
    with pytest.raises(ValueError):
        parse_pattern("A{3,2}")
    with pytest.raises(ValueError):
        parse_pattern("A{0,0}")
    with pytest.raises(ValueError):
        parse_pattern("A{2")


def test_reluctant_quantifiers_match_re_reference():
    """r11: reluctant quantifiers (+? *? ?? {n,m}?) — preference order
    flips to FEWER rows first, pinned against Python's re engine and the
    automaton matcher, exhaustively to length 6. Reluctant
    patterns never take the linear path (its recurrences assume greedy)."""
    import itertools
    import re as _re

    from incubator_paimon_trino_spark.operators.match_recognize import (
        _linear_atoms,
        _product_eligible,
        compile_nfa,
        find_matches_product,
    )

    def re_reference(rx, s):
        out, i, pat = [], 0, _re.compile(rx)
        while i < len(s):
            m = pat.match(s, i)
            if m and m.end() > i:
                out.append((i, m.end() - i))
                i = m.end()
            else:
                i += 1
        return out

    cases = [
        ("A+? B", "A+?B"), ("A*? B", "A*?B"), ("A?? B", "A??B"), ("A+?", "A+?"),
        ("A B*? C", "AB*?C"), ("(A | B)+? C", "[AB]+?C"),
        ("A{1,3}? B", "A{1,3}?B"), ("A{2,}? B", "A{2,}?B"),
        ("(A B){1,2}? C", "(AB){1,2}?C"), ("A*?", "A*?"),
    ]
    for pat, rx in cases:
        ast = parse_pattern(pat)
        assert _linear_atoms(ast) is None, pat
        assert _product_eligible(ast), pat
        moves, start = compile_nfa(ast)
        for n in range(0, 7):
            for seq in itertools.product("ABC", repeat=n):
                s = "".join(seq)
                flags = {sym: [c == sym for c in seq] for sym in "ABC"}
                got = find_matches(ast, flags, n, "skip_past_last")
                assert [(st, len(c)) for st, c in got] == re_reference(rx, s), (pat, s)
                fast = find_matches_product(moves, start, flags, n, "skip_past_last")
                assert fast == got, (pat, s)


def test_permute_desugars_to_preference_ordered_alternation():
    """r11: PERMUTE(A, B, ...) — all orderings, lexicographic preference by
    argument position (Trino/SQL-standard) — pinned against re; quantified
    elements permute too; >6 elements refuse (factorial blowup)."""
    import itertools
    import re as _re

    from incubator_paimon_trino_spark.operators.match_recognize import (
        compile_nfa,
        find_matches_product,
    )

    def re_reference(rx, s):
        out, i, pat = [], 0, _re.compile(rx)
        while i < len(s):
            m = pat.match(s, i)
            if m and m.end() > i:
                out.append((i, m.end() - i))
                i = m.end()
            else:
                i += 1
        return out

    cases = [
        ("PERMUTE(A, B)", "(AB|BA)"),
        ("PERMUTE(A, B, C)", "(ABC|ACB|BAC|BCA|CAB|CBA)"),
        ("C PERMUTE(A, B) C", "C(AB|BA)C"),
        ("PERMUTE(A+, B)", "(A+B|BA+)"),
    ]
    for pat, rx in cases:
        ast = parse_pattern(pat)
        moves, start = compile_nfa(ast)
        for n in range(0, 7):
            for seq in itertools.product("ABC", repeat=n):
                s = "".join(seq)
                flags = {sym: [c == sym for c in seq] for sym in "ABC"}
                got = find_matches(ast, flags, n, "skip_past_last")
                assert [(st, len(c)) for st, c in got] == re_reference(rx, s), (pat, s)
                fast = find_matches_product(moves, start, flags, n, "skip_past_last")
                assert fast == got, (pat, s)
    with pytest.raises(ValueError, match="PERMUTE"):
        parse_pattern("PERMUTE(A, B, C, D, E, F, G)")
    assert pattern_symbols(parse_pattern("PERMUTE(A, B)")) == ["A", "B"]


def test_define_navigation_rewrite():
    """r11: PREV/NEXT in DEFINE rewrite to generated lag/lead columns —
    nested parens, explicit offsets, multiple calls; non-literal offsets
    refuse (Trino's constraint)."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        _rewrite_navigation,
    )

    navs = []
    out = _rewrite_navigation("value < PREV(value)", navs)
    assert out == "value < _mr_nav0"
    assert navs == [("PREV", "value", 1, "_mr_nav0")]
    navs = []
    out = _rewrite_navigation("PREV(CAST(v AS INT), 2) > next(x + (y))", navs)
    assert out == "_mr_nav0 > _mr_nav1"
    assert navs[0] == ("PREV", "CAST(v AS INT)", 2, "_mr_nav0")
    assert navs[1] == ("NEXT", "x + (y)", 1, "_mr_nav1")
    with pytest.raises(ValueError, match="integer literal"):
        _rewrite_navigation("PREV(v, k)", [])
    # no navigation → unchanged, and identifiers containing the words pass
    navs = []
    assert _rewrite_navigation("prevision > 1 AND x_next < 2", navs) == (
        "prevision > 1 AND x_next < 2"
    )
    assert navs == []


def test_define_navigation_e2e(spark):
    """NEXT(value) in DEFINE end-to-end: rows where the NEXT row's value is
    higher start an ascent; partition edges (lead NULL) flag false."""
    rows = [
        (1, 1, 10.0), (1, 2, 20.0), (1, 3, 15.0), (1, 4, 30.0), (1, 5, 5.0),
    ]
    df = spark.createDataFrame(rows, "u int, seq int, value double")
    out = match_recognize(
        df,
        partition_by=["u"],
        order_by=["seq"],
        pattern="U+",
        define={"U": "value < NEXT(value)"},
    ).collect()
    # rows 1 (10<20), 3 (15<30) qualify; row 4 (30>5) and row 5 (edge) do not
    got = sorted((r.seq, r.match_no) for r in out)
    assert got == [(1, 1), (3, 2)]


def test_after_match_skip_to_first_last():
    """r11: AFTER MATCH SKIP TO FIRST/LAST <symbol> — resume AT that row
    (overlapping matches); symbol-absent and first-row-of-match cases
    raise, matching Trino's two error conditions. Equivalent across all
    three matchers (checked inline on the compiled path)."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        compile_nfa,
        find_matches_product,
    )

    ast = parse_pattern("A B+")
    flags = {s: [c == s for c in "ABBAB"] for s in "AB"}
    # skip_to_last B: match [A B B] resumes at row 2 (a B) — no A there, so
    # the next match starts at the next A
    got = find_matches(ast, flags, 5, ("last", "B"))
    assert got == [(0, ["A", "B", "B"]), (3, ["A", "B"])]
    moves, start = compile_nfa(ast)
    assert find_matches_product(moves, start, flags, 5, ("last", "B")) == got
    # chained overlap: C C over a click run with skip_to_last
    ast2 = parse_pattern("C C")
    f2 = {"C": [True, True, True, True]}
    assert find_matches(ast2, f2, 4, ("last", "C")) == [
        (0, ["C", "C"]), (1, ["C", "C"]), (2, ["C", "C"]),
    ]
    # errors: absent symbol; skip to the match's own first row
    ast3 = parse_pattern("A B?")
    f3 = {"A": [True], "B": [False]}
    with pytest.raises(ValueError, match="not present"):
        find_matches(ast3, f3, 1, ("last", "B"))
    with pytest.raises(ValueError, match="first row"):
        find_matches(ast3, {"A": [True, True], "B": [True, False]}, 2, ("first", "A"))


def test_after_match_string_forms(spark):
    """The public API accepts 'skip_to_first X' / 'skip_to_last X' strings
    and validates the symbol against the pattern."""
    df = spark.createDataFrame(
        [(1, 1, "c"), (1, 2, "c"), (1, 3, "c")], "u int, ts int, e string"
    )
    out = match_recognize(
        df, ["u"], ["ts"], "C C", {"C": "e = 'c'"}, after_match="skip_to_last C"
    )
    assert out.count() == 4  # two overlapping pairs
    with pytest.raises(ValueError, match="unknown after_match"):
        match_recognize(df, ["u"], ["ts"], "C C", {"C": "e = 'c'"}, after_match="skip_to_last X")


def test_measures_one_row_per_match(spark):
    """r11: MEASURES + ONE ROW PER MATCH + SUBSET — FIRST/LAST offsets,
    symbol/subset scopes, CLASSIFIER/MATCH_NUMBER, raw-SQL escape hatch,
    and out-of-range navigation returning NULL."""
    rows = [
        (1, 1, "view", 10.0), (1, 2, "click", 1.0), (1, 3, "click", 2.0),
        (1, 4, "purchase", 100.0),
        (1, 5, "view", 20.0), (1, 6, "click", 3.0), (1, 7, "purchase", 200.0),
    ]
    df = spark.createDataFrame(rows, "u int, seq int, e string, value double")
    out = match_recognize(
        df,
        partition_by=["u"],
        order_by=["seq"],
        pattern="V C+ P",
        define={"V": "e = 'view'", "C": "e = 'click'", "P": "e = 'purchase'"},
        measures={
            "mn": "MATCH_NUMBER()",
            "first_seq": "FIRST(seq)",
            "second_seq": "FIRST(seq, 1)",
            "tenth_seq": "FIRST(seq, 9)",  # out of range → NULL
            "first_click": "FIRST(C.seq)",
            "last_click": "LAST(C.seq)",
            "penult": "LAST(seq, 1)",
            "n_clicks": "COUNT(C.*)",
            "n_edge": "COUNT(U.*)",
            "cls": "CLASSIFIER()",
            "raw": "sum(case when classifier = 'C' then value end)",
        },
        rows_per_match="one",
        subsets={"U": ["V", "P"]},
    ).collect()
    got = sorted(
        (r.u, r.mn, r.first_seq, r.second_seq, r.tenth_seq, r.first_click,
         r.last_click, r.penult, r.n_clicks, r.n_edge, r.cls, r.raw)
        for r in out
    )
    assert got == [
        (1, 1, 1, 2, None, 2, 3, 3, 2, 2, "P", 3.0),
        (1, 2, 5, 6, None, 6, 6, 6, 1, 2, "P", 3.0),
    ]
    with pytest.raises(ValueError, match="needs a measures"):
        match_recognize(df, ["u"], ["seq"], "V", {"V": "true"}, rows_per_match="one")
    with pytest.raises(ValueError, match="collides"):
        match_recognize(
            df, ["u"], ["seq"], "V", {"V": "true"},
            measures={"n": "COUNT(*)"}, subsets={"V": ["V"]},
        )
    with pytest.raises(ValueError, match="unknown symbols"):
        match_recognize(
            df, ["u"], ["seq"], "V", {"V": "true"},
            measures={"n": "COUNT(*)"}, subsets={"U": ["X"]},
        )


def test_measures_all_rows_running_final(spark):
    """r12: ALL ROWS PER MATCH carrying MEASURES — RUNNING by default
    (aggregates over the match prefix up to the current row), FINAL prefix
    for whole-match values; matched rows keep match_no/classifier/match_row."""
    rows = [
        (1, 1, "view", 10.0), (1, 2, "click", 1.0), (1, 3, "click", 2.0),
        (1, 4, "purchase", 100.0), (1, 5, "noise", 0.0),
    ]
    df = spark.createDataFrame(rows, "u int, seq int, e string, value double")
    out = match_recognize(
        df, ["u"], ["seq"], "V C+ P",
        define={"V": "e = 'view'", "C": "e = 'click'", "P": "e = 'purchase'"},
        measures={
            "run_rows": "COUNT(*)",                # RUNNING is the default
            "fin_rows": "FINAL COUNT(*)",
            "run_clicks": "RUNNING COUNT(C.*)",
            "run_sum": "SUM(value)",
            "fin_cls": "FINAL CLASSIFIER()",
            "cur_cls": "CLASSIFIER()",             # RUNNING: the current row
            "run_last": "LAST(seq)",               # RUNNING LAST = current seq
            "fin_first_click": "FINAL FIRST(C.seq)",
        },
        rows_per_match="all",
    ).orderBy("seq").collect()
    assert [r.seq for r in out] == [1, 2, 3, 4]
    assert [r.run_rows for r in out] == [1, 2, 3, 4]
    assert [r.fin_rows for r in out] == [4, 4, 4, 4]
    assert [r.run_clicks for r in out] == [0, 1, 2, 2]
    assert [r.run_sum for r in out] == [10.0, 11.0, 13.0, 113.0]
    assert [r.fin_cls for r in out] == ["P"] * 4
    assert [r.cur_cls for r in out] == ["V", "C", "C", "P"]
    assert [r.run_last for r in out] == [1, 2, 3, 4]
    assert [r.fin_first_click for r in out] == [2, 2, 2, 2]


def test_with_unmatched_rows(spark):
    """r12: ALL ROWS PER MATCH WITH UNMATCHED ROWS — unmatched rows emit
    with NULL match_no/classifier/match_row and NULL measures."""
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "x"), (1, 4, "a"), (1, 5, "b")]
    df = spark.createDataFrame(rows, "u int, seq int, e string")
    out = match_recognize(
        df, ["u"], ["seq"], "A B", {"A": "e = 'a'", "B": "e = 'b'"},
        measures={"n": "FINAL COUNT(*)"},
        rows_per_match="all_with_unmatched",
    ).orderBy("seq").collect()
    assert [r.seq for r in out] == [1, 2, 3, 4, 5]
    assert [r.match_no for r in out] == [1, 1, None, 2, 2]
    assert [r.classifier for r in out] == ["A", "B", None, "A", "B"]
    assert [r.n for r in out] == [2, 2, None, 2, 2]


def test_pattern_exclusion(spark):
    """r12: {- ... -} — excluded rows match (and advance SKIP / feed
    MEASURES) but are omitted from the all-rows output; CLASSIFIER scopes
    never see the internal alias."""
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "click"), (1, 4, "purchase"),
        (1, 5, "view"), (1, 6, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u int, seq int, e string")
    define = {"V": "e = 'view'", "C": "e = 'click'", "P": "e = 'purchase'"}
    out = match_recognize(
        df, ["u"], ["seq"], "V {- C* -} P", define
    ).orderBy("seq").collect()
    # clicks are matched (the V..P spans are contiguous) but not emitted
    assert [(r.seq, r.classifier, r.match_no) for r in out] == [
        (1, "V", 1), (4, "P", 1), (5, "V", 2), (6, "P", 2)
    ]
    # excluded rows still feed MEASURES (SQL-standard exclusion semantics)
    one = match_recognize(
        df, ["u"], ["seq"], "V {- C* -} P", define,
        measures={"n_clicks": "COUNT(C.*)", "n_rows": "COUNT(*)"},
        rows_per_match="one",
    ).orderBy("n_rows").collect()
    assert [(r.n_clicks, r.n_rows) for r in one] == [(0, 2), (2, 4)]
    # exclusion + linear fast path + unmatched: hidden rows are NOT unmatched
    un = match_recognize(
        df, ["u"], ["seq"], "V {- C* -} P", define,
        rows_per_match="all_with_unmatched",
    ).orderBy("seq").collect()
    assert [(r.seq, r.match_no) for r in un] == [
        (1, 1), (4, 1), (5, 2), (6, 2)
    ]
    with pytest.raises(ValueError, match="unclosed exclusion|unexpected end"):
        parse_pattern("V {- C*")


def test_measure_sugar_balanced_parens():
    """ADVICE r11: compound raw-SQL measures that merely START with an
    aggregate name ('SUM(a) + COUNT(b)') must reach the raw-SQL escape
    hatch, not mis-parse as a scoped SUM."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        _measure_column,
    )

    c = _measure_column("SUM(value) + COUNT(*)", {})
    # renders as raw expr: the generated SQL keeps the full compound text
    s = c._jc.toString()
    assert "+" in s and "count" in s.lower()
    c2 = _measure_column("FIRST(seq) - LAST(seq)", {})
    assert "-" in c2._jc.toString()


def test_show_empty_matches(spark):
    """r12: Trino's SHOW EMPTY MATCHES (the default) — a nullable pattern
    matches empty at every scanned non-starting row; each empty match takes
    a match number and emits one carrier row with NULL classifier/match_row
    and zero-row measures. OMIT drops the carrier rows but the dropped
    matches still consume MATCH_NUMBER() — surviving matches keep gapped
    numbers (r13 — ADVICE r12; SQL:2016/Trino OMIT semantics)."""
    df = spark.createDataFrame(
        [(1, 1, "b"), (1, 2, "b"), (1, 3, "a"), (1, 4, "a"), (1, 5, "b")],
        "u int, ts int, e string",
    )
    out = match_recognize(
        df, ["u"], ["ts"], "A*", {"A": "e = 'a'"},
        measures={"n": "FINAL COUNT(*)", "cls": "FINAL CLASSIFIER()"},
        rows_per_match="all",
    ).orderBy("ts").collect()
    assert [(r.ts, r.match_no, r.classifier, r.match_row, r.n, r.cls) for r in out] == [
        (1, 1, None, None, 0, None),
        (2, 2, None, None, 0, None),
        (3, 3, "A", 1, 2, "A"),
        (4, 3, "A", 2, 2, "A"),
        (5, 4, None, None, 0, None),
    ]
    omit = match_recognize(
        df, ["u"], ["ts"], "A*", {"A": "e = 'a'"}, empty_matches="omit"
    ).orderBy("ts").collect()
    # rows at ts 1 and 2 host empty matches 1 and 2 (omitted); the A A
    # match is therefore match number 3, not 1
    assert [(r.ts, r.match_no) for r in omit] == [(3, 3), (4, 3)]
    one = match_recognize(
        df, ["u"], ["ts"], "A*", {"A": "e = 'a'"},
        measures={"n": "COUNT(*)", "first_a": "FIRST(A.ts)"},
        rows_per_match="one",
    ).collect()
    assert sorted((r.n, r.first_a) for r in one) == [(0, None)] * 3 + [(2, 3)]
    # non-nullable patterns have no empty matches: modes coincide
    a = match_recognize(df, ["u"], ["ts"], "A+", {"A": "e = 'a'"}).count()
    b = match_recognize(
        df, ["u"], ["ts"], "A+", {"A": "e = 'a'"}, empty_matches="omit"
    ).count()
    assert a == b == 2
    import pytest

    with pytest.raises(ValueError, match="empty_matches"):
        match_recognize(df, ["u"], ["ts"], "A*", {"A": "e='a'"}, empty_matches="x")


def test_classifier_subset_measure(spark):
    """r12: CLASSIFIER(U) — the last visible row mapped to the subset."""
    df = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "b"), (1, 3, "c")], "u int, ts int, e string"
    )
    out = match_recognize(
        df, ["u"], ["ts"], "A B C",
        {"A": "e = 'a'", "B": "e = 'b'", "C": "e = 'c'"},
        measures={"last_ab": "CLASSIFIER(U)", "last_all": "CLASSIFIER()"},
        rows_per_match="one",
        subsets={"U": ["A", "B"]},
    ).collect()
    assert [(r.last_ab, r.last_all) for r in out] == [("B", "C")]


def test_exclusion_interactions(spark):
    """r12 corner cases: SKIP TO an EXCLUDED symbol still resolves (the row
    is matched, just hidden); a symbol appearing both inside and outside an
    exclusion keeps its visible occurrences and its full measure scope; and
    SHOW EMPTY + WITH UNMATCHED compose (an empty-match carrier row is not
    unmatched)."""
    rows = [(1, i, e) for i, e in enumerate("abba", start=1)]
    df = spark.createDataFrame(rows, "u int, ts int, e string")
    define = {"A": "e = 'a'", "B": "e = 'b'"}
    # skip to last B where B is excluded: overlap resumes AT the hidden row
    out = match_recognize(
        df, ["u"], ["ts"], "A {- B -}", define, after_match="skip_to_last B"
    ).orderBy("ts").collect()
    # match 1 = rows 1..2 (A shown, B hidden); scan resumes AT row 2 (B) —
    # no A there, then row 4's A matches alone only if followed by B: no.
    assert [(r.ts, r.classifier, r.match_no) for r in out] == [(1, "A", 1)]
    # same symbol in AND out of exclusion: A {- A -} on "aa.." — first A
    # shown, second hidden; COUNT(A.*) still sees both
    df2 = spark.createDataFrame(
        [(1, 1, "a"), (1, 2, "a"), (1, 3, "b")], "u int, ts int, e string"
    )
    shown = match_recognize(df2, ["u"], ["ts"], "A {- A -}", define).collect()
    assert [(r.ts, r.classifier) for r in shown] == [(1, "A")]
    one = match_recognize(
        df2, ["u"], ["ts"], "A {- A -}", define,
        measures={"n_a": "COUNT(A.*)", "last_a_ts": "LAST(A.ts)"},
        rows_per_match="one",
    ).collect()
    assert [(r.n_a, r.last_a_ts) for r in one] == [(2, 2)]
    # SHOW EMPTY + WITH UNMATCHED: empty carriers are matched, not unmatched
    un = match_recognize(
        df2, ["u"], ["ts"], "B*", define, rows_per_match="all_with_unmatched"
    ).orderBy("ts").collect()
    # rows 1,2 host empty matches (m1, m2); row 3 is a real B match (m3) —
    # nothing is unmatched
    assert [(r.ts, r.match_no, r.classifier) for r in un] == [
        (1, 1, None), (2, 2, None), (3, 3, "B")
    ]


def test_chunkwise_partition_streaming(spark):
    """r13 (VERDICT r12 item 2 / ADVICE r12): the partition-batched matcher
    streams Arrow chunks incrementally, carrying only the open trailing key
    span between chunks. Forcing tiny Arrow batches — so every shuffle
    partition arrives as many chunks and key spans straddle chunk
    boundaries — must be result-identical to the default."""
    import random

    rng = random.Random(7)
    rows = []
    for u in range(1, 13):
        for ts in range(1, rng.randint(5, 40)):
            rows.append((u, ts, rng.choice("abc")))
    df = spark.createDataFrame(rows, "u int, ts int, e string")
    kw = dict(
        partition_by=["u"],
        order_by=["ts"],
        pattern="A B* C?",
        define={"A": "e='a'", "B": "e='b'", "C": "e='c'"},
        measures={"n": "COUNT(*)"},
        rows_per_match="all",
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    baseline = {tuple(r) for r in match_recognize(df, **kw).collect()}
    assert baseline
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        chunked = {tuple(r) for r in match_recognize(df, **kw).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert chunked == baseline


def test_unpartitioned_match_recognize(spark):
    """ADVICE r12: partition_by=[] is ONE global logical partition — it must
    run (coalesce(1), serial like Trino's unpartitioned MATCH_RECOGNIZE),
    not raise from repartition() with zero columns."""
    df = spark.createDataFrame(
        [(i, e) for i, e in enumerate("abab", 1)], "ts int, e string"
    )
    out = (
        match_recognize(df, [], ["ts"], "A B", {"A": "e='a'", "B": "e='b'"})
        .orderBy("ts")
        .collect()
    )
    assert [(r.ts, r.match_no, r.classifier) for r in out] == [
        (1, 1, "A"),
        (2, 1, "B"),
        (3, 2, "A"),
        (4, 2, "B"),
    ]
    # one-row measures and PREV navigation also run unpartitioned
    one = match_recognize(
        df,
        [],
        ["ts"],
        "A B",
        {"A": "e='a'", "B": "PREV(e) = 'a' AND e='b'"},
        measures={"n": "COUNT(*)"},
        rows_per_match="one",
    ).collect()
    assert sorted(r.n for r in one) == [2, 2]


def test_chunkwise_hot_key_spans_many_chunks(spark):
    """r13: a single hot key spanning MANY Arrow chunks takes the
    list-accumulate carry path (chunks buffer without per-chunk re-concat —
    the quadratic-copy hazard) and still matches identically; a trailing
    second key exercises the close-at-boundary flush."""
    rows = [(1, ts, "ab"[ts % 2]) for ts in range(1, 301)] + [
        (2, 1, "a"),
        (2, 2, "b"),
    ]
    df = spark.createDataFrame(rows, "u int, ts int, e string")
    kw = dict(
        partition_by=["u"],
        order_by=["ts"],
        pattern="A B",
        define={"A": "e='a'", "B": "e='b'"},
    )
    baseline = {tuple(r) for r in match_recognize(df, **kw).collect()}
    # ts%2 starts at 'b': pairs (2,3),(4,5)..(298,299) = 149 matches on the
    # hot key + 1 on key 2, two rows each
    assert len(baseline) == 2 * (149 + 1)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
        chunked = {tuple(r) for r in match_recognize(df, **kw).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert chunked == baseline
