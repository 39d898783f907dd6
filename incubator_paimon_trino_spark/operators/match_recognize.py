"""General MATCH_RECOGNIZE: regex-over-rows pattern matching.

The reference's inherited Trino suite names row-pattern matching
(``testAggregationInPatternMatching``, ``testJoinedPatternMatch`` —
``common-test/TestTrinoDistributedQuery.java:91,486``); SURVEY §2.B marks it
"no Spark equivalent". ``operators/patterns.py`` covers the fixed shapes with
pure window plans; this module is the general engine those plans special-case:

- **pattern**: a regex over symbol names — concatenation (space), ``|``
  alternation, ``+ * ?`` greedy quantifiers plus bounded ``{n} {n,} {n,m}``
  and reluctant ``+? *? ?? {n,m}?`` variants, ``( )`` grouping,
  ``PERMUTE``, exclusions ``{- -}`` and the partition anchors ``^``/``$``.
  Example: ``"V C+ (P | E)"``.
- **define**: per-symbol boolean SQL over the current row's columns
  (Trino's DEFINE clause). Conditions are evaluated ONCE, JVM-side inside
  whole-stage codegen, into boolean flag columns — the Python matcher only
  ever sees a bit-matrix, never row data.
- **matching**: per partition, rows sorted by ``order_by``; leftmost match
  wins, greedy quantifiers prefer longer (SQL-standard preference order);
  ``after_match`` = ``skip_past_last`` (default), ``skip_to_next_row``, or
  Trino's ``skip_to_first <symbol>`` / ``skip_to_last <symbol>`` (resume AT
  that row — overlapping matches).

Two matchers share that semantics. LINEAR patterns (a chain of
single-symbol atoms with greedy ``+ * ?``, what real funnels are) run the
numpy recurrences of ``find_matches_linear``. Every other pattern compiles
to a prioritized automaton (``compile_nfa``) and runs ``_scan``, one
memoized backtracker over candidate start rows whose work is linear in
automaton states × rows; the streaming twin ``match_recognize_stream`` runs
the same scan per WITHIN span. ``find_matches`` (the backtracking NFA over
the pattern AST) is the reference both are pinned against in tests.

Output is Trino's ALL ROWS PER MATCH shape: every matched row with
``match_no`` (1-based per partition), ``classifier`` (the symbol that
claimed the row) and ``match_row`` (1-based position inside the match).
MEASURES compose as window or ``groupBy(partition, match_no)``
aggregations over that shape.

Scale shape: one hash shuffle on the partition key (the same shuffle any
window over the key needs), then Arrow-batched matching of each key's
contiguous row span.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------ pattern AST
@dataclass
class _Sym:
    name: str


@dataclass
class _Seq:
    parts: list


@dataclass
class _Alt:
    options: list


@dataclass
class _Rep:
    node: object
    min_count: int  # 0 for * / ?, 1 for +
    max_count: int | None  # None = unbounded, 1 for ?
    greedy: bool = True  # False = reluctant (+? *? ?? {n,m}?): prefer FEWER


@dataclass
class _Excl:
    """Trino's pattern exclusion ``{- ... -}``: the enclosed rows
    participate in matching (and in MEASURES) but are omitted from the
    ALL ROWS PER MATCH output."""

    node: object


import re as _tok_re  # noqa: E402

_TOKEN = _tok_re.compile(r"\s+|\{-|-\}|[A-Za-z_]\w*|\d+|[(){}|,+*?^$]")


def _tokenize(pattern: str) -> list[str]:
    toks: list[str] = []
    pos = 0
    for m in _TOKEN.finditer(pattern):
        if m.start() != pos:
            raise ValueError(f"bad character {pattern[pos]!r} in pattern {pattern!r}")
        pos = m.end()
        if not m.group(0).isspace():
            toks.append(m.group(0))
    if pos != len(pattern):
        raise ValueError(f"bad character {pattern[pos]!r} in pattern {pattern!r}")
    return toks


def parse_pattern(pattern: str) -> object:
    """Recursive-descent parser for the row-pattern grammar (no anchors —
    ``match_recognize`` uses :func:`parse_pattern_anchored`, which also
    accepts a leading ``^`` / trailing ``$``).

    Bounded quantifiers (Trino's ``{n}`` / ``{n,}`` / ``{n,m}``)
    DESUGAR at parse time into the three core forms, preserving greedy
    preference: ``X{n,m}`` = n copies then (m−n) right-nested optionals
    ``(X (X …)?)?`` (greedy tries the longest first, exactly the flat
    quantifier's order); ``X{n,}`` = n copies then ``X*``. Both matchers
    (linear + automaton) inherit them for free. Pattern exclusions
    ``{- ... -}`` parse to :class:`_Excl` nodes."""
    ast, a_start, a_end = parse_pattern_anchored(pattern)
    if a_start or a_end:
        raise ValueError(
            f"anchors in {pattern!r}: use parse_pattern_anchored / match_recognize"
        )
    return ast


def parse_pattern_anchored(pattern: str) -> tuple[object, bool, bool]:
    """(ast, start_anchored, end_anchored) — Trino's partition anchors
    ``^`` (match must start at the partition's first row) and ``$`` (match
    must end at its last) are supported at the pattern's outermost start /
    end only; anywhere else raises (per-branch anchors are not in the
    grammar)."""
    toks = _tokenize(pattern)
    a_start = bool(toks) and toks[0] == "^"
    if a_start:
        toks = toks[1:]
    a_end = bool(toks) and toks[-1] == "$"
    if a_end:
        toks = toks[:-1]
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        if pos >= len(toks):
            raise ValueError(f"unexpected end of pattern {pattern!r}")
        t = toks[pos]
        pos += 1
        return t

    def parse_alt():
        opts = [parse_seq()]
        while peek() == "|":
            take()
            opts.append(parse_seq())
        return opts[0] if len(opts) == 1 else _Alt(opts)

    def parse_seq():
        parts = []
        while peek() is not None and peek() not in (")", "|", "-}"):
            parts.append(parse_quant())
        if not parts:
            raise ValueError(f"empty pattern segment in {pattern!r}")
        return parts[0] if len(parts) == 1 else _Seq(parts)

    def reluctant() -> bool:
        # SQL row patterns don't stack quantifiers, so a '?' right after a
        # quantifier can only mean RELUCTANT (prefer fewer rows)
        nonlocal pos
        if peek() == "?":
            pos += 1
            return True
        return False

    def parse_quant():
        node = parse_atom()
        q = peek()
        if q == "+":
            take()
            return _Rep(node, 1, None, greedy=not reluctant())
        if q == "*":
            take()
            return _Rep(node, 0, None, greedy=not reluctant())
        if q == "?":
            take()
            return _Rep(node, 0, 1, greedy=not reluctant())
        if q == "{":
            take()
            lo_t = take()
            if not lo_t.isdigit():
                raise ValueError(f"bad quantifier bound {lo_t!r} in {pattern!r}")
            lo = int(lo_t)
            hi: int | None = lo
            if peek() == ",":
                take()
                if peek() == "}":
                    hi = None  # {n,}
                else:
                    hi_t = take()
                    if not hi_t.isdigit():
                        raise ValueError(f"bad quantifier bound {hi_t!r} in {pattern!r}")
                    hi = int(hi_t)
            if take() != "}":
                raise ValueError(f"unclosed quantifier in {pattern!r}")
            if hi is not None and hi < lo:
                raise ValueError(f"quantifier {{{lo},{hi}}} inverted in {pattern!r}")
            if hi == 0:
                raise ValueError(f"quantifier {{0,0}} matches nothing in {pattern!r}")
            g = not reluctant()
            # desugar (see docstring): copies share the AST node (immutable)
            tail: object | None = None
            if hi is None:
                tail = _Rep(node, 0, None, greedy=g)  # {n,} → X^n X*
            else:
                for _ in range(hi - lo):  # right-nested optionals
                    tail = _Rep(
                        node if tail is None else _Seq([node, tail]), 0, 1, greedy=g
                    )
            parts = [node] * lo + ([tail] if tail is not None else [])
            return parts[0] if len(parts) == 1 else _Seq(parts)
        return node

    def parse_atom():
        t = take()
        if t == "(":
            inner = parse_alt()
            if take() != ")":
                raise ValueError(f"unbalanced parens in {pattern!r}")
            return inner
        if t == "{-":
            inner = parse_alt()
            if take() != "-}":
                raise ValueError(f"unclosed exclusion {{- ... -}} in {pattern!r}")
            return _Excl(inner)
        if t.upper() == "PERMUTE" and peek() == "(":
            # Trino's PERMUTE(A, B, ...) — all orderings, preference =
            # lexicographic by argument position (the SQL-standard order),
            # desugared to an alternation of sequences
            import itertools as _it

            take()  # (
            syms = [parse_quant()]
            while peek() == ",":
                take()
                syms.append(parse_quant())
            if take() != ")":
                raise ValueError(f"unclosed PERMUTE in {pattern!r}")
            if len(syms) > 6:
                raise ValueError(
                    f"PERMUTE of {len(syms)} elements expands to "
                    f"{len(syms)}! sequences; 6 is the supported max"
                )
            opts = [
                p[0] if len(p) == 1 else _Seq(list(p))
                for p in _it.permutations(syms)
            ]
            return opts[0] if len(opts) == 1 else _Alt(opts)
        if not t.isidentifier():
            raise ValueError(f"bad symbol {t!r} in pattern {pattern!r}")
        return _Sym(t)

    out = parse_alt()
    if pos != len(toks):
        raise ValueError(f"trailing tokens {toks[pos:]} in pattern {pattern!r}")
    return out, a_start, a_end


def pattern_symbols(node) -> list[str]:
    """Symbols in first-appearance order."""
    out: list[str] = []

    def walk(n):
        if isinstance(n, _Sym):
            if n.name not in out:
                out.append(n.name)
        elif isinstance(n, _Seq):
            for p in n.parts:
                walk(p)
        elif isinstance(n, _Alt):
            for p in n.options:
                walk(p)
        elif isinstance(n, (_Rep, _Excl)):
            walk(n.node)

    walk(node)
    return out


# --------------------------------------------------- exclusion aliasing
def _orig(classifier: str) -> str:
    """Original symbol name of a (possibly exclusion-aliased) classifier."""
    return classifier.partition("~")[0]


def _strip_exclusions(node, alias_of: dict[str, str], inside: bool = False):
    """Replace ``{- ... -}`` regions with exclusion-ALIASED symbol copies
    (``B`` → ``B~x``) so the matchers need no exclusion concept at all: an
    aliased classifier marks the row as matched-but-hidden. ``alias_of``
    accumulates alias → original. ``~`` cannot appear in a user symbol
    (the parser enforces identifiers), so aliases can't collide."""
    if isinstance(node, _Sym):
        if not inside:
            return node
        alias = node.name + "~x"
        alias_of[alias] = node.name
        return _Sym(alias)
    if isinstance(node, _Seq):
        return _Seq([_strip_exclusions(p, alias_of, inside) for p in node.parts])
    if isinstance(node, _Alt):
        return _Alt([_strip_exclusions(o, alias_of, inside) for o in node.options])
    if isinstance(node, _Excl):
        return _strip_exclusions(node.node, alias_of, True)
    return _Rep(
        _strip_exclusions(node.node, alias_of, inside),
        node.min_count,
        node.max_count,
        node.greedy,
    )


# ------------------------------------------------------------- NFA matcher
def _match_from(node, flags: dict[str, "object"], i: int, n: int) -> Iterator[tuple[int, list[str]]]:
    """Yield (end, classifiers) continuations of matching ``node`` at row i,
    in SQL preference order (greedy: longer first). ``flags[s][j]`` is True
    iff row j satisfies symbol s. Every symbol consumes exactly one row, so
    loop progress is guaranteed by requiring body length > 0 per iteration."""
    if isinstance(node, _Sym):
        if i < n and flags[node.name][i]:
            yield i + 1, [node.name]
        return
    if isinstance(node, _Seq):

        def seq(parts, j) -> Iterator[tuple[int, list[str]]]:
            if not parts:
                yield j, []
                return
            for mid, cls1 in _match_from(parts[0], flags, j, n):
                for end, cls2 in seq(parts[1:], mid):
                    yield end, cls1 + cls2

        yield from seq(node.parts, i)
        return
    if isinstance(node, _Alt):
        for opt in node.options:
            yield from _match_from(opt, flags, i, n)
        return
    if isinstance(node, _Excl):  # exclusion affects OUTPUT, never matching
        yield from _match_from(node.node, flags, i, n)
        return
    # _Rep: greedy tries one more body iteration BEFORE stopping; reluctant
    # stops first (if allowed), then tries one more
    def rep(count, j) -> Iterator[tuple[int, list[str]]]:
        if not node.greedy and count >= node.min_count:
            yield j, []
        if node.max_count is None or count < node.max_count:
            for mid, cls1 in _match_from(node.node, flags, j, n):
                if mid == j:
                    continue  # zero-width body: stop looping
                for end, cls2 in rep(count + 1, mid):
                    yield end, cls1 + cls2
        if node.greedy and count >= node.min_count:
            yield j, []

    yield from rep(0, i)


def _advance(j: int, classifiers: list[str], after_match) -> int:
    """Next scan position after a match at rows j..j+len(classifiers)-1.

    ``after_match`` is ``skip_past_last`` / ``skip_to_next_row`` or the
    normalized tuple ``("first"|"last", symbol)`` for Trino's AFTER MATCH
    SKIP TO FIRST/LAST <symbol> — resume AT that row (overlapping matches
    are the point). Trino's two error cases are honored: the symbol must
    be present in the match, and skipping to the match's own first row
    would loop forever."""
    if after_match == "skip_past_last":
        return j + len(classifiers)
    if after_match == "skip_to_next_row":
        return j + 1
    which, sym = after_match
    # exclusion-aliased rows still belong to their symbol for SKIP TO
    hits = [j + off for off, c in enumerate(classifiers) if _orig(c) == sym]
    if not hits:
        raise ValueError(
            f"AFTER MATCH SKIP TO {which.upper()} {sym}: symbol not present in match"
        )
    t = hits[0] if which == "first" else hits[-1]
    if t == j:
        raise ValueError(
            f"AFTER MATCH SKIP TO {which.upper()} {sym} would skip to the "
            "match's own first row (infinite loop)"
        )
    return t


def find_matches(
    node,
    flags: dict[str, "object"],
    n: int,
    after_match,
    start_anchor: bool = False,
    end_anchor: bool = False,
) -> list[tuple[int, list[str]]]:
    """Leftmost-greedy scan over one sorted partition.

    Returns [(start_row, classifiers)] — one entry per match, classifiers
    aligned to consecutive rows from start_row. Anchors: ``^``
    restricts starts to row 0; ``$`` accepts only completions at row n —
    the preference order then ranges over anchored-valid completions only
    (an earlier-preferred yield that stops short of the end is not a
    match, exactly Trino's anchor semantics)."""
    out = []
    i = 0
    while i < n:
        if start_anchor and i > 0:
            break
        gen = _match_from(node, flags, i, n)
        if end_anchor:
            hit = next((h for h in gen if h[0] == n), None)
        else:
            hit = next(gen, None)
        if hit is not None and hit[0] > i:  # non-empty match
            end, classifiers = hit
            out.append((i, classifiers))
            i = _advance(i, classifiers, after_match)
        else:
            i += 1
    return out


# ------------------------------------------------ vectorized linear matcher
def _linear_atoms(node) -> list[tuple[str, int, int | None]] | None:
    """[(symbol, min_count, max_count)] when the pattern is LINEAR — a
    concatenation of single symbols, each optionally quantified by +/*/?
    (e.g. ``V C+ P``, ``A B* C?``) — else None (alternation, grouped or
    nested quantifiers: the general NFA's territory). Linear patterns are
    what real funnels are, and they vectorize: ``find_matches_linear``."""
    parts = node.parts if isinstance(node, _Seq) else [node]
    out: list[tuple[str, int, int | None]] = []
    for p in parts:
        if isinstance(p, _Sym):
            out.append((p.name, 1, 1))
        elif isinstance(p, _Rep) and isinstance(p.node, _Sym) and p.greedy:
            # reluctant quantifiers take the automaton path — the linear
            # recurrences assume greedy preference
            out.append((p.node.name, p.min_count, p.max_count))
        else:
            return None
    return out


def find_matches_linear(
    atoms: list[tuple[str, int, int | None]],
    flags: dict[str, "object"],
    n: int,
    after_match: str,
    start_anchor: bool = False,
    end_anchor: bool = False,
) -> list[tuple[int, list[str]]]:
    """``find_matches`` for linear patterns with the row loop VECTORIZED.

    Result-identical to the NFA by construction of the same preference
    order (property-pinned in tests/test_match_recognize.py): suffix
    match-feasibility arrays ``S_k[i]`` = "atoms k.. match starting at row
    i" are computed right-to-left with O(1)-per-row numpy recurrences —
    consecutive-run lengths for each symbol plus a prefix-largest-feasible
    index per quantified atom, so a greedy quantifier takes the LONGEST
    count whose suffix still matches (exactly the NFA's first yield, which
    maximizes earlier atoms first). The only Python iteration left is one
    step per MATCH (atom-boundary reconstruction), never per row.
    """
    import numpy as np

    m = len(atoms)
    idx = np.arange(n + 1)
    fa = {s: np.asarray(flags[s], dtype=bool) for s in {a[0] for a in atoms}}
    runs: dict[str, "np.ndarray"] = {}
    for s, f in fa.items():
        # next false position at/after i (suffix min) → consecutive-run len
        false_pos = np.where(~f, np.arange(n), n)
        nf = np.append(np.minimum.accumulate(false_pos[::-1])[::-1], n) if n else np.array([n])
        runs[s] = nf - idx
    suffix: list = [None] * (m + 1)  # S_k, k-th atom onward (0-based)
    # the empty suffix consumes nothing and matches at every position
    # (mirrors the NFA's unconditional (j, []) yield at sequence end);
    # with an END ANCHOR ($) only position n completes a match, and every
    # recurrence below then composes anchored feasibility for free
    if end_anchor:
        suffix[m] = idx == n
    else:
        suffix[m] = np.ones(n + 1, dtype=bool)
    prev_feasible: list = [None] * m  # per greedy atom: argmax-feasible index
    for k in range(m - 1, -1, -1):
        s, lo, hi_c = atoms[k]
        f, nxt = fa[s], suffix[k + 1]
        if lo == 1 and hi_c == 1:  # plain symbol: one row
            sk = np.zeros(n + 1, dtype=bool)
            sk[:n] = f & nxt[1:]
        elif hi_c == 1:  # ? — greedy prefers one row
            sk = nxt.copy()
            sk[:n] |= f & nxt[1:]
        else:  # + / * — greedy unbounded
            pt = np.maximum.accumulate(np.where(nxt, idx, -1))
            prev_feasible[k] = pt
            hi = np.minimum(idx + runs[s], n)
            jstar = pt[hi]
            sk = jstar >= idx + lo  # also enforces jstar >= i when lo == 0
        suffix[k] = sk
    s1 = suffix[0]
    # next match start at/after i, as a jump table: the scan loop below
    # iterates once per MATCH, not per row
    starts = np.where(s1[:n], np.arange(n), n)
    nxt_start = (
        np.minimum.accumulate(starts[::-1])[::-1] if n else np.zeros(0, dtype=int)
    )
    out: list[tuple[int, list[str]]] = []
    i = 0
    while i < n:
        j = int(nxt_start[i])
        if j >= n or (start_anchor and j > 0):
            break
        p, cls = j, []
        for k, (s, lo, hi_c) in enumerate(atoms):
            if lo == 1 and hi_c == 1:
                cls.append(s)
                p += 1
            elif hi_c == 1:
                if p < n and fa[s][p] and suffix[k + 1][p + 1]:
                    cls.append(s)
                    p += 1
            else:
                jstar = int(prev_feasible[k][min(p + int(runs[s][p]), n)])
                cls.extend([s] * (jstar - p))
                p = jstar
        if p == j:  # zero-width match (all-* pattern): no row claimed
            i = j + 1
            continue
        out.append((j, cls))
        i = _advance(j, cls, after_match)
    return out


# ------------------------------------------------------- automaton matcher
#
# Non-linear patterns (alternation, grouped or reluctant quantifiers, e.g.
# ``(A | B) C+``) compile to an ε-free PRIORITIZED automaton (Thompson
# construction + priority-ordered ε-closure, the standard leftmost-greedy
# encoding) and run one memoized backtracker over candidate start rows
# (``_scan``), batch and streaming alike. The automaton mirrors the
# backtracking NFA only when every quantifier body is non-nullable, since
# ``_match_from`` skips empty body iterations (its ``mid == j`` guard);
# ``_rewrite_nullable_bodies`` brings every pattern into that class at
# parse time. Equivalence to ``find_matches`` is pinned exhaustively and
# randomized in tests/test_match_recognize.py.


def _nullable(node) -> bool:
    """Can ``node`` match zero rows?"""
    if isinstance(node, _Sym):
        return False
    if isinstance(node, _Seq):
        return all(_nullable(p) for p in node.parts)
    if isinstance(node, _Alt):
        return any(_nullable(o) for o in node.options)
    if isinstance(node, _Excl):
        return _nullable(node.node)
    return node.min_count == 0 or _nullable(node.node)


# ------------------------------------------------- nullable-body rewrite
#
# A quantifier over a NULLABLE body (``(A?)+``, ``(A* B?)+``) has no direct
# automaton mirror of the backtracker's skip-empty-iteration rule, so every
# quantifier body normalizes at parse time to the ε-free regex of its
# NON-EMPTY yield stream, which is exactly what the backtracker iterates
# over: the ``mid == j`` guard skips empty body yields and moves to the
# NEXT yield, and the iteration count only increments on non-empty bodies,
# so min/max bounds carry over unchanged (``(A?)+`` ≡ ``A+``,
# ``(A* B?)+`` ≡ ``(A+ B? | B)+``). The construction preserves the
# backtracker's yield ORDER up to removal of duplicate yields, which is
# sound because every consumer either takes the stream's first yield or
# iterates it in order, and a duplicate (end, classifiers) yield
# contributes nothing new.

_NO_YIELDS = object()  # sentinel: a stream position with no yields at all


def _alt_of(parts: list) -> object:
    parts = [p for p in parts if p is not _NO_YIELDS]
    if not parts:
        return _NO_YIELDS
    flat: list = []
    for p in parts:
        flat.extend(p.options if isinstance(p, _Alt) else [p])
    return flat[0] if len(flat) == 1 else _Alt(flat)


def _seq_head(head: object, rest: list) -> object:
    if head is _NO_YIELDS:
        return _NO_YIELDS
    parts = (head.parts if isinstance(head, _Seq) else [head]) + rest
    return parts[0] if len(parts) == 1 else _Seq(parts)


def _split_eps(n) -> tuple[object, bool, object]:
    """Split ``n``'s yield stream (backtracker order) at its FIRST empty
    yield: returns ``(pre, has_eps, post)`` where ``pre``/``post`` are
    ε-free regexes for the non-empty yields strictly before / after that ε
    (later duplicate ε yields are dropped). Assumes every quantifier body
    inside ``n`` is already non-nullable (the bottom-up rewrite order), so
    language nullability coincides with "yields ε"."""
    if isinstance(n, _Sym):
        return n, False, _NO_YIELDS
    if isinstance(n, _Rep):  # body non-nullable by the bottom-up contract
        if n.min_count >= 1:
            return n, False, _NO_YIELDS
        # X{1,1} is X itself — compile_nfa only ever sees the parser's
        # three core shapes {0,1} / {1,None} / {0,None}
        core = n.node if n.max_count == 1 else _Rep(n.node, 1, n.max_count, n.greedy)
        # greedy Rep yields counts max..1 then ε; reluctant yields ε first
        return (core, True, _NO_YIELDS) if n.greedy else (_NO_YIELDS, True, core)
    if isinstance(n, _Alt):
        pre: list = []
        post: list = []
        seen_eps = False
        for o in n.options:
            p, e, q = _split_eps(o)
            if not seen_eps:
                pre.append(p)
                seen_eps = e
                post.append(q)
            else:  # later options sit entirely after the first ε;
                post.append(_alt_of([p, q]))  # their own ε's are duplicates
        return _alt_of(pre), seen_eps, _alt_of(post)
    # _Seq: for each head yield y1 in order, all rest yields follow; the
    # first ε total pairs the head's first ε with the rest's first ε
    parts = n.parts
    if len(parts) == 1:
        return _split_eps(parts[0])
    a_pre, a_eps, a_post = _split_eps(parts[0])
    rest = parts[1:]
    if not a_eps:  # head always consumes → no ε total, stream = head × rest
        return _seq_head(a_pre, rest), False, _NO_YIELDS
    rest_node = rest[0] if len(rest) == 1 else _Seq(rest)
    b_pre, b_eps, b_post = _split_eps(rest_node)
    pre = _alt_of([_seq_head(a_pre, rest), b_pre])
    post = _alt_of([b_post, _seq_head(a_post, rest)])
    return pre, b_eps, post


def _nonull(n) -> object:
    """ε-free regex of ``n``'s non-empty yield stream, order preserved."""
    pre, _, post = _split_eps(n)
    return _alt_of([pre, post])


def _rewrite_nullable_bodies(node) -> object:
    """Bottom-up: every quantifier body becomes non-nullable, preserving
    the backtracker's preference order (see block comment). After this,
    every pattern is product-eligible."""
    if isinstance(node, _Sym):
        return node
    if isinstance(node, _Seq):
        return _Seq([_rewrite_nullable_bodies(p) for p in node.parts])
    if isinstance(node, _Alt):
        return _Alt([_rewrite_nullable_bodies(o) for o in node.options])
    if isinstance(node, _Excl):
        return _Excl(_rewrite_nullable_bodies(node.node))
    body = _rewrite_nullable_bodies(node.node)
    if _nullable(body):
        body = _nonull(body)
        if body is _NO_YIELDS:  # unreachable with this grammar ({0,0} is
            raise ValueError("quantifier body can only match empty")  # rejected)
    return _Rep(body, node.min_count, node.max_count, node.greedy)


def _product_eligible(node) -> bool:
    """True when every quantifier body is non-nullable — the class the
    compiled-automaton matcher is NFA-equivalent on (see block comment)."""
    if isinstance(node, _Sym):
        return True
    if isinstance(node, _Seq):
        return all(_product_eligible(p) for p in node.parts)
    if isinstance(node, _Alt):
        return all(_product_eligible(o) for o in node.options)
    return (not _nullable(node.node)) and _product_eligible(node.node)


def compile_nfa(node, truncate: bool = True) -> tuple[list[list[tuple]], int]:
    """AST → ε-free prioritized NFA ``(moves, start)``.

    ``moves[q]`` is the priority-ordered move list of state q: entries are
    ``("c", symbol, next_state)`` (consume one row where ``symbol`` holds)
    or ``("a",)`` (accept — end the match here). Priority order is exactly
    the backtracker's preference (greedy quantifiers re-enter their body
    before exiting; alternation tries options left to right), so walking
    "first move whose target is still feasible" reproduces the NFA's first
    yield. Lists are truncated at the first accept: accept is always
    feasible, so later moves are dead in preference order — which also makes
    every list "consumes then optional accept". With an END ANCHOR accept
    is only feasible at the partition's last row, so anchored compilation
    passes ``truncate=False`` to keep the post-accept consume moves (the
    accept stays at its preference position mid-list)."""
    edges: list[list[tuple]] = []

    def new() -> int:
        edges.append([])
        return len(edges) - 1

    final = new()

    def build(n, out) -> int:
        if isinstance(n, _Sym):
            u = new()
            edges[u].append(("sym", n.name, out))
            return u
        if isinstance(n, _Seq):
            entry = out
            for p in reversed(n.parts):
                entry = build(p, entry)
            return entry
        if isinstance(n, _Alt):
            u = new()
            for o in n.options:
                edges[u].append(("eps", build(o, out)))
            return u
        # _Rep — only the three quantifier shapes the grammar produces.
        # ε-edge ORDER encodes preference: greedy puts the body first,
        # reluctant puts the exit first.
        def ordered(u, body_entry):
            pair = [("eps", body_entry), ("eps", out)]
            edges[u].extend(pair if n.greedy else pair[::-1])

        if n.max_count == 1:  # ?
            u = new()
            ordered(u, build(n.node, out))
            return u
        if n.min_count == 1:  # + : body once, then loop-or-exit
            loop = new()
            entry = build(n.node, loop)
            ordered(loop, entry)
            return entry
        # * : enter-body-or-exit; body loops back to the fork
        fork = new()
        entry = build(n.node, fork)
        ordered(fork, entry)
        return fork

    start_entry = build(node, final)

    def closure(u: int) -> list[tuple]:
        mv: list[tuple] = []
        seen: set[int] = set()
        seen_c: set[tuple] = set()
        done = False
        has_acc = False

        def dfs(v: int) -> None:
            nonlocal done, has_acc
            if done or v in seen:
                return
            seen.add(v)
            for e in edges[v]:
                if done:
                    return
                if e[0] == "sym":
                    if (e[1], e[2]) not in seen_c:
                        seen_c.add((e[1], e[2]))
                        mv.append(("c", e[1], e[2]))
                else:
                    dfs(e[1])
            if v == final and not has_acc:
                mv.append(("a",))
                has_acc = True
                if truncate:
                    done = True

        dfs(u)
        return mv

    closures: dict[int, list[tuple]] = {}
    order: list[int] = []
    work = [start_entry]
    while work:
        u = work.pop()
        if u in closures:
            continue
        closures[u] = closure(u)
        order.append(u)
        for m in closures[u]:
            if m[0] == "c" and m[2] not in closures:
                work.append(m[2])
    idx = {u: i for i, u in enumerate(order)}
    moves = [
        [("c", m[1], idx[m[2]]) if m[0] == "c" else ("a",) for m in closures[u]]
        for u in order
    ]
    return moves, idx[start_entry]


def _scan(
    moves: list[list[tuple]],
    start: int,
    fa: dict,
    cand_idx,
    ends,
    after_match,
    end_anchor: bool = False,
) -> tuple[list[tuple[int, list[str]]], int]:
    """Leftmost scan of the compiled automaton over candidate start rows.

    ``cand_idx`` holds the ascending rows where a consume move of the start
    state fires (the only rows a non-empty match can start at);
    ``ends[k]`` bounds the match from ``cand_idx[k]`` to rows before it
    (the key span's length in batch, the WITHIN span in streaming). Each
    start runs a depth-first walk of the moves in preference order and
    takes its first accept, which is ``_match_from``'s first yield. With
    ``end_anchor`` an accept counts only at the end row (compile with
    ``truncate=False`` so post-accept consumes are present).

    The walk keeps a DEAD-STATE memo: a (state, row) pair whose subtree
    held no accept is recorded and never expanded again. Dead-ness depends
    only on (state, row) for one end row, so the memo is shared across
    starts and rebuilt only when the end row changes (ends never decrease):
    under one end row the failed work of all starts together is linear in
    states × rows, whatever the pattern. It is one byte per (state, row)
    from the first start to the end row: at most (n+1)·Q bytes for a span
    of n rows and Q states.

    Returns the matches as (start_row, classifiers) and the next row the
    scan would visit."""
    nq = len(moves)
    # per state: consume moves as (flags, symbol, target), accept as None
    trans = [
        [None if m[0] == "a" else (fa[m[1]], m[1], m[2]) for m in mv] for mv in moves
    ]
    out: list[tuple[int, list[str]]] = []
    i = 0
    dead = b""
    base = end = -1
    for j, e in zip(cand_idx.tolist(), ends):
        if j < i:
            continue
        if e != end:
            end, base = e, j
            dead = bytearray((end - base + 1) * nq)
        # frame d sits at row j + d: every move consumes exactly one row
        qs, mis, cls = [start], [0], []
        hit = None
        while qs:
            d = len(qs) - 1
            q, mi = qs[d], mis[d]
            mv = trans[q]
            if mi == len(mv):
                dead[(j + d - base) * nq + q] = 1
                qs.pop()
                mis.pop()
                if cls:
                    cls.pop()
                continue
            mis[d] = mi + 1
            m = mv[mi]
            p = j + d
            if m is None:
                if not end_anchor or p == end:
                    hit = cls
                    break
                continue  # anchored: accepting short of the end is no match
            f, sym, t = m
            if p < end and f[p] and not dead[(p + 1 - base) * nq + t]:
                qs.append(t)
                mis.append(0)
                cls.append(sym)
        if hit:  # an empty first yield is no match
            out.append((j, hit))
            i = _advance(j, hit, after_match)
        else:
            i = j + 1
    return out, i


def _candidates(moves: list[list[tuple]], start: int, fa: dict, n: int):
    """Ascending rows below ``n`` where a consume move of ``start`` fires."""
    import numpy as np

    cand = np.zeros(n, dtype=bool)
    for m in moves[start]:
        if m[0] == "c":
            cand |= fa[m[1]][:n]
    return np.flatnonzero(cand)


def find_matches_product(
    moves: list[list[tuple]],
    start: int,
    flags: dict[str, "object"],
    n: int,
    after_match,
    start_anchor: bool = False,
    end_anchor: bool = False,
) -> list[tuple[int, list[str]]]:
    """``find_matches`` for a compiled pattern (``compile_nfa``): the
    candidate starts of one key span, then ``_scan`` up to row ``n``.
    ``end_anchor`` requires ``moves`` compiled with ``truncate=False``;
    ``start_anchor`` restricts the starts to row 0."""
    import numpy as np

    fa = {s: np.asarray(v, dtype=bool) for s, v in flags.items()}
    cand_idx = _candidates(moves, start, fa, n)
    if start_anchor:
        cand_idx = cand_idx[:1] if len(cand_idx) and cand_idx[0] == 0 else cand_idx[:0]
    return _scan(moves, start, fa, cand_idx, [n] * len(cand_idx), after_match, end_anchor)[0]


# ---------------------------------------------------- DEFINE navigation
def _rewrite_navigation(cond: str, navs: list) -> str:
    """Rewrite Trino's physical navigation calls ``PREV(expr[, k])`` /
    ``NEXT(expr[, k])`` inside a DEFINE condition string into generated
    column references; ``navs`` accumulates (kind, inner expr, offset,
    column name) for the caller to materialize as ``lag``/``lead`` windows
    over (partition_by, order_by) — exactly Trino's DEFINE semantics
    (navigation is over PHYSICAL rows in partition order, not over matched
    rows). Offsets must be integer literals (Trino's constraint too)."""
    import re as _re

    out: list[str] = []
    i = 0
    while True:
        m = _re.search(r"\b(PREV|NEXT)\s*\(", cond[i:], _re.IGNORECASE)
        if not m:
            out.append(cond[i:])
            return "".join(out)
        start = i + m.start()
        p = i + m.end()  # just past the '('
        out.append(cond[i:start])
        depth, j = 1, p
        while depth:
            if j >= len(cond):
                raise ValueError(f"unbalanced parens in DEFINE condition {cond!r}")
            if cond[j] == "(":
                depth += 1
            elif cond[j] == ")":
                depth -= 1
            j += 1
        inner = cond[p : j - 1]
        # top-level comma → optional constant offset
        depth2, cut = 0, None
        for idx, ch in enumerate(inner):
            if ch == "(":
                depth2 += 1
            elif ch == ")":
                depth2 -= 1
            elif ch == "," and depth2 == 0:
                cut = idx
                break
        expr, off = (inner, 1) if cut is None else (inner[:cut], inner[cut + 1 :])
        if cut is not None:
            off_s = str(off).strip()
            if not off_s.isdigit():
                raise ValueError(
                    f"{m.group(1).upper()} offset must be an integer literal, got {off_s!r}"
                )
            off = int(off_s)
        name = f"_mr_nav{len(navs)}"
        navs.append((m.group(1).upper(), expr.strip(), off, name))
        out.append(name)
        i = j


# ------------------------------------------------------------ the operator
def _normalize_after_match(after_match, symbols: list[str]):
    """Validate/normalize the AFTER MATCH SKIP clause against the pattern's
    ORIGINAL symbol names; returns ``skip_past_last`` / ``skip_to_next_row``
    or ``("first"|"last", symbol)``."""
    if after_match in ("skip_past_last", "skip_to_next_row"):
        return after_match
    # Trino's AFTER MATCH SKIP TO FIRST/LAST <symbol> — matching resumes AT
    # that row, so overlapping matches are produced by design
    parts = str(after_match).split()
    if (
        len(parts) == 2
        and parts[0] in ("skip_to_first", "skip_to_last")
        and parts[1] in symbols
    ):
        return (parts[0].rsplit("_", 1)[1], parts[1])
    raise ValueError(
        f"unknown after_match {after_match!r}; use skip_past_last, "
        "skip_to_next_row, 'skip_to_first <symbol>' or "
        "'skip_to_last <symbol>'"
    )


def match_recognize(
    df: DataFrame,
    partition_by: list[str],
    order_by: list[str],
    pattern: str,
    define: dict[str, Column | str],
    after_match: str = "skip_past_last",
    measures: "dict[str, str] | None" = None,
    rows_per_match: str = "all",
    subsets: "dict[str, list[str]] | None" = None,
    empty_matches: str = "show",
) -> DataFrame:
    """Row-pattern matching (see module docstring).

    ``define`` maps each pattern symbol to a boolean ``Column`` or SQL
    string over the input columns. Default output is Trino's ALL ROWS PER
    MATCH shape: the matched rows plus ``match_no``, ``classifier``,
    ``match_row``. ``rows_per_match``:

    - ``"all"`` — every matched row; with ``measures``, each measure is
      appended as a per-row column with Trino's RUNNING semantics by
      default (aggregates over the match's rows up to and including the
      current row) — prefix a measure with ``FINAL `` for whole-match
      values, ``RUNNING `` to be explicit.
    - ``"all_with_unmatched"`` — Trino's ``ALL ROWS PER MATCH WITH
      UNMATCHED ROWS``: rows claimed by no match are emitted too, with
      NULL ``match_no``/``classifier``/``match_row`` and NULL measures.
    - ``"one"`` — Trino's ONE ROW PER MATCH (requires ``measures``): one
      row per match with the partition columns plus the measures, FINAL
      semantics (RUNNING at the last row ≡ FINAL, so prefixes are
      accepted and ignored).

    ``empty_matches`` (Trino's SHOW/OMIT EMPTY MATCHES, default SHOW like
    Trino): a NULLABLE pattern (``A*``, ``B??``) matches empty at every
    scanned row where no non-empty match starts; with ``"show"`` each such
    EMPTY MATCH takes a match number and emits one row — the row where it
    occurred, with NULL classifier/match_row and measures evaluated over
    zero rows (COUNT 0, aggregates NULL). ``"omit"`` drops those rows but
    every empty match still CONSUMES its MATCH_NUMBER() — the surviving
    matches keep gapped numbers (SQL:2016/Trino OMIT semantics).
    Non-nullable patterns have no empty matches — the modes coincide.

    Measure grammar: ``MATCH_NUMBER()``, ``CLASSIFIER()``,
    ``FIRST/LAST(x[, k])``, ``SUM/AVG/MIN/MAX/COUNT`` over ``col`` /
    ``S.col`` / ``*`` / ``S.*`` scopes, or any raw Spark SQL aggregate
    (the escape hatch — must be a single aggregate call in the all-rows
    modes, where it is evaluated over the match window). ``subsets``
    declares Trino's SUBSET union variables (``{"U": ["A", "B"]}``) for
    use as measure scopes.

    Pattern exclusions ``{- ... -}`` omit the enclosed rows from the
    all-rows output (they still match, still advance SKIP positions, and
    still feed MEASURES — SQL-standard exclusion semantics). Anchors
    ``^``/``$`` pin matches to the partition's first/last row.

    LINEAR patterns run ``find_matches_linear``; every other pattern runs
    the compiled automaton through ``find_matches_product`` (see the
    module docstring). Quantified nullable groups (``(A?)+``) normalize at
    parse time to their non-nullable equivalent."""
    if not order_by:
        raise ValueError(
            "match_recognize needs a non-empty order_by: pattern semantics "
            "are defined over a total row order within each partition "
            "(Trino's optional ORDER BY means 'input order', which a "
            "distributed scan cannot reproduce deterministically)"
        )
    ast, a_start, a_end = parse_pattern_anchored(pattern)
    user_symbols = [s for s in pattern_symbols(ast)]  # original names
    after_match = _normalize_after_match(after_match, user_symbols)
    missing = [s for s in user_symbols if s not in define]
    if missing:
        raise ValueError(f"pattern symbols {missing} missing from define {sorted(define)}")
    if rows_per_match not in ("all", "one", "all_with_unmatched"):
        raise ValueError(
            "rows_per_match must be 'all', 'one' or 'all_with_unmatched', "
            f"got {rows_per_match!r}"
        )
    if rows_per_match == "one" and not measures:
        raise ValueError("rows_per_match='one' needs a measures dict")
    if empty_matches not in ("show", "omit"):
        raise ValueError(f"empty_matches must be 'show' or 'omit', got {empty_matches!r}")
    for sub, members in (subsets or {}).items():
        if sub in user_symbols:
            raise ValueError(f"SUBSET name {sub!r} collides with a pattern symbol")
        bad = [m for m in members if m not in user_symbols]
        if bad:
            raise ValueError(f"SUBSET {sub} references unknown symbols {bad}")
    # exclusion aliasing + nullable-body normalization: after these,
    # every quantifier body is non-nullable — the pattern ALWAYS compiles
    excl_alias: dict[str, str] = {}
    ast = _strip_exclusions(ast, excl_alias)
    ast = _rewrite_nullable_bodies(ast)
    assert _product_eligible(ast), pattern  # guaranteed by the rewrite
    symbols = pattern_symbols(ast)  # may include exclusion aliases

    # DEFINE navigation: PREV/NEXT in string conditions rewrite to
    # lag/lead columns over (partition_by, order_by) — Trino's physical-row
    # navigation. Requires order_by to be a TOTAL order within partitions
    # (ties could sort differently between the window and the matcher's
    # stable sort), same determinism contract the matcher itself carries.
    navs: list[tuple] = []
    conds: dict[str, Column] = {}
    for s in symbols:
        cond = define[_orig(s)]  # aliased symbols share the original DEFINE
        if isinstance(cond, str):
            rewritten = _rewrite_navigation(cond, navs)
            conds[s] = F.expr(rewritten)
        else:
            conds[s] = cond
    flagged = df
    if navs:
        from pyspark.sql import Window as _W

        # partition_by=[] → one constant partition: semantically the global
        # window (serial like the unpartitioned matcher itself; Catalyst
        # folds the literal, so this is exactly Window.orderBy)
        w = (
            _W.partitionBy(*partition_by) if partition_by else _W.partitionBy(F.lit(0))
        ).orderBy(*order_by)
        flagged = flagged.withColumns(
            {
                name: (F.lag if kind == "PREV" else F.lead)(F.expr(expr), off).over(w)
                for kind, expr, off, name in navs
            }
        )
    for s in symbols:
        flagged = flagged.withColumn(
            f"_mr_{s}", F.coalesce(conds[s].cast("boolean"), F.lit(False))
        )

    in_cols = df.columns
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["match_no bigint", "classifier string", "match_row int"]
    )

    linear = _linear_atoms(ast)
    compiled = compile_nfa(ast, truncate=not a_end) if linear is None else None
    with_unmatched = rows_per_match == "all_with_unmatched"
    # empty matches exist only for nullable patterns (and never under $ —
    # an ε yield ends short of the partition end); everything else keeps
    # the plain matched-rows emission untouched. Per SQL:2016 (and Trino/
    # Oracle) an omitted empty match still CONSUMES its MATCH_NUMBER() —
    # OMIT drops the carrier rows but the numbering keeps the gaps (both
    # modes therefore replay the scan to number events).
    number_empty = _nullable(ast) and not a_end
    show_empty = empty_matches == "show" and number_empty

    def run_group(flags: dict, n: int, base: int, starts, m_no, m_cls, m_row):
        """Match ONE key's (already sorted) row span [base, base+n) and
        append absolute row indices + match columns; match_no restarts per
        key (Trino's per-partition numbering)."""
        if linear is not None:
            matches = find_matches_linear(linear, flags, n, after_match, a_start, a_end)
        else:
            matches = find_matches_product(
                compiled[0], compiled[1], flags, n, after_match,
                start_anchor=a_start, end_anchor=a_end,
            )
        if number_empty:
            # replay the scan: every visited position that did not start a
            # non-empty match hosts an EMPTY match (a nullable pattern's
            # first yield there is ε). Positions jumped over by AFTER
            # MATCH SKIP were never scanned — no empty match there.
            events: list[tuple[int, list[str] | None]] = []
            mk, i = 0, 0
            while i < n:
                if a_start and i > 0:
                    break
                if mk < len(matches) and matches[mk][0] == i:
                    events.append(matches[mk])
                    i = _advance(i, matches[mk][1], after_match)
                    mk += 1
                else:
                    events.append((i, None))
                    i += 1
        else:
            events = matches
        first = len(starts)
        for k, (start, classifiers) in enumerate(events, 1):
            if classifiers is None:  # empty match: one row, zero-row match
                # under OMIT the number k is consumed but the row dropped
                if show_empty:
                    starts.append(base + start)
                    m_no.append(k)
                    m_cls.append(None)
                    m_row.append(None)
                continue
            for off, c in enumerate(classifiers):
                starts.append(base + start + off)
                m_no.append(k)
                m_cls.append(c)
                m_row.append(off + 1)
        if with_unmatched:
            claimed = {s - base for s in starts[first:]}
            for i in range(n):
                if i not in claimed:
                    starts.append(base + i)
                    m_no.append(None)
                    m_cls.append(None)
                    m_row.append(None)

    def run(pdf_iter):
        # ONE call per shuffle PARTITION, not per key (a per-key Arrow
        # round-trip costs milliseconds per key). Rows arrive
        # hash-partitioned by key and sorted by (key, order), so key spans
        # are contiguous: boundaries are one vectorized null-safe
        # key-change scan per Arrow chunk, flag columns convert to numpy
        # once per processed block, and each key's matcher sees zero-copy
        # slices.
        #
        # Arrow chunks stream INCREMENTALLY — each chunk is processed as soon as its complete
        # key spans are known, and only the trailing OPEN span (a key that
        # may continue into the next chunk) is carried forward. MEMORY
        # CONTRACT: peak held rows = one Arrow chunk (bounded by
        # spark.sql.execution.arrow.maxRecordsPerBatch) + the largest
        # single KEY span — not the whole shuffle partition. A hot key
        # still buffers fully (the matcher needs its span contiguous; the
        # same rows a JVM window would hold for that frame, minus its disk
        # spill), but skew across keys within a partition no longer
        # accumulates. With partition_by=[] the single global key IS the
        # partition — that case degenerates to full buffering by
        # construction and runs on one task (see below).
        import numpy as np
        import pandas as pd

        def key_starts(pdf):
            """Positions where the partition key changes (null-safe);
            always includes 0."""
            change = np.zeros(len(pdf), dtype=bool)
            change[0] = True
            for k in partition_by:
                col = pdf[k]
                ne = col.ne(col.shift()) & ~(col.isna() & col.shift().isna())
                change |= ne.to_numpy(dtype=bool, na_value=True)
            return np.flatnonzero(change)

        def process(pdf, starts_idx):
            bounds = np.append(starts_idx, len(pdf))
            fl_all = {s: pdf[f"_mr_{s}"].to_numpy(dtype=bool) for s in symbols}
            starts: list[int] = []
            m_no: list = []
            m_cls: list = []
            m_row: list = []
            for g in range(len(bounds) - 1):
                g0, g1 = int(bounds[g]), int(bounds[g + 1])
                flags = {s: a[g0:g1] for s, a in fl_all.items()}
                run_group(flags, g1 - g0, g0, starts, m_no, m_cls, m_row)
            out = (
                pdf.iloc[starts][in_cols].copy()
                if starts
                else pdf.iloc[0:0][in_cols].copy()
            )
            if with_unmatched or show_empty:  # nullable ints through Arrow
                out["match_no"] = pd.array(m_no, dtype="Int64")
                out["classifier"] = pd.Series(m_cls, index=out.index, dtype="object")
                out["match_row"] = pd.array(m_row, dtype="Int32")
            else:
                out["match_no"] = pd.Series(m_no, index=out.index, dtype="int64")
                out["classifier"] = pd.Series(m_cls, index=out.index, dtype="object")
                out["match_row"] = pd.Series(m_row, index=out.index, dtype="int32")
            return out

        def continues(prev_tail: "pd.DataFrame", nxt: "pd.DataFrame") -> bool:
            """Does nxt's first row share prev_tail's last row's key
            (null-safe)? Decides span continuation across chunk boundaries
            without concatenating."""
            for k in partition_by:
                va, vb = prev_tail[k].iloc[-1], nxt[k].iloc[0]
                na, nb = pd.isna(va), pd.isna(vb)
                if na and nb:
                    continue
                if na or nb or va != vb:
                    return False
            return True

        # The open trailing span accumulates as a LIST of chunks and is
        # concatenated once, when it closes (or at end-of-partition): each
        # row is copied at most twice total (into its processed block; the
        # trailing remainder once more into the next block). Re-concatenating
        # the carry per chunk would be quadratic on a hot key — the exact
        # case this streaming rewrite exists for.
        carry: list = []
        carry_len = 0
        for chunk in pdf_iter:
            if not len(chunk):
                continue
            starts_idx = key_starts(chunk)
            cont = bool(carry) and continues(carry[-1], chunk)
            # span starts in the VIRTUAL buffer carry + chunk
            abs_starts = [0] + [carry_len + int(s) for s in starts_idx if s > 0]
            if carry_len and not cont and carry_len not in abs_starts:
                abs_starts.insert(1, carry_len)
            last = abs_starts[-1]
            if last == 0:  # still one open span — keep buffering, no copy
                carry.append(chunk)
                carry_len += len(chunk)
                continue
            buf = pd.concat([*carry, chunk], ignore_index=True) if carry else chunk
            carry = [buf.iloc[last:].copy()] if last < len(buf) else []
            carry_len = len(buf) - last
            yield process(buf.iloc[:last], np.asarray(abs_starts[:-1]))
        if carry_len:
            buf = carry[0] if len(carry) == 1 else pd.concat(carry, ignore_index=True)
            yield process(buf, key_starts(buf))

    if partition_by:
        shuffled = flagged.repartition(*partition_by).sortWithinPartitions(
            *partition_by, *order_by
        )
    else:
        # partition_by=[] is ONE logical partition; repartition() with
        # zero columns both raises and would split it. One task by
        # necessity (Trino's unpartitioned MATCH_RECOGNIZE is equally
        # serial) — fine for dims, not for facts.
        shuffled = flagged.coalesce(1).sortWithinPartitions(*order_by)
    out = shuffled.mapInPandas(run, schema=schema)
    if excl_alias:
        # normalize classifiers Spark-side: keep the hidden-row marker,
        # then report the ORIGINAL symbol (CLASSIFIER()/scopes never see an
        # alias; excluded rows still feed SKIP positions and measures)
        amap = F.create_map(
            *[x for a, o in sorted(excl_alias.items()) for x in (F.lit(a), F.lit(o))]
        )
        out = out.withColumn(
            "_mr_excl", F.element_at(amap, F.col("classifier")).isNotNull()
        ).withColumn(
            "classifier",
            F.coalesce(F.element_at(amap, F.col("classifier")), F.col("classifier")),
        )
    if measures:
        classifier_of: dict[str, Column] = {
            s: F.col("classifier") == s for s in user_symbols
        }
        for sub, members in (subsets or {}).items():
            classifier_of[sub] = F.col("classifier").isin(members)
        if rows_per_match == "one":
            aggs = [
                _measure_column(e, classifier_of).alias(name)
                for name, e in measures.items()
            ]
            return (
                out.groupBy(*partition_by, "match_no").agg(*aggs).drop("match_no")
            )
        # ALL ROWS PER MATCH + MEASURES: per-row window expressions
        # over (partition, match_no) ordered by match_row — RUNNING = frame
        # up to the current row (Trino's all-rows default), FINAL = the
        # whole match. Same shuffle key the matcher already grouped by.
        from pyspark.sql import Window as _W

        wb = _W.partitionBy(*partition_by, "match_no").orderBy("match_row")
        w_run = wb.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        w_fin = wb.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
        for name, e in measures.items():
            c = _measure_column(e, classifier_of, mode="all", w_run=w_run, w_fin=w_fin)
            out = out.withColumn(name, F.when(F.col("match_no").isNotNull(), c))
    if excl_alias:
        if rows_per_match != "one":
            out = out.filter(~F.col("_mr_excl"))
        out = out.drop("_mr_excl")
    return out


# ------------------------------------------------------------- MEASURES
def _balanced(s: str) -> bool:
    """The measure sugar regexes capture greedily, so a
    compound like ``SUM(a) + COUNT(b)`` would parse as SUM of ``a) +
    COUNT(b``. Only take a sugar path when the captured inner expression
    has balanced parentheses; otherwise fall through to the raw-SQL
    escape hatch."""
    depth = 0
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


def _measure_column(
    expr: str,
    classifier_of: dict[str, "Column"],
    mode: str = "one",
    w_run=None,
    w_fin=None,
):
    """One MEASURES expression → a Column.

    ``mode="one"`` (Trino ONE ROW PER MATCH): an aggregate Column over the
    match's ALL-ROWS group — FINAL semantics (RUNNING at the last row ≡
    FINAL, so a RUNNING/FINAL prefix is accepted and ignored).

    ``mode="all"`` (ALL ROWS PER MATCH + MEASURES): a per-row Column
    over the provided match windows — ``w_run`` (rows up to and including
    the current row: Trino's all-rows DEFAULT, RUNNING semantics) or
    ``w_fin`` (the whole match) when the measure carries a ``FINAL``
    prefix.

    Grammar (Trino's MEASURES surface): ``[RUNNING |FINAL ]`` prefix, then
    ``MATCH_NUMBER()``; ``CLASSIFIER()`` (the last visible row's
    classifier — RUNNING: the current row's); ``FIRST(x[, k])`` /
    ``LAST(x[, k])`` with an optional integer offset from the match's
    first/last row; ``COUNT(*)`` / ``COUNT(S.*)``; ``SUM/AVG/MIN/MAX/
    COUNT(x)`` — where ``x`` is a column or ``S.col`` (rows classified S,
    or any symbol of the SUBSET S). Anything else passes through as raw
    Spark SQL (the power-user escape hatch) — an aggregate over the group
    in one-row mode; in all-rows mode it must be a single aggregate call
    (it is window-wrapped as a whole)."""
    import re as _re

    s = expr.strip()
    pm = _re.match(r"(RUNNING|FINAL)\s+", s, _re.IGNORECASE)
    sem = "running"  # Trino's ALL ROWS PER MATCH default
    if pm:
        sem = pm.group(1).lower()
        s = s[pm.end() :].strip()

    def win(c: Column) -> Column:  # semantics-dependent aggregate
        if mode != "all":
            return c
        return c.over(w_fin if sem == "final" else w_run)

    #: an EMPTY match (SHOW EMPTY MATCHES) emits one carrier row with
    #: NULL match_row; measures must evaluate over ZERO rows there —
    #: unscoped values gate on this (scoped ones gate on classifier,
    #: which is NULL on the carrier row already)
    in_match = F.col("match_row").isNotNull()

    if _re.fullmatch(r"MATCH_NUMBER\s*\(\s*\)", s, _re.IGNORECASE):
        return F.col("match_no") if mode == "all" else F.first("match_no")
    m = _re.fullmatch(r"CLASSIFIER\s*\(\s*([A-Za-z_]\w*)?\s*\)", s, _re.IGNORECASE)
    if m and (m.group(1) is None or m.group(1) in classifier_of):
        if m.group(1) is not None:
            # Trino's CLASSIFIER(U): the last visible row mapped to the
            # SUBSET (or symbol) U — NULL when no such row yet
            cond = classifier_of[m.group(1)]
            c = F.max_by(
                F.when(cond, F.col("classifier")),
                F.when(cond, F.col("match_row")),
            )
            return win(c) if mode == "all" else c
        if mode == "all":
            # RUNNING: the latest row so far is the current row
            return F.col("classifier") if sem != "final" else F.last("classifier").over(w_fin)
        return F.max_by("classifier", F.coalesce(F.col("match_row"), F.lit(0)))

    def scoped(inner):
        # "S.col" → (condition, col); "col" → (None, col); "*"/"S.*" ditto
        m = _re.fullmatch(r"([A-Za-z_]\w*)\s*\.\s*(\*|[A-Za-z_]\w*)", inner.strip())
        if m and m.group(1) in classifier_of:
            return classifier_of[m.group(1)], m.group(2)
        return None, inner.strip()

    m = _re.fullmatch(
        r"(FIRST|LAST)\s*\((.*?)(?:,\s*(\d+))?\s*\)", s, _re.IGNORECASE | _re.DOTALL
    )
    if m and _balanced(m.group(2)):
        kind, inner, off = m.group(1).upper(), m.group(2), int(m.group(3) or 0)
        cond, col = scoped(inner)
        val = F.expr(col)
        row = F.col("match_row")
        if cond is not None:
            val = F.when(cond, val)
            row = F.when(cond, row)
        # k-th matched row from the start/end: gather (row, val) structs
        # sorted by position and index from the appropriate end (F.get is
        # 0-based and NULL out of range — Trino's out-of-bounds NULL).
        # Scoped-out rows collect as null-_r structs (collect_list skips
        # null VALUES, not structs of nulls) and would sort FIRST — filter
        # them so FIRST(S.x) navigates over S's rows only. In all-rows
        # mode the collect runs over the RUNNING/FINAL window, so
        # RUNNING LAST(x) is the latest visible row — Trino's navigation.
        pairs = F.filter(
            F.sort_array(
                win(F.collect_list(F.struct(row.alias("_r"), val.alias("_v"))))
            ),
            lambda x: x.getField("_r").isNotNull(),
        )
        idx = F.lit(off) if kind == "FIRST" else F.size(pairs) - 1 - F.lit(off)
        return F.get(pairs, idx).getField("_v")
    m = _re.fullmatch(
        r"(SUM|AVG|MIN|MAX|COUNT)\s*\((.*)\)", s, _re.IGNORECASE | _re.DOTALL
    )
    if m and _balanced(m.group(2)):
        agg, inner = m.group(1).upper(), m.group(2).strip()
        if agg == "COUNT" and inner == "*":
            return win(F.count(F.when(in_match, 1)))  # 0 over an empty match
        cond, col = scoped(inner)
        if agg == "COUNT" and col == "*":
            return win(F.sum(F.when(cond, 1).otherwise(0)))
        val = F.expr(col)
        val = F.when(cond if cond is not None else in_match, val)
        return win(getattr(F, agg.lower())(val))
    return win(F.expr(s)) if mode == "all" else F.expr(s)  # raw SQL escape


# ------------------------------------------------------------ streaming CEP
def _stream_scan(
    moves: list[list[tuple]],
    start: int,
    fa: dict,
    ts,
    within_us: int,
    frontier: int,
    after_match,
) -> tuple[list[tuple[int, list[str]]], int]:
    """One trigger's scan over a key's time-sorted buffer: ``_scan`` over
    the candidate starts whose whole WITHIN span is strictly past the
    watermark (``ts + within < frontier``, which makes the result
    independent of micro-batch chopping), each bounded to its own span.

    Returns ``(matches, keep_from)``: matches as (start_idx, classifiers),
    and the eviction point. Every row before it is either consumed, or a
    non-candidate whose event time is too old (< frontier − within) to
    serve any future admitted start."""
    import numpy as np

    fin_end = int(np.searchsorted(ts, frontier - within_us, side="left"))
    cand_idx = _candidates(moves, start, fa, fin_end)
    ends = np.searchsorted(ts, ts[cand_idx] + within_us, side="right").tolist()
    out, i = _scan(moves, start, fa, cand_idx, ends, after_match)
    return out, max(i, fin_end)


def _parse_stream_measure(expr: str, symbols: list[str], id_col: str, ts_col: str):
    """One streaming MEASURES expression → ``(evaluator, ddl_type)``.
    The evaluator runs per finalized match over ``(ids, tss, classifiers)``
    — the only columns streaming state carries (DEFINE results are packed
    to flag bits before grouping; value columns belong downstream, joined
    back on the emitted ids). Grammar: ``COUNT(*)``, ``COUNT(S.*)``,
    ``CLASSIFIER()`` (last row), ``FIRST/LAST(<id>|<ts>[, k])`` optionally
    scoped ``S.<col>``."""
    import re as _re

    s = expr.strip()
    if _re.fullmatch(r"COUNT\s*\(\s*\*\s*\)", s, _re.IGNORECASE):
        return (lambda ids, tss, cls: len(cls)), "bigint"
    m = _re.fullmatch(r"COUNT\s*\(\s*([A-Za-z_]\w*)\s*\.\s*\*\s*\)", s, _re.IGNORECASE)
    if m and m.group(1) in symbols:
        sym = m.group(1)
        return (lambda ids, tss, cls: sum(1 for c in cls if c == sym)), "bigint"
    if _re.fullmatch(r"CLASSIFIER\s*\(\s*\)", s, _re.IGNORECASE):
        return (lambda ids, tss, cls: cls[-1]), "string"
    m = _re.fullmatch(
        r"(FIRST|LAST)\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)"
        r"\s*(?:,\s*(\d+))?\s*\)",
        s,
        _re.IGNORECASE,
    )
    if m and m.group(3) in (id_col, ts_col) and (m.group(2) or symbols[0]) in symbols:
        kind, sym, col, off = m.group(1).upper(), m.group(2), m.group(3), int(m.group(4) or 0)
        is_ts = col == ts_col

        def ev(ids, tss, cls, kind=kind, sym=sym, off=off, is_ts=is_ts):
            vals = tss if is_ts else ids
            idxs = [k for k, c in enumerate(cls) if sym is None or c == sym]
            if kind == "LAST":
                idxs = idxs[::-1]
            return int(vals[idxs[off]]) if off < len(idxs) else None

        return ev, ("timestamp" if is_ts else "bigint")
    raise ValueError(
        f"unsupported streaming measure {expr!r}: use COUNT(*)/COUNT(S.*)/"
        f"CLASSIFIER()/FIRST|LAST({id_col}|{ts_col}[, k]), or a value-column "
        "aggregate SUM/AVG/MIN/MAX/COUNT/FIRST/LAST([S.]<numeric col>[, k]) "
        "(the referenced column is projected into state as double)"
    )


def _parse_stream_value_measure(expr: str, symbols: list[str], value_cols):
    """One VALUE-COLUMN streaming measure →
    ``(evaluator, ddl_type, column)``. The evaluator runs per finalized
    match over ``(ids, tss, classifiers, vals)`` where ``vals`` maps each
    referenced column to its float64 span — the column is PROJECTED into
    state (cast double) because joining the emitted matches back to the
    source stream is unsound: a stateful operator's output rows are by
    construction older than the watermark that finalized them, and Spark's
    own multi-stateful correctness check rejects the downstream join/agg
    ('can emit rows older than the current watermark ... these rows can be
    discarded'). Grammar: ``SUM/AVG/MIN/MAX/COUNT([S.]col)`` and
    ``FIRST/LAST([S.]col[, k])``; NULLs skip (SQL aggregate semantics),
    all-NULL scopes yield NULL. Returns None when the expression is not a
    value-column measure (caller falls back to the lean-grammar error)."""
    import re as _re

    import numpy as np

    s = _re.sub(r"^(?:RUNNING|FINAL)\s+", "", expr.strip(), flags=_re.IGNORECASE)
    m = _re.fullmatch(
        r"(SUM|AVG|MIN|MAX|COUNT)\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)\s*\)",
        s,
        _re.IGNORECASE,
    )
    if m and m.group(3) in value_cols and (m.group(2) is None or m.group(2) in symbols):
        fn, sym, col = m.group(1).upper(), m.group(2), m.group(3)

        def ev(ids, tss, cls, vals, fn=fn, sym=sym, col=col):
            v = vals[col]
            if sym is not None:
                v = v[[k for k, c in enumerate(cls) if c == sym]]
            v = v[~np.isnan(v)]
            if fn == "COUNT":
                return int(len(v))
            if not len(v):
                return None
            red = {"SUM": np.sum, "AVG": np.mean, "MIN": np.min, "MAX": np.max}[fn]
            return float(red(v))

        return ev, ("bigint" if fn == "COUNT" else "double"), col
    m = _re.fullmatch(
        r"(FIRST|LAST)\s*\(\s*(?:([A-Za-z_]\w*)\s*\.\s*)?([A-Za-z_]\w*)"
        r"\s*(?:,\s*(\d+))?\s*\)",
        s,
        _re.IGNORECASE,
    )
    if m and m.group(3) in value_cols and (m.group(2) is None or m.group(2) in symbols):
        kind, sym, col, off = (
            m.group(1).upper(),
            m.group(2),
            m.group(3),
            int(m.group(4) or 0),
        )

        def ev(ids, tss, cls, vals, kind=kind, sym=sym, col=col, off=off):
            idxs = [k for k, c in enumerate(cls) if sym is None or c == sym]
            if kind == "LAST":
                idxs = idxs[::-1]
            if off >= len(idxs):
                return None
            x = vals[col][idxs[off]]
            return None if np.isnan(x) else float(x)

        return ev, "double", col
    return None


def match_recognize_stream(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    pattern: str,
    define: dict[str, str],
    within: str,
    delay: str = "0 seconds",
    after_match: str = "skip_past_last",
    measures: "dict[str, str] | None" = None,
) -> DataFrame:
    """Streaming MATCH_RECOGNIZE — CEP over a Structured Stream via
    ``applyInPandasWithState``, with Flink-CEP-style ``WITHIN`` semantics:
    a match must complete inside ``within`` of its first row's event time
    (the bound that makes per-key state FINITE — O(events in one within-
    span), not O(stream)).

    Determinism contract: rows buffer per key until the WATERMARK
    guarantees completeness — a match starting at event time t0 finalizes
    only once ``t0 + within ≤ watermark`` — so the emitted match set is
    identical however the engine chops micro-batches, and identical to the
    batch matcher run under the same within-slicing. Late rows beyond
    ``delay`` are dropped by the watermark (the standard streaming trade).
    Leftmost-greedy + skip-past-last over each key's time-ordered buffer;
    scanned-and-finalized prefixes are evicted. Event-time TIMEOUTS flush
    keys when the watermark passes their next finalization point, so
    matches emit without needing new data for that key.

    Output (append mode): one row per MATCHED row — (key, start_id, id,
    ts, classifier, match_row); ``start_id`` (the match's first row id) is
    the stable per-match grouping key for measures, numbering-free across
    triggers. With ``measures`` the stream
    emits ONE row per match instead: (key, start_id, <measures...>),
    aggregated in-state before emission. Grammar: COUNT(*) / COUNT(S.*) /
    CLASSIFIER() / FIRST|LAST(id|ts[, k]) over the columns state always
    carries, plus VALUE-COLUMN aggregates —
    ``SUM/AVG/MIN/MAX/COUNT([S.]col)``, ``FIRST/LAST([S.]col[, k])`` over
    any numeric source column: each referenced column (and ONLY those) is
    projected into state as double, +8 bytes/row/column within the same
    O(within-span) bound; NULLs skip per SQL aggregate semantics. The
    join-back alternative (emit ids, join the source stream downstream)
    was prototyped and is UNSOUND: a stateful operator's emitted rows are
    by construction older than the watermark that finalized them, and
    Spark's multi-stateful correctness check refuses the downstream
    join/agg — projected state keeps one operator, one watermark,
    deterministic results.
    ``after_match``: all four batch SKIP modes stream too —
    ``skip_to_next_row`` / ``skip_to_first|last <symbol>`` produce
    overlapping matches exactly like batch, still watermark-finalized.
    DEFINE conditions are SQL strings over the row's columns (evaluated
    JVM-side into flag bits before grouping); PREV/NEXT navigation is
    batch-only (windows don't stream) and refuses here, as do anchors
    (a streaming buffer has no partition end). ``key_col``/``id_col``
    must be bigint; ``ts_col`` must be TIMESTAMP (watermarks reject NTZ)
    — micros round-trip through state as int64.

    The per-trigger matcher is the batch automaton matcher's ``_scan``
    over candidate starts, each bounded to its WITHIN span (see
    ``_stream_scan``); DEFINE bits arrive packed in one int64 word."""
    import pandas as _pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ast, a_s, a_e = parse_pattern_anchored(pattern)
    if a_s or a_e:
        raise ValueError("anchors (^/$) are batch-only: a stream has no partition end")
    no_excl: dict[str, str] = {}
    if _strip_exclusions(ast, no_excl) and no_excl:
        raise ValueError(
            "pattern exclusions {- -} are batch-only (the stream emits "
            "start_id-keyed rows; drop columns downstream instead)"
        )
    ast = _rewrite_nullable_bodies(ast)
    symbols = pattern_symbols(ast)
    after_match = _normalize_after_match(after_match, symbols)
    compiled_moves, compiled_start = compile_nfa(ast)
    if len(symbols) > 62:
        raise ValueError("more than 62 pattern symbols cannot pack into the flag word")
    missing = [s for s in symbols if s not in define]
    if missing:
        raise ValueError(f"pattern symbols {missing} missing from define {sorted(define)}")
    within_us = int(_pd.Timedelta(within).total_seconds() * 1_000_000)
    if within_us <= 0:
        raise ValueError(f"within must be a positive duration, got {within!r}")
    # measures: the lean grammar plus value-column aggregates whose
    # referenced columns are projected into state as double — never the
    # whole row, and never a downstream join-back, which Spark's
    # multi-stateful correctness check rightly refuses)
    meas = None
    needed: list[str] = []
    if measures:
        value_cols = {
            f.name: f.dataType.simpleString()
            for f in stream.schema.fields
            if f.name not in (key_col, ts_col, id_col)
        }
        _numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
        meas = {}
        for name, e in measures.items():
            try:
                ev3, ddl = _parse_stream_measure(e, symbols, id_col, ts_col)
                meas[name] = (
                    (lambda ids, tss, cls, vals, _e=ev3: _e(ids, tss, cls)),
                    ddl,
                )
                continue
            except ValueError as lean_err:
                vm = _parse_stream_value_measure(e, symbols, set(value_cols))
                if vm is None:
                    raise lean_err from None
                ev4, ddl, col = vm
                dt = value_cols[col]
                if dt not in _numeric and not dt.startswith("decimal"):
                    raise ValueError(
                        f"streaming value measure {e!r}: column {col!r} has type "
                        f"{dt}; only numeric columns project into state (strings "
                        "belong downstream, joined on the emitted ids)"
                    ) from None
                if col not in needed:
                    needed.append(col)
                meas[name] = (ev4, ddl)

    flagged = stream.withWatermark(ts_col, delay)
    bits = []
    for i, s in enumerate(symbols):
        cond = define[s]
        if isinstance(cond, str):
            if _rewrite_navigation(cond, []) != cond:
                raise ValueError(
                    "PREV/NEXT navigation needs a window over the whole "
                    "partition — batch-only; pre-compute lag/lead columns "
                    "upstream for streams"
                )
            cond = F.expr(cond)
        bits.append(
            F.when(F.coalesce(cond.cast("boolean"), F.lit(False)), F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        )
    flag_word = bits[0]
    for b in bits[1:]:
        flag_word = flag_word + b
    flagged = flagged.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(id_col),
        flag_word.cast("bigint").alias("_mr_flags"),
        # only the columns value measures reference ride into state
        *[F.col(c).cast("double").alias(f"_mr_v_{c}") for c in needed],
    )

    if meas is None:
        out_schema = (
            f"{key_col} bigint, start_{id_col} bigint, {id_col} bigint, "
            f"{ts_col} timestamp, classifier string, match_row int"
        )
    else:
        out_schema = f"{key_col} bigint, start_{id_col} bigint, " + ", ".join(
            f"{name} {ddl}" for name, (_, ddl) in meas.items()
        )

    def fn(key, pdf_iter, state: GroupState):
        import numpy as np

        from incubator_paimon_trino_spark.streaming.changelog import (
            quiet_state_serializer_warnings,
        )

        quiet_state_serializer_warnings()
        if state.exists:
            st = state.get  # property in the PySpark GroupState API
            buf_ts, buf_id, buf_fl = list(st[0]), list(st[1]), list(st[2])
            buf_v = [list(x) for x in st[3:]]
        else:
            buf_ts, buf_id, buf_fl = [], [], []
            buf_v = [[] for _ in needed]
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            ts_us = (
                pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            )
            buf_ts.extend(ts_us.tolist())
            buf_id.extend(pdf[id_col].astype("int64").tolist())
            buf_fl.extend(pdf["_mr_flags"].astype("int64").tolist())
            for bi, col in enumerate(needed):
                buf_v[bi].extend(pdf[f"_mr_v_{col}"].astype("float64").tolist())
        n = len(buf_ts)
        ts = np.asarray(buf_ts, dtype=np.int64)
        ids = np.asarray(buf_id, dtype=np.int64)
        fl = np.asarray(buf_fl, dtype=np.int64)
        order = np.lexsort((ids, ts))
        ts, ids, fl = ts[order], ids[order], fl[order]
        vs = [np.asarray(b, dtype=np.float64)[order] for b in buf_v]
        flags = {
            s: ((fl >> i) & 1).astype(bool) for i, s in enumerate(symbols)
        }
        frontier = state.getCurrentWatermarkMs() * 1000  # us
        # STRICT <: a row with event time exactly equal to the watermark is
        # not yet late (Spark drops only ts < wm), so a window touching the
        # watermark could still gain rows — _stream_scan finalizes only
        # strictly-passed windows, mirrored by the registered oracle's <
        matches, keep_from = _stream_scan(
            compiled_moves, compiled_start, flags, ts, within_us, frontier, after_match
        )
        if keep_from >= n:
            state.remove()
        else:
            state.update(
                (
                    ts[keep_from:].tolist(),
                    ids[keep_from:].tolist(),
                    fl[keep_from:].tolist(),
                    *[v[keep_from:].tolist() for v in vs],
                )
            )
            wake_ms = (int(ts[keep_from]) + within_us) // 1000 + 1
            state.setTimeoutTimestamp(max(wake_ms, state.getCurrentWatermarkMs() + 1))
        if not matches:
            return
        if meas is None:
            o_key, o_start, o_id, o_ts, o_cls, o_row = [], [], [], [], [], []
            for j, cls in matches:
                for off, c in enumerate(cls):
                    o_key.append(key[0])
                    o_start.append(int(ids[j]))
                    o_id.append(int(ids[j + off]))
                    o_ts.append(int(ts[j + off]))
                    o_cls.append(c)
                    o_row.append(off + 1)
            yield _pd.DataFrame(
                {
                    key_col: _pd.Series(o_key, dtype="int64"),
                    f"start_{id_col}": _pd.Series(o_start, dtype="int64"),
                    id_col: _pd.Series(o_id, dtype="int64"),
                    ts_col: _pd.Series(
                        np.asarray(o_ts, dtype=np.int64).astype("datetime64[us]")
                    ),
                    "classifier": _pd.Series(o_cls, dtype="object"),
                    "match_row": _pd.Series(o_row, dtype="int32"),
                }
            )
            return
        # measures mode: one emitted row per match, aggregated in-state
        cols: dict[str, list] = {name: [] for name in meas}
        o_key, o_start = [], []
        for j, cls in matches:
            o_key.append(key[0])
            o_start.append(int(ids[j]))
            ids_m, ts_m = ids[j : j + len(cls)], ts[j : j + len(cls)]
            vals_m = {col: vs[bi][j : j + len(cls)] for bi, col in enumerate(needed)}
            for name, (ev, _ddl) in meas.items():
                cols[name].append(ev(ids_m, ts_m, cls, vals_m))
        data = {
            key_col: _pd.Series(o_key, dtype="int64"),
            f"start_{id_col}": _pd.Series(o_start, dtype="int64"),
        }
        for name, (_ev, ddl) in meas.items():
            if ddl == "timestamp":
                data[name] = _pd.to_datetime(
                    _pd.Series(cols[name], dtype="Int64"), unit="us"
                )
            elif ddl == "bigint":
                data[name] = _pd.array(cols[name], dtype="Int64")
            elif ddl == "double":
                data[name] = _pd.array(cols[name], dtype="Float64")
            else:
                data[name] = _pd.Series(cols[name], dtype="object")
        yield _pd.DataFrame(data)

    state_schema = "ts array<bigint>, ids array<bigint>, flags array<bigint>" + "".join(
        f", v{i} array<double>" for i in range(len(needed))
    )
    return flagged.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ------------------------------------------------- registered demonstration
from pyspark.sql import SparkSession  # noqa: E402

from incubator_paimon_trino_spark.operators.registry import register  # noqa: E402
from incubator_paimon_trino_spark.sources import table  # noqa: E402


@register(
    "pattern_match_recognize_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    )
    SELECT p.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY p.user_id ORDER BY s.rn) AS BIGINT) AS match_no,
           s.event_id AS start_event_id,
           p.event_id AS end_event_id,
           CAST(p.rn - s.rn - 1 AS BIGINT) AS n_clicks
    FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
    WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    """,
)
def pattern_match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (V C+ P) through the general NFA engine: a view, one-or-more
    contiguous clicks, then a purchase, per user in event-time order —
    measures (start/end event, click count) as a plain groupBy over the
    ALL-ROWS-PER-MATCH output.

    The DuckDB oracle derives the same matches in closed form (for this
    pattern the last non-click row before each purchase decides everything),
    so the generic matcher's match set, numbering, boundaries and per-match
    counts are all value-hash-checked.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.sum(F.when(F.col("classifier") == "C", 1).otherwise(0)).alias("n_clicks"),
    )


@register(
    "pattern_measures_one_row",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, s.rn AS srn, p.rn AS prn,
             s.event_id AS start_event_id, p.event_id AS end_event_id
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    )
    SELECT m.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY m.user_id ORDER BY m.srn) AS BIGINT) AS mn,
           m.start_event_id,
           m.end_event_id,
           MAX(CASE WHEN b.rn = m.srn + 1 THEN b.event_id END) AS first_click_id,
           MAX(CASE WHEN b.rn = m.prn - 1 THEN b.event_id END) AS last_click_id,
           CAST(SUM(CASE WHEN b.rn > m.srn AND b.rn < m.prn THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
           CAST(2 AS BIGINT) AS n_edge,
           'P' AS cls,
           CAST(SUM(CASE WHEN b.rn BETWEEN m.srn AND m.prn
                         THEN CAST(b.value AS DECIMAL(9,2)) END) AS DOUBLE) AS total_value
    FROM matches m JOIN seq b ON b.user_id = m.user_id
                              AND b.rn BETWEEN m.srn AND m.prn
    GROUP BY m.user_id, m.srn, m.prn, m.start_event_id, m.end_event_id
    """,
)
def pattern_measures_one_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino's MEASURES clause + ONE ROW PER MATCH + SUBSET: the
    funnel emitting one row per match straight from ``measures=`` —
    MATCH_NUMBER(), FIRST/LAST with offsets, symbol- and SUBSET-scoped
    COUNT, CLASSIFIER(), and the raw-SQL escape hatch (a decimal-cast SUM
    for hash-stable doubles). Every measure is value-hash-checked against
    the closed-form oracle, including the in-match navigation offsets
    (FIRST(event_id, 1) = the first click; LAST(C.event_id) = the last)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    return match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
        measures={
            "mn": "MATCH_NUMBER()",
            "start_event_id": "FIRST(event_id)",
            "end_event_id": "LAST(event_id)",
            "first_click_id": "FIRST(event_id, 1)",
            "last_click_id": "LAST(C.event_id)",
            "n_clicks": "COUNT(C.*)",
            "n_edge": "COUNT(U.*)",
            "cls": "CLASSIFIER()",
            "total_value": "CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE)",
        },
        rows_per_match="one",
        subsets={"U": ["V", "P"]},
    )


@register(
    "pattern_skip_to_last_overlap",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    c AS (
      SELECT *,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nt,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY rn) AS nid
      FROM seq
    )
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS BIGINT) AS match_no,
           event_id AS start_event_id,
           nid AS end_event_id
    FROM c WHERE event_type = 'click' AND nt = 'click'
    """,
)
def pattern_skip_to_last_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AFTER MATCH SKIP TO LAST C: PATTERN (C C) over clicks with the
    scan resuming AT each match's last row — a run of k clicks yields k−1
    OVERLAPPING adjacent pairs (skip_past_last would give ⌊k/2⌋). The
    DuckDB oracle is the closed form: every click whose next event (in the
    same user's time order) is also a click heads exactly one match.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="C C",
        define={"C": "event_type = 'click'"},
        after_match="skip_to_last C",
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
    )


@register(
    "pattern_prev_navigation_runs",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      FROM events
    ),
    d AS (SELECT *, (value < pv) AS dn FROM seq),
    isl AS (
      SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM d WHERE dn
    ),
    runs AS (
      SELECT user_id, MIN(rn) AS a, MAX(rn) AS b, COUNT(*) AS n_down
      FROM isl GROUP BY user_id, grp
    )
    SELECT r.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY r.user_id ORDER BY r.a) AS BIGINT) AS match_no,
           s.event_id AS start_event_id,
           e.event_id AS end_event_id,
           CAST(r.n_down AS BIGINT) AS n_down
    FROM runs r
    JOIN seq s ON s.user_id = r.user_id AND s.rn = r.a - 1
    JOIN seq e ON e.user_id = r.user_id AND e.rn = r.b
    """,
)
def pattern_prev_navigation_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (A D+) with DEFINE D AS value < PREV(value) — Trino's
    physical-row navigation in DEFINE: maximal strictly-decreasing
    value runs per user, the classic falling-price MATCH_RECOGNIZE. PREV
    rewrites to a lag window over (user, event-time) before flag
    evaluation, so the matcher still sees only a bit-matrix.

    DuckDB oracle: gaps-and-islands over the same lag — every maximal
    decreasing island [a..b] yields exactly one leftmost-greedy match
    covering rows a-1..b (the island cannot start at rn=1: LAG is NULL
    there and NULL comparisons flag false in both engines).
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="A D+",
        define={"A": "true", "D": "value < PREV(value)"},
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.sum(F.when(F.col("classifier") == "D", 1).otherwise(0)).alias("n_down"),
    )


@register(
    "pattern_bounded_quantifier_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    )
    SELECT p.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY p.user_id ORDER BY s.rn) AS BIGINT) AS match_no,
           s.event_id AS start_event_id,
           p.event_id AS end_event_id,
           CAST(p.rn - s.rn - 1 AS BIGINT) AS n_clicks
    FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
    WHERE p.event_type = 'purchase' AND s.event_type = 'view'
      AND p.rn - s.rn BETWEEN 3 AND 5
    """,
)
def pattern_bounded_quantifier_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (V C{2,4} P) — Trino's bounded quantifier: a view,
    then two-to-four contiguous clicks, then a purchase. The parser
    desugars ``{n,m}`` into right-nested greedy optionals, so the
    automaton matcher runs it (the desugared form is non-linear).

    Closed-form oracle: the pattern consumes contiguous rows, so a match
    exists iff the last non-click row before a purchase is a view at
    distance 3..5 (1 view + 2..4 clicks). A longer click run can't match —
    the purchase wouldn't be adjacent to the consumed clicks — which the
    BETWEEN bound encodes exactly.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V C{2,4} P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.sum(F.when(F.col("classifier") == "C", 1).otherwise(0)).alias("n_clicks"),
    )


@register(
    "pattern_alternation_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type NOT IN ('click','error') THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, s.rn AS srn, p.rn AS prn,
             s.event_id AS start_event_id, p.event_id AS end_event_id
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    )
    SELECT m.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY m.user_id ORDER BY m.srn) AS BIGINT) AS match_no,
           m.start_event_id, m.end_event_id,
           CAST(SUM(CASE WHEN b.event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN b.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
    FROM matches m JOIN seq b ON b.user_id = m.user_id AND b.rn > m.srn AND b.rn < m.prn
    GROUP BY m.user_id, m.srn, m.start_event_id, m.end_event_id
    """,
)
def pattern_alternation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PATTERN (V (C | E)+ P) — a NON-LINEAR pattern (alternation inside a
    quantified group) through the automaton matcher: a view, then one-or-more clicks-OR-errors, then a purchase, per
    user in event-time order. The reference's inherited engine suite names
    these shapes (``common-test/TestTrinoDistributedQuery.java:91,486``).

    The DuckDB oracle derives the same matches in closed form: because every
    interior row of a match is click-or-error, the last non-{click,error}
    row before each purchase decides the whole match — so the compiled NFA's
    match set, numbering, boundaries, and the per-classifier counts
    (alternation attribution C vs E) are all value-hash-checked.
    """
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V (C | E)+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "E": "event_type = 'error'",
            "P": "event_type = 'purchase'",
        },
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.sum(F.when(F.col("classifier") == "C", 1).otherwise(0)).alias("n_clicks"),
        F.sum(F.when(F.col("classifier") == "E", 1).otherwise(0)).alias("n_errors"),
    )


@register(
    "pattern_running_measures_all_rows",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, s.rn AS srn, p.rn AS prn, p.event_id AS end_id
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    )
    SELECT m.user_id, b.event_id,
           CAST(b.rn - m.srn + 1 AS BIGINT) AS rn_in_match,
           CAST(CASE WHEN b.rn = m.srn THEN 0
                     ELSE LEAST(b.rn, m.prn - 1) - m.srn END AS BIGINT) AS run_clicks,
           CAST(m.prn - m.srn - 1 AS BIGINT) AS fin_clicks,
           CAST(SUM(CAST(b.value AS DECIMAL(9,2)))
                  OVER (PARTITION BY m.user_id, m.srn ORDER BY b.rn) AS DOUBLE)
             AS run_value,
           CASE WHEN b.rn = m.srn THEN 'V' WHEN b.rn = m.prn THEN 'P'
                ELSE 'C' END AS cur_cls,
           m.end_id AS fin_end_id
    FROM matches m JOIN seq b ON b.user_id = m.user_id
                              AND b.rn BETWEEN m.srn AND m.prn
    """,
)
def pattern_running_measures_all_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino's ALL ROWS PER MATCH + MEASURES with RUNNING vs FINAL
    semantics: every matched funnel row
    carries running aggregates over the match prefix (COUNT(*) ordinal,
    click count, a decimal-exact running value sum) alongside FINAL
    whole-match values (click total, last event id) and the per-row
    CLASSIFIER(). The DuckDB oracle computes the same prefix windows over
    the closed-form match set, so the RUNNING frame semantics are
    value-hash-checked row by row."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
        measures={
            "rn_in_match": "RUNNING COUNT(*)",
            "run_clicks": "RUNNING COUNT(C.*)",
            "fin_clicks": "FINAL COUNT(C.*)",
            "run_value": "RUNNING SUM(CAST(value AS DECIMAL(9,2)))",
            "cur_cls": "CLASSIFIER()",
            "fin_end_id": "FINAL LAST(event_id)",
        },
        rows_per_match="all",
    )
    return mr.select(
        "user_id",
        "event_id",
        "rn_in_match",
        "run_clicks",
        "fin_clicks",
        F.col("run_value").cast("double").alias("run_value"),
        "cur_cls",
        "fin_end_id",
    )


@register(
    "pattern_exclusion_funnel_edges",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, s.rn AS srn, p.rn AS prn,
             s.event_id AS sid, p.event_id AS pid
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    )
    SELECT user_id, sid AS event_id, 'V' AS classifier,
           CAST(1 AS INTEGER) AS match_row FROM matches
    UNION ALL
    SELECT user_id, pid AS event_id, 'P' AS classifier,
           CAST(prn - srn + 1 AS INTEGER) AS match_row FROM matches
    """,
)
def pattern_exclusion_funnel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern exclusion ``V {- C+ -} P``: the
    clicks MATCH (the funnel still requires them, SKIP still advances past
    them) but are omitted from the all-rows output — only the V and P edge
    rows emit, with match_row keeping its true in-match position (the P
    row's ordinal counts the hidden clicks, which the oracle mirrors as
    prn − srn + 1)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V {- C+ -} P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
    )
    return mr.select("user_id", "event_id", "classifier", "match_row")


@register(
    "pattern_unmatched_rows_coverage",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, p.rn - s.rn + 1 AS mlen
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    ),
    per_user AS (
      SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
    )
    SELECT u.user_id, u.n_rows,
           CAST(COALESCE(SUM(m.mlen), 0) AS BIGINT) AS n_matched,
           CAST(u.n_rows - COALESCE(SUM(m.mlen), 0) AS BIGINT) AS n_unmatched
    FROM per_user u LEFT JOIN matches m ON m.user_id = u.user_id
    GROUP BY u.user_id, u.n_rows
    """,
)
def pattern_unmatched_rows_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL ROWS PER MATCH WITH UNMATCHED ROWS:
    every event row emits — matched rows with their classifier, unmatched
    rows with NULL match columns — so matched/unmatched row counts per
    user reconcile exactly against the closed-form match lengths (the
    funnel's non-overlapping skip_past_last matches make the matched-row
    total Σ(match length))."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
        rows_per_match="all_with_unmatched",
    )
    return mr.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("match_no").alias("n_matched"),
        F.sum(F.when(F.col("match_no").isNull(), 1).otherwise(0)).alias("n_unmatched"),
    )


@register(
    "pattern_end_anchor_trailing_run",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    agg AS (
      SELECT user_id, MAX(rn) AS mx,
             MAX(CASE WHEN event_type <> 'click' THEN rn ELSE 0 END) AS ln
      FROM seq GROUP BY user_id
    )
    SELECT a.user_id, s.event_id AS start_event_id, e.event_id AS end_event_id,
           CAST(a.mx - a.ln AS BIGINT) AS n_clicks
    FROM agg a
    JOIN seq s ON s.user_id = a.user_id AND s.rn = a.ln + 1
    JOIN seq e ON e.user_id = a.user_id AND e.rn = a.mx
    WHERE a.ln < a.mx
    """,
)
def pattern_end_anchor_trailing_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition end anchor ``C+ $``: the
    match must END at the user's last event, so the leftmost-greedy scan
    finds exactly the MAXIMAL trailing click run (earlier click runs never
    match — their greedy completion stops short of the partition end).
    DuckDB oracle: rows after the user's last non-click event."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="C+ $",
        define={"C": "event_type = 'click'"},
    )
    return mr.groupBy("user_id", "match_no").agg(
        F.min_by("event_id", "match_row").alias("start_event_id"),
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.count(F.lit(1)).alias("n_clicks"),
    ).drop("match_no")


@register(
    "pattern_show_empty_matches",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    err AS (
      SELECT *, rn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS grp
      FROM seq WHERE event_type = 'error'
    ),
    runs AS (
      SELECT user_id, grp, MIN(rn) AS srn, CAST(COUNT(*) AS BIGINT) AS len
      FROM err GROUP BY user_id, grp
    ),
    items AS (
      SELECT user_id, srn, len, TRUE AS ie FROM runs
      UNION ALL
      SELECT user_id, rn AS srn, CAST(0 AS BIGINT) AS len, FALSE AS ie
      FROM seq WHERE event_type <> 'error'
    ),
    numbered AS (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY srn) AS BIGINT) AS match_no
      FROM items
    )
    SELECT n.user_id, s.event_id, n.match_no, CAST(NULL AS VARCHAR) AS classifier,
           CAST(NULL AS INTEGER) AS match_row, n.len AS n_err
    FROM numbered n JOIN seq s ON s.user_id = n.user_id AND s.rn = n.srn
    WHERE NOT n.ie
    UNION ALL
    SELECT n.user_id, s.event_id, n.match_no, 'E' AS classifier,
           CAST(s.rn - n.srn + 1 AS INTEGER) AS match_row, n.len AS n_err
    FROM numbered n JOIN seq s ON s.user_id = n.user_id
                               AND s.rn BETWEEN n.srn AND n.srn + n.len - 1
    WHERE n.ie
    """,
)
def pattern_show_empty_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trino's SHOW EMPTY MATCHES — the ALL ROWS PER MATCH default:
    PATTERN (E*) per user matches every maximal error run, and EVERY other
    scanned row hosts an EMPTY match — numbered like any match, emitted as
    one carrier row with NULL classifier/match_row and zero-row measures
    (FINAL COUNT(*) = 0). The DuckDB oracle interleaves the error-run
    islands with the non-error rows and renumbers them in scan order, so
    the empty-match NUMBERING (Trino's subtlest empty-match rule) is
    value-hash-checked row by row."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize(
        ev,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        pattern="E*",
        define={"E": "event_type = 'error'"},
        measures={"n_err": "FINAL COUNT(*)"},
        rows_per_match="all",
    )
    return mr.select("user_id", "event_id", "match_no", "classifier", "match_row", "n_err")


@register(
    "pattern_sql_match_recognize",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    nc AS (
      SELECT *, MAX(CASE WHEN event_type <> 'click' THEN rn END)
                 OVER (PARTITION BY user_id ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nc
      FROM seq
    ),
    matches AS (
      SELECT p.user_id, s.rn AS srn, p.rn AS prn,
             s.event_id AS start_event_id, p.event_id AS end_event_id
      FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
      WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
    )
    SELECT m.user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY m.user_id ORDER BY m.srn) AS BIGINT) AS mn,
           m.start_event_id,
           m.end_event_id,
           CAST(SUM(CASE WHEN b.rn > m.srn AND b.rn < m.prn THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN b.rn BETWEEN m.srn AND m.prn
                         THEN CAST(b.value AS DECIMAL(9,2)) END) AS DOUBLE) AS total_value
    FROM matches m JOIN seq b ON b.user_id = m.user_id
                              AND b.rn BETWEEN m.srn AND m.prn
    GROUP BY m.user_id, m.srn, m.prn, m.start_event_id, m.end_event_id
    """,
)
def pattern_sql_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE as a SQL CLAUSE through ``cat.sql``: the full Trino
    grammar — PARTITION BY / ORDER BY / MEASURES / ONE ROW PER MATCH /
    AFTER MATCH SKIP / PATTERN / DEFINE — parses in
    ``catalog/wh_sql.py`` and lowers to the keyword-API operator; a user
    can now paste the query the inherited engine suite runs
    (common-test/TestTrinoDistributedQuery.java:91, 486) unchanged.

    Same funnel + closed-form oracle as ``pattern_measures_one_row``, so
    the GRAMMAR path is value-hash-checked end to end (clause splitting,
    measure aliasing, skip-mode mapping) against DuckDB — and the
    SQL-vs-DataFrame equality twins live in
    tests/test_match_recognize_sql.py."""
    import tempfile

    from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    ev.createOrReplaceTempView("mr_sql_driver_events")
    cat = WarehouseCatalog(tempfile.mkdtemp(prefix="ipt_mrsql_"), spark)
    return cat.sql(
        """
        SELECT * FROM mr_sql_driver_events MATCH_RECOGNIZE (
          PARTITION BY user_id
          ORDER BY ts, event_id
          MEASURES MATCH_NUMBER() AS mn,
                   FIRST(event_id) AS start_event_id,
                   LAST(event_id) AS end_event_id,
                   COUNT(C.*) AS n_clicks,
                   CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS total_value
          ONE ROW PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (V C+ P)
          DEFINE V AS event_type = 'view',
                 C AS event_type = 'click',
                 P AS event_type = 'purchase'
        )
        """
    )
