"""Declarative predicate model → Spark Column.

Functional mirror of ``common/TrinoFilterConverter.java:85-292``: the
reference converts Trino ``TupleDomain``s (per-column value domains) into
Paimon predicates it can push into the scan. In Spark the *pushing* is
Catalyst's job; what remains useful is the declarative domain model itself —
a serializable filter spec (e.g. from a REST layer or saved view definition)
compiled to ``Column`` expressions that Catalyst then pushes to parquet.

Supported forms (converter parity):
=, <, <=, >, >=, IN (``:168-170``), IS NULL (``:134``), IS NOT NULL
(``:145``), ranges with open/closed bounds → BETWEEN (``:181-213``),
OR of ranges, null-allowed OR (``:120-124``), conjunction across columns.

The reference *rejects* domains on ARRAY/MAP/ROW columns so deletes aren't
lost (``:148-154``); Spark evaluates them fine, so we accept them — strictly
more capable — but keep a ``strict_scalar`` toggle for bug-compat testing.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OPS = ("=", "<", "<=", ">", ">=", "<>")


@dataclass
class Range:
    """Value range with optional open/closed bounds (converter :181-213)."""

    low: Any = None
    high: Any = None
    low_inclusive: bool = True
    high_inclusive: bool = True

    def to_column(self, col: Column) -> Column:
        conds = []
        if self.low is not None:
            conds.append(col >= self.low if self.low_inclusive else col > self.low)
        if self.high is not None:
            conds.append(col <= self.high if self.high_inclusive else col < self.high)
        if not conds:
            return F.lit(True)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out


@dataclass
class ColumnDomain:
    """Everything the reference can express per column in a TupleDomain."""

    column: str
    op: str | None = None          # one of _OPS, with .value
    value: Any = None
    in_values: list | None = None  # IN (...)
    ranges: list[Range] = field(default_factory=list)  # OR of ranges
    is_null: bool | None = None    # True → IS NULL, False → IS NOT NULL
    null_allowed: bool = False     # OR col IS NULL on top (converter :120-124)

    def to_column(self) -> Column:
        c = F.col(self.column)
        parts: list[Column] = []
        if self.op is not None:
            if self.op not in _OPS:
                raise ValueError(f"unsupported op {self.op!r}; have {_OPS}")
            parts.append(
                {
                    "=": c == self.value,
                    "<": c < self.value,
                    "<=": c <= self.value,
                    ">": c > self.value,
                    ">=": c >= self.value,
                    "<>": c != self.value,
                }[self.op]
            )
        if self.in_values is not None:
            parts.append(c.isin(*self.in_values))
        if self.ranges:
            r = self.ranges[0].to_column(c)
            for rng in self.ranges[1:]:
                r = r | rng.to_column(c)
            parts.append(r)
        if self.is_null is True:
            parts.append(c.isNull())
        elif self.is_null is False:
            parts.append(c.isNotNull())
        if not parts:
            raise ValueError(f"empty domain for {self.column!r}")
        out = parts[0]
        for p in parts[1:]:
            out = out & p
        if self.null_allowed:
            out = out | c.isNull()
        return out


def tuple_domain_to_column(
    domains: list[ColumnDomain], df: DataFrame | None = None, strict_scalar: bool = False
) -> Column:
    """Conjoin per-column domains (TupleDomain semantics, converter :85-125).

    ``strict_scalar=True`` reproduces the reference's fail-fast on structural
    columns (``:148-154``).
    """
    if strict_scalar and df is not None:
        by_name = {f.name: f.dataType for f in df.schema.fields}
        for d in domains:
            dt = by_name.get(d.column)
            if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
                raise NotImplementedError(
                    f"domain on structural column {d.column!r} rejected (reference A6 semantics)"
                )
    if not domains:
        return F.lit(True)  # TupleDomain.all — an empty conjunction filters nothing
    out = domains[0].to_column()
    for d in domains[1:]:
        out = out & d.to_column()
    return out


def normalize_char_domains(
    domains: list[ColumnDomain], char_columns: set[str]
) -> list[ColumnDomain]:
    """CHAR comparison ignores trailing blanks (Trino CharType semantics;
    the reference maps Paimon CHAR(n) to a true Trino CHAR type,
    ``TrinoTypeUtils.java:77-81``). The lake write path stores CHAR columns
    rtrimmed (canonical form), so making literals pad-insensitive only needs
    an rtrim on the domain VALUES — stats pruning and the re-applied filter
    then agree with CHAR equality without any per-row expression wrapping.
    """
    import dataclasses

    def rt(v):
        return v.rstrip(" ") if isinstance(v, str) else v

    out = []
    for d in domains:
        if d.column not in char_columns:
            out.append(d)
            continue
        out.append(
            dataclasses.replace(
                d,
                value=rt(d.value),
                in_values=None if d.in_values is None else [rt(v) for v in d.in_values],
                ranges=[
                    dataclasses.replace(r, low=rt(r.low), high=rt(r.high))
                    for r in d.ranges
                ],
            )
        )
    return out


def apply_tuple_domain(df: DataFrame, domains: list[ColumnDomain], strict_scalar: bool = False) -> DataFrame:
    """applyFilter equivalent: attach the domain conjunction; Catalyst pushes
    scalar comparisons to parquet and prunes partitions — the behaviors the
    reference implements by hand in ``applyFilter`` (A4)."""
    return df.filter(tuple_domain_to_column(domains, df, strict_scalar))


def like_prefix_domain(column: str, pattern: str) -> ColumnDomain | None:
    """``col LIKE 'abc%'`` as a prunable range domain, or None.

    The reference's converter only pushes comparison/IN/NULL domains
    (``common/TrinoFilterConverter.java:85-292``) — Trino itself evaluates
    LIKE post-scan, so a prefix LIKE scans every file. Here a pattern with
    ONE trailing ``%``/``_``-free prefix compiles to the half-open range
    ``[prefix, next(prefix))``, which manifest min/max pruning (and sort/
    curve-compacted layouts) can skip on; the caller still applies the full
    LIKE as the residual filter — the domain is a superset, never a
    substitute. Patterns that are not a plain prefix (leading/inner
    wildcards, escapes, ``_``) return None: no safe range exists.

    ``next(prefix)`` increments the last character, skipping the surrogate
    block (no ENCODABLE string contains a lone surrogate, so jumping
    U+D7FF→U+E000 excludes nothing representable) and carrying past
    U+10FFFF (``'ab\\U0010FFFF'`` → ``'ac'``); a prefix of all-maximal code
    points returns an unbounded-above range.
    """
    if not pattern or "_" in pattern or "\\" in pattern:
        return None
    body, _, rest = pattern.partition("%")
    if rest not in ("",) or not pattern.endswith("%") or "%" in body or not body:
        return None

    def succ(ch: str) -> str | None:
        o = ord(ch)
        if o >= 0x10FFFF:
            return None  # no successor: carry into the previous character
        n = o + 1
        if 0xD800 <= n <= 0xDFFF:
            n = 0xE000  # surrogates are unencodable — no valid string lost
        return chr(n)

    hi = body
    while hi and succ(hi[-1]) is None:
        hi = hi[:-1]
    if hi:
        hi = hi[:-1] + succ(hi[-1])
    return ColumnDomain(
        column,
        ranges=[Range(low=body, high=hi or None, high_inclusive=False)],
    )
