"""Physical-plan inspection helpers.

The reference proves its pushdowns via connector-API hooks; in Spark the
equivalent proof is the physical plan text: ``PushedFilters`` on the parquet
scan, ``PartitionFilters`` for pruned partitions, ``ReadSchema`` for column
pruning, broadcast vs shuffle exchanges for join strategy. These helpers make
those assertions one-liners in tests and in the perf-iteration loop
("explain, then iterate until it's the plan you'd want").
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from incubator_paimon_trino_spark.session import rebind, scoped


def physical_plan(df: DataFrame) -> str:
    """Executed-plan text with metadata truncation lifted.

    ``spark.sql.maxMetadataStringLength`` defaults to 100, which silently cuts
    scan metadata mid-line — ``PushedFilters: [...]`` can vanish from the
    string even though pushdown happened. The plan renders from ``df``'s plan
    on a ``session.scoped`` clone with the limit raised; ``df``'s session
    keeps its own value.
    """
    wide = scoped(df.sparkSession, {"spark.sql.maxMetadataStringLength": "10000"})
    return rebind(df, wide)._jdf.queryExecution().executedPlan().toString()


def _bracket_payload(text: str, label: str) -> list[str]:
    """The ``label: [...]`` payloads in plan text, with bracket matching:
    the naive ``\\[[^\\]]*\\]`` regex stops at the first ``]`` INSIDE a
    filter like ``In(a, [1, 2])``, truncating the list."""
    out: list[str] = []
    marker = f"{label}: ["
    start = text.find(marker)
    while start != -1:
        i, depth = start + len(marker), 1
        while i < len(text) and depth:
            depth += {"[": 1, "]": -1}.get(text[i], 0)
            i += 1
        out.append(text[start + len(marker) : i - 1])
        start = text.find(marker, i)
    return out


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas not nested inside (), [] or <> — a rendered filter
    like ``In(a, [1, 2])`` is ONE item, not four fragments."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([<":
            depth += 1
        elif ch in ")]>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
            continue
        cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return [p for p in parts if p]


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet reader."""
    out: list[str] = []
    for payload in _bracket_payload(physical_plan(df), "PushedFilters"):
        out += _split_top_level_commas(payload)
    return out


def partition_filters(df: DataFrame) -> list[str]:
    out: list[str] = []
    for payload in _bracket_payload(physical_plan(df), "PartitionFilters"):
        out += _split_top_level_commas(payload)
    return out


def read_schema_columns(df: DataFrame) -> list[str]:
    """TOP-LEVEL columns actually read from parquet (projection-pushdown
    proof). Nested struct fields stay inside their parent — splitting on
    every comma/`>` would report phantom top-level columns for
    ``struct<s:struct<x:int,y:int>>``."""
    cols: list[str] = []
    text = physical_plan(df)
    marker = "ReadSchema: struct<"
    start = text.find(marker)
    while start != -1:
        i, depth = start + len(marker), 1
        while i < len(text) and depth:
            depth += {"<": 1, ">": -1}.get(text[i], 0)
            i += 1
        payload = text[start + len(marker) : i - 1]
        cols += [c.split(":")[0].strip() for c in _split_top_level_commas(payload)]
        start = text.find(marker, i)
    return sorted(set(cols))


def count_shuffles(df: DataFrame) -> int:
    """Shuffle exchanges in the plan — the scale currency to minimize."""
    plan = physical_plan(df)
    return plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning")


def uses_broadcast_join(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen spans — wider is better (expressions stay JVM-side)."""
    return len(set(re.findall(r"WholeStageCodegen \((\d+)\)", physical_plan(df))))


def codegen_compile_count(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far. A
    generated class found in the codegen cache is not compiled again, so
    the count grows only on cache misses."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
