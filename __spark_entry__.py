"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``incubator_paimon_trino_spark.operators.*``; this module
just re-exports the registry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

import incubator_paimon_trino_spark.operators as _ops
from incubator_paimon_trino_spark.operators.registry import ORACLES, QUERIES

_ops.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape) on /root/testdata/sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def _driver_verified() -> tuple[dict[str, int], set[str]]:
    """(verified → round of latest green verdict, red): queries any prior
    driver pass already verified (green hash or declared rows-only), and
    queries with a red verdict (hash/row mismatch or harness error). The
    driver checks a PREFIX of the registry each round, so verified ones go
    LAST, red ones go FIRST (the fix needs re-proving), and never-checked
    queries fill the middle round-robin across operator families — any
    prefix the driver takes then maximizes §2-family coverage. The verified
    round feeds the tail rotation: with full-registry closure every prefix
    slot re-proves a green row, so spend those slots on the STALEST verdicts
    (code keeps evolving under long-standing greens). Reads every
    CORRECTNESS_r*.json so the ordering keeps itself current round over
    round."""
    import glob
    import json
    import re

    latest: dict[str, tuple[int, bool]] = {}  # name -> (round, green)
    for path in glob.glob(str(Path(_REPO) / "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(Path(path).read_text())
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            green = bool(r.get("hash_match")) or r.get("err") == "no_oracle"
            if name not in latest or rnd > latest[name][0]:
                latest[name] = (rnd, green)
    # the LATEST round's verdict wins: a red that a later round re-proved
    # green must not keep displacing never-checked queries from the prefix
    red = {n for n, (_, g) in latest.items() if not g}
    done = {n: rnd for n, (rnd, g) in latest.items() if g}
    return done, red


# Verified-green queries whose CODE PATH changed since their last driver
# verdict: changed-code greens outrank stale-but-unchanged greens in the
# prefix. ORDERED, most-changed first; no name may appear twice.
_REPROOF: tuple[str, ...] = (
    # events streams run on a scoped session clone that holds their clamped
    # state partitions, reading the events schema in one footer read
    "streaming_tumbling_counts",
    "streaming_session_windows",
    "streaming_stateful_running_counts",
    "streaming_pattern_within_funnel",
    "streaming_dedup_keys",
    "streaming_enrich_static_join",
    "streaming_pattern_skip_next",
    "streaming_pattern_value_measures",
    # events batch and pattern queries: the events ts encoding is read from
    # the file's schema under the engine conf set at the query boundary
    "events_tumbling_window",
    "events_sliding_window",
    "events_cohort_retention",
    "events_funnel_conversion",
    "pattern_match_recognize_funnel",
    "pattern_measures_one_row",
    "pattern_skip_to_last_overlap",
    "pattern_prev_navigation_runs",
    "pattern_bounded_quantifier_funnel",
    "pattern_alternation_funnel",
    "pattern_running_measures_all_rows",
    "pattern_exclusion_funnel_edges",
    "pattern_unmatched_rows_coverage",
    "pattern_end_anchor_trailing_run",
    "pattern_show_empty_matches",
    "pattern_sql_match_recognize",
    "pattern_funnel_view_click_purchase",
    "pattern_error_within_5min_of_purchase",
    "pattern_longest_click_streak",
    # TIME/TIMESTAMP lake reads under the engine conf, not a catalog's
    "lake_timestamp_precision",
    # queries whose snapshot ids, tags and timestamps resolve through the
    # one snapshot resolver (time travel, incremental reads, changelogs and
    # consumers, rollback and expiry, branches, versioned reads, streams)
    "lake_time_travel_v1",
    "lake_tag_time_travel",
    "lake_incremental_read",
    "lake_incremental_by_timestamp",
    "lake_changelog_producer_lookup",
    "lake_consumer_resume",
    "lake_consumer_incremental_dedup",
    "lake_rollback_to_snapshot",
    "lake_expire_snapshots",
    "lake_branch_fast_forward",
    "lake_fallback_branch",
    "lake_partition_expiration",
    "lake_partition_delete",
    "streaming_incremental_minhash",
    "streaming_band_index_maintained",
    # Avro files of few large blocks decode through the generated scanner
    "lake_avro_roundtrip",
    # readers of a commit range, planned by the one commit-range planner
    "lake_manifest_changelog_stream",
    # lake reads of TIME columns through the Python reader, and commits
    # that drop empty data files
    "lake_orc_scan",
    # lake reads whose aggregation-engine and sequence-group merges are
    # SQL text, every aggregate from one template per function
    "lake_aggregation_merge_engine",
    "lake_agg_collect_merge_map",
    "lake_agg_nested_update",
    "lake_agg_ignore_retract",
    "lake_partial_update_sequence_group",
    # queries on file-indexed tables: sidecars built by one job of one
    # stage, a task per new data file
    "lake_bloom_index_point_lookup",
    "lake_bitmap_index_lookup",
    "lake_dynamic_file_pruning",
    # lake reads whose plans are built as SQL text: the merge-on-read
    # scaffolding of every merge engine, the one-parse schema, the
    # per-schema projections of the file read, the delta-vs-base split's
    # key broadcast and the DV marks pipeline
    "lake_merge_on_read",
    "lake_delta_base_split_read",
    "lake_compacted_merge_free_read",
    "lake_deletion_vector_read",
    "lake_dv_cdc_pipeline",
    "lake_dv_changelog_stream",
    "lake_first_row_merge",
    "lake_partial_update_merge",
    "lake_partial_update_remove_on_delete",
    "lake_sequence_field_merge",
    "lake_schema_evolution",
    "lake_char_padded_read",
    # queries whose commits write through the one data-file writer shared
    # by insert and compaction (bucket/clustering layout, staging write,
    # sidecars, rollback of a failed attempt)
    "lake_sort_compacted_range_scan",
    "lake_zorder_compacted_scan",
    "lake_clustered_scan",
    "lake_dynamic_bucket",
    "lake_bucket_point_lookup",
    "lake_read_optimized_table",
    "lake_dml_roundtrip",
    # queries that commit to and read deletion-vector tables: the DV commit
    # path (summary aggregate, bounded hits collect, positional DELETE) and
    # the DV read path (marks dropped by the broadcast anti-join only)
    "lake_metadata_count",
    # trained-plan memo moved to sources.registry.session_plan (per session)
    "embedding_kmeans_assign",
    "dedup_embedding_cosine_blocked",
    "ann_ivfpq_probe",
    "ann_ivfpq_residual",
    "ann_ivfpq_refined",
    "dedup_semantic_ivf",
    "dedup_incremental_semantic",
    "ann_ivf_kmeans_probe",
    "streaming_vector_index_maintained",
    # lake reads that hit the deleted read_table plan cache; avro reads the
    # scanner memo, now an lru_cache
    "lake_stats_broadcast_join",
    # HLL partial buffer no longer keyed per distinct value
    "agg_approx_count_distinct",
    "agg_approx_count_distinct_bounded",
    # cross-run cache removed / single-pass restructure
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_chunk_repetition",
    # partition-batched rewrite
    "udf_grouped_map_normalize",
    # one-valued partition spec on the metadata-scale windows
    "window_ntile_percent",
    "window_global_rank_scalable",
    "limit_fetch_with_ties",
    # read_table plan cache removed — every other read_table consumer,
    # riskiest first
    "lake_rowkind_field_cdc",
    "lake_ignore_delete",
    "lake_like_prefix_pruned_scan",
    "lake_limit_pushdown_partition_scoped",
    "lake_partition_pruned_scan",
    # invariant carriers, still ahead of stale greens
    "ann_lsh_bucketed",
    "multimodal_feature_extract",
)


def _ordered_names() -> list[str]:
    """Red (fixed, re-prove) first, then never-checked queries interleaved
    round-robin by family, then ``_REPROOF``, then the remaining verified
    queries, OLDEST verdict first (with full-registry closure the prefix's
    spare slots refresh the stalest greens)."""
    from itertools import zip_longest

    verified, red = _driver_verified()
    # a typo'd or renamed entry in the hand-kept list would silently void
    # the ordering policy it encodes — make drift loud instead
    for n in _REPROOF:
        assert n in QUERIES, f"ordering policy names unknown query {n!r}"
    order = [n for n in QUERIES if n in red]  # fixed red rows re-prove first
    fams: dict[str, list[str]] = {}
    for n in QUERIES:
        if n not in red and n not in verified:
            fams.setdefault(n.split("_")[0], []).append(n)
    for row in zip_longest(*fams.values()):
        order.extend(n for n in row if n is not None)
    # _REPROOF is ORDERED (most-changed code first) so the driver's prefix
    # spends its slots on the riskiest re-proofs
    emitted = set(order)
    order.extend(n for n in _REPROOF if n in verified and n not in emitted)
    reg_idx = {n: i for i, n in enumerate(QUERIES)}
    tail = [n for n in QUERIES if n in verified and n not in _REPROOF]
    tail.sort(key=lambda n: (verified[n], reg_idx[n]))  # stalest verdict first
    order.extend(tail)
    return order


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query (omitted → rows-only check)."""
    return dict(ORACLES)
