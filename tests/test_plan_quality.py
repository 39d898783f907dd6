"""Scale-shape regression tests: the plans we'd want at 100 TB, asserted on
the physical plans we actually get. A query that silently loses its broadcast
or gains a shuffle fails here long before it fails a real-cluster run."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from incubator_paimon_trino_spark.plans import (
    count_shuffles,
    physical_plan,
    pushed_filters,
    read_schema_columns,
    uses_broadcast_join,
)
from tests.conftest import SF_SMOKE


def _q(name):
    import __spark_entry__ as e

    return e.queries()[name]


def test_q6_reads_only_needed_columns(spark):
    df = _q("q6_forecast_revenue")(spark, SF_SMOKE)
    cols = read_schema_columns(df)
    # scan must be pruned to the filter+agg columns, nothing else
    assert set(cols) == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}
    pf = pushed_filters(df)
    assert any("l_shipdate" in f for f in pf) and any("l_discount" in f for f in pf)


def test_q3_broadcasts_customer_dim(spark):
    df = _q("q3_shipping_priority")(spark, SF_SMOKE)
    assert uses_broadcast_join(df)


def test_q5_six_table_join_single_fact_shuffle(spark):
    """All five dims broadcast; the only hash shuffles are the
    orders↔lineitem co-shuffle and the final aggregation."""
    df = _q("q5_local_supplier_volume")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert count_shuffles(df) <= 3


def test_q1_single_shuffle_aggregation(spark):
    """Partial (map-side) + final agg: exactly one hash shuffle on the
    group-by keys (+ range for order-by). r13: the integer-cents rewrite
    keeps the same canonical shape — LONG/DECIMAL(38,0) accumulators change
    expressions, never exchanges."""
    df = _q("q1_pricing_summary")(spark, SF_SMOKE)
    assert count_shuffles(df) <= 2  # group-by + (range for order-by)
    assert "partial" in physical_plan(df).lower() or "HashAggregate" in physical_plan(df)


def test_topn_uses_window_group_limit(spark):
    """rn <= 3 must push into the window sort (no full-rank materialization).

    r13 wave 3: the fan-out keys on l_suppkey itself (raw=True), so the one
    repartition exchange satisfies the window's ClusteredDistribution —
    exactly ONE exchange in the whole plan (guide §2.4)."""
    df = _q("window_topn_per_group")(spark, SF_SMOKE)
    assert "WindowGroupLimit" in physical_plan(df)
    assert count_shuffles(df) <= 1


def test_topk_limit_uses_take_ordered(spark):
    df = _q("limit_topk_deterministic")(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_semi_join_for_exists(spark):
    df = _q("q4_order_priority")(spark, SF_SMOKE)
    assert "LeftSemi" in physical_plan(df)


def test_minhash_band_join_is_hash_join(spark):
    """The LSH candidate join must be an equi hash/sort-merge join on
    (band, bh) — never a nested-loop/cartesian. r11: the in-query
    invariant's ONE-ROW guard cross join (guard_empty — a broadcast of a
    single count row) is the sole sanctioned nested-loop; the data-bearing
    joins stay equi."""
    df = _q("dedup_minhash_lsh")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row guard


def test_ann_topk_broadcasts_queries(spark):
    df = _q("ann_cosine_topk")(spark, SF_SMOKE)
    assert uses_broadcast_join(df)


def test_corr_closed_form_single_shuffle(spark):
    """The closed-form corr is one partial+final hash aggregate — no extra
    exchange for the final arithmetic."""
    df = _q("agg_corr_covar_closed_form")(spark, SF_SMOKE)
    assert count_shuffles(df) <= 1


def test_all_quantified_broadcasts_scalar(spark):
    """`> ALL` rewrite must broadcast the 1-row MAX, not shuffle the fact."""
    df = _q("subquery_all_quantified")(spark, SF_SMOKE)
    assert uses_broadcast_join(df)
    assert count_shuffles(df) <= 1  # only the subquery's own agg


def test_histogram_pushes_partial_agg(spark):
    df = _q("agg_histogram_width_bucket")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "partial" in plan.lower()
    assert count_shuffles(df) <= 1


def test_dynamic_partition_pruning_on_lake_table(spark, tmp_path):
    """A partitioned lake table joined to a filtered dim must plan DPP
    (dynamicpruning subquery on the partition key) — the runtime pruning
    the reference lists as TODO (TrinoSplitManagerBase.java:38-39)."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.catalog import WarehouseCatalog
    from incubator_paimon_trino_spark.sources import table as t

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("dpp")
    cat.create_table(
        "dpp", "orders_p",
        [("o_orderkey", "bigint"), ("o_custkey", "bigint"), ("o_orderstatus", "string")],
        partitioned_by=["o_orderstatus"],
    )
    cat.insert_into(
        "dpp", "orders_p",
        t(spark, SF_SMOKE, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
    )
    fact = cat.read_table("dpp.orders_p")
    # dim filter on a NON-join column: the surviving statuses are only known
    # at runtime, so static pruning can't apply — the fact scan must carry a
    # dynamicpruning subquery on the partition key.
    dim = (
        t(spark, SF_SMOKE, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .filter(F.col("o_orderpriority") == "1-URGENT")
    )
    joined = fact.join(dim, "o_orderstatus").groupBy("o_orderstatus").count()
    plan = physical_plan(joined)
    assert "dynamicpruning" in plan.lower()


def test_kmeans_assignment_broadcasts_centroids_no_cartesian(spark):
    """Centroids must reach the corpus via a broadcast (BroadcastNestedLoop
    over the 1-row centroid frame is the expected shape for crossJoin of a
    broadcast singleton); there must be no CartesianProduct anywhere, and
    the corpus must not shuffle for assignment — only the (cell, pos)
    update aggregations shuffle."""
    df = _q("embedding_kmeans_assign")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_blocked_embedding_dedup_joins_on_cell(spark):
    """The scale-path dedup must pair candidates via an equi-join on the
    cluster id — never a cartesian of the corpus."""
    df = _q("dedup_embedding_cosine_blocked")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_chunk_repetition_shuffles_hashes_not_text(spark):
    """Only the 32-hex block hash (and ids/counts) may cross the wire: the
    exchanges must not carry the raw text column."""
    df = _q("dedup_chunk_repetition")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    import re

    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in ex


def test_packing_single_window_shuffle_pruned_scan(spark):
    """Concat-offset packing: exactly one exchange (the lang window) and a
    scan pruned to the three needed columns — the shape that survives a
    100 TB corpus."""
    df = _q("pack_concat_offsets")(spark, SF_SMOKE)
    assert count_shuffles(df) == 1
    assert set(read_schema_columns(df)) == {"doc_id", "text", "lang"}


def test_shuffle_shard_no_global_sort(spark):
    """Shard layout: one hash exchange on the shard key, per-shard sort only —
    a global total order (rangepartitioning) must never appear."""
    df = _q("train_shuffle_shard")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert count_shuffles(df) == 1
    assert "rangepartitioning" not in plan.lower()
    assert set(read_schema_columns(df)) == {"doc_id"}


def test_mix_domain_weights_broadcasts_rates_no_corpus_shuffle(spark):
    """The rates table (one row per domain) broadcasts; the corpus is never
    hash-shuffled — one scan, broadcast join, scalar filter."""
    df = _q("mix_domain_weights")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # only the tiny rate-computation aggregates shuffle (lang cardinality
    # rows); the documents scan feeding the output flows shuffle-free into
    # the broadcast join probe side
    assert "SortMergeJoin" not in plan


def test_unigram_logprob_broadcasts_vocab(spark):
    """The vocabulary frequency table broadcasts back onto the exploded
    tokens; no sort-merge join of corpus-sized inputs."""
    df = _q("text_unigram_logprob")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert uses_broadcast_join(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_reuses_user_partitioning(spark):
    """Funnel stages groupBy + join on the same user_id key; no cartesian
    products and the event_type filters reach the parquet scan."""
    df = _q("events_funnel_conversion")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "EqualTo(event_type,view)" in plan and "EqualTo(event_type,purchase)" in plan


def test_ngram_topk_take_ordered_no_global_sort(spark):
    """Top-50 bigrams must plan TakeOrderedAndProject (per-partition heaps),
    never a rangepartitioning global sort; the scan reads only text."""
    df = _q("text_ngram_topk")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    assert set(read_schema_columns(df)) == {"text"}


def test_int8_quantize_zero_shuffles(spark):
    """Quantization is a pure per-row map: zero exchanges in the plan."""
    df = _q("embedding_int8_quantize")(spark, SF_SMOKE)
    assert count_shuffles(df) == 0


def test_stats_broadcast_join_is_compile_time(spark):
    """The ANALYZE-stats hint must plan BroadcastHashJoin statically (not
    only after an AQE runtime re-plan)."""
    df = _q("lake_stats_broadcast_join")(spark, SF_SMOKE)
    assert uses_broadcast_join(df)


def test_deletion_vector_read_is_merge_free(spark):
    """DV-mode read = scan − vectors: no hash exchange, no merge aggregate
    anywhere — the whole point of deletion vectors at 100 TB. The marks
    drop through a broadcast anti-join against the index: no shuffle, no
    merge."""
    df = _q("lake_deletion_vector_read")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_files_partitions_system_tables_are_metadata_only(spark):
    """$files/$partitions rows come from the manifests: the plan must not
    open a single data file (LocalTableScan, no parquet scan node)."""
    for name in ("lake_files_system_table", "lake_partitions_system_table"):
        df = _q(name)(spark, SF_SMOKE)
        plan = physical_plan(df)
        assert "LocalTableScan" in plan or "ExistingRDD" in plan
        assert "FileScan" not in plan, name


def test_consumer_incremental_dedup_scans_backlog_only(spark):
    """The changelog side of the incremental dedup must list ONLY the
    unconsumed snapshot's delta files (commit 2), never commit 1's."""
    df = _q("lake_consumer_incremental_dedup")(spark, SF_SMOKE)
    plan = physical_plan(df)
    import re

    backlog_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "_snapshot" not in ln
    ]
    # the backlog scan reads c2- files; the corpus-index scan reads c1-.
    # Find scans whose file lists mention commit prefixes:
    c1 = len(re.findall(r"c1-part", plan))
    assert c1 > 0  # the corpus-index side really reads commit 1
    assert "c2-part" in plan
    # corpus side legitimately reads c1; the changelog scan must not UNION
    # both commits (a full-history changelog read would): assert no scan
    # node lists c1 and c2 together
    for ln in plan.splitlines():
        if "Location" in ln and "c2-part" in ln:
            assert "c1-part" not in ln


def test_bfd_packing_single_group_shuffle(spark):
    """BFD packers are independent per (lang, md5-shard): exactly one hash
    exchange keyed on the group, no global sort, and the scan pruned to the
    three needed columns (sizes travel, never more text than the tokenizer
    input)."""
    df = _q("pack_best_fit_decreasing")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert count_shuffles(df) == 1
    assert "rangepartitioning" not in plan.lower()
    assert set(read_schema_columns(df)) == {"lang", "doc_id", "text"}
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan


def test_ivf_kmeans_probe_no_cartesian_equi_join_on_cell(spark):
    """Trained-IVF probe: centroids broadcast, candidates from an equi-join
    on the trained cell id — never a cartesian of the corpus; the corpus is
    assigned in place (its only exchanges are the k-means update aggs and
    the candidate join)."""
    df = _q("ann_ivf_kmeans_probe")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert "cell" in plan


def test_semantic_ivf_dedup_no_cartesian(spark):
    """Multi-probe semantic dedup: the corpus is indexed by a zero-shuffle
    broadcast fold (k x d centroids), candidates come from an equi-join on
    the cell id — never a cartesian of the corpus."""
    df = _q("dedup_semantic_ivf")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert "cell" in plan


def test_pq_adc_scores_codes_not_vectors(spark):
    """PQ/ADC: codebooks broadcast, scoring is an equi-join of codes
    against the per-query lookup table on (sub, cell) — no cartesian, and
    the candidate scoring never touches the embedding column (the whole
    point of ADC: only the training/encoding stages read vectors)."""
    df = _q("ann_pq_adc")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert "cell" in plan and "sub" in plan


def test_ivfpq_probe_no_cartesian_and_code_scored(spark):
    """IVF-PQ: coarse probes restrict candidates via an equi-join on the
    trained cell id, ADC ranks via an equi-join on (query, sub, codeword) —
    no cartesian anywhere; both trained blocks are broadcast."""
    df = _q("ann_ivfpq_probe")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert "ccell" in plan


def test_residual_ivfpq_no_cartesian(spark):
    """Residual IVF-PQ keeps the direct form's plan shape: broadcast
    centroid/codebook folds, candidates and ADC scoring via equi-joins —
    the residual adds a zip_with map over assigned rows, no cartesian."""
    df = _q("ann_ivfpq_residual")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan
    assert "ccell" in plan


def test_incremental_semantic_probe_is_equi_join(spark):
    """The incremental semantic probe joins the batch's cell assignments
    against the corpus cell index with an equi join — no cartesian/nested
    loop over embeddings."""
    df = _q("dedup_incremental_semantic")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_metadata_count_opens_no_data_file(spark):
    """COUNT(*) from manifests: the returned plan must be a local scan —
    no FileScan anywhere (aggregate pushdown the reference lacks)."""
    df = _q("lake_metadata_count")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "FileScan" not in plan
    assert "LocalTableScan" in plan or "ExistingRDD" in plan


def test_metadata_min_max_opens_no_data_file(spark):
    """MIN/MAX/COUNT(col) from manifest footer stats: both scopes of the
    registered query must plan as local scans with no FileScan — the
    extremes come from the same stats that drive pruning, never a read."""
    df = _q("lake_metadata_min_max")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "FileScan" not in plan
    assert "LocalTableScan" in plan or "ExistingRDD" in plan


def test_incremental_minhash_probe_is_equi_join(spark):
    """The incremental near-dup probe must join batch bands against the
    corpus band index with an equi hash join — no cartesian/nested-loop,
    and the exchanges carry band keys and signatures, never text."""
    df = _q("dedup_incremental_minhash_md5")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in ex


def test_incremental_simhash_probe_is_equi_join(spark):
    """The SimHash incremental probe joins batch bands against the corpus
    band index with an equi hash join — no cartesian/nested-loop; only
    fingerprints and band keys cross the wire, never text."""
    df = _q("dedup_incremental_simhash_md5")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in ex


def test_band_index_probe_reads_index_tables_not_corpus(spark, tmp_path):
    """The maintained-band-index probe (r8): its plan must scan the
    lake.band_idx / lake.sig_idx INDEX tables and never the corpus table's
    text files — the index-table indirection is the whole production swap."""
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.catalog.warehouse import WarehouseCatalog
    from incubator_paimon_trino_spark.operators.dedup import (
        _md5_bands,
        _md5_signatures_of,
    )
    from incubator_paimon_trino_spark.operators.lake import probe_band_index

    cat = WarehouseCatalog(str(tmp_path / "wh"), spark)
    cat.create_database("lake")
    cat.create_table(
        "lake", "docs_bim", [("doc_id", "bigint"), ("text", "string")],
        primary_key=["doc_id"],
    )
    cat.create_table(
        "lake", "band_idx",
        [("doc_id", "bigint"), ("band", "int"), ("bkey", "string")],
        primary_key=["doc_id", "band"],
    )
    cat.create_table(
        "lake", "sig_idx", [("doc_id", "bigint"), ("sig", "array<bigint>")],
        primary_key=["doc_id"],
    )
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i}") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    cat.insert_into("lake", "docs_bim", corpus)
    sigs = _md5_signatures_of(corpus)
    cat.insert_into("lake", "sig_idx", sigs)
    cat.insert_into("lake", "band_idx", _md5_bands(sigs))

    batch = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon 1")], "doc_id bigint, text string"
    )
    df = probe_band_index(cat, batch)
    plan = physical_plan(df)
    assert "band_idx" in plan and "sig_idx" in plan
    assert "docs_bim" not in plan  # corpus text never scanned
    assert "CartesianProduct" not in plan
    # and the verdicts are right on this tiny fixture
    row = df.collect()[0]
    assert (row.doc_id, row.best_match) == (10, 1) and row.best_est >= 0.5


def test_refined_ivfpq_recall_and_broadcast_fetch(spark):
    """ann_ivfpq_refined (r8): (a) the exact re-rank of the ADC shortlist
    STRICTLY improves recall vs ann_ivfpq_residual against the brute-force
    exact top-k (it provably can't be worse — the refined set is the
    exact-best k-subset of a shortlist containing the residual ranking);
    (b) the refine fetch broadcasts the skinny shortlist against the
    corpus — no cartesian, no corpus shuffle for the fetch."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from incubator_paimon_trino_spark.operators.clustering import (
        _IVF_NQ,
        _PQ_TOPK,
        _quantized,
    )

    fin_df = _q("ann_ivfpq_refined")(spark, SF_SMOKE)
    plan = physical_plan(fin_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

    res = {(r.query_id, r.neighbor_id) for r in _q("ann_ivfpq_residual")(spark, SF_SMOKE).collect()}
    fin = {(r.query_id, r.neighbor_id) for r in fin_df.collect()}
    corp = _quantized(spark, SF_SMOKE)
    qv = corp.filter(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    d = F.expr(
        "aggregate(zip_with(qq, q, (a,b) -> (a-b)*(a-b)), CAST(0 AS BIGINT), (acc,x) -> acc+x)"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in (
            qv.crossJoin(corp)  # labeled brute-force oracle (test-only)
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn("d", d)
            .withColumn("r", F.row_number().over(W.partitionBy("query_id").orderBy("d", "vec_id")))
            .filter(F.col("r") <= _PQ_TOPK)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        ).collect()
    }
    assert len(fin & exact) > len(res & exact), (len(fin & exact), len(res & exact))


def test_vector_index_probe_reads_lake_tables_not_corpus_file(spark):
    """streaming_vector_index_maintained (r8): the returned probe plan must
    scan the maintained lake tables (vec_centroids / cell_idx / vecs_src)
    and never the raw embeddings parquet — the model, the assignments, and
    the vectors are all lake state."""
    df = _q("streaming_vector_index_maintained")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "vec_centroids" in plan and "cell_idx" in plan and "vecs_src" in plan
    assert "embeddings.parquet" not in plan
    assert "CartesianProduct" not in plan  # centroid ranking is a broadcast
    assert "Broadcast" in plan


def test_window_ntile_percent_no_single_task_table_sort(spark):
    """r8 verdict item 6 (the oldest weak row, retired): the global
    NTILE/PERCENT_RANK query routes through the two-pass bucket plan — the
    ONLY unpartitioned window left is the cumulative-offset pass over the
    per-bucket COUNTS (<= 64 rows, metadata scale), never over the table.
    Both spellings share the helper, so they cannot diverge."""
    for name in ("window_ntile_percent", "window_global_rank_scalable"):
        df = _q(name)(spark, SF_SMOKE)
        plan = physical_plan(df)
        # two-pass signature: the boundary sketch and the per-bucket window
        assert "percentile_approx" in plan, name
        assert "partitionspec(bucket" in plan.replace(" ", "").lower() or (
            "windowspecdefinition(bucket" in plan.replace(" ", "").lower()
        ), name
        # every window ordered by the DATA column is bucket-partitioned;
        # the naive global form — windowspecdefinition(c_acctbal ... with
        # no partition column — would sort the whole table in one task
        import re as _re

        for m in _re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            assert "c_acctbal" not in spec or "bucket" in spec, (name, spec)


def test_sequence_group_merge_is_one_partial_aggregate(spark):
    """r9 continuation: sequence-group partial-update merges in ONE
    groupBy(pk) — partial (map-side) aggregation present, no Window, no
    extra shuffle beyond the single merge exchange + the write-side plan."""
    df = _q("lake_partial_update_sequence_group")(spark, SF_SMOKE)
    plan = physical_plan(df)
    low = plan.lower()
    assert "windowspecdefinition" not in low
    # the merge runs as ONE aggregate with a map-side partial_ pass (the
    # ordered-replay groups collect events via partial_collect_list into
    # ObjectHashAggregate — still partial + final, one exchange)
    assert "aggregate" in low and "partial_collect_list" in low
    assert "cartesianproduct" not in low


def test_dynamic_bucket_read_has_no_bucket_column_and_no_extra_exchange(spark):
    """r9 continuation: the bucket-N directory layer is a WRITE-side layout
    — readers must see neither a _bucket column nor any join against the
    dynamic-bucket index (assignment happens at write time only)."""
    df = _q("lake_dynamic_bucket")(spark, SF_SMOKE)
    assert "_bucket" not in df.columns
    plan = physical_plan(df).lower()
    assert "_bucket" not in plan
    assert "dynamic-bucket" not in plan  # index parquet never in a read plan


def test_alternation_funnel_single_user_shuffle_no_python_rows(spark):
    """pattern_alternation_funnel (the automaton matcher): one
    hash exchange keyed by user (the same shuffle any per-user window
    needs) feeds the Arrow-batched matcher; the measures groupBy reuses
    that partitioning (no second full-data exchange of the events), and no
    row-at-a-time PythonUDF appears — the only Python is the
    partition-batched MapInPandas matcher (r12: one Arrow round-trip per
    shuffle partition, not per user)."""
    df = _q("pattern_alternation_funnel")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # no per-row Python UDFs
    # the match output is already user-partitioned: the measures groupBy
    # must not add a full shuffle of the matched rows beyond the one the
    # matcher's repartition needs (partial aggregation before any exchange)
    assert plan.index("MapInPandas") > plan.index("HashAggregate") or (
        count_shuffles(df) <= 2
    )


def test_running_measures_all_rows_plan(spark):
    """r12 pattern_running_measures_all_rows: ALL-ROWS measures are window
    expressions over (user, match_no) — partitioned windows (never a
    single-partition global sort), no join introduced, and the only Python
    is the partition-batched matcher."""
    df = _q("pattern_running_measures_all_rows")(spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan  # windows keyed by (user, match_no)


def test_exclusion_and_unmatched_plans_add_no_join(spark):
    """r12: exclusion filtering is one literal-map projection + filter over
    the matcher output (no join, no extra Python); unmatched-rows emission
    happens inside the partition-batched matcher (no plan change at all)."""
    for name in ("pattern_exclusion_funnel_edges", "pattern_unmatched_rows_coverage"):
        df = _q(name)(spark, SF_SMOKE)
        plan = physical_plan(df)
        assert "MapInPandas" in plan, name
        assert "Join" not in plan, name
        assert "BatchEvalPython" not in plan, name
