"""Event-time windowing + Structured Streaming queries over the events table.

The reference stores streaming table options but never reads streams
(``TrinoTableOptionUtils.java:94-107`` — StartupMode / StreamingReadMode /
ChangelogProducer are DDL pass-through only; negative finding in SURVEY §2.A).
This module supplies the real thing, both batch event-time semantics and
genuine ``readStream`` execution:

- tumbling / sliding windows: ``F.window`` (epoch-aligned, same alignment as
  ``date_trunc`` in the oracle SQL)
- streaming tumbling counts + session windows: ``spark.readStream`` over the
  same parquet, watermarked, driven to completion with ``availableNow`` into a
  memory sink — deterministic, so these DO carry DuckDB oracles
- custom stateful operator: ``applyInPandasWithState`` running per-key event
  counts (the escape hatch for operators built-in streaming aggs can't
  express)
- streaming MATCH_RECOGNIZE: ``match_recognize_stream`` — CEP with a
  WITHIN bound, watermark-finalized so the match set is deterministic under
  any micro-batch chopping (which is what makes it SQL-oracle-checkable)

Scale notes (100 TB design): window aggregations shuffle once on (window ×
key) — the state per key is O(1). The streaming queries bound micro-batch
size with ``maxFilesPerTrigger`` in production; the memory sink here is only
the test harness' result capture (a real deployment writes to a lake table
sink). ``applyInPandasWithState`` keeps O(distinct keys) state rows,
hash-partitioned, and streams Arrow batches per group — no driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_paimon_trino_spark.operators.registry import register
from incubator_paimon_trino_spark.sources import table

_SUM_VALUE_SQL = "CAST(SUM(CAST(value AS DECIMAL(9,2))) AS DOUBLE) AS total_value"


def _sum_value():
    return F.sum(F.col("value").cast("decimal(9,2)")).cast("double").alias("total_value")


@register(
    "events_tumbling_window",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, {_SUM_VALUE_SQL}
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows via ``F.window`` (epoch-aligned)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), _sum_value())
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_sliding_window",
    oracle=f"""
    WITH buck AS (
      SELECT date_trunc('day', ts)
               + CAST(floor(extract(epoch FROM ts - date_trunc('day', ts)) / 1800) AS BIGINT)
                 * INTERVAL '30 minutes' AS b0,
             event_type, value
      FROM events
    ), expl AS (
      SELECT b0 AS window_start, event_type, value FROM buck
      UNION ALL
      SELECT b0 - INTERVAL '30 minutes', event_type, value FROM buck
    )
    SELECT window_start, event_type, COUNT(*) AS n, {_SUM_VALUE_SQL}
    FROM expl
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour, 30-min slide): each event lands in 2 windows.

    The oracle materializes the same two epoch-aligned buckets per event with
    a UNION ALL — proving ``F.window``'s slide semantics, not just mimicking
    its output.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n"), _sum_value())
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
        .orderBy("window_start", "event_type")
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over the events parquet, its schema read from the
    file's footer by one batch read. The ts-encoding contract lives in
    ``sources.registry.normalize_events_ts``, shared with the batch loader.
    The file-stream source wants a directory, so stream sf_dir with a glob."""
    import os

    from incubator_paimon_trino_spark.sources.registry import normalize_events_ts

    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = (
        spark.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


def _run_stream(df: DataFrame, name: str, mode: str, sf_dir: str | None = None) -> DataFrame:
    from incubator_paimon_trino_spark.streaming.changelog import run_to_completion

    splits = None
    if sf_dir is not None:
        # scale-adaptive state sizing (see run_to_completion): derive the
        # micro-batch's max scan parallelism from the events file's footer
        # metadata, exactly like sources.registry.fan_out's gate
        import os

        from incubator_paimon_trino_spark.sources.registry import (
            _scan_splits,
            _size_bytes,
        )

        spark = df.sparkSession
        mpb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        splits = _scan_splits(os.path.join(sf_dir, "events.parquet"), mpb)
    return run_to_completion(df, name, output_mode=mode, input_splits=splits)


@register(
    "streaming_tumbling_counts",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n, {_SUM_VALUE_SQL}
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Genuine Structured Streaming: watermarked tumbling-window aggregation.

    ``readStream`` → watermark → window agg → availableNow into a memory
    sink. Complete output mode so every window is emitted once input drains —
    which is what makes the result oracle-checkable. Decimal-cast SUM keeps
    the float deterministic across engines exactly as in batch.
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), _sum_value())
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    out = _run_stream(agg, "streaming_tumbling_counts_sink", "complete", sf_dir)
    return out.orderBy("window_start", "event_type")


@register(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      -- the running sum must use the SAME total order as the island
      -- detection (ts, event_id): with ts-only ordering a duplicate
      -- timestamp at a session boundary could land its tie partner in the
      -- previous session nondeterministically
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based session windows (``F.session_window``, 30-min gap).

    A session closes when no event arrives within the gap of the last event
    ([start, last+gap) — an event at exactly last+gap opens a NEW session,
    hence ``>=`` in the oracle's island detection). Session merging is
    data-determined, so even through a streaming engine the final sessions
    are deterministic and oracle-checkable.
    """
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("session_window.start").alias("session_start"), "n_events"
        )
    )
    out = _run_stream(agg, "streaming_session_windows_sink", "complete", sf_dir)
    return out.orderBy("user_id", "session_start")


@register(
    "streaming_stateful_running_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Per-user running event count, state carried across micro-batches. The
    memory sink accumulates one emission per key per batch in update mode;
    the final state per key is the MAX — deterministic regardless of how
    availableNow chops the input into batches, so this stateful op still
    gets a full oracle (counts are integers; no float-order hazard).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, sf_dir)

    def update(key, pdf_iter, state: GroupState):
        from incubator_paimon_trino_spark.streaming.changelog import (
            quiet_state_serializer_warnings,
        )

        quiet_state_serializer_warnings()
        (count,) = state.get if state.exists else (0,)  # .get is a property
        for pdf in pdf_iter:
            count += len(pdf)
        state.update((count,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [count]})

    counts = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_stream(counts, "streaming_stateful_counts_sink", "update", sf_dir)
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id")
    )


@register(
    "streaming_pattern_within_funnel",
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
    SELECT p.user_id, s.event_id AS start_event_id, p.event_id AS end_event_id,
           CAST(p.rn - s.rn - 1 AS BIGINT) AS n_clicks
    FROM nc p JOIN seq s ON s.user_id = p.user_id AND s.rn = p.prev_nc
    WHERE p.event_type = 'purchase' AND s.event_type = 'view' AND p.rn - s.rn >= 2
      AND p.ts <= s.ts + INTERVAL 24 HOUR
      AND s.ts + INTERVAL 24 HOUR
          < date_trunc('milliseconds', (SELECT MAX(ts) FROM events))
    """,
)
def streaming_pattern_within_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MATCH_RECOGNIZE: the V C+ P funnel as CEP over a
    Structured Stream — ``match_recognize_stream`` buffers per-user events
    in ``applyInPandasWithState`` state, matches leftmost-greedy under a
    WITHIN 24 HOUR bound, and emits matches once the watermark proves them
    complete (event-time timeouts flush without new per-key data).

    Fully oracle-checked: the closed form is the batch funnel oracle plus
    the two WITHIN rules the stream enforces — the purchase must land
    inside 24 hours of its view, and a match only FINALIZES once the
    watermark (max event time at ms precision, zero delay) passes the
    view's 24-hour window, which the subquery's strict bound mirrors exactly. The
    match set is deterministic under any micro-batch chopping, which is
    what makes a streaming CEP operator drivable by a SQL oracle at all.
    """
    from incubator_paimon_trino_spark.operators.match_recognize import (
        match_recognize_stream,
    )

    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize_stream(
        stream,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        pattern="V C+ P",
        define={
            "V": "event_type = 'view'",
            "C": "event_type = 'click'",
            "P": "event_type = 'purchase'",
        },
        within="24 hours",
    )
    out = _run_stream(mr, "streaming_pattern_within_sink", "append", sf_dir)
    return out.groupBy("user_id", F.col("start_event_id")).agg(
        F.max_by("event_id", "match_row").alias("end_event_id"),
        F.sum(F.when(F.col("classifier") == "C", 1).otherwise(0)).alias("n_clicks"),
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, week_offset, COUNT(*) AS n_users
    FROM activity GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week, counted per week
    offset of later activity — the standard product-analytics rollup.

    Both engines truncate weeks to Monday (ISO), and the offset divides two
    week-aligned timestamps, so the integer arithmetic matches exactly.
    Scale shape: one groupBy for first-seen, one co-partitioned join back on
    user_id (at 100 TB: both sides hash-partition on user_id — AQE handles
    the heavy-user skew), one distinct, one count.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", "week_offset").agg(F.count("*").alias("n_users"))


@register(
    "streaming_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type, date_trunc('hour', ts) AS hr
    FROM events
    """,
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first occurrence per (user, event_type, hour)
    through ``dropDuplicates`` on a watermarked stream — the standard
    at-ingest dedup stage of a streaming pipeline.

    State stays bounded: the dedup key includes the event-time *window*
    column (not a derived non-time column), so the watermark evicts per-key
    state once an hour bucket falls behind it — without that, streaming
    dropDuplicates state grows forever. Only key columns are projected, so
    which physical duplicate arrived first is irrelevant and the result is
    deterministic and oracle-checkable (== batch SELECT DISTINCT).

    ORACLE EQUIVALENCE ASSUMES SINGLE-BATCH INPUT: the sf* events table is
    one parquet file, so the file source yields exactly one micro-batch and
    the watermark never advances mid-run — no row can be late. With
    multi-file input or ``maxFilesPerTrigger`` (which production SHOULD set;
    see module scale notes), rows more than 1 hour behind the max seen ts
    would be dropped by the watermark while the batch oracle still counts
    them. That is the *intended* streaming semantics, not a bug — but it
    means this oracle row is only valid for single-batch fixtures. Do not
    add maxFilesPerTrigger to ``_events_stream`` without splitting this
    query into an unwatermarked oracle-checked twin + a watermarked scale
    path.
    """
    stream = _events_stream(spark, sf_dir)
    dd = (
        stream.withWatermark("ts", "1 hour")
        .withColumn("w", F.window("ts", "1 hour"))
        .dropDuplicates(["user_id", "event_type", "w"])
        .select("user_id", "event_type", F.col("w.start").alias("hr"))
    )
    return _run_stream(dd, "streaming_dedup_keys_sink", "append", sf_dir)


@register(
    "streaming_enrich_static_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n, {_SUM_VALUE_SQL}
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment, e.event_type
    """,
)
def streaming_enrich_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the streaming events feed joins a static
    dimension (customer) per micro-batch, then aggregates per segment — the
    standard ingest-enrich-rollup topology. Spark plans the static side as a
    broadcast into each micro-batch (dim re-read per trigger, so dimension
    updates are picked up between batches — exactly the semantics wanted for
    slowly-changing dims). Decimal-cast SUM keeps the float deterministic,
    making the complete-mode result oracle-checkable against the batch join.
    """
    stream = _events_stream(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    agg = (
        stream.join(cust, stream.user_id == cust.c_custkey)
        .groupBy("segment", "event_type")
        .agg(F.count("*").alias("n"), _sum_value())
    )
    return _run_stream(agg, "streaming_enrich_static_sink", "complete", sf_dir)


@register(
    "events_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 1 AS ord, 'view' AS stage, COUNT(*) AS n_users FROM v
      UNION ALL SELECT 2, 'click', COUNT(*) FROM c
      UNION ALL SELECT 3, 'purchase', COUNT(*) FROM p
    ) ORDER BY ord
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): a user counts at
    a stage only if the stage's event happens strictly AFTER their entry to
    the previous stage — the standard product-analytics conversion funnel
    (an operator family the reference's Trino surface reaches only through
    hand-written SQL; first-class here).

    Scale shape: each stage is one groupBy(user_id) plus one co-partitioned
    join back on user_id — every exchange hashes the same key, so AQE reuses
    the partitioning, and the per-stage state is one timestamp per user
    (never the event list). The final three counts are scalar aggregates.
    """
    ev = table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = lambda df, ord_, name: df.agg(  # noqa: E731
        F.lit(ord_).alias("ord"),
        F.lit(name).alias("stage"),
        F.count("*").alias("n_users"),
    )
    out = (
        stage(v, 1, "view")
        .unionByName(stage(c, 2, "click"))
        .unionByName(stage(p, 3, "purchase"))
    )
    return out.orderBy("ord").select("stage", "n_users")


@register(
    "streaming_pattern_skip_next",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    c AS (
      SELECT *,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nt,
             LEAD(event_id) OVER (PARTITION BY user_id ORDER BY rn) AS nid,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn) AS nts
      FROM seq
    )
    SELECT user_id, event_id AS start_event_id, nid AS end_event_id,
           CAST(2 AS BIGINT) AS n_rows
    FROM c
    WHERE event_type = 'click' AND nt = 'click'
      AND nts <= ts + INTERVAL 24 HOUR
      AND ts + INTERVAL 24 HOUR
          < date_trunc('milliseconds', (SELECT MAX(ts) FROM events))
    """,
)
def streaming_pattern_skip_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP with a NON-DEFAULT SKIP mode and in-state MEASURES:
    PATTERN (C C) with AFTER MATCH SKIP TO NEXT ROW over the event stream —
    a run of k adjacent clicks emits k−1 OVERLAPPING pairs (skip_past_last
    would give ⌊k/2⌋) — and the measures dict aggregates each match to one
    emitted row (last id, row count)
    before it leaves the stateful operator.

    Closed-form oracle: every click whose next event (per user, event-time
    order) is also a click within the 24h WITHIN bound heads one match;
    finalization uses the same strict watermark bound as
    ``streaming_pattern_within_funnel`` (a start emits only once
    max-event-time, ms-truncated, strictly passes its WITHIN window)."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        match_recognize_stream,
    )

    stream = _events_stream(spark, sf_dir).select("user_id", "event_id", "event_type", "ts")
    mr = match_recognize_stream(
        stream,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        pattern="C C",
        define={"C": "event_type = 'click'"},
        within="24 hours",
        after_match="skip_to_next_row",
        measures={"end_event_id": "LAST(event_id)", "n_rows": "COUNT(*)"},
    )
    out = _run_stream(mr, "streaming_pattern_skip_next_sink", "append", sf_dir)
    return out.select("user_id", "start_event_id", "end_event_id", "n_rows")


@register(
    "streaming_pattern_value_measures",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    c AS (
      SELECT *,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS nt,
             LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn) AS nts,
             LEAD(value) OVER (PARTITION BY user_id ORDER BY rn) AS nv
      FROM seq
    )
    SELECT user_id, event_id AS start_event_id,
           CAST(value + nv AS DOUBLE) AS total_value,
           CAST(CASE WHEN value >= nv THEN value ELSE nv END AS DOUBLE) AS max_value,
           CAST(value AS DOUBLE) AS first_c_value
    FROM c
    WHERE event_type = 'click' AND nt = 'click'
      AND nts <= ts + INTERVAL 24 HOUR
      AND ts + INTERVAL 24 HOUR
          < date_trunc('milliseconds', (SELECT MAX(ts) FROM events))
    """,
)
def streaming_pattern_value_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP with VALUE-COLUMN measures: the click-pair pattern of
    ``streaming_pattern_skip_next``, now aggregating the source's ``value``
    column per match — SUM(value), MAX(value), FIRST(C.value) — with no
    user boilerplate: the operator projects exactly the referenced column
    into state as double (state stays O(within-span); the join-back
    alternative is refused by Spark's multi-stateful correctness check —
    see match_recognize_stream's docstring). The match set is
    ``streaming_pattern_skip_next``'s, so this oracle isolates the VALUE
    plumbing: per-match sums/extrema of exactly two doubles are IEEE-exact
    in any order, making the hash compare strict.

    Finalization bound mirrors the other streaming pattern queries: a match
    emits only once max-event-time (ms-truncated, the watermark) strictly
    passes its 24h WITHIN window."""
    from incubator_paimon_trino_spark.operators.match_recognize import (
        match_recognize_stream,
    )

    stream = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )
    mr = match_recognize_stream(
        stream,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        pattern="C C",
        define={"C": "event_type = 'click'"},
        within="24 hours",
        after_match="skip_to_next_row",
        measures={
            "total_value": "SUM(value)",
            "max_value": "MAX(value)",
            "first_c_value": "FIRST(C.value)",
        },
    )
    out = _run_stream(mr, "streaming_pattern_value_measures_sink", "append", sf_dir)
    return out.select(
        "user_id", "start_event_id", "total_value", "max_value", "first_c_value"
    )
